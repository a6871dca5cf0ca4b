"""execution.literal: driver-held rows as a JVM-side LocalTableScan.

The helper replaces ``spark.createDataFrame(rows, schema)`` on the
query path, so its values and its schema (nullability included) must
be exactly the ones that call produced, and its plan must hold no
Python-RDD scan."""

from __future__ import annotations

import ast
import math
import struct
from pathlib import Path

import pytest
from pyspark.sql import types as T

import hadoop_project_spark
from hadoop_project_spark.execution import literal
from hadoop_project_spark.plans import all_queries

I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1
I32_MIN, I32_MAX = -(1 << 31), (1 << 31) - 1

DDL = "i int, l bigint, d double, s string, b boolean, a array<double>"
ROWS = [
    (I32_MIN, I64_MIN, -0.0, "it's", True, [1.5, None]),
    (I32_MAX, I64_MAX, 5e-324, "back\\slash", False, []),
    (0, 0, float("nan"), "", True, [float("inf"), -float("inf")]),
    (7, 1 << 40, 0.1 + 0.2, "naïve ☃ 😀", False, [-0.0]),
    (-1, -1, float("inf"), "${env:HOME} \\u0041 \n\t\x00", True, [5e-324]),
    (1, 2, -float("inf"), "'quoted' \\'", False, [1 / 3]),
    (None, None, None, None, None, None),
]


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def _same(a, b) -> bool:
    """Value equality with doubles compared bit-for-bit (NaN included
    by class, since Java and Python both use the canonical NaN)."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or _bits(a) == _bits(b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def _leaves(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_round_trips_every_type_and_typed_nulls(spark):
    df = literal(spark, DDL, ROWS)
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(ROWS)
    for g, want in zip(got, ROWS):
        assert all(_same(x, y) for x, y in zip(g, want)), (g, want)


def test_doubles_round_trip_bit_exact(spark):
    xs = [
        0.1, 1 / 3, 2 / 3, math.pi, 1e308, -1e-308, 2.2250738585072014e-308,
        4.9406564584124654e-324, 1.7976931348623157e308, 123456789.12345678,
    ] + [(-1) ** i * (i * 0.7) ** 11 / 3 for i in range(40)]
    got = [r[0] for r in literal(spark, "x double", [(x,) for x in xs]).collect()]
    assert [_bits(g) for g in got] == [_bits(x) for x in xs]


@pytest.mark.parametrize(
    "ddl,rows",
    [
        (DDL, ROWS),
        (DDL, ROWS[:-1]),  # no NULL in any column: still nullable
        ("k int, silhouette double, n_iters int, converged boolean", [(4, 0.25, 3, True)]),
        ("q string NOT NULL, n int NOT NULL, v array<double> NOT NULL", [("a", 1, [0.5])]),
        ("x bigint NOT NULL, y double", [(1, None)]),
    ],
)
def test_schema_matches_create_dataframe(spark, ddl, rows):
    """DDL or StructType in, the exact schema createDataFrame reports
    out — declared NOT NULL honoured, everything else nullable — for
    the rows and for an empty relation."""
    want = spark.createDataFrame(rows, ddl).schema
    assert literal(spark, ddl, rows).schema == want
    assert literal(spark, ddl, []).schema == want
    assert literal(spark, T.StructType.fromDDL(ddl), rows).schema == want


def test_not_null_column_with_nan_stays_not_null(spark):
    df = literal(spark, "d double NOT NULL", [(float("nan"),), (float("inf"),)])
    assert df.schema.fields[0].nullable is False
    got = [r[0] for r in df.collect()]
    assert math.isnan(got[0]) and got[1] == float("inf")


def test_rejects_what_create_dataframe_rejects(spark):
    with pytest.raises(ValueError, match="NOT NULL"):
        literal(spark, "x int NOT NULL", [(None,)])
    with pytest.raises(ValueError, match="out of range"):
        literal(spark, "x int", [(I32_MAX + 1,)])
    with pytest.raises(ValueError, match="out of range"):
        literal(spark, "x bigint", [(I64_MAX + 1,)])
    with pytest.raises(ValueError, match="does not match"):
        literal(spark, "x int, y int", [(1,)])


def test_empty_relation_from_schema(spark):
    df = literal(spark, "doc_id bigint, band int, key string", [])
    assert df.collect() == []
    assert df.columns == ["doc_id", "band", "key"]
    assert "LocalTableScan" in _leaves(df)


def test_plan_leaf_is_local_table_scan(spark):
    """The relation is a JVM-side LocalTableScan, also under a join —
    never the ExistingRDD scan a list-based createDataFrame plans."""
    df = literal(spark, DDL, ROWS)
    df.collect()
    plan = _leaves(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    joined = spark.range(20).join(literal(spark, "id bigint, v int", [(3, 1), (5, 2)]), "id")
    assert sorted(tuple(r) for r in joined.collect()) == [(3, 1), (5, 2)]
    plan = _leaves(joined)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    # the form it replaces, for contrast
    old = spark.createDataFrame([(1, 2.0)], "i int, d double")
    assert "ExistingRDD" in _leaves(old)


def test_no_create_dataframe_outside_literal():
    """AST gate: no module under hadoop_project_spark/ calls
    createDataFrame — driver-held rows enter a plan through
    execution.literal, which needs no such call either."""
    root = Path(hadoop_project_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "createDataFrame":
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == [], offenders


def _sql_plans_since(spark, first_id: int) -> list[str]:
    """Physical plans of every SQL execution with id ≥ first_id, from
    the application's status store (build-time writes and collects
    included), after the listener bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    xs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        x.physicalPlanDescription()
        for x in (xs.apply(i) for i in range(xs.size()))
        if x.executionId() >= first_id
    ]


def _next_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    xs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return 1 + max((xs.apply(i).executionId() for i in range(xs.size())), default=-1)


# One registered rider per module that builds a literal relation
# (execution.literal's census at sf0.001), kmeans_centroids first.
LITERAL_RIDERS = [
    "kmeans_centroids",  # plans/ml_queries.py
    "incremental_shard_rewrite",  # plans/packing_queries.py, operators/ranking.py
    "sequence_packing",  # operators/packing.py
    "weighted_price_quantiles",  # operators/wquantile.py
    "quality_lr_train",  # plans/quality_lr_queries.py
    "bpe_train_merges",  # plans/bpe_queries.py
    "dpp_partitioned_join_roundtrip",  # plans/roundtrip_queries.py
    "neardup_gate_lsm_admissions",  # streaming/lsh_segments.py
    "bm25_mrr_eval",  # operators/invindex.py
]


@pytest.mark.parametrize("name", LITERAL_RIDERS)
def test_rider_plans_hold_no_python_rdd_scan(spark, name):
    """Plan gate: building and running a literal rider at sf0.001 plans
    no ExistingRDD scan in any SQL execution, build-time jobs included."""
    first = _next_execution_id(spark)
    df = all_queries()[name].build(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    plans = _sql_plans_since(spark, first)
    spark.catalog.clearCache()
    assert plans, name
    assert not [p for p in plans if "ExistingRDD" in p], name


def test_served_artifact_and_text_sink_hold_no_python_rdd_scan(spark, tmp_path):
    """The two literal sites no rider reaches on a warm warehouse: a
    served-artifact build (forced with a fresh fingerprint) and the
    driver text-report sink."""
    import time

    from hadoop_project_spark.serving import ensure_served_artifact
    from hadoop_project_spark.sources.sinks import write_text_report

    first = _next_execution_id(spark)
    t = ensure_served_artifact(
        spark, "literal_gate", "k INT, v ARRAY<DOUBLE>",
        [(0, [0.5, -0.0]), (1, [])], fp_extra=str(time.time_ns()),
    )
    assert sorted(tuple(r) for r in spark.table(t).collect()) == [
        (0, [0.5, -0.0]), (1, []),
    ]
    write_text_report(spark, ["a", "b'c"], str(tmp_path / "report"))
    assert (tmp_path / "report").is_dir()
    plans = _sql_plans_since(spark, first)
    assert len(plans) >= 2
    assert not [p for p in plans if "ExistingRDD" in p]
