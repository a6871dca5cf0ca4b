"""Vector math over array<float> columns — pure JVM higher-order
functions (F.zip_with / F.aggregate), no UDFs, so similarity search and
K-Means stay inside whole-stage codegen.

The reference's only geometry is 2-D squared Euclidean distance
(final/src/main/java/calc/KMeans.java:98; Silhouette.java:88); these
generalize it to the n-dim embedding columns of the training-data
pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def double_array_lit(values) -> Column:
    """Literal ``array<double>`` (arbitrarily nested) built from ONE
    expr-string parse instead of per-element py4j conversion — measured
    0.8 ms vs 450 ms for a 16×64 nested literal (the dominant cost of
    building centroid/hyperplane plans). ``repr`` of a Python float
    round-trips exactly, so the parsed doubles are bit-identical to
    ``F.lit`` (verified value- and schema-equal); Catalyst constant-
    folds the CreateArray-of-literals into a single Literal node."""

    return F.expr(double_array_sql(values))


def double_array_sql(values) -> str:
    """The SQL text of a (possibly nested) ``array<double>`` literal —
    double_array_lit's renderer, exposed for builders that assemble
    larger expr strings around the literal (sqdist_sql consumers)."""
    if isinstance(values, (list, tuple)):
        return (
            "array(" + ", ".join(double_array_sql(x) for x in values) + ")"
        )
    return f"{float(values)!r}D"


def long_array_sql(values) -> str:
    """The SQL text of a (possibly nested) ``array<bigint>`` literal —
    the integer twin of double_array_sql, same one-parse construction.
    Used for the fixed-point K-Means centroids (operators/kmeans.py
    pinned fit), where exact integer literals are what make the
    iterative oracle replay bit-exact."""
    if isinstance(values, (list, tuple)):
        return "array(" + ", ".join(long_array_sql(x) for x in values) + ")"
    return f"{int(values)}L"


def dot(a: str | Column, b: str | Column) -> Column:
    """Dot product of two array<numeric> columns (double).

    Computed in double precision: elements are widened before multiply so
    Spark (float32 storage) and DuckDB (reads parquet FLOAT then promotes)
    agree bit-for-bit.
    """
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dot_sql(vec_sql: str, values: list[float]) -> str:
    """Spark-SQL text twin of ``dot(vec_sql, F.lit(values))`` — same
    widen-then-multiply left-to-right aggregate, so the parsed
    expression is float-identical to the Column form. Used by builders
    that assemble many dot products (e.g. the LSH bucket keys: 8 planes
    × 2 relations × 4 tables) where per-expression py4j lambda overhead
    (~200 ms each) dominates plan construction."""
    arr = "array(" + ", ".join(f"{float(x)!r}D" for x in values) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def dot_cols_sql(a_sql: str, b_sql: str) -> str:
    """Spark-SQL text twin of ``dot`` between two COLUMN expressions —
    same widen-then-multiply zip_with and left-to-right 0.0-seeded
    fold, so the parsed expression is float-identical to the Column
    form (pinned by test_sql_text_builders_match_column_reference).
    The dot_sql rationale applies: each Column-form fold costs ~2 py4j
    lambda constructions (~0.1-0.2 s) per expression at plan-build
    time; one text parse is ~free. Used by the brute-force cosine
    rankings, which build several dot/norm expressions per query."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def l2_norm_sql(a_sql: str) -> str:
    """Spark-SQL text twin of ``l2_norm`` — same square-transform and
    left-to-right fold under sqrt, float-identical to the Column form
    (same test pin and same plan-build-cost rationale as
    dot_cols_sql)."""
    return (
        f"sqrt(aggregate(transform({a_sql}, "
        "x -> cast(x as double) * cast(x as double)), "
        "0.0D, (acc, v) -> acc + v))"
    )


def l2_norm(a: str | Column) -> Column:
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def squared_l2_distance(a: str | Column, b: str | Column) -> Column:
    """Σ (a_i - b_i)^2 — the reference's K-Means metric (KMeans.java:98)
    generalized to n dims."""
    diffs = F.zip_with(
        _c(a), _c(b), lambda x, y: (x.cast("double") - y.cast("double")) ** F.lit(2)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def sqdist_sql(a_sql: str, b_sql: str) -> str:
    """Spark-SQL text twin of ``squared_l2_distance`` — same
    widen-subtract-power-2 zip_with and left-to-right 0.0-seeded fold,
    so the parsed expression is float-identical to the Column form
    (collect-verified element-for-element equal). The dot_sql
    rationale applies: builders that assemble MANY distances (IVF
    cells × PQ codebooks) pay ~0.1-0.2 s of py4j lambda construction
    per Column-form distance array; one text parse is ~free."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> power(cast(x as double) - cast(y as double), 2)), "
        "0.0D, (acc, v) -> acc + v)"
    )
