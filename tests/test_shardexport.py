"""Incremental shard export (operators/shardexport.py, VERDICT r11
#3): v1 shards written once, a corpus change re-cuts ONLY dirty shard
partitions via dynamic overwrite, clean shard files are reused
BYTE-FOR-BYTE (asserted on the actual file bytes, not metadata), and
an all-dropped shard's directory is removed rather than left serving
its stale v1 file."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadoop_project_spark.operators import shardexport as se


def _members(spark, rows):
    return spark.createDataFrame(
        rows, "shard_id long, pos_in_shard long, doc_id long, text string"
    )


def _shard_bytes(root: str, sid: int) -> list[bytes]:
    """Sorted data-file CONTENTS of one shard dir (names carry write
    UUIDs, so byte-identity is asserted on content)."""
    d = os.path.join(root, f"shard_id={sid}")
    return sorted(
        open(os.path.join(d, f), "rb").read()
        for f in os.listdir(d)
        if f.startswith("part-") and not f.endswith(".crc")
    )


def test_incremental_rewrite_reuses_clean_shards_byte_for_byte(
    spark, tmp_path
):
    root = str(tmp_path / "shards")
    v1 = _members(
        spark,
        [
            # shard 0: untouched by the change
            (0, 0, 1, "alpha"), (0, 1, 2, "bravo"), (0, 2, 3, "charlie"),
            # shard 1: doc 5 rewritten in v2
            (1, 0, 4, "delta"), (1, 1, 5, "echo echo"), (1, 2, 6, "fox"),
            # shard 2: doc 8 dropped in v2
            (2, 0, 7, "golf"), (2, 1, 8, "hotel"), (2, 2, 9, "india"),
            # shard 3: every member dropped in v2
            (3, 0, 10, "juliett"), (3, 1, 11, "kilo"),
        ],
    )
    v2 = _members(
        spark,
        [
            (0, 0, 1, "alpha"), (0, 1, 2, "bravo"), (0, 2, 3, "charlie"),
            (1, 0, 4, "delta"), (1, 1, 5, "echo"), (1, 2, 6, "fox"),
            (2, 0, 7, "golf"), (2, 2, 9, "india"),
        ],
    )
    dirty = [1, 2, 3]

    # the production protocol: the caller writes v1 itself ...
    se.write_shard_files(v1, root)
    clean_before = _shard_bytes(root, 0)
    dirty_before = _shard_bytes(root, 1)

    # ... and passes the dirty shards that still have v2 rows
    surviving = {
        r.shard_id
        for r in v2.filter(F.col("shard_id").isin(dirty))
        .select("shard_id")
        .distinct()
        .collect()
    }
    assert surviving == {1, 2}
    reused = se.incremental_shard_rewrite(spark, root, v2, dirty, surviving)

    assert reused == {0: True, 1: False, 2: False}
    # all-dropped shard: directory removed, not stale-served
    assert not os.path.isdir(os.path.join(root, "shard_id=3"))

    # clean shard: the same files, byte-for-byte
    assert _shard_bytes(root, 0) == clean_before
    # dirty shard: rewritten (fresh file, different content)
    assert _shard_bytes(root, 1) != dirty_before

    # and the readback IS the v2 corpus
    back = sorted(
        tuple(r)
        for r in spark.read.parquet(root)
        .select("shard_id", "pos_in_shard", "doc_id", "text")
        .collect()
    )
    want = sorted(tuple(r) for r in v2.collect())
    assert back == want


def test_dynamic_overwrite_touches_only_written_partitions(
    spark, tmp_path
):
    """The primitive itself: overwrite_dirty_shards with one shard's
    rows must leave the other partition directories' files untouched
    and restore the session's partitionOverwriteMode."""
    root = str(tmp_path / "prim")
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key, "static")
    v1 = _members(
        spark,
        [(0, 0, 1, "a"), (1, 0, 2, "b"), (2, 0, 3, "c")],
    )
    se.write_shard_files(v1, root)
    keep0 = _shard_bytes(root, 0)
    keep2 = _shard_bytes(root, 2)
    se.overwrite_dirty_shards(
        spark, root, _members(spark, [(1, 0, 2, "B2")])
    )
    assert spark.conf.get(key, "static") == saved
    assert _shard_bytes(root, 0) == keep0
    assert _shard_bytes(root, 2) == keep2
    got = [
        r.text
        for r in spark.read.parquet(root)
        .filter(F.col("shard_id") == 1)
        .collect()
    ]
    assert got == ["B2"]
