"""The near-dup gate's LSM state path (streaming/lsh_segments.py):
stream ≡ batch admission decisions across segment ingest, mid-stream
compaction and replay; idle/watermark contracts; the cross-session
attach (explicit idle tick AND gate_state's auto-attach); and the
bucket-local probe plan against the folded state."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators.dedup import doc_band_keys
from hadoop_project_spark.streaming.dedup_gate import gate_flags_for_ordered_corpus
from hadoop_project_spark.streaming.index_segments import compacted_through
from hadoop_project_spark.streaming.lsh_segments import (
    admission_flags,
    compact_bandkeys_segments,
    gate_state,
    make_bandkeys_segment_sink,
    make_gated_bandkeys_sink,
    read_bandkeys_segments,
)


def _ordered_cuts(docs, n):
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    return [(int(hi) + 1) * b // n for b in range(n + 1)]


def _range_batch(docs, cuts, b):
    return docs.filter(
        (F.col("doc_id") >= cuts[b]) & (F.col("doc_id") < cuts[b + 1])
    )


def _expected_flagged(spark, sf_dir) -> set[int]:
    docs = load_table(spark, sf_dir, "documents")
    return {
        r.doc_id
        for r in gate_flags_for_ordered_corpus(docs).collect()
        if r.flagged
    }


def test_gated_sink_matches_batch_twin_across_compaction(
    spark, sf_dir, tmp_path
):
    """Four doc_id-ordered micro-batches through the FULL gated sink
    (probe → flags partition → segment publish), with a compaction
    fired mid-stream and one batch replayed: the union of the flag
    partitions equals the one-shot batch twin's flagged set — the
    base/segment split at probe time is compaction-invariant, and the
    replay overwrites its own partition instead of double-flagging."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cuts = _ordered_cuts(docs, 4)
    seg_root = str(tmp_path / "segs")
    flags_dir = str(tmp_path / "flags")
    table = "t_lsh_gate_state"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sink = make_gated_bandkeys_sink(seg_root, flags_dir, table)
    for b in range(4):
        sink(_range_batch(docs, cuts, b), b)
        if b == 1:
            assert compact_bandkeys_segments(spark, seg_root, table) == table
        if b == 2:
            # replay batch 2 (a restart re-delivers the LAST batch,
            # before any later data arrives — foreachBatch's
            # at-least-once shape): the segment publish skips, and the
            # flags partition rewrites to the same rows because the
            # state still holds exactly the lower-id batches
            sink(_range_batch(docs, cuts, 2), 2)
    got = {r.doc_id for r in spark.read.parquet(flags_dir).collect()}
    assert got == _expected_flagged(spark, sf_dir)


def test_compaction_equivalence_idle_noop_and_watermark(
    spark, sf_dir, tmp_path
):
    """The folded state equals the one-shot band-key relation (DISTINCT
    heals the deliberately overlapping segments); an idle tick is a
    no-op that leaves the watermark alone; the live relation is empty
    after full retirement."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seg_root = str(tmp_path / "segs")
    table = "t_lsh_state_compacted"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sink = make_bandkeys_segment_sink(seg_root, publish="manifest")
    for b in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == b), b)
    sink(docs.filter(F.col("doc_id") % 3 == 1), 3)  # overlapping segment
    assert compact_bandkeys_segments(spark, seg_root, table) == table
    hi = compacted_through(seg_root)
    assert hi == 3
    got = {
        (r.doc_id, r.band, r.key) for r in spark.table(table).collect()
    }
    want = {
        (r.doc_id, r.band, r.key) for r in doc_band_keys(docs).collect()
    }
    assert got == want
    assert read_bandkeys_segments(spark, seg_root).count() == 0
    assert compact_bandkeys_segments(spark, seg_root, table) is None
    assert compacted_through(seg_root) == hi


def test_cross_session_attach_and_auto_attach(spark, sf_dir, tmp_path):
    """A fresh session's two resume paths over a compacted state: the
    idle compaction tick re-attaches the live served version, and
    gate_state auto-attaches when the catalog entry is missing (a
    session that probes before any tick must not see an empty state).
    Both probes equal the in-session state."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cuts = _ordered_cuts(docs, 4)
    seg_root = str(tmp_path / "segs")
    table = "t_lsh_state_xsession"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sink = make_bandkeys_segment_sink(seg_root)
    for b in range(3):
        sink(_range_batch(docs, cuts, b), b)
    assert compact_bandkeys_segments(spark, seg_root, table) == table
    probe = _range_batch(docs, cuts, 3)
    want = sorted(
        map(tuple, admission_flags(probe, spark.table(table)).collect())
    )

    # "fresh session": drop the catalog entry, resume via the idle tick
    spark.sql(f"DROP TABLE {table}")
    assert compact_bandkeys_segments(spark, seg_root, table) is None
    assert spark.catalog.tableExists(table)
    got_tick = sorted(
        map(tuple, admission_flags(probe, spark.table(table)).collect())
    )
    assert got_tick == want

    # "fresh session" again: no tick at all — gate_state auto-attaches
    spark.sql(f"DROP TABLE {table}")
    state = gate_state(spark, seg_root, table)
    assert spark.catalog.tableExists(table)
    got_auto = sorted(map(tuple, admission_flags(probe, state).collect()))
    assert got_auto == want


def test_gate_stream_ingest_matches_ordered_twin(spark, sf_dir, tmp_path):
    """A REAL readStream (file source, checkpointed) through the gated
    LSM sink, files arriving in doc_id order with a compaction between
    triggers: the flag partitions union to exactly the ordered batch
    twin's flagged set, and the segments + base serve the same state
    as the one-shot band-key relation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cuts = _ordered_cuts(docs, 3)
    src = str(tmp_path / "docs_src")
    seg_root = str(tmp_path / "segs")
    flags_dir = str(tmp_path / "flags")
    table = "t_lsh_gate_stream"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sink = make_gated_bandkeys_sink(seg_root, flags_dir, table)

    _range_batch(docs, cuts, 0).coalesce(1).write.mode("overwrite").parquet(
        src
    )
    q = (
        spark.readStream.schema(docs.schema)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        compact_bandkeys_segments(spark, seg_root, table)
        _range_batch(docs, cuts, 1).coalesce(1).write.mode("append").parquet(
            src
        )
        q.processAllAvailable()
        _range_batch(docs, cuts, 2).coalesce(1).write.mode("append").parquet(
            src
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.doc_id for r in spark.read.parquet(flags_dir).collect()}
    assert got == _expected_flagged(spark, sf_dir)
    state = gate_state(spark, seg_root, table)
    got_state = {(r.doc_id, r.band, r.key) for r in state.collect()}
    want_state = {
        (r.doc_id, r.band, r.key) for r in doc_band_keys(docs).collect()
    }
    assert got_state == want_state


def test_lsh_state_probe_is_bucket_local(spark, sf_dir, tmp_path):
    """The probe join against the FOLDED state moves zero state bytes:
    the (band, key)-bucketed sorted layout feeds the sort-merge semi
    join with no Exchange and no Sort on the state side — exactly one
    exchange (the O(batch) probe keys) and one sort (same side) in the
    whole plan. This is the property that makes per-batch gating
    affordable when the state is corpus-sized."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seg_root = str(tmp_path / "segs")
    table = "t_lsh_state_planshape"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    make_bandkeys_segment_sink(seg_root)(docs, 0)
    assert compact_bandkeys_segments(spark, seg_root, table) == table
    probe_keys = spark.createDataFrame(
        [(9001, 0, "k0"), (9002, 1, "k1"), (9003, 2, "k2")],
        "doc_id bigint, band int, key string",
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        state_others = spark.table(table).join(
            F.broadcast(probe_keys.select("doc_id").distinct()),
            "doc_id",
            "left_anti",
        )
        j = probe_keys.join(
            state_others.select("band", "key"), ["band", "key"], "left_semi"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "Bucketed: true" in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    # exactly ONE (band, key) exchange — the O(batch) probe side; the
    # state side joins straight off its bucketing (the only other
    # exchange is the O(batch) probe-id distinct feeding the broadcast
    # anti join, which hashes doc_id only)
    shuffles = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "band#" in l
    ]
    assert len(shuffles) == 1, plan
    sorts = [
        l for l in plan.splitlines() if "+- Sort [" in l or ":- Sort [" in l
    ]
    assert len(sorts) == 1, plan  # the state side is pre-sorted


def test_rows_preserved_through_fold(spark, sf_dir, tmp_path):
    """No row loss/invention across ingest + compaction: segment rows
    (retired included) equal the folded base exactly (the fold is a
    DISTINCT, and band keys are unique per (doc, band) by
    construction)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seg_root = str(tmp_path / "segs")
    table = "t_lsh_state_rows"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sink = make_bandkeys_segment_sink(seg_root)
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    sink(docs.filter(F.col("doc_id") % 2 == 1), 1)
    assert compact_bandkeys_segments(spark, seg_root, table) == table
    retired = read_bandkeys_segments(spark, seg_root, include_retired=True)
    assert retired.count() == spark.table(table).count()
    # retired segments stay on disk: the lost-base recovery log
    assert os.path.isdir(seg_root)


def test_gate_state_heals_after_external_compaction(spark, sf_dir, tmp_path):
    """A long-lived session whose segment root ANOTHER process
    compacted must not probe a stale base against the already-advanced
    watermark (stale base + retired segments = silently admitted
    duplicates): gate_state reconciles the catalog entry against the
    served root's CURRENT version on every call."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cuts = _ordered_cuts(docs, 4)
    seg_root = str(tmp_path / "segs")
    table = "t_lsh_state_external"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sink = make_bandkeys_segment_sink(seg_root)
    sink(_range_batch(docs, cuts, 0), 0)
    assert compact_bandkeys_segments(spark, seg_root, table) == table
    # this session is now attached at version 1; an "external process"
    # ingests two more batches and compacts again (version 2, watermark
    # advanced, version-1 segments retired)
    sink(_range_batch(docs, cuts, 1), 1)
    sink(_range_batch(docs, cuts, 2), 2)
    assert compact_bandkeys_segments(spark, seg_root, table) == table
    # drop + reattach at v1 to SIMULATE the stale long-lived session
    # (compact attached us at v2 just now)
    state = gate_state(spark, seg_root, table)
    got = {(r.doc_id, r.band, r.key) for r in state.collect()}
    want = {
        (r.doc_id, r.band, r.key)
        for r in doc_band_keys(
            docs.filter(F.col("doc_id") < cuts[3])
        ).collect()
    }
    assert got == want
