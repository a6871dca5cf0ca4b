"""Streaming ≡ batch equivalence: run the streaming rollup over the
static events table (availableNow) and compare against the registered
batch query."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.streaming.windows import (
    hourly_rollup_stream,
    read_events_stream,
    sessionize_stream,
)


def _events_as_parquet_dir(spark, sf_dir, tmp_path):
    """The raw testdata file is TIMESTAMP(NANOS) which the streaming
    reader can't take directly; rewrite via the catalog (micros)."""
    out = str(tmp_path / "events_stream_src")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def test_streaming_rollup_equals_batch(spark, sf_dir, tmp_path):
    src = _events_as_parquet_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, src)
    rollup = hourly_rollup_stream(stream)
    q = (
        rollup.writeStream.format("memory")
        .queryName("hourly_rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from hourly_rollup_test").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"),
        )
    )
    exp = {(r["hour"], r["event_type"]): (r["n"], r["v"]) for r in batch.collect()}
    assert got == exp
    shutil.rmtree(src, ignore_errors=True)


def test_sessionization_stream(spark, sf_dir, tmp_path):
    src = _events_as_parquet_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, src)
    sessions = sessionize_stream(stream, gap="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sessions_test").collect()
    assert len(rows) > 0
    # session invariants: end >= start, counts positive, no overlapping
    # sessions per user
    by_user = {}
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"])
        )
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert s2 >= e1
    shutil.rmtree(src, ignore_errors=True)


def test_stateful_running_totals(spark, sf_dir, tmp_path):
    """applyInPandasWithState: after one availableNow pass the per-user
    state must equal the batch groupBy totals."""
    from hadoop_project_spark.streaming.windows import user_running_totals_stream

    src = _events_as_parquet_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, src)
    totals = user_running_totals_stream(stream)
    q = (
        totals.writeStream.format("memory")
        .queryName("running_totals_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode may emit a row per user per micro-batch; the LAST row
    # per user is the final state
    rows = spark.sql(
        "select * from running_totals_test"
    ).collect()
    final = {}
    for r in rows:  # memory sink preserves batch order
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )
    exp = {r["user_id"]: (r["n"], r["v"]) for r in batch.collect()}
    assert final.keys() == exp.keys()
    for u, (n, v) in exp.items():
        assert final[u][0] == n
        assert abs(final[u][1] - (v or 0.0)) < 1e-6, (u, final[u], v)
    shutil.rmtree(src, ignore_errors=True)


def test_stream_static_enrichment(spark, sf_dir, tmp_path):
    """Stream-static broadcast join: every event row gains the dim
    column; row count unchanged (left join)."""
    from hadoop_project_spark.streaming.windows import enrich_stream_with_dim

    src = _events_as_parquet_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, src)
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total_events"))
    )
    enriched = enrich_stream_with_dim(stream, dim, "user_id")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from enriched_test")
    n_events = load_table(spark, sf_dir, "events").count()
    assert got.count() == n_events
    assert got.filter(F.col("user_total_events").isNull()).count() == 0
    shutil.rmtree(src, ignore_errors=True)


def test_sliding_rollup_equals_batch(spark, sf_dir, tmp_path):
    """Sliding windows (1h / 15min): streaming result over the full
    input equals the batch F.window aggregation — including the 4x
    window overlap per event."""
    from hadoop_project_spark.streaming.windows import sliding_rollup_stream

    src = _events_as_parquet_dir(spark, sf_dir, tmp_path)
    stream = sliding_rollup_stream(read_events_stream(spark, src))
    q = (
        stream.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["w_start"], r["w_end"], r["event_type"]): r["n_events"]
        for r in spark.sql("select * from sliding_test").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("s"), F.col("w.end").alias("e"),
            "event_type", "n",
        )
    )
    exp = {(r["s"], r["e"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == exp
    # every event contributes to exactly 4 overlapping windows
    assert sum(got.values()) == 4 * load_table(spark, sf_dir, "events").count()
    shutil.rmtree(src, ignore_errors=True)


def test_stream_dedup_drops_redelivery(spark, sf_dir, tmp_path):
    """Feed every event TWICE (two identical files); the deduped stream
    must deliver each event_id exactly once."""
    from hadoop_project_spark.streaming.windows import dedup_stream

    src = str(tmp_path / "dup_src")
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)  # redelivery
    assert spark.read.parquet(src).count() == 2 * ev.count()

    stream = dedup_stream(read_events_stream(spark, src))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_stream_test")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
    shutil.rmtree(src, ignore_errors=True)


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """Stream-stream join over the full input equals the equivalent
    batch interval join (same condition, same sides)."""
    from hadoop_project_spark.streaming.windows import purchases_after_clicks_stream

    src = _events_as_parquet_dir(spark, sf_dir, tmp_path)
    ev_stream = read_events_stream(spark, src)
    clicks = ev_stream.filter(F.col("event_type") == "click")
    purchases = ev_stream.filter(F.col("event_type") == "purchase")
    joined = purchases_after_clicks_stream(clicks, purchases, horizon="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("select * from ss_join_test").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    batch = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("cts") < F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
    )
    exp = {(r["pid"], r["cid"]) for r in batch.collect()}
    assert got == exp and len(got) > 0
    shutil.rmtree(src, ignore_errors=True)


def test_foreachbatch_idempotent_sink(spark, sf_dir, tmp_path):
    """The foreachBatch parquet sink must (a) deliver exactly the input
    rows across micro-batches and (b) be replay-safe: re-running a
    batch id overwrites its directory instead of duplicating rows."""
    from hadoop_project_spark.streaming.sinks import idempotent_parquet_sink

    src = _events_as_parquet_dir(spark, sf_dir, tmp_path)
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    stream = read_events_stream(spark, src).select("event_id", "user_id", "ts")
    sink = idempotent_parquet_sink(out)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    written = spark.read.parquet(out)
    n_src = load_table(spark, sf_dir, "events").count()
    assert written.count() == n_src
    assert written.select("event_id").distinct().count() == n_src

    # replay: feeding the same batch id again must not duplicate
    replay_df = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    ).limit(100)
    max_batch = max(
        int(d.split("=")[1])
        for d in __import__("os").listdir(out)
        if d.startswith("batch_id=")
    )
    sink(replay_df, max_batch)
    sink(replay_df, max_batch)
    replayed = spark.read.parquet(f"{out}/batch_id={max_batch}")
    assert replayed.count() == 100
    shutil.rmtree(src, ignore_errors=True)


def test_foreachbatch_merge_state_equals_batch(spark, sf_dir, tmp_path):
    """CDC state maintenance: per-user running totals merged into a
    parquet state table across MULTIPLE micro-batches (maxFilesPerTrigger
    forces >1) must equal the one-shot batch aggregate."""
    from hadoop_project_spark.streaming.merge import make_merge_sink
    from hadoop_project_spark.streaming.windows import read_events_stream

    src = str(tmp_path / "events_merge_src")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    state_dir = str(tmp_path / "user_totals_state")
    seen_batches = []

    def prepare(batch_df):
        seen_batches.append(1)
        return batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )

    sink = make_merge_sink(
        state_dir,
        keys=["user_id"],
        updates={
            "n_events": lambda t, s: t + s,
            "total_value": lambda t, s: t + s,
        },
        prepare=prepare,
    )
    q = (
        read_events_stream(spark, src, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "merge_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(seen_batches) > 1, "expected multiple micro-batches"

    got = {
        r["user_id"]: (r["n_events"], float(r["total_value"]))
        for r in spark.read.parquet(state_dir).collect()
    }
    exp = {
        r["user_id"]: (r["n"], float(r["v"]))
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
        .collect()
    }
    assert got == exp
    shutil.rmtree(src, ignore_errors=True)


def test_streaming_cm_sketch_equals_batch(spark, sf_dir, tmp_path):
    """Incremental CM-sketch maintenance across multiple micro-batches
    must equal the one-shot batch sketch (cell counts are an additive
    monoid, so incremental == batch exactly)."""
    from hadoop_project_spark.operators.sketch import cm_sketch
    from hadoop_project_spark.streaming.sketch import make_cm_sketch_sink
    from hadoop_project_spark.streaming.windows import read_events_stream

    src = str(tmp_path / "events_sketch_src")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    state_dir = str(tmp_path / "cm_sketch_state")
    sink = make_cm_sketch_sink(state_dir, key_col="event_type")
    q = (
        read_events_stream(spark, src, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "sketch_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["r"], r["col"]): r["cnt"]
        for r in spark.read.parquet(state_dir).collect()
    }
    exp = {
        (r["r"], r["col"]): r["cnt"]
        for r in cm_sketch(ev, "event_type").collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_neardup_gate_equals_batch(spark, sf_dir, tmp_path):
    """Ingest-time LSH gate across forced multi-batches: final state
    equals the batch band keys, and the flagged set equals a post-hoc
    recomputation (collides with an earlier batch, or with a lower
    doc_id in the same batch)."""
    from hadoop_project_spark.operators.dedup import doc_band_keys
    from hadoop_project_spark.streaming.dedup_gate import make_neardup_gate_sink

    src = str(tmp_path / "docs_gate_src")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.mode("overwrite").parquet(src)

    state_dir = str(tmp_path / "gate_state")
    flags_dir = str(tmp_path / "gate_flags")
    roster_dir = str(tmp_path / "gate_roster")
    sink = make_neardup_gate_sink(state_dir, flags_dir, roster_dir)
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    roster = {
        r.doc_id: r.batch_id for r in spark.read.parquet(roster_dir).collect()
    }
    assert len(set(roster.values())) > 1, "expected multiple micro-batches"

    # final state == batch band keys
    got_state = {
        (r.doc_id, r.band, r.key)
        for r in spark.read.parquet(state_dir).collect()
    }
    exp_state = {
        (r.doc_id, r.band, r.key) for r in doc_band_keys(docs).collect()
    }
    assert got_state == exp_state

    # flagged set == post-hoc recomputation from the roster
    by_key: dict[tuple, list[int]] = {}
    for doc, band, key in exp_state:
        by_key.setdefault((band, key), []).append(doc)
    expected_flagged = set()
    for _, ds in by_key.items():
        for d in ds:
            for other in ds:
                if other == d:
                    continue
                if roster[other] < roster[d] or (
                    roster[other] == roster[d] and other < d
                ):
                    expected_flagged.add(d)
    got_flagged = {
        r.doc_id for r in spark.read.parquet(flags_dir).collect()
    }
    assert got_flagged == expected_flagged and len(got_flagged) > 0


def test_streaming_gate_flags_equal_registered_batch_twin(
    spark, sf_dir, tmp_path
):
    """The union of the streaming gate's per-micro-batch flag
    partitions must equal the REGISTERED batch twin
    (neardup_gate_admissions / gate_flags_for_ordered_corpus) when
    batches arrive in doc_id order — the equality that lets the
    driver's oracle hash on the batch query certify the streaming
    component. Batch order is forced with phase-wise appends."""
    from hadoop_project_spark.streaming.dedup_gate import (
        gate_flags_for_ordered_corpus,
        make_neardup_gate_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]

    src = str(tmp_path / "gate2_src")
    state_dir = str(tmp_path / "gate2_state")
    flags_dir = str(tmp_path / "gate2_flags")
    sink = make_neardup_gate_sink(state_dir, flags_dir)

    docs.filter(F.col("doc_id") < cuts[0]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    q = (
        spark.readStream.schema(docs.schema)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "gate2_ckpt"))
        .start()
    )
    q.processAllAvailable()
    docs.filter(
        (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    docs.filter(F.col("doc_id") >= cuts[1]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    got_flagged = {
        r.doc_id for r in spark.read.parquet(flags_dir).collect()
    }
    twin = {
        r.doc_id: r.flagged
        for r in gate_flags_for_ordered_corpus(docs).collect()
    }
    assert set(twin) == set(ids)  # every doc gets a decision
    expected_flagged = {d for d, f in twin.items() if f}
    assert got_flagged == expected_flagged and len(got_flagged) > 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics across forced multi-batches: an event older
    than (max event time - 1h) arriving in a LATER batch must be
    dropped, and only watermark-finalized windows are emitted in append
    mode. Batch order is pinned by file modification time."""
    import datetime as dt

    src = str(tmp_path / "wm_src")
    rows_a = [
        (dt.datetime(2024, 1, 1, 10, 0), 1),
        (dt.datetime(2024, 1, 1, 10, 30), 2),
        (dt.datetime(2024, 1, 1, 11, 59), 3),  # watermark -> 10:59
    ]
    rows_b = [
        (dt.datetime(2024, 1, 1, 9, 30), 4),   # LATE: below watermark
        (dt.datetime(2024, 1, 1, 12, 30), 5),  # watermark -> 11:30
    ]
    schema = "ts timestamp, user_id long"
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .start()
    )
    # phase 1: only batch A exists -> watermark advances to 10:59
    q.processAllAvailable()
    # phase 2: the straggler arrives in a strictly later batch
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["s"], r["count"])
        for r in spark.sql(
            "select w.start as s, count from wm_test"
        ).collect()
    }
    # only the 10:00 window is both populated and finalized (end 11:00
    # <= final watermark 11:30); the 09:30 straggler was dropped, so no
    # 09:00 window row may appear
    assert got == {(dt.datetime(2024, 1, 1, 10, 0), 2)}


def test_idle_timeout_sessions_close_without_successor(spark, sf_dir, tmp_path):
    """applyInPandasWithState + EventTimeTimeout: sessions close inline
    on the next distant event AND by watermark timeout when no
    successor ever arrives. Every emitted session must exactly match a
    session of the batch lag-model; all sessions with a successor must
    be emitted; and the timeout path must fire for trailing sessions."""
    from hadoop_project_spark.streaming.windows import (
        idle_finalized_sessions_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    # event-time-ordered phases so per-user arrival order is ts order
    ordered = ev.orderBy("ts").collect()
    cuts = [len(ordered) // 3, 2 * len(ordered) // 3, len(ordered)]
    src = str(tmp_path / "idle_src")
    schema = "ts timestamp, user_id long"
    spark.createDataFrame(ordered[: cuts[0]], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = idle_finalized_sessions_stream(
        spark.readStream.schema(schema).parquet(src), gap_minutes=30
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("idle_sessions_test")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    for lo, hi in [(cuts[0], cuts[1]), (cuts[1], cuts[2])]:
        spark.createDataFrame(ordered[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    q.stop()

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from idle_sessions_test").collect()
    }

    # pure-python lag model over the same rows
    per_user: dict[int, list] = {}
    for r in ordered:
        per_user.setdefault(r.user_id, []).append(r.ts)
    sessions, with_successor = set(), set()
    for u, tss in per_user.items():
        tss.sort()
        start = last = tss[0]
        n = 1
        for t in tss[1:]:
            if (t - last).total_seconds() > 30 * 60:
                sessions.add((u, start, last, n))
                with_successor.add((u, start, last, n))
                start = last = t
                n = 1
            else:
                last = t
                n += 1
        sessions.add((u, start, last, n))

    assert got <= sessions          # nothing invented
    assert with_successor <= got    # every inline closure emitted
    assert len(got) > len(with_successor)  # the timeout path fired


def test_streaming_hll_equals_batch(spark, sf_dir, tmp_path):
    """Incremental HLL register maintenance across micro-batches equals
    the one-shot batch registers (max is a commutative idempotent
    monoid, so incremental == batch exactly — and a replayed batch
    cannot change the state), and the estimate read off the final state
    equals the batch estimate."""
    from hadoop_project_spark.operators.sketch import hll_estimate, hll_registers
    from hadoop_project_spark.streaming.sketch import make_hll_sink
    from hadoop_project_spark.streaming.windows import read_events_stream

    src = str(tmp_path / "events_hll_src")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    state_dir = str(tmp_path / "hll_state")
    sink = make_hll_sink(state_dir, key_col="user_id", group_col="event_type")
    q = (
        read_events_stream(spark, src, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    state = spark.read.parquet(state_dir)
    got = {(r["g"], r["idx"]): r["M"] for r in state.collect()}
    exp = {
        (r["g"], r["idx"]): r["M"]
        for r in hll_registers(ev, "user_id", "event_type").collect()
    }
    assert got == exp and len(got) > 0
    got_est = {r["g"]: r["est"] for r in hll_estimate(state).collect()}
    exp_est = {
        r["g"]: r["est"]
        for r in hll_estimate(
            hll_registers(ev, "user_id", "event_type")
        ).collect()
    }
    assert got_est == exp_est


def test_streaming_histogram_equals_batch(spark, sf_dir, tmp_path):
    """Incremental fixed-grid histogram maintenance across micro-batches
    equals the one-shot batch histogram (cell counts are an additive
    commutative monoid), and the p50 estimate read off the final state
    lands within one bucket width of the exact batch median — the
    bounded-error contract of price_quantile_histogram, live on a
    stream."""
    from hadoop_project_spark.streaming.sketch import make_histogram_sink
    from hadoop_project_spark.streaming.windows import read_events_stream

    width = 500  # value-cents per bucket
    src = str(tmp_path / "events_hist_src")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    state_dir = str(tmp_path / "hist_state")
    sink = make_histogram_sink(
        state_dir, value_col="value_cents", group_col="event_type", width=width
    )

    def with_cents(df):
        return df.withColumn(
            "value_cents", F.round(F.col("value") * 100).cast("long")
        )

    q = (
        with_cents(read_events_stream(spark, src, max_files_per_trigger=1))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "hist_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    state = spark.read.parquet(state_dir)
    got = {(r["g"], r["bucket"]): r["cnt"] for r in state.collect()}
    batch = (
        with_cents(ev)
        .select(
            F.col("event_type").alias("g"),
            F.floor(F.col("value_cents") / width).alias("bucket"),
        )
        .groupBy("g", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    exp = {(r["g"], r["bucket"]): r["cnt"] for r in batch.collect()}
    assert got == exp and len(got) > 0

    # p50 off the state vs exact batch median, one group
    g0 = sorted({g for g, _ in got})[0]
    cells = sorted((b, c) for (g, b), c in got.items() if g == g0)
    n = sum(c for _, c in cells)
    cum = 0
    for b, c in cells:
        cum += c
        if cum * 2 >= n:
            est = b * width
            break
    exact = (
        with_cents(ev)
        .where(F.col("event_type") == g0)
        .agg(F.expr("percentile(value_cents, 0.5)").alias("m"))
        .collect()[0]["m"]
    )
    assert abs(exact - est) <= width


def test_merge_sink_skips_replayed_batches(spark, sf_dir, tmp_path):
    """Crash-replay idempotence (VERDICT r8 #3): re-delivering an
    already-merged batch_id leaves additive state byte-identical, for
    both the index-directory and CM-sketch merge sinks; the next new
    batch still applies."""
    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.streaming.invindex import (
        make_index_directory_sink,
    )
    from hadoop_project_spark.streaming.merge import last_applied_batch
    from hadoop_project_spark.streaming.sketch import make_cm_sketch_sink

    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    # deterministic disjoint split (limit-without-order is not stable
    # across evaluations — ADVICE r9)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)

    def snap(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).collect()
        )

    idx_state = str(tmp_path / "idx_state")
    idx_sink = make_index_directory_sink(idx_state)
    idx_sink(b0, 0)
    after_b0 = snap(idx_state)
    idx_sink(b0, 0)  # crash-replay of batch 0: must be a no-op
    assert snap(idx_state) == after_b0
    assert last_applied_batch(idx_state) == 0
    idx_sink(b1, 1)  # a genuinely new batch still applies
    after_b1 = snap(idx_state)
    assert after_b1 != after_b0
    assert last_applied_batch(idx_state) == 1
    idx_sink(b1, 1)  # and its replay is a no-op too
    assert snap(idx_state) == after_b1

    ev = load_table(spark, sf_dir, "events").limit(200).cache()
    cm_state = str(tmp_path / "cm_state")
    cm_sink = make_cm_sketch_sink(cm_state, key_col="event_type")
    cm_sink(ev, 0)
    after = snap(cm_state)
    cm_sink(ev, 0)  # replay: additive cells must NOT double
    assert snap(cm_state) == after


@pytest.mark.parametrize("publish", ["rename", "manifest"])
def test_segment_ingest_then_compaction_equals_oneshot_index(
    spark, sf_dir, tmp_path, publish
):
    """LSM ingest for the stored index: per-batch postings segments
    (atomic, batch_id-named, replay-idempotent) union to exactly the
    one-shot postings relation, and compaction into the term-bucketed
    serving tables answers the phrase and BM25 probes identically to
    the one-shot build the driver hash-certifies. Parametrized over
    both publish protocols: POSIX rename and the object-store-safe
    manifest commit (VERDICT r9 #2)."""
    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.operators import invindex as ix
    from hadoop_project_spark.plans.invindex_queries import (
        BM25_K,
        BM25_QUERIES,
        SEARCH_PHRASES,
    )
    from hadoop_project_spark.streaming.index_segments import (
        _published_segments,
        compact_segments,
        make_postings_segment_sink,
        read_segments,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_seg_src")
    docs.repartition(4).write.mode("overwrite").parquet(src)

    seg_root = str(tmp_path / "segments")
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            make_postings_segment_sink(seg_root, publish)
        )
        .option("checkpointLocation", str(tmp_path / "seg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    segs = _published_segments(seg_root)
    assert len(segs) >= 2  # genuinely multi-batch

    # union of segments == the one-shot postings relation (multiset)
    def multiset(df):
        from collections import Counter

        return Counter(
            (r["term"], r["doc_id"], r["pos"]) for r in df.collect()
        )

    oneshot = multiset(ix.postings(docs))
    assert multiset(read_segments(spark, seg_root)) == oneshot

    # replaying a published batch is a no-op under either protocol
    # (the publish artifact is the mark)
    make_postings_segment_sink(seg_root, publish)(docs.limit(3), 0)
    assert _published_segments(seg_root) == segs
    assert multiset(read_segments(spark, seg_root)) == oneshot

    # compaction == one-shot build, through both probe families
    prefix = f"seg_idx_{publish}"
    compact_segments(spark, seg_root, prefix)
    pt, _ = ix.index_table_names(prefix)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(
        ix.phrase_search_stats_over(spark.table(pt), SEARCH_PHRASES)
    ) == rows(ix.phrase_search_stats(docs, SEARCH_PHRASES))
    assert rows(
        ix.bm25_topk_stored(spark, prefix, BM25_QUERIES, BM25_K)
    ) == rows(ix.bm25_topk(docs, BM25_QUERIES, BM25_K))


def test_merge_sink_crash_recovery_and_app_identity(spark, sf_dir, tmp_path):
    """Round-9 review fixes: (a) a crash between the state-aside rename
    and the staging publish leaves a full backup the sink restores on
    its next entry — no state loss; (b) a sink with a different app_id
    (fresh checkpoint ⇒ batch_ids restart at 0) refuses to merge into
    existing additive state instead of silently dropping batches."""
    import os
    import pytest

    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.streaming.invindex import (
        make_index_directory_sink,
    )
    from hadoop_project_spark.streaming.merge import last_applied_batch

    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    # deterministic disjoint split (ADVICE r9)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)

    def snap(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    state = str(tmp_path / "rec_state")
    sink = make_index_directory_sink(state, app_id="appA")
    sink(b0, 0)
    after_b0 = snap(state)
    # simulate a crash mid-publish: state renamed aside, replace not run
    os.rename(state, state + ".old")
    assert not os.path.exists(state)
    sink(b1, 1)  # next entry restores the backup, then merges batch 1
    assert last_applied_batch(state, "appA") == 1
    assert snap(state) != after_b0 and not os.path.exists(state + ".old")

    # fresh-checkpoint lineage against the same state: loud refusal
    other = make_index_directory_sink(state, app_id="appB")
    with pytest.raises(RuntimeError, match="double-count"):
        other(b0, 0)


@pytest.mark.parametrize("publish", ["rename", "manifest"])
def test_compaction_retires_segments_and_refolds_base(
    spark, sf_dir, tmp_path, publish
):
    """Round-9 review fix: compaction advances a watermark that retires
    folded segments from the serving union (no double-serving), a later
    segment folds INTO the existing base, and the (term, doc_id, pos)
    DISTINCT makes re-folding overlapping content self-healing. An idle
    tick (all segments retired) is a NO-OP, and the retired serving
    state reads as an empty relation, not an error (ADVICE r9)."""
    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.operators import invindex as ix
    from hadoop_project_spark.plans.invindex_queries import SEARCH_PHRASES
    from hadoop_project_spark.streaming.index_segments import (
        compact_segments,
        compacted_through,
        make_postings_segment_sink,
        read_segments,
    )

    docs = load_table(spark, sf_dir, "documents")
    seg_root = str(tmp_path / "segs")
    prefix = f"ret_idx_{publish}"
    sink = make_postings_segment_sink(seg_root, publish)
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    sink(docs.filter(F.col("doc_id") % 4 == 1), 1)
    assert compact_segments(spark, seg_root, prefix) is not None
    assert compacted_through(seg_root) == 1
    # all folded segments retired: base-only serving state is an EMPTY
    # live relation (the base ∪ segments union degrades gracefully)
    assert read_segments(spark, seg_root).count() == 0
    # idle compaction tick: nothing to fold -> no-op, watermark holds
    assert compact_segments(spark, seg_root, prefix) is None
    assert compacted_through(seg_root) == 1

    # a later batch arrives (plus an overlap slice: re-delivered docs)
    sink(docs.filter(F.col("doc_id") % 4 == 3), 2)
    live = read_segments(spark, seg_root)
    assert live.select("doc_id").distinct().count() > 0
    compact_segments(spark, seg_root, prefix)  # folds base ∪ live
    assert compacted_through(seg_root) == 2

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pt = ix.index_table_names(prefix)[0]
    assert rows(
        ix.phrase_search_stats_over(spark.table(pt), SEARCH_PHRASES)
    ) == rows(ix.phrase_search_stats(docs, SEARCH_PHRASES))


@pytest.mark.parametrize("publish", ["rename", "manifest"])
def test_compaction_snapshot_vs_concurrent_ingest(
    spark, sf_dir, tmp_path, publish, monkeypatch
):
    """VERDICT r9 #1 (the TOCTOU race): a segment published DURING
    compaction — after the fold's segment snapshot, before the
    watermark write — must stay LIVE (above the watermark), so the
    base ∪ segments probe still serves its postings and the next
    compaction folds it. The old code re-listed the directory for the
    watermark and retired such a segment unfolded."""
    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.operators import invindex as ix
    from hadoop_project_spark.plans.invindex_queries import SEARCH_PHRASES
    from hadoop_project_spark.streaming import index_segments as seg

    docs = load_table(spark, sf_dir, "documents")
    seg_root = str(tmp_path / "race_segs")
    prefix = f"race_idx_{publish}"
    sink = seg.make_postings_segment_sink(seg_root, publish)
    sink(docs.filter(F.col("doc_id") % 4 == 0), 0)
    sink(docs.filter(F.col("doc_id") % 4 == 1), 1)

    # interleave: publish batch 2 mid-compaction, after the snapshot
    # (write_index_tables runs strictly after _published_segments)
    real_write = seg.write_index_tables

    def write_with_concurrent_ingest(p, pfx, n_buckets, paths=None):
        sink(docs.filter(F.col("doc_id") % 4 == 2), 2)
        return real_write(p, pfx, n_buckets, paths=paths)

    monkeypatch.setattr(
        seg, "write_index_tables", write_with_concurrent_ingest
    )
    seg.compact_segments(spark, seg_root, prefix)
    monkeypatch.setattr(seg, "write_index_tables", real_write)

    # the concurrently published segment is NOT retired...
    assert seg.compacted_through(seg_root) == 1
    live = seg.read_segments(spark, seg_root)
    assert live.select("doc_id").distinct().count() > 0

    # ...the serving union (base ∪ live) already sees its postings...
    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pt = ix.index_table_names(prefix)[0]
    part = docs.filter(F.col("doc_id") % 4 <= 2)
    union = (
        spark.table(pt)
        .select("term", "doc_id", "pos")
        .unionByName(live.select("term", "doc_id", "pos"))
    )
    assert rows(
        ix.phrase_search_stats_over(union, SEARCH_PHRASES)
    ) == rows(ix.phrase_search_stats(part, SEARCH_PHRASES))

    # ...and the next compaction folds it
    seg.compact_segments(spark, seg_root, prefix)
    assert seg.compacted_through(seg_root) == 2
    assert rows(
        ix.phrase_search_stats_over(
            spark.table(pt), SEARCH_PHRASES
        )
    ) == rows(ix.phrase_search_stats(part, SEARCH_PHRASES))


@pytest.mark.parametrize("publish", ["rename", "manifest"])
def test_compaction_rebuilds_lost_base_from_retired_segments(
    spark, sf_dir, tmp_path, publish
):
    """ADVICE r9, hardened by the round-11 versioned publish: the
    DROP-then-rewrite crash window is gone (the base goes live by one
    atomic pointer replace), so the disaster left is losing the served
    root wholesale (disk loss, bucket wipe). Because retired segments
    are never deleted, the next compaction detects (no live version +
    a completed-compaction watermark) and rebuilds from ALL published
    segments — nothing previously folded is lost."""
    import os

    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.operators import invindex as ix
    from hadoop_project_spark.plans.invindex_queries import SEARCH_PHRASES
    from hadoop_project_spark.streaming.index_segments import (
        compact_segments,
        compacted_through,
        make_postings_segment_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    seg_root = str(tmp_path / "crash_segs")
    prefix = f"crash_idx_{publish}"
    sink = make_postings_segment_sink(seg_root, publish)
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    sink(docs.filter(F.col("doc_id") % 4 == 1), 1)
    compact_segments(spark, seg_root, prefix)
    assert compacted_through(seg_root) == 1

    # the disaster: the whole served layout root is lost (the stale
    # catalog entry now points at nothing — rebuild must replace it)
    pt = ix.index_table_names(prefix)[0]
    shutil.rmtree(os.path.join(seg_root, "served"))

    # a later batch arrives; the recovery compaction folds EVERYTHING
    sink(docs.filter(F.col("doc_id") % 4 == 3), 2)
    compact_segments(spark, seg_root, prefix)
    assert compacted_through(seg_root) == 2

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(
        ix.phrase_search_stats_over(spark.table(pt), SEARCH_PHRASES)
    ) == rows(ix.phrase_search_stats(docs, SEARCH_PHRASES))


@pytest.mark.parametrize("publish", ["rename", "manifest"])
def test_empty_batch_publishes_empty_segment(spark, sf_dir, tmp_path, publish):
    """An empty micro-batch (watermark tick, filtered-out batch) still
    publishes its segment mark — replay stays idempotent — and the
    serving union reads it as zero postings, not a read error."""
    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.streaming.index_segments import (
        compact_segments,
        make_postings_segment_sink,
        read_segments,
    )

    import os

    from hadoop_project_spark.operators import invindex as ix
    from hadoop_project_spark.streaming.index_segments import (
        compacted_through,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    seg_root = str(tmp_path / "empty_segs")
    sink = make_postings_segment_sink(seg_root, publish)
    sink(docs.filter(F.lit(False)), 0)  # empty batch
    assert read_segments(spark, seg_root).count() == 0
    sink(docs, 1)
    assert read_segments(spark, seg_root).count() > 0
    # compaction folds the empty + full segments without complaint
    prefix = f"empty_idx_{publish}"
    assert compact_segments(spark, seg_root, prefix) is not None

    # a tick whose only live segments are EMPTY retires them by
    # watermark but must NOT rewrite the O(index) base
    def base_files():
        loc = spark.sql(
            f"DESCRIBE EXTENDED {ix.index_table_names(prefix)[0]}"
        ).filter("col_name='Location'").collect()[0]["data_type"]
        loc = loc.removeprefix("file:")
        return {
            f: os.stat(os.path.join(loc, f)).st_mtime_ns
            for f in os.listdir(loc)
            if f.endswith(".parquet")
        }

    before = base_files()
    sink(docs.filter(F.lit(False)), 2)  # another empty batch
    assert compact_segments(spark, seg_root, prefix) is not None
    assert compacted_through(seg_root) == 2  # empties retired...
    assert base_files() == before  # ...without touching the base


def test_manifest_root_is_relocatable(spark, sf_dir, tmp_path):
    """Manifests record paths RELATIVE to the segment root, so moving
    the whole root (staging → durable location, bucket rename) keeps
    every manifest valid — the Iceberg relative-location property."""
    import shutil as sh

    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.operators import invindex as ix
    from hadoop_project_spark.streaming.index_segments import (
        make_postings_segment_sink,
        read_segments,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    old_root = str(tmp_path / "staging_segs")
    sink = make_postings_segment_sink(old_root, "manifest")
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    sink(docs.filter(F.col("doc_id") % 2 == 1), 1)

    def multiset(df):
        from collections import Counter

        return Counter(
            (r["term"], r["doc_id"], r["pos"]) for r in df.collect()
        )

    expected = multiset(ix.postings(docs))
    assert multiset(read_segments(spark, old_root)) == expected

    new_root = str(tmp_path / "durable_segs")
    sh.move(old_root, new_root)
    assert multiset(read_segments(spark, new_root)) == expected


def test_manifest_publish_hides_orphan_data(spark, sf_dir, tmp_path):
    """Manifest protocol crash contract: data files without a
    committed manifest are invisible to readers (the crash-mid-write
    state on an object store), and the re-delivered batch publishes
    over them cleanly."""
    import os

    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.operators import invindex as ix
    from hadoop_project_spark.streaming.index_segments import (
        _DATA_DIR,
        _SEG_PREFIX,
        make_postings_segment_sink,
        read_segments,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 40
    )
    seg_root = str(tmp_path / "orph_segs")
    sink = make_postings_segment_sink(seg_root, "manifest")
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)

    # crash mid-write of batch 1: data lands, manifest never commits
    orphan = os.path.join(seg_root, _DATA_DIR, f"{_SEG_PREFIX}{1:012d}")
    ix.postings(docs.filter(F.col("doc_id") % 2 == 1)).write.mode(
        "overwrite"
    ).parquet(orphan)

    def multiset(df):
        from collections import Counter

        return Counter(
            (r["term"], r["doc_id"], r["pos"]) for r in df.collect()
        )

    only_b0 = multiset(ix.postings(docs.filter(F.col("doc_id") % 2 == 0)))
    assert multiset(read_segments(spark, seg_root)) == only_b0

    # the re-run of batch 1 publishes normally over the orphan
    sink(docs.filter(F.col("doc_id") % 2 == 1), 1)
    assert multiset(read_segments(spark, seg_root)) == multiset(
        ix.postings(docs)
    )
