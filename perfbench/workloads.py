"""The benchmark's workloads: which registered queries each one runs,
why it was chosen, and which end-to-end metric each layer's counters
are predicted to move on it.

Every workload reads the engine's sf0.01 test fixture, a copy of which
is kept under ``fixture/sf0.01``; the run's seed fixes the query order
of each warm pass, not the data. ``expect_calls`` names the
per-layer counters that must be non-zero in a traced run of the
workload: a renamed or unwrapped engine function then fails the run
instead of silently reporting zeros.

``BENCHMARK.json`` gates ``compute_heavy`` and ``ingest_serve``.
``relational`` is the control workload for catalog and plan-building
costs; it runs by hand (``--workload relational``) and is not gated,
because a gated round of fresh-session runs over three workloads would
not finish within an hour on a 4-vCPU host.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "relational": {
        "queries": [
            "pricing_summary",
            "regional_revenue",
            "top3_orders_per_customer",
            "priority_month_matrix",
            "word_count",
            "two_leg_conversion",
            "events_hourly_rollup",
            "orders_cube",
            "lineitem_rollup",
            "events_sessionization_batch",
            "orders_above_customer_avg",
            "cheapest_supplier_per_part",
            "national_market_share",
            "events_funnel",
            "daily_revenue_rolling_7d",
            "customer_value_deciles",
        ],
        "why": (
            "Short relational queries, among them the reference's WordCount "
            "and Flight ports. Fixed per-query cost dominates: plan "
            "construction, parquet schema jobs, job launch. No serving or "
            "storage code runs, so it is the control workload that should "
            "not move when those layers are optimised."
        ),
        "expect_calls": ["catalog.load_table.calls"],
        "predicts": {
            "session.start_s": "setup_s",
            "catalog.load_table.s": "query_p50_s, pass_s",
            "plans.build.self_s": "pass_s",
            "spark.driver_gap_s": "pass_s",
            "execution.*": "no change",
            "serving.*, storage.*, streaming.*, sources.*": "no change",
        },
    },
    "compute_heavy": {
        "queries": [
            "dedup_minhash_lsh",
            "kmeans_centroids",
        ],
        "why": (
            "CPU- and shuffle-heavy queries: MinHash-LSH near-dup "
            "detection, whose two eager_pin calls block on a count job; "
            "K-Means centroids, whose widen_for_compute call takes its "
            "branch and whose first fit is a driver-sequenced chain of "
            "jobs. No serving, storage or streaming code runs, so they are "
            "the control for those layers."
        ),
        "expect_calls": [
            "catalog.load_table.calls",
            "execution.eager_pin.calls",
            "execution.eager_pin.blocked",
            "execution.widen.calls",
            "execution.widen.taken",
        ],
        "predicts": {
            "session.start_s": "setup_s",
            "plans.build.jobs": "cold_pass_s, pass_s, query_p90_s",
            "execution.eager_pin.s": "pass_s, query_p90_s, peak_rss_mb",
            "execution.widen.taken": "pass_s, query_p90_s",
            "spark.shuffle_write_mb, spark.spill_mb, spark.core_util": "pass_s",
            "serving.*, storage.*, streaming.*, sources.*": "no change",
        },
    },
    "ingest_serve": {
        "queries": [
            "index_segment_compaction_roundtrip",
            "bm25_topk_served",
        ],
        "why": (
            "Queries that write before they read: LSM index segments with "
            "compaction and a versioned served index. They run sources, "
            "storage, streaming, serving and run_overlapped, which the other "
            "workloads do not touch, so a read-side gain that costs writes "
            "shows here. No eager_pin."
        ),
        "expect_calls": [
            "serving.attach_or_build.calls",
            "storage.ops",
            "streaming.sink_batches",
            "streaming.compact.calls",
            "sources.write.calls",
            "execution.run_overlapped.calls",
        ],
        "predicts": {
            "session.start_s": "setup_s",
            "serving.builds, serving.attach_or_build.s": "cold_pass_s, pass_s",
            "storage.ops.s": "pass_s",
            "streaming.compact.s": "pass_s, space_amp",
            "sources.write.s": "pass_s, space_amp",
            "spark.output_mb": "space_amp",
            "execution.eager_pin.*": "no change",
        },
    },
}
