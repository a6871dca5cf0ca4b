"""LSM-style segment ingest for the near-dup gate's LSH STATE: the
schema-agnostic core of streaming/index_segments.py instantiated for
the (doc_id, band, key) band-key relation — converging the LAST
stateful ingest pipeline onto the segment/compaction/versioned-serving
design the inverted index and the ANN codes index already share.

streaming/dedup_gate.py answers the incremental question — "is this
NEW document a near-dup of anything already ingested?" — by keeping
the ingested corpus's LSH band keys as batch_id-partitioned parquet.
That state APPENDS forever: after 10^5 micro-batches the probe join
reads 10^5 small partitions (file-listing and tiny-file overheads, the
classic streaming small-files problem), and nothing governs its
lifecycle across sessions. This module gives the gate's state the same
log-structured life as the other two stored indexes:

* each micro-batch publishes ONE immutable band-key segment
  (batch_id-idempotent; rename or manifest protocol — replay/crash
  contracts inherited from make_segment_sink);
* the probe between compactions runs against base ∪ LIVE segments —
  identical collision semantics to the batch path because the keys
  come from the same operators/dedup.doc_band_keys pipeline;
* a periodic COMPACTION folds base + live segments into a layout
  BUCKETED AND SORTED ON THE PROBE JOIN'S KEYS (band, key), published
  as a new immutable version of a serving.py root (fingerprint =
  compaction watermark) — so the gate's state is attachable from any
  later session, and probes against the folded base join
  BUCKET-LOCALLY: the state side is pre-partitioned and pre-sorted on
  exactly the join keys, so the per-batch probe join shuffles only the
  O(batch) probe keys while the corpus-sized state moves nothing and
  re-sorts nothing. Gated in tests/test_plan_shapes.py.

At 100 TB: state is O(corpus × NUM_BANDS) short rows — the LSH table
of a real feature store. Per-batch cost is O(batch) key computation +
O(batch) shuffle into the state's bucketing + one O(batch) segment
publish; compaction is O(state) but amortized over many batches
(Lucene merge cadence). The fold's DISTINCT over the full row makes
replayed/overlapping segments self-healing, exactly as for postings
and PQ codes. A production deployment would additionally push the
batch's key set down as a bloom/IN filter to prune state row-groups
(the layout is already sorted by key to make that effective); the
bucket-local join is the shuffle-optimal plan this repo can gate.

Stream ≡ batch: the gate's admission decisions over doc_id-ordered
micro-batches — computed against base ∪ segments, across a mid-stream
compaction and a replayed batch — telescope to exactly
"flagged iff shares a band key with any lower doc_id", the same
relation gate_flags_for_ordered_corpus computes and the same DuckDB
oracle that certifies it (plans/dedup_queries.py,
neardup_gate_lsm_admissions). Asserted in tests/test_lsh_segments.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.execution import eager_pin, literal
from hadoop_project_spark.operators.dedup import doc_band_keys
from hadoop_project_spark.streaming.index_segments import (
    compact_segments_into,
    make_segment_sink,
    read_segments,
)

BANDKEYS_SCHEMA = "doc_id bigint, band int, key string"
_BK_COLUMNS = ("doc_id", "band", "key")

# Bucket count of the folded state layout. Small here (test scale); at
# 100 TB this is the state's partition fan-out knob — more buckets cut
# per-bucket probe scan size, and the count is part of the layout
# fingerprint so a change publishes a new version instead of mixing.
LSH_STATE_BUCKETS = 8


def _prepare_bandkeys(batch_df: DataFrame) -> DataFrame:
    """One document micro-batch → its (doc_id, band, key) segment
    relation: the SAME doc_band_keys pipeline the one-shot gate twin
    uses, so segments, base and batch-path collision semantics are
    identical by construction."""
    return doc_band_keys(batch_df).select(
        F.col("doc_id").cast("long").alias("doc_id"), "band", "key"
    )


def make_bandkeys_segment_sink(
    seg_root: str, publish: str = "rename"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function appending one immutable band-key segment
    per document micro-batch — the LSH-state instantiation of
    make_segment_sink (idempotent batch_id publishes, rename or
    manifest protocol)."""
    return make_segment_sink(seg_root, _prepare_bandkeys, publish)


def read_bandkeys_segments(
    spark: SparkSession, seg_root: str, include_retired: bool = False
) -> DataFrame:
    """LIVE (not-yet-compacted) band-key segments as one (doc_id, band,
    key) relation — the segment leg of a between-compactions probe."""
    return read_segments(
        spark,
        seg_root,
        include_retired=include_retired,
        schema=BANDKEYS_SCHEMA,
    )


def gate_state(
    spark: SparkSession,
    seg_root: str,
    table: str,
    n_buckets: int = LSH_STATE_BUCKETS,
    served_root: str | None = None,
) -> DataFrame:
    """The gate's probe target at this moment: the folded base (when a
    compaction has published it) ∪ live segments. Before the first
    compaction the base table doesn't exist and the state is the
    segments alone; after a compaction with no fresh segments the
    segment leg is an empty relation and the state degrades to the
    base — both ends of the standard LSM read-amplification trade.
    A seg_root that doesn't exist yet is the FIRST batch's view (the
    sink creates it at first publish): an empty state, not an error —
    unlike read_segments' raise, which protects explicit readers from
    typo'd roots; the gate is the one caller that legitimately probes
    before anything was ever published.

    Cross-session safety: the catalog entry is reconciled against the
    served root's CURRENT version on every call (metadata-only — a
    matching entry is a no-op, a missing or stale one re-attaches), so
    a fresh session that skipped the idle compaction tick never
    silently probes an empty state, and a long-lived session whose
    root another process compacted never probes a stale base against
    an already-advanced watermark (either would admit duplicates the
    index has — the round-11 review's two staleness findings).
    ``n_buckets`` and ``served_root`` must match the layout's
    compaction settings (the bucket count is part of the layout's
    fingerprint)."""
    import os

    from hadoop_project_spark.storage import STORE
    from hadoop_project_spark.streaming.index_segments import _live_segments

    from hadoop_project_spark.serving import (
        _resolve_version,
        attach_served_table,
        bandkeys_served_table,
    )

    vdir = _resolve_version(served_root or os.path.join(seg_root, "served"))
    if vdir is not None:
        attach_served_table(
            spark, bandkeys_served_table(table, n_buckets), vdir
        )
    has_base = spark.catalog.tableExists(table)
    no_segs = not STORE.is_dir(seg_root) or not _live_segments(seg_root)
    if no_segs and has_base:
        # base alone — deliberately NOT unioned with an empty segment
        # relation: a Union node would erase the table's bucketing-
        # derived output partitioning and force the probe join to
        # shuffle the corpus-sized state (the plan gate in
        # tests/test_plan_shapes.py holds because of this branch)
        return spark.table(table)
    seg = (
        literal(spark, BANDKEYS_SCHEMA, [])
        if no_segs
        else read_bandkeys_segments(spark, seg_root)
    )
    if has_base:
        return spark.table(table).unionByName(seg)
    return seg


def publish_bandkeys_segment(
    keys: DataFrame, seg_root: str, batch_id: int, publish: str = "rename"
) -> None:
    """Publish an ALREADY-COMPUTED band-key relation as one immutable
    segment (identity prepare) — the shared-keys path: a gated batch
    computes its keys once and feeds both the probe and the publish,
    instead of running the shingle → signature pipeline twice
    (measured ~2x the per-batch cost at sf0.1)."""
    make_segment_sink(seg_root, lambda df: df, publish)(keys, batch_id)


def admission_flags(
    batch_docs: DataFrame, state: DataFrame, keys: DataFrame | None = None
) -> DataFrame:
    """(doc_id, flagged) for one document micro-batch probed against
    the accumulated LSH state: flagged iff any of the doc's band keys
    collides with the state (a LEFT SEMI join — the state side never
    duplicates the probe rows, and when the state is the folded
    (band, key)-bucketed base it moves ZERO bytes: its bucketing IS the
    join's clustering, so only the O(batch) probe keys shuffle) or
    with a lower doc_id inside the same batch (the batch path's
    deterministic doc_a < doc_b orientation).

    The batch's keys are eager-pinned: they feed the state probe AND
    the within-batch self-join, and the shingle → 16-hash signature
    pipeline would otherwise run once per consumer (the same
    measured-5x lesson as gate_flags_for_ordered_corpus). Callers that
    also PUBLISH the batch (the gated sink) pass their pinned ``keys``
    in so probe and publish share one computation. ``batch_docs`` is
    still the roster source — docs too short to shingle have no key
    rows but still need their (flagged = false) decision."""
    if keys is None:
        keys = eager_pin(doc_band_keys(batch_docs))
    # SELF-EXCLUSION is what makes the gated sink replay-idempotent: a
    # re-delivered batch probes a state that already contains its OWN
    # segment (published before the failed checkpoint commit — and
    # possibly already folded into the base by a restart-time
    # compaction tick, where dedup_gate's batch_id filter could no
    # longer see it). Without it, a replayed doc collides with itself
    # (every doc flags) and with SAME-batch partners regardless of the
    # tie-break (the lower id of a pair flags too). Excluding the
    # batch's doc_ids from the state leg — a broadcast ANTI join,
    # O(batch) ids, which preserves the state side's partitioning and
    # ordering, so bucket locality and shuffle volume are unchanged
    # (tests/test_lsh_segments.py's plan gate) — restores exactly
    # "state minus this batch's contribution", making the recomputed
    # flags equal the originals row-for-row. Same-id rows across
    # batches only ever mean re-delivery of the same document, never a
    # duplicate PAIR, so the exclusion is semantics-preserving.
    state_others = state.join(
        F.broadcast(keys.select("doc_id").distinct()), "doc_id", "left_anti"
    )
    hits_state = keys.join(
        state_others.select("band", "key"), ["band", "key"], "left_semi"
    ).select("doc_id")
    a, b = keys.alias("a"), keys.alias("b")
    hits_batch = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") > F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_id"))
    flagged = (
        hits_state.unionByName(hits_batch)
        .distinct()
        .withColumn("flagged", F.lit(True))
    )
    return (
        batch_docs.select("doc_id")
        .join(flagged, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce("flagged", F.lit(False)).alias("flagged"),
        )
    )


def make_gated_bandkeys_sink(
    seg_root: str,
    flags_dir: str,
    table: str,
    publish: str = "rename",
    served_root: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The full LSM near-dup gate as one foreachBatch function: probe
    the micro-batch against base ∪ live segments (state BEFORE this
    batch), record its admission flags idempotently into the batch's
    own ``batch_id=N`` partition (dynamic partition overwrite — a
    replayed batch heals its own partition, same contract as
    streaming/dedup_gate.py), then publish the batch's band keys as
    one immutable segment. Compaction cadence is the caller's —
    compact_bandkeys_segments(seg_root, table) at any point between
    batches folds the state without changing a single flag already
    written, because base ∪ live segments is compaction-invariant."""
    from hadoop_project_spark.streaming.dedup_gate import (
        _write_batch_partition,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        keys = eager_pin(_prepare_bandkeys(batch_df))
        state = gate_state(spark, seg_root, table, served_root=served_root)
        flags = admission_flags(batch_df, state, keys=keys).filter(
            F.col("flagged")
        )
        _write_batch_partition(flags.select("doc_id"), flags_dir, batch_id)
        publish_bandkeys_segment(keys, seg_root, batch_id, publish)

    return sink


def compact_bandkeys_segments(
    spark: SparkSession,
    seg_root: str,
    table: str,
    n_buckets: int = LSH_STATE_BUCKETS,
    served_root: str | None = None,
) -> str | None:
    """Fold live band-key segments (and any existing base) into the
    (band, key)-bucketed sorted state layout — the LSH-state instantiation of
    compact_segments_into, inheriting its snapshot-consistent
    watermark, idle no-op, lost-base rebuild and self-healing re-run
    contracts, and its VERSIONED serving publish: the folded state is
    the same external, attach-by-DDL layout every served index uses,
    so a later session's gate resumes against the exact state a prior
    session accumulated (the cross-session contract
    tests/test_lsh_segments.py certifies). Returns the table name, or
    None when nothing folded (the idle tick still attaches the live
    version — a fresh session's attach entry)."""
    from hadoop_project_spark.serving import (
        LAYOUT_VERSION,
        bandkeys_served_table,
    )
    from hadoop_project_spark.sources.sinks import write_bucketed

    tables = [bandkeys_served_table(table, n_buckets)]

    def write_base(fold: DataFrame, staging: str) -> None:
        write_bucketed(
            fold.repartition(n_buckets, F.col("band"), F.col("key")),
            table,
            ["band", "key"],
            n_buckets,
            sort_cols=["band", "key", "doc_id"],
            path=tables[0].location(staging),
        )

    compacted = compact_segments_into(
        spark,
        seg_root,
        schema=BANDKEYS_SCHEMA,
        columns=_BK_COLUMNS,
        tables=tables,
        write_base=write_base,
        served_root=served_root,
        fp_extra=f"v{LAYOUT_VERSION}:kb{n_buckets}",
    )
    return table if compacted else None
