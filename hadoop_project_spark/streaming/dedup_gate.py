"""Ingest-time near-duplicate gate: the MinHash-LSH band-key state as a
streaming admission filter.

The batch dedup family (operators/dedup.py) answers "which pairs in
this CORPUS are near-dups"; an ingestion pipeline asks the incremental
question — "is this NEW document a near-dup of anything already
ingested?" — and must answer it per micro-batch without rescanning the
corpus. The state that makes that cheap is exactly the LSH index: the
ingested documents' (band, key) rows. Each micro-batch

  1. computes its docs' band keys (same minhash_signatures /
     lsh_band_keys as the batch path, so the collision semantics are
     identical to dedup_minhash_lsh's candidate stage);
  2. flags docs colliding with the state, or with a lower-doc_id doc
     inside the same batch (deterministic tie-break, mirroring the
     batch path's doc_a < doc_b orientation);
  3. appends its flag rows and its band keys, each into a
     ``batch_id=N`` partition.

The index keeps EVERY ingested doc's keys — flagged docs included:
flags are candidate-level (band collision), and a third copy of a
near-dup should collide with both earlier copies, so nothing is
dropped from the index. State size is therefore O(ingested docs x
NUM_BANDS) — the index, not the corpus text; at 100 TB the parquet
state becomes the LSH table of a real feature store, and the per-batch
work is one join keyed by (band, key) plus an O(batch) append — never
a rewrite of history. A production gate would follow the flags with
the exact-Jaccard verify on flagged pairs only, exactly as
dedup.set_overlap does in batch.

Replay safety: both sinks write ``partitionBy(batch_id)`` under
dynamic partition overwrite, so a re-executed micro-batch (foreachBatch
is at-least-once) overwrites ITS OWN partition instead of appending a
second copy — no rmtree/rename window, no cross-batch mutation, and a
crash mid-write is healed by the replay.

tests/test_streaming.py proves multi-batch equivalence: the final
state equals the batch-computed band keys, and the flagged set equals
a post-hoc recomputation from the recorded batch roster.

Round 11: for LONG-LIVED ingest, streaming/lsh_segments.py supersedes
this state layout — the same band keys kept as LSM segments with
compaction into a (band, key)-bucketed served layout (bounded file
counts, cross-session attach, bucket-local probes). This module stays
as the minimal batch_id-partitioned form and the home of the shared
batch_band_keys / gate_flags_for_ordered_corpus pipeline both gates
certify against.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

from hadoop_project_spark.operators.dedup import (
    doc_shingles,
    lsh_band_keys,
    minhash_signatures,
)


def batch_band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) for a batch of documents — the exact batch
    pipeline, factored for the gate and its equivalence test."""
    return lsh_band_keys(minhash_signatures(doc_shingles(docs)))


def gate_flags_for_ordered_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, flagged) — the gate's admission decision for every doc
    when the corpus is ingested in doc_id order: flagged iff the doc
    shares an LSH (band, key) with ANY lower doc_id. This is the
    BATCH TWIN of make_neardup_gate_sink: for doc_id-ordered
    micro-batches, 'collides with an earlier batch or with a lower
    doc_id in the same batch' telescopes to exactly this predicate —
    tests/test_streaming.py proves the union of the streaming gate's
    flag partitions equals this relation, and the driver hash-certifies
    it against a DuckDB oracle (plans/dedup_queries.py,
    neardup_gate_admissions).

    The band-key relation is eager-pinned (operators/dedup.
    lsh_band_relation): the self-join below would otherwise recompute
    the shingle → 16-hash signature pipeline once per join side inside
    one job — measured 5.1 → 0.6 s at sf0.1, 7.1 → 1.5 s at sf1
    (VERDICT r7 item 4)."""
    from hadoop_project_spark.operators.dedup import lsh_band_relation

    keys = lsh_band_relation(docs)
    a, b = keys.alias("a"), keys.alias("b")
    flagged = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("flagged", F.lit(True))
    )
    return (
        docs.select("doc_id")
        .join(flagged, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce("flagged", F.lit(False)).alias("flagged"),
        )
    )


def _write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent per-batch publish: dynamic-overwrite the batch's own
    ``batch_id=N`` partition (replays heal partial writes)."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def make_neardup_gate_sink(
    state_dir: str, flags_dir: str, roster_dir: str | None = None
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining the LSH index at ``state_dir``
    and appending (doc_id, batch_id) flag rows to ``flags_dir``.
    ``roster_dir`` (tests) additionally records every doc's batch id so
    equivalence can be recomputed post-hoc."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from hadoop_project_spark.execution import eager_pin

        spark = batch_df.sparkSession
        # eager_pin: the flags and state writes below run CONCURRENTLY
        # (guide §2.6), and a lazy persist would let both jobs race-
        # recompute the shingle→MinHash key build; the blocking count
        # fills the cache in one job first. Routed through eager_pin
        # (ADVICE r12) so tiny batches below PIN_MIN_WORK_BYTES keep
        # the lazy persist — there the extra count job costs more than
        # the duplicate recompute it prevents.
        keys = eager_pin(batch_band_keys(batch_df))
        if roster_dir is not None:
            _write_batch_partition(
                batch_df.select("doc_id").distinct(), roster_dir, batch_id
            )
        # existence probe must go through Spark's reader, not the local
        # filesystem: state_dir may be hdfs://, s3a://, etc., where
        # os.path.exists is always False and the cross-batch check
        # would silently never fire. Only PATH_NOT_FOUND means "first
        # batch" — any other failure (corrupt state, permissions, a
        # transient FS error) must surface, because treating it as
        # first-batch would silently disable cross-batch dedup for the
        # micro-batch while still appending new state, permanently
        # admitting its duplicates.
        try:
            state = spark.read.parquet(state_dir)
        except AnalysisException as e:
            cond = (
                e.getCondition()
                if hasattr(e, "getCondition")
                else e.getErrorClass()
            )
            if cond != "PATH_NOT_FOUND":
                raise
            state = None  # first batch on any scheme
        hits_state = (
            keys.join(
                state.where(F.col("batch_id") < batch_id)
                .select("band", "key"),
                ["band", "key"],
            ).select("doc_id")
            if state is not None
            else None
        )
        # within-batch collisions: lower doc_id wins, higher is flagged
        a, b = keys.alias("a"), keys.alias("b")
        hits_batch = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_id"))
        )
        flagged = (
            hits_batch if hits_state is None else hits_batch.union(hits_state)
        ).distinct()
        # the flags publish and the O(batch) state append write DIFFERENT
        # batch_id=N partitions under DIFFERENT roots from the same
        # cached keys — independent within the batch (the cross-batch
        # ordering the gate's semantics need is between BATCHES, and the
        # flags leg reads only state partitions < batch_id), so the two
        # write jobs overlap (guide §2.6)
        from hadoop_project_spark.execution import run_overlapped

        run_overlapped(
            [
                lambda: _write_batch_partition(flagged, flags_dir, batch_id),
                lambda: _write_batch_partition(
                    keys.select("doc_id", "band", "key"), state_dir, batch_id
                ),
            ]
        )
        keys.unpersist()

    return sink
