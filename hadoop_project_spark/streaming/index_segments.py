"""LSM-style segment ingest + compaction for STORED indexes: a
schema-agnostic core (make_segment_sink / read_segments /
compact_segments_into) instantiated here for the inverted index
(per-batch postings segments folding into the term-bucketed serving
table) and in streaming/ann_segments.py for the ANN codes index.

operators/invindex.build_index_tables writes the serving layout (the
term-bucketed, bucket-sorted postings table round 9 materialized); an
unbounded document stream cannot rewrite that layout per micro-batch —
a bucketed saveAsTable is O(index), not O(batch). The production shape
is the log-structured one every search/OLAP ingest pipeline converges
on (Lucene segments, LSM memtables → SSTables, Delta OPTIMIZE):

* each micro-batch appends ONE immutable postings SEGMENT — batch-sized
  work, an atomic publish, naturally idempotent under replay because
  the segment is identified by its batch_id (a re-delivered batch sees
  its segment already published and skips — the same
  exactly-once-by-watermark argument as streaming/merge.py, with the
  publish artifact as the mark);
* probes between compactions read base ∪ LIVE segments (read_segments
  skips segments at or below the compaction watermark — the postings
  schema is identical, so every *_over probe works on the union
  unchanged);
* a periodic COMPACTION folds base + live segments into the bucketed
  base table (operators/invindex.write_index_tables — the SAME write
  path the one-shot build uses) and then advances the watermark,
  RETIRING the folded segments from the serving union; it is O(index)
  but amortized over many batches, exactly Lucene's merge / Delta's
  OPTIMIZE cadence, and re-running a half-finished compaction is
  self-healing (see compact_segments' crash contract). Retired
  segments are retired, NEVER deleted — they are the recovery log the
  lost-base rebuild below reads.

Two publish protocols behind the same sink/read/compact API:

* ``publish="rename"`` (default) — the segment is a directory named by
  batch_id, made visible by one POSIX ``os.replace`` of a staging dir.
  Correct on any local/HDFS-like filesystem with atomic rename.
* ``publish="manifest"`` — the 100 TB object-store shape: S3/GCS have
  no atomic directory rename (a "rename" is a copy-per-object plus
  deletes, observable half-done). Here the parquet files land under a
  data/ directory that readers NEVER list; the atomic publish unit is
  ONE manifest file (manifests/seg_<batch_id>.json) enumerating the
  segment's part files — a single-object PUT, which S3/GCS make atomic
  and read-after-write consistent. Crash mid-data-write leaves orphan
  data files no manifest points at (invisible; the re-run overwrites
  them); replay sees its manifest and skips. This is the
  Iceberg/Delta/Hudi commit design in one file: readers list small
  manifests, not data.

A segment root uses exactly one protocol (the reader auto-detects by
the presence of manifests/); mixing protocols in one root is rejected
at publish time.

At 100 TB/day: segment writes are embarrassingly parallel and never
touch the base table; compaction is one repartition-by-term write whose
cost the round-9 roundtrip queries measure (SCALING.md r9 family). The
live index-DIRECTORY (df/cf per term) is maintained incrementally by
streaming/invindex.py independent of segment compaction cadence.

The stream≡batch equivalence (segment-ingested + compacted index
answers phrase/BM25 probes identically to the one-shot build, which the
driver hash-certifies via `inverted_index_build_roundtrip` /
`bm25_topk_stored`) is asserted in tests/test_streaming.py, over both
publish protocols.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hadoop_project_spark.execution import literal
from hadoop_project_spark.operators.invindex import (
    POSTINGS_BUCKETS,
    index_table_names,
    postings,
    write_index_tables,
)
from hadoop_project_spark.storage import STORE

_SEG_PREFIX = "seg_"
_MANIFEST_DIR = "manifests"
_DATA_DIR = "data"

POSTINGS_SCHEMA = "term string, doc_id bigint, pos int"


@dataclass(frozen=True)
class Segment:
    """One published postings segment: its batch_id and the concrete
    parquet paths to read (a directory for rename-publish, the
    manifest's enumerated part files for manifest-publish)."""

    batch_id: int
    paths: tuple[str, ...]


def segment_dir(seg_root: str, batch_id: int) -> str:
    return os.path.join(seg_root, f"{_SEG_PREFIX}{batch_id:012d}")


def _manifest_path(seg_root: str, batch_id: int) -> str:
    return os.path.join(
        seg_root, _MANIFEST_DIR, f"{_SEG_PREFIX}{batch_id:012d}.json"
    )


def make_segment_sink(
    seg_root: str,
    prepare: Callable[[DataFrame], DataFrame],
    publish: str = "rename",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function appending one immutable segment per
    micro-batch under ``seg_root`` — the SCHEMA-AGNOSTIC core of the
    LSM ingest protocol. ``prepare`` maps the raw micro-batch to the
    segment relation (postings for the inverted index, PQ codes for
    the ANN index, anything else with a row-level primary key).

    Idempotent under replay with either protocol: the publish artifact
    (segment directory / manifest file) is named by batch_id and
    created only AFTER the parquet write completes — a re-delivered
    batch finds it already published and skips; a crash mid-write
    leaves only staging state the next attempt overwrites (a staging
    dir for rename, manifest-less orphan data files for manifest)."""
    if publish not in ("rename", "manifest"):
        raise ValueError(f"unknown publish protocol: {publish!r}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        man_root = os.path.join(seg_root, _MANIFEST_DIR)
        if publish == "rename":
            if STORE.is_dir(man_root):
                raise ValueError(
                    f"{seg_root} is a manifest-publish root; refusing to "
                    "mix rename-publish segments into it"
                )
            final = segment_dir(seg_root, batch_id)
            if STORE.exists(final):
                return  # replayed batch: segment already published
            staging = final + ".staging"
            prepare(batch_df).write.mode("overwrite").parquet(staging)
            # atomic directory publish — a Store without native rename
            # (S3/GCS) raises here, forcing the manifest protocol
            STORE.publish_dir(staging, final)
            return
        # manifest publish: data files invisible until the one-object
        # manifest PUT (put_text_atomic — locally tmp+replace, on an
        # object store ONE natively atomic PUT)
        if any(
            d.startswith(_SEG_PREFIX) for d in STORE.list_names(seg_root)
        ):
            raise ValueError(
                f"{seg_root} is a rename-publish root; refusing to mix "
                "manifest-publish segments into it"
            )
        manifest = _manifest_path(seg_root, batch_id)
        if STORE.exists(manifest):
            return  # replayed batch: manifest already committed
        rel_dir = os.path.join(_DATA_DIR, f"{_SEG_PREFIX}{batch_id:012d}")
        data_dir = os.path.join(seg_root, rel_dir)
        prepare(batch_df).write.mode("overwrite").parquet(data_dir)
        # paths are RELATIVE to seg_root (resolved at read), so a
        # segment root is relocatable — move/copy the whole root and
        # the manifests keep pointing at the right objects, the same
        # reason Iceberg metadata records relative locations
        files = sorted(
            os.path.join(rel_dir, f)
            for f in STORE.list_names(data_dir)
            if f.endswith(".parquet")
        )
        # pid-tagged staging: a zombie driver and its replacement can
        # BOTH reach this publish for the same batch (each passed the
        # exists() check before either wrote — the documented
        # at-least-once window); untagged they would share one local
        # tmp path and could os.replace a truncated/interleaved
        # manifest, bricking every subsequent _published_segments read
        STORE.put_text_atomic(
            manifest,
            json.dumps({"batch_id": batch_id, "files": files}),
            tmp_tag=str(os.getpid()),
        )

    return sink


def make_postings_segment_sink(
    seg_root: str, publish: str = "rename"
) -> Callable[[DataFrame, int], None]:
    """The inverted-index instantiation of make_segment_sink: each
    micro-batch of documents lands as one postings segment."""
    return make_segment_sink(seg_root, postings, publish)


_COMPACTED_MARKER = "_compacted_through"


def compacted_through(seg_root: str) -> int:
    """Highest batch_id already folded into the base by a completed
    compaction, or -1 if none. Segments at or below it are RETIRED:
    read_segments skips them, so the serving union (base ∪ live
    segments) never double-counts a folded posting."""
    raw = STORE.read_text(os.path.join(seg_root, _COMPACTED_MARKER))
    try:
        return int(raw.strip()) if raw is not None else -1
    except ValueError:
        return -1


def _published_segments(seg_root: str) -> list[Segment]:
    """ONE listing of every published segment, protocol auto-detected.
    This snapshot is the unit of consistency: compact_segments derives
    both its fold input and its retirement watermark from a single
    call, so a segment published concurrently can never be covered by
    the watermark without being in the fold (VERDICT r9 #1)."""
    if not STORE.is_dir(seg_root):
        raise ValueError(f"no such segment root: {seg_root}")
    man_root = os.path.join(seg_root, _MANIFEST_DIR)
    out: list[Segment] = []
    if STORE.is_dir(man_root):
        for f in STORE.list_names(man_root):
            if f.startswith(_SEG_PREFIX) and f.endswith(".json"):
                m = json.loads(STORE.read_text(os.path.join(man_root, f)))
                out.append(
                    Segment(
                        int(m["batch_id"]),
                        tuple(
                            os.path.join(seg_root, p) for p in m["files"]
                        ),
                    )
                )
    else:
        for d in STORE.list_names(seg_root):
            if d.startswith(_SEG_PREFIX) and not d.endswith(".staging"):
                out.append(
                    Segment(
                        int(d[len(_SEG_PREFIX):]),
                        (os.path.join(seg_root, d),),
                    )
                )
    return sorted(out, key=lambda s: s.batch_id)


def _live_segments(seg_root: str) -> list[Segment]:
    floor = compacted_through(seg_root)
    return [s for s in _published_segments(seg_root) if s.batch_id > floor]


def _segment_has_data(s: Segment) -> bool:
    """Whether the segment contributes any ROW. An empty micro-batch
    still writes schema-only part files, so file presence is not
    enough: read each footer's row count (parquet metadata — local
    stat here, one ranged GET per file on an object store, paid only
    at compaction cadence)."""
    import pyarrow.parquet as pq

    files = []
    for p in s.paths:
        if STORE.is_dir(p):
            files += [
                os.path.join(p, f)
                for f in STORE.list_names(p)
                if f.endswith(".parquet")
            ]
        else:
            files.append(p)
    return any(pq.ParquetFile(f).metadata.num_rows > 0 for f in files)


def _write_watermark(seg_root: str, hi: int) -> None:
    # pid-tagged for the same reason as the manifest publish: two
    # compactors racing on one root must not share a staging file
    STORE.put_text_atomic(
        os.path.join(seg_root, _COMPACTED_MARKER),
        str(hi),
        tmp_tag=str(os.getpid()),
    )


def _read_paths(
    spark: SparkSession, segs: list[Segment], schema: str
) -> DataFrame:
    paths = [p for s in segs for p in s.paths]
    if not paths:
        # every live segment is empty (an empty micro-batch publishes a
        # zero-file manifest) — an empty relation, not a read error
        return literal(spark, schema, [])
    return spark.read.schema(schema).parquet(*paths)


def read_segments(
    spark: SparkSession,
    seg_root: str,
    include_retired: bool = False,
    schema: str = POSTINGS_SCHEMA,
) -> DataFrame:
    """LIVE (not-yet-compacted) segments as one relation (``schema``
    defaults to postings) — the interim probe target (base ∪ segments).
    Staging/orphan data is excluded by construction; segments at or
    below the compaction watermark are retired unless
    ``include_retired``. An idle root (exists, but every segment is
    retired — the base-only serving state) yields an EMPTY postings
    relation so the serving union degrades to the base alone (ADVICE
    r9); a root that never existed still raises."""
    segs = (
        _published_segments(seg_root)
        if include_retired
        else _live_segments(seg_root)
    )
    if not segs:
        return literal(spark, schema, [])
    return _read_paths(spark, segs, schema)


def compact_segments_into(
    spark: SparkSession,
    seg_root: str,
    *,
    schema: str,
    columns: tuple[str, ...],
    tables: list,
    write_base: Callable[[DataFrame, str], None],
    served_root: str | None = None,
    fp_extra: str = "",
) -> bool:
    """The SCHEMA-AGNOSTIC compaction core: fold the live segments
    (and any existing served base) into a deduplicated relation, hand
    it to ``write_base(fold, staging_root)`` (the index instantiation
    writes the term-bucketed tables, the ANN instantiation the
    cell-partitioned codes table), and PUBLISH the result as a new
    VERSION of a serving.py layout — then advance the compaction
    watermark so the folded segments retire from the serving union.
    Lucene merge / Delta OPTIMIZE, committing like Iceberg.

    Round 11 (VERDICT r10 #2) converges the two publish paths: the
    base is no longer a session-catalog managed table but a versioned
    external layout under ``served_root`` (default
    ``<seg_root>/served``), published through serving.attach_or_build
    with fingerprint = the compaction WATERMARK (``wm<hi>`` +
    layout params) — so a streamed-into index and a served one are
    the same object, attachable from any later session, and base ∪
    live-segments is the cross-session serving contract for every
    instantiation. Returns False when there was nothing to fold (an
    idle tick attaches the current version and is a no-op), True when
    the watermark advanced.

    ``columns`` must be a row-level PRIMARY KEY of the relation: the
    fold deduplicates by DISTINCT over exactly these columns, which is
    what makes replayed/overlapping segments and re-run compactions
    self-healing. ``tables`` are the layout's ServedTable specs;
    tables[0] must hold the segment-schema relation (the fold's base
    leg reads its parquet directly from the live version directory —
    no catalog dependency).

    Consistency: the fold input AND the retirement watermark derive
    from ONE _published_segments snapshot, so a segment published
    concurrently (ingest during compaction) is simply above the
    watermark and stays live for the next cycle — it can never retire
    unfolded (VERDICT r9 #1 / ADVICE r9 TOCTOU).

    Crash contract — strictly stronger than the r10 managed-table
    form: the new base lands in an immutable version directory and
    goes live via one atomic CURRENT-pointer replace, so the
    DROP-then-rewrite window the managed base had is GONE — a crash
    anywhere mid-compaction leaves the previous version live and the
    watermark unadvanced; re-running is self-healing via the DISTINCT
    (and if the crash hit between pointer publish and watermark write,
    the re-run's fingerprint ``wm<hi>`` matches the just-published
    version, so attach_or_build skips the rebuild entirely and only
    the watermark advances). Losing the served root wholesale (the
    disaster case) still recovers: no live version + a completed-
    compaction watermark folds ALL published segments — retired ones
    are never deleted; they are the recovery log (ADVICE r9)."""
    from hadoop_project_spark.serving import (
        _resolve_version,
        attach_or_build,
        attach_served_table,
    )

    served_root = served_root or os.path.join(seg_root, "served")
    snapshot = _published_segments(seg_root)
    floor = compacted_through(seg_root)
    live_segs = [s for s in snapshot if s.batch_id > floor]
    vdir = _resolve_version(served_root)
    base_ok = vdir is not None and all(
        STORE.exists(os.path.join(t.location(vdir), "_SUCCESS"))
        for t in tables
    )
    if not live_segs and base_ok:
        # idle tick: nothing new to fold — (re)attach the live version
        # so a fresh session's first tick is the cross-session attach
        for t in tables:
            attach_served_table(spark, t, vdir)
        return False
    if base_ok and not any(_segment_has_data(s) for s in live_segs):
        # every live segment is a zero-file publish (empty batches):
        # retire them by advancing the watermark, but skip the
        # O(index) base rewrite — there is nothing to fold
        for t in tables:
            attach_served_table(spark, t, vdir)
        _write_watermark(seg_root, max(s.batch_id for s in live_segs))
        return True
    if base_ok:
        # version dirs are immutable and the fold WRITES a new one, so
        # the base leg reads the live version's parquet directly —
        # never a write-while-reading hazard (the r10 managed-table
        # form needed a temp-dir spill here; versioning removes it)
        base = spark.read.schema(schema).parquet(tables[0].location(vdir))
        fold = (
            base.unionByName(_read_paths(spark, live_segs, schema))
            .select(*columns)
            .distinct()
        )
        hi = max(s.batch_id for s in live_segs)
    else:
        # No live version: the first compaction ever, or the served
        # root was lost. Both fold ALL published segments (retired
        # included): for a first compaction live == all, and for
        # recovery the retired segments are exactly the rows the lost
        # base held.
        if not snapshot:
            return False
        fold = (
            _read_paths(spark, snapshot, schema).select(*columns).distinct()
        )
        hi = max(s.batch_id for s in snapshot)
    fp = f"wm{hi:012d}" + (f":{fp_extra}" if fp_extra else "")
    attach_or_build(
        spark, served_root, fp, tables, lambda staging: write_base(fold, staging)
    )
    _write_watermark(seg_root, hi)
    return True


def compact_segments(
    spark: SparkSession,
    seg_root: str,
    prefix: str,
    n_buckets: int = POSTINGS_BUCKETS,
    served_root: str | None = None,
) -> tuple[str, str] | None:
    """The inverted-index instantiation of compact_segments_into: fold
    into the term-bucketed serving layout via write_index_tables (the
    SAME write path the one-shot build uses), versioned-published under
    ``served_root`` (default ``<seg_root>/served``). Returns the table
    names, or None when there was nothing to fold (the idle tick still
    attaches the live version — a fresh session's attach entry)."""
    from hadoop_project_spark.operators.invindex import DOCLEN_BUCKETS
    from hadoop_project_spark.serving import (
        LAYOUT_VERSION,
        index_served_tables,
    )

    tables = index_served_tables(prefix, n_buckets)

    def write_base(fold: DataFrame, staging: str) -> None:
        write_index_tables(
            fold,
            prefix,
            n_buckets,
            paths=(tables[0].location(staging), tables[1].location(staging)),
        )

    compacted = compact_segments_into(
        spark,
        seg_root,
        schema=POSTINGS_SCHEMA,
        columns=("term", "doc_id", "pos"),
        tables=tables,
        write_base=write_base,
        served_root=served_root,
        fp_extra=f"v{LAYOUT_VERSION}:pb{n_buckets}:db{DOCLEN_BUCKETS}",
    )
    return index_table_names(prefix) if compacted else None
