"""Serve/build split (VERDICT r9 #3): the stored inverted index lives
as EXTERNAL bucketed parquet at a stable warehouse path; a fresh
session attaches it with one DDL statement (no data touched) and keeps
every bucket-local / bucket-pruned plan property of the build session.
Staleness is fingerprint-governed: a changed source fixture forces a
rebuild, an unchanged one makes ensure_served_index metadata-only."""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import functions as F

from hadoop_project_spark.operators import invindex as ix
from hadoop_project_spark.serving import ensure_served_index

PHRASES = ["table scan", "hash join"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _data_mtimes(loc: str) -> dict[str, int]:
    return {
        f: os.stat(os.path.join(loc, f)).st_mtime_ns
        for f in os.listdir(loc)
        if f.endswith(".parquet")
    }


def _tmp_sf(sf_dir, tmp_path) -> str:
    """A private sf_dir copy so the staleness leg can mutate the
    fixture (the real testdata is read-only)."""
    d = tmp_path / "srv_sf"
    d.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "documents.parquet"),
        d / "documents.parquet",
    )
    return str(d)


def test_served_index_attach_reuse_and_staleness(spark, sf_dir, tmp_path):
    from hadoop_project_spark.catalog import load_table

    sf = _tmp_sf(sf_dir, tmp_path)
    docs = load_table(spark, sf, "documents")

    # first call: builds the external layout and registers the tables
    prefix = ensure_served_index(spark, sf)
    pt, dt = ix.index_table_names(prefix)
    expected = _rows(ix.phrase_search_stats(docs, PHRASES))
    assert _rows(
        ix.phrase_search_stats_over(spark.table(pt), PHRASES)
    ) == expected

    loc = spark.sql(f"DESCRIBE EXTENDED {pt}").filter(
        "col_name='Location'"
    ).collect()[0]["data_type"]
    ploc = loc.removeprefix("file:")
    before = _data_mtimes(ploc)
    assert len(before) == ix.POSTINGS_BUCKETS  # one file per bucket

    # fresh-session twin: catalog forgets, files stay; the second call
    # ATTACHES (no rewrite — every data file untouched)
    spark.sql(f"DROP TABLE {pt}")
    spark.sql(f"DROP TABLE {dt}")
    assert ensure_served_index(spark, sf) == prefix
    assert _data_mtimes(ploc) == before
    assert _rows(
        ix.phrase_search_stats_over(spark.table(pt), PHRASES)
    ) == expected

    # the attached table keeps the build session's plan properties
    probe_plan = _plan(
        ix.phrase_search_stats_over(spark.table(pt), ["table scan"])
    )
    pruned = re.findall(
        r"SelectedBucketsCount: (\d+) out of (\d+)", probe_plan
    )
    assert pruned and all(int(s) < int(t) for s, t in pruned), probe_plan
    dir_plan = _plan(ix.index_directory_over(spark.table(pt)))
    assert "Exchange" not in dir_plan, dir_plan
    assert "Bucketed: true" in dir_plan

    # staleness: a regenerated fixture fingerprints differently and
    # forces a rebuild whose probes see the NEW corpus
    new_src = str(tmp_path / "docs_regen.parquet")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(new_src)
    os.remove(os.path.join(sf, "documents.parquet"))
    shutil.move(new_src, os.path.join(sf, "documents.parquet"))
    assert ensure_served_index(spark, sf) == prefix
    docs2 = load_table(spark, sf, "documents")
    assert _rows(
        ix.phrase_search_stats_over(spark.table(pt), PHRASES)
    ) == _rows(ix.phrase_search_stats(docs2, PHRASES))

    # versioned publish: the rebuild lands in a NEW version dir (the
    # catalog re-points) and the old version's files are UNTOUCHED —
    # a reader mid-scan on the previous version never loses its files
    loc2 = spark.sql(f"DESCRIBE EXTENDED {pt}").filter(
        "col_name='Location'"
    ).collect()[0]["data_type"].removeprefix("file:")
    assert loc2 != ploc
    assert _data_mtimes(ploc) == before

    # the layout root holds exactly the CURRENT pointer, the live
    # version and the retained previous version — no staging residue,
    # no unbounded version pileup
    layout_root = os.path.dirname(os.path.dirname(ploc))
    entries = sorted(os.listdir(layout_root))
    vdirs = [e for e in entries if e.startswith("v-")]
    assert "CURRENT" in entries and len(vdirs) == 2, entries
    assert [e for e in entries if e not in vdirs and e != "CURRENT"] == []
    with open(os.path.join(layout_root, "CURRENT")) as fh:
        assert os.path.join(layout_root, fh.read().strip()) == os.path.dirname(
            loc2
        )


def test_served_pagerank_graph_attach_reuse(spark, sf_dir):
    """The PageRank graph layout serves across catalog resets: drop
    the attached tables, re-ensure, and the data files are reused
    (attach is metadata-only) with identical iteration results."""
    from hadoop_project_spark.plans.registry import all_queries
    from hadoop_project_spark.serving import ensure_served_pagerank_graph

    et, nt = ensure_served_pagerank_graph(spark, sf_dir)
    loc = spark.sql(f"DESCRIBE EXTENDED {et}").filter(
        "col_name='Location'"
    ).collect()[0]["data_type"].removeprefix("file:")
    before = _data_mtimes(loc)
    expected = _rows(all_queries()["part_pagerank_served"].build(spark, sf_dir))
    spark.sql(f"DROP TABLE {et}")
    spark.sql(f"DROP TABLE {nt}")
    assert ensure_served_pagerank_graph(spark, sf_dir) == (et, nt)
    assert _data_mtimes(loc) == before
    assert _rows(
        all_queries()["part_pagerank_served"].build(spark, sf_dir)
    ) == expected
    # parity with the build-per-run twin (same oracle, same plan)
    assert _rows(
        all_queries()["part_pagerank_bucketed"].build(spark, sf_dir)
    ) == expected


def test_served_bm25_matches_in_session_scoring(spark, sf_dir, tmp_path):
    from hadoop_project_spark.catalog import load_table

    sf = _tmp_sf(sf_dir, tmp_path)
    docs = load_table(spark, sf, "documents")
    prefix = ensure_served_index(spark, sf)
    queries = ["table scan", "hash join merge"]
    assert _rows(
        ix.bm25_topk_stored(spark, prefix, queries, 10)
    ) == _rows(ix.bm25_topk(docs, queries, 10))


def test_served_ivfpq_prunes_partitions_and_matches_inline(spark, sf_dir):
    """The served IVF-PQ probe must (a) return exactly what the inline
    twin computes and (b) scan only the probed cell PARTITIONS — the
    plan's FileScan carries the cell IN (...) as PartitionFilters, so
    pruning happens at planning, not as a post-scan filter."""
    from hadoop_project_spark.plans import all_queries

    specs = all_queries()
    served = specs["ann_topk_ivfpq_served"].build(spark, sf_dir)
    inline = specs["ann_topk_ivfpq"].build(spark, sf_dir)
    assert _rows(served) == _rows(inline)
    plan = _plan(served)
    scan = next(
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    )
    assert "cell" in scan and "IN" in scan.upper(), scan


def test_compacted_indexes_attach_across_sessions(spark, sf_dir, tmp_path):
    """VERDICT r10 #2 (converged publish paths): an index that is
    streamed-into IS a served layout — ingest + compact in one
    session, then simulate a fresh session (catalog wiped), where the
    next idle compaction tick re-ATTACHES the published version
    (metadata-only: it returns None and the version-directory set must
    not change). New segments ingested in the fresh session then serve
    through base ∪ live-segments identically to the one-shot build.
    Exercised for both LSM instantiations: the term-bucketed inverted
    index and the cell-partitioned ANN codes index."""
    from pyspark.sql import functions as F

    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.operators import invindex as ix
    from hadoop_project_spark.operators import similarity as sim
    from hadoop_project_spark.plans.invindex_queries import SEARCH_PHRASES
    from hadoop_project_spark.streaming.ann_segments import (
        compact_codes_segments,
        encode_codes,
        make_codes_segment_sink,
        read_codes_segments,
    )
    from hadoop_project_spark.streaming.index_segments import (
        compact_segments,
        make_postings_segment_sink,
        read_segments,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def versions(root):
        return sorted(
            d for d in os.listdir(os.path.join(root, "served"))
            if d.startswith("v-")
        )

    # --- inverted index ---
    docs = load_table(spark, sf_dir, "documents")
    iroot = str(tmp_path / "xs_idx_segs")
    isink = make_postings_segment_sink(iroot, publish="manifest")
    isink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    isink(docs.filter(F.col("doc_id") % 4 == 1), 1)
    prefix = "xs_idx"
    assert compact_segments(spark, iroot, prefix) is not None
    v_before = versions(iroot)
    for t in ix.index_table_names(prefix):
        spark.sql(f"DROP TABLE {t}")  # "fresh session": catalog gone
    # idle tick in the fresh session = cross-session attach, no rebuild
    assert compact_segments(spark, iroot, prefix) is None
    assert versions(iroot) == v_before
    # the fresh session keeps ingesting; base (attached) ∪ live serves
    isink(docs.filter(F.col("doc_id") % 4 == 3), 2)
    pt = ix.index_table_names(prefix)[0]
    union = (
        spark.table(pt)
        .select("term", "doc_id", "pos")
        .unionByName(read_segments(spark, iroot))
    )
    assert rows(ix.phrase_search_stats_over(union, SEARCH_PHRASES)) == rows(
        ix.phrase_search_stats(docs, SEARCH_PHRASES)
    )

    # --- ANN codes index ---
    emb = load_table(spark, sf_dir, "embeddings")
    aroot = str(tmp_path / "xs_ann_segs")
    asink = make_codes_segment_sink(aroot, publish="manifest")
    asink(emb.filter(F.col("vec_id") % 2 == 0), 0)
    table = "xs_ann_codes"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert compact_codes_segments(spark, aroot, table) == table
    v_before = versions(aroot)
    spark.sql(f"DROP TABLE {table}")  # "fresh session"
    assert compact_codes_segments(spark, aroot, table) is None
    assert versions(aroot) == v_before
    asink(emb.filter(F.col("vec_id") % 2 == 1), 1)  # live, uncompacted

    def sel(df):
        return df.select(
            F.col("vec_id").alias("neighbor_id"), "cell", "codes"
        )

    books = sim.make_pq_codebooks()
    cents = sim.make_coarse_centroids(16, 64, 7)

    def probe(enc):
        return rows(
            sim.ivfpq_topk_over(
                enc, emb.filter(F.col("vec_id") < 8), k=10,
                cents=cents, books=books, n_probe=4,
            )
        )

    got = probe(
        sel(spark.table(table)).unionByName(
            sel(read_codes_segments(spark, aroot))
        )
    )
    assert got == probe(sel(encode_codes(emb)))


def test_fitted_artifacts_attach_and_version_on_refit(spark):
    """VERDICT r10 #6: fitted model-ish state (SemDeDup centroids, PQ
    codebooks) is published through the versioned served layout — the
    loaders return the exact code literals (float64 through parquet is
    bit-exact), a repeat ensure is attach-only, and a REFIT (changed
    values) fingerprint-mismatches into a NEW version instead of
    silently serving stale state."""
    import uuid

    from hadoop_project_spark.operators.similarity import make_pq_codebooks
    from hadoop_project_spark.plans.semdedup_centroids import (
        SEMDEDUP_CENTROIDS,
    )
    from hadoop_project_spark.serving import (
        ensure_served_artifact,
        load_pq_codebooks,
        load_semdedup_centroids,
    )
    from hadoop_project_spark.sources.sinks import warehouse_path

    assert load_semdedup_centroids(spark) == SEMDEDUP_CENTROIDS
    assert load_pq_codebooks(spark) == make_pq_codebooks()

    # refit governance on a scratch artifact: same name, new values ->
    # new version; same values -> attach-only (no new version)
    name = f"scratch_{uuid.uuid4().hex[:8]}"
    root = os.path.join(warehouse_path(spark), "served", f"art_{name}")

    def versions():
        return {d for d in os.listdir(root) if d.startswith("v-")}

    ddl = "k INT, v DOUBLE"
    t = ensure_served_artifact(spark, name, ddl, [(0, 1.0), (1, 2.0)])
    v1 = versions()
    assert len(v1) == 1
    assert ensure_served_artifact(spark, name, ddl, [(0, 1.0), (1, 2.0)]) == t
    assert versions() == v1  # unchanged fit: attach-only
    ensure_served_artifact(spark, name, ddl, [(0, 1.0), (1, 2.5)])  # refit
    assert len(versions()) == 2 and versions() > v1
    assert sorted(
        (r.k, r.v) for r in spark.table(t).collect()
    ) == [(0, 1.0), (1, 2.5)]
    spark.sql(f"DROP TABLE {t}")
    shutil.rmtree(root, ignore_errors=True)


def test_attach_heals_stale_entry_after_newer_publish(spark, tmp_path):
    """attach_or_build must never leave a session serving an OLDER
    version after verifying a NEWER fingerprint: the attach fast path
    keeps an existing catalog entry only when its location matches the
    requested version dir — an entry pointing at the retained
    predecessor (which still exists on disk) is re-attached, not kept
    (round-11 review finding, generalizing ADVICE r10 #4)."""
    from hadoop_project_spark.serving import ServedTable, attach_or_build

    root = str(tmp_path / "layout")
    t = ServedTable("t_stale_attach", "rows", "v BIGINT")

    def build(rows):
        def b(staging):
            spark.createDataFrame(rows, "v bigint").coalesce(1).write.mode(
                "overwrite"
            ).parquet(t.location(staging))

        return b

    spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    assert attach_or_build(spark, root, "fp1", [t], build([(1,)]))
    assert [r.v for r in spark.table(t.name).collect()] == [1]
    # new fingerprint -> new version published; the previous version is
    # RETAINED on disk, so a mere existence check would keep the stale
    # catalog entry
    assert attach_or_build(spark, root, "fp2", [t], build([(2,)]))
    assert [r.v for r in spark.table(t.name).collect()] == [2]
    # and a bare attach of the current version is a no-op fast path
    assert not attach_or_build(spark, root, "fp2", [t], build([(3,)]))
    assert [r.v for r in spark.table(t.name).collect()] == [2]


# ------------------------------------------------- trained artifacts
# VERDICT r11 #1: round 11's two red driver rows traced to the trained
# quality classifier serving weights read back from a published table
# another process had replaced mid-run, under a fingerprint that did
# not identify the feature-extraction code. The contract under test:
# ensure_trained_artifact returns the weights IN EFFECT (the fit this
# process ran, or the live version's rows verified against the values
# marker written at publish), a feature-semantics token makes a code
# change a staleness event, and a poisoned version (fingerprint intact,
# rows tampered) is refitted over — never served.


def _scratch_src(tmp_path, content: str = "corpus-v1") -> str:
    src = tmp_path / "src.parquet"
    src.write_text(content)
    return str(src)


def test_trained_artifact_returns_fitted_weights(spark, tmp_path):
    import uuid

    from hadoop_project_spark.serving import (
        _VALUES_MARKER,
        ensure_trained_artifact,
    )
    from hadoop_project_spark.sources.sinks import warehouse_path

    name = f"tr_{uuid.uuid4().hex[:8]}"
    root = os.path.join(warehouse_path(spark), "served", f"art_{name}")
    src = _scratch_src(tmp_path)
    fits = []

    def fit():
        fits.append(1)
        return [("a", 10), ("b", -3)]

    t, rows = ensure_trained_artifact(
        spark, name, "feature STRING, wq BIGINT", src, "p1", fit
    )
    # a fit ran and the RETURNED rows are the fitted ones, not a
    # read-back (the r11 coherence defect)
    assert fits == [1] and sorted(rows) == [("a", 10), ("b", -3)]
    vdirs = [d for d in os.listdir(root) if d.startswith("v-")]
    assert len(vdirs) == 1
    assert os.path.exists(os.path.join(root, vdirs[0], _VALUES_MARKER))

    # unchanged source + params: attach-only (fit NOT re-run), rows
    # come from the live version after values verification
    def boom():
        raise AssertionError("refit must not run on attach")

    t2, rows2 = ensure_trained_artifact(
        spark, name, "feature STRING, wq BIGINT", src, "p1", boom
    )
    assert t2 == t and sorted(rows2) == [("a", 10), ("b", -3)]

    # a changed fp_extra (the feature-semantics token's seat) refits
    t3, rows3 = ensure_trained_artifact(
        spark, name, "feature STRING, wq BIGINT", src, "p2",
        lambda: [("a", 99), ("b", 99)],
    )
    assert sorted(rows3) == [("a", 99), ("b", 99)]
    assert sorted(tuple(r) for r in spark.table(t3).collect()) == sorted(
        rows3
    )
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(root, ignore_errors=True)


def test_trained_artifact_refuses_poisoned_version(spark, tmp_path):
    """Plant a published version with a MATCHING source fingerprint and
    wrong weights (rows replaced under an intact fingerprint marker):
    the next ensure must refit and supersede it, never serve the
    tampered rows (VERDICT r11 #1c)."""
    import uuid

    from hadoop_project_spark.serving import ensure_trained_artifact
    from hadoop_project_spark.sources.sinks import warehouse_path

    name = f"poison_{uuid.uuid4().hex[:8]}"
    root = os.path.join(warehouse_path(spark), "served", f"art_{name}")
    src = _scratch_src(tmp_path)
    good = [("a", 10), ("b", -3)]
    t, rows = ensure_trained_artifact(
        spark, name, "feature STRING, wq BIGINT", src, "p1",
        lambda: list(good),
    )
    (vdir,) = (d for d in os.listdir(root) if d.startswith("v-"))
    # tamper: overwrite the rows parquet in place (fingerprint marker
    # and _SUCCESS stay intact — only the values marker now disagrees)
    loc = os.path.join(root, vdir, "rows")
    spark.createDataFrame(
        [("a", 777), ("b", 777)], "feature STRING, wq BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(loc)

    fits = []

    def refit():
        fits.append(1)
        return list(good)

    t2, rows2 = ensure_trained_artifact(
        spark, name, "feature STRING, wq BIGINT", src, "p1", refit
    )
    assert fits == [1], "poisoned version must force a refit"
    assert sorted(rows2) == sorted(good)
    assert sorted(tuple(r) for r in spark.table(t2).collect()) == sorted(
        good
    )
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(root, ignore_errors=True)


def test_lr_fit_params_pin_feature_semantics():
    """The LR trio's fingerprint extra carries the feature-semantics
    code token (VERDICT r11 #1b): a change to the feature SQL or the
    Spark feature builder changes _FIT_PARAMS, hence the artifact
    fingerprint, hence forces a refit."""
    from hadoop_project_spark.plans.quality_lr_queries import (
        _FIT_PARAMS,
        _feature_semantics_token,
    )
    from hadoop_project_spark.serving import code_version_token

    tok = _feature_semantics_token()
    assert f"sem{tok}" in _FIT_PARAMS
    # the token is a pure function of its defining strings
    assert code_version_token("x") != code_version_token("y")
    assert code_version_token("x") == code_version_token("x")


_RACER = r"""
import os, sys
shared = sys.argv[1]
src = sys.argv[2]
from hadoop_project_spark.session import get_spark
spark = get_spark(app_name=f"race-{os.getpid()}", cpus="2",
                  shuffle_partitions=2,
                  extra_conf={"spark.sql.warehouse.dir": shared})
from hadoop_project_spark.serving import ensure_trained_artifact
ddl = "feature STRING, wq BIGINT"
for i in range(6):
    extra = f"p{i % 2}"
    want = [("a", 100 if extra == "p0" else 200), ("b", 7)]
    t, rows = ensure_trained_artifact(
        spark, "race_lr", ddl, src, extra, lambda w=want: list(w))
    assert sorted(rows) == sorted(want), (extra, rows)
print("RACER_OK")
"""


def test_concurrent_publish_race_single_consistent_version(
    spark, tmp_path
):
    """VERDICT r11 #7: two processes race ensure_trained_artifact on
    the same served root (alternating fingerprints, so publishes keep
    superseding each other) while the parent probes the storage with
    pyarrow. Invariants: (a) every racer's RETURNED weights are the
    ones its current fingerprint fits (each checks itself and exits
    nonzero on violation); (b) no probe ever observes a live version
    whose rows disagree with its values marker — i.e. readers see
    single-version-consistent state at every instant."""
    import subprocess
    import sys
    import time

    import pyarrow.parquet as pq

    from hadoop_project_spark.serving import _rows_sha

    shared = str(tmp_path / "race_wh")
    src = _scratch_src(tmp_path)
    root = os.path.join(shared, "served", "art_race_lr")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER, shared, src],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            cwd="/root/repo",
        )
        for _ in range(2)
    ]
    checked = 0
    try:
        while any(p.poll() is None for p in procs):
            time.sleep(0.05)
            try:
                cur = open(os.path.join(root, "CURRENT")).read().strip()
                vdir = os.path.join(root, cur)
                marker = open(
                    os.path.join(vdir, "_SERVED_VALUES_SHA256")
                ).read().strip()
                rows = [
                    tuple(d.values())
                    for d in pq.read_table(
                        os.path.join(vdir, "rows")
                    ).to_pylist()
                ]
            except (FileNotFoundError, NotADirectoryError, OSError):
                continue  # between publishes / swept version: retry
            assert _rows_sha(rows) == marker, (
                f"probe observed rows inconsistent with version {cur}"
            )
            checked += 1
    finally:
        outs = [p.communicate()[0].decode() for p in procs]
    for p, out in zip(procs, outs):
        assert p.returncode == 0 and "RACER_OK" in out, out[-2000:]
    assert checked > 0, "prober never observed a published version"


def _table_location(spark, table: str) -> str:
    return spark.sql(f"DESCRIBE EXTENDED {table}").filter(
        "col_name='Location'"
    ).collect()[0]["data_type"].removeprefix("file:")


def _footer_encodings(loc: str) -> tuple[int, int, dict[str, set[str]]]:
    """(data files, data bytes, column → page encodings) of a parquet
    directory, read from the pyarrow footers."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(loc, f) for f in os.listdir(loc) if f.endswith(".parquet")
    ]
    encs: dict[str, set[str]] = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                encs.setdefault(col.path_in_schema, set()).update(
                    col.encodings
                )
    return len(files), sum(os.path.getsize(f) for f in files), encs


def _assert_delta_doc_id(loc: str, n_buckets: int, dict_cols) -> int:
    n_files, nbytes, encs = _footer_encodings(loc)
    assert n_files == n_buckets, loc  # still one file per bucket
    assert encs["doc_id"] == {"DELTA_BINARY_PACKED"}, encs
    for c in dict_cols:
        assert encs[c] & {"RLE_DICTIONARY", "PLAIN_DICTIONARY"}, (c, encs)
    return nbytes


def test_stored_index_doc_ids_are_delta_pages(spark, sf_dir, tmp_path):
    """Both writers of the stored inverted index — the served build and
    the LSM compaction — store doc_id as DELTA_BINARY_PACKED pages in
    both tables while term, pos and dl keep their dictionaries, and the
    postings come out at most 0.7x a dictionary-paged control written
    from the same rows."""
    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.sources.sinks import write_bucketed
    from hadoop_project_spark.streaming.index_segments import (
        compact_segments,
        make_postings_segment_sink,
    )

    prefix = ensure_served_index(spark, sf_dir)
    pt, dt = ix.index_table_names(prefix)
    served = _assert_delta_doc_id(
        _table_location(spark, pt), ix.POSTINGS_BUCKETS, ("term", "pos")
    )
    _assert_delta_doc_id(
        _table_location(spark, dt), ix.DOCLEN_BUCKETS, ("dl",)
    )

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "enc_segs")
    sink = make_postings_segment_sink(root)
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    sink(docs.filter(F.col("doc_id") % 2 == 1), 1)
    cpt, cdt = compact_segments(spark, root, "enc_idx")
    compacted = _assert_delta_doc_id(
        _table_location(spark, cpt), ix.POSTINGS_BUCKETS, ("term", "pos")
    )
    _assert_delta_doc_id(
        _table_location(spark, cdt), ix.DOCLEN_BUCKETS, ("dl",)
    )

    control = str(tmp_path / "dict_postings")
    write_bucketed(
        spark.table(pt).repartition(ix.POSTINGS_BUCKETS, F.col("term")),
        "enc_dict_postings",
        ["term"],
        ix.POSTINGS_BUCKETS,
        sort_cols=["term", "doc_id", "pos"],
        path=control,
    )
    n_files, dict_bytes, encs = _footer_encodings(control)
    assert n_files == ix.POSTINGS_BUCKETS
    assert "DELTA_BINARY_PACKED" not in encs["doc_id"], encs
    for nbytes in (served, compacted):
        assert nbytes <= 0.7 * dict_bytes, (nbytes, dict_bytes)
    spark.sql("DROP TABLE enc_dict_postings")
    for t in (cpt, cdt):
        spark.sql(f"DROP TABLE {t}")
