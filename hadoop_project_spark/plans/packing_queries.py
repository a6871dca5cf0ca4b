"""Context-window preparation queries: overlapping chunking, sequence
packing, TF-IDF keyword extraction — the stages between corpus
governance (plans/corpus_queries.py) and the training run.

`doc_chunks_overlap` and `sequence_packing` are each the unique
representative of an operator family no other query exercises (per-doc
window explode; distributed prefix-sum). TF-IDF's explode/agg/join
machinery is shared with word_count and the dedup family. Every query
here is hash-verified by tests/test_oracle_parity.py every CI run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import literal
from hadoop_project_spark.operators import packing as pk
from hadoop_project_spark.operators import textstats as ts
from hadoop_project_spark.operators.tfidf import TOP_TERMS, tfidf_top_terms
from hadoop_project_spark.plans.registry import register
from hadoop_project_spark.plans.text_pipeline import (
    SQL_NORM,
    SQL_NTOK,
    SQL_TOKENS,
)

_W = pk.CHUNK_WINDOW
_S = pk.CHUNK_STRIDE
_B = pk.PACK_BUDGET


@register(
    "doc_chunks_overlap",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents
    ),
    st AS (
      SELECT doc_id, toks, greatest(len(toks) - {_W - 1}, 1) AS last
      FROM norm
    ),
    starts AS (
      SELECT doc_id, toks,
             CASE WHEN (last - 1) % {_S} = 0
                  THEN [s for s in range(1, last + 1, {_S})]
                  ELSE list_append([s for s in range(1, last + 1, {_S})], last)
             END AS ss
      FROM st
    ),
    ex AS (
      SELECT doc_id, toks,
             UNNEST([{{'cid': i - 1, 'cs': ss[i]}}
                     for i in range(1, len(ss) + 1)]) AS u
      FROM starts
    )
    SELECT doc_id,
           CAST(u.cid AS INT) AS chunk_id,
           CAST(u.cs AS INT) AS chunk_start,
           CAST(len(toks[u.cs : u.cs + {_W - 1}]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(toks[u.cs : u.cs + {_W - 1}], ' ')) AS chunk_md5
    FROM ex
    """,
    tags=("packing", "chunking", "extension"),
)
def doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 32, stride 24): every
    document explodes into the context windows covering it, tail window
    clamped to end on the last token. Scan → project → explode, no
    shuffle — scales with input splits only."""
    docs = load_table(spark, sf_dir, "documents")
    return pk.chunk_documents(docs, window=_W, stride=_S)


@register(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST({SQL_NTOK} AS BIGINT) AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_offset
      FROM t
    )
    SELECT doc_id, n_tokens, start_offset,
           CAST(start_offset // {_B} AS BIGINT) AS bin_first,
           CAST((start_offset + n_tokens - 1) // {_B} AS BIGINT) AS bin_last,
           (start_offset // {_B}) <> ((start_offset + n_tokens - 1) // {_B})
             AS spans_boundary
    FROM c
    """,
    tags=("packing", "prefix-sum", "extension"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-concat sequence packing: documents concatenated in
    doc_id order and cut into 256-token context windows; each doc
    reports its exact global token offset and the window span it
    occupies. The offset is a distributed prefix-sum (range exchange +
    per-partition running totals + O(#partitions) broadcast offsets) —
    NOT a one-task global window; the oracle states the same semantics
    as the naive SQL window."""
    docs = load_table(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id", ts.token_count("text").alias("n_tokens")
    )
    return pk.pack_bins(with_counts, budget=_B)


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, UNNEST({SQL_TOKENS}) AS term FROM documents)
      GROUP BY doc_id, term
    ),
    dfr AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS term_df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfr.term_df,
             round(CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
                   / CAST(dfr.term_df AS DOUBLE), 9) AS tfidf
      FROM tf JOIN dfr USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, term_df, tfidf, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_TERMS}
    """,
    tags=("text", "tfidf", "extension"),
)
def tfidf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by rational TF-IDF (idf = N/df — no
    transcendentals, so both engines produce bit-identical doubles;
    ranking rounds to 9 dp per the house determinism rule)."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs)


# ---------------------------------------------------------------------------
# Training shard export (round 11): the last mile — a deterministic
# seeded global shuffle into fixed-size shards plus the shard manifest.
# ---------------------------------------------------------------------------
SHUFFLE_SALT = "r11shuf"
SHARD_SIZE = 64

_SQL_SHARD_RANKS = f"""
    d AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('{SHUFFLE_SALT}|'
                                      || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) AS u,
             CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY u, doc_id) AS rank FROM d
    )"""


@register(
    "training_shard_assignment",
    oracle=f"""
    WITH {_SQL_SHARD_RANKS}
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST((rank - 1) // {SHARD_SIZE} AS BIGINT) AS shard_id,
           CAST((rank - 1) % {SHARD_SIZE} AS BIGINT) AS pos_in_shard,
           n_tokens
    FROM r
    """,
    tags=("packing", "export", "shuffle", "extension"),
)
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded GLOBAL SHUFFLE into fixed-size training
    shards: order every document by a salted 32-bit hash uniform
    (portable md5 prefix — replayable on any engine), then assign
    shard_id and position by integer division of the exact global rank.

    The rank comes from operators/ranking.global_distribution_ranks —
    range-repartition + mapInPandas local ranks + prefix-sum offsets —
    never a parallelism-1 global window, so the shuffle order is
    reproducible AND distributed (the oracle's naive ORDER BY window is
    exactly what the distributed formulation must reproduce). This is
    the export contract a trainer consumes: same salt -> same order ->
    same shards, on any cluster size."""
    from pyspark.sql import functions as F

    from hadoop_project_spark.operators.corpus import hash_uniform32
    from hadoop_project_spark.operators.ranking import (
        global_distribution_ranks,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        hash_uniform32(
            F.concat(F.lit(f"{SHUFFLE_SALT}|"), F.col("doc_id").cast("string"))
        ).alias("u"),
        ts.token_count("text").alias("n_tokens"),
    )
    ranked = global_distribution_ranks(d, [F.col("u"), F.col("doc_id")])
    return ranked.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.floor((F.col("rank") - 1) / SHARD_SIZE).cast("long").alias("shard_id"),
        ((F.col("rank") - 1) % SHARD_SIZE).cast("long").alias("pos_in_shard"),
        "n_tokens",
    )


@register(
    "training_shard_manifest",
    oracle=f"""
    WITH {_SQL_SHARD_RANKS}
    SELECT CAST((rank - 1) // {SHARD_SIZE} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(min_by(doc_id, rank) AS BIGINT) AS first_doc_id,
           CAST(max_by(doc_id, rank) AS BIGINT) AS last_doc_id
    FROM r GROUP BY 1
    """,
    tags=("packing", "export", "manifest", "extension"),
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard MANIFEST for the export above: per shard, row and
    token totals plus the first/last document in shuffle order — the
    sidecar a trainer (or a resumable downloader) checks before
    touching data. One rollup over the assignment relation."""
    from pyspark.sql import functions as F

    a = training_shard_assignment(spark, sf_dir)
    return (
        a.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min_by("doc_id", "pos_in_shard").cast("long").alias(
                "first_doc_id"
            ),
            F.max_by("doc_id", "pos_in_shard").cast("long").alias(
                "last_doc_id"
            ),
        )
        .select("shard_id", "n_docs", "n_tokens", "first_doc_id", "last_doc_id")
    )


def _sql_incremental_shard_export() -> str:
    from hadoop_project_spark.plans.dedup_queries import (
        _sql_corpus_version_diff,
    )

    return f"""
    WITH {_SQL_SHARD_RANKS},
    assign AS (
      SELECT doc_id, (rank - 1) // {SHARD_SIZE} AS shard_id FROM r
    ),
    diff AS (
      SELECT doc_id, status FROM ({_sql_corpus_version_diff()})
    )
    SELECT CAST(a.shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.status = 'dropped' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN d.status = 'rewritten' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rewritten,
           SUM(CASE WHEN d.status <> 'unchanged' THEN 1 ELSE 0 END) > 0
             AS dirty
    FROM assign a JOIN diff d USING (doc_id)
    GROUP BY a.shard_id
    """


@register(
    "incremental_shard_export",
    oracle=_sql_incremental_shard_export(),
    tags=("packing", "export", "cdc", "incremental", "extension"),
)
def incremental_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL re-export plan: join the shard map against the
    corpus CDC report and mark each shard dirty iff it contains at
    least one dropped or rewritten document — clean shards are reused
    byte-for-byte by a resuming exporter, dirty ones re-cut. This is
    the operational payoff of the deterministic shuffle (assignments
    never move for unchanged docs) composed with corpus_version_diff:
    a small corpus change re-exports only the touched fraction of
    shards instead of the world. The oracle replays the shard ranking,
    the full two-stage dedup pipeline, the diff, and the rollup."""
    from pyspark.sql import functions as F

    from hadoop_project_spark.execution import run_overlapped
    from hadoop_project_spark.plans.dedup_queries import corpus_version_diff

    # the shard ranking's driver actions (split points + bucket counts)
    # and the dedup pipeline's eager pins are independent until the
    # final join — overlap the two builds (guide §2.6)
    assign_df, diff_df = run_overlapped(
        [
            lambda: training_shard_assignment(spark, sf_dir),
            lambda: corpus_version_diff(spark, sf_dir),
        ]
    )
    assign = assign_df.select("doc_id", "shard_id")
    diff = diff_df.select("doc_id", "status")
    j = assign.join(diff, "doc_id")
    changed = (F.col("status") != "unchanged").cast("int")
    return j.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("status") == "dropped").cast("int"))
        .cast("long")
        .alias("n_dropped"),
        F.sum((F.col("status") == "rewritten").cast("int"))
        .cast("long")
        .alias("n_rewritten"),
        (F.sum(changed) > 0).alias("dirty"),
    )


# Finer shard granularity for the REWRITE query (16 docs/shard): at
# sf0.01 the 64-doc export has 8 shards and the dedup pipeline touches
# almost all of them, leaving the clean-shard reuse branch certified by
# a single row; 16-doc shards give a robust dirty/clean mix so BOTH
# branches of the reuse proof carry driver-window weight. Derived
# exactly from the same global rank (pos // RW_SHARD_SIZE), so the
# assignment itself stays the certified seeded shuffle.
RW_SHARD_SIZE = 16


def _sql_incremental_shard_rewrite() -> str:
    from hadoop_project_spark.plans.dedup_queries import (
        _sql_exact_substring_dedup_corpus,
    )

    return f"""
    WITH {_SQL_SHARD_RANKS},
    assign AS (
      SELECT doc_id, (rank - 1) // {RW_SHARD_SIZE} AS shard_id,
             (rank - 1) % {RW_SHARD_SIZE} AS pos_in_shard
      FROM r
    ),
    newv AS (
      SELECT doc_id, clean_text, n_cut_tokens
      FROM ({_sql_exact_substring_dedup_corpus()})
    ),
    jm AS (
      SELECT a.shard_id, a.doc_id, n.clean_text, n.n_cut_tokens
      FROM assign a LEFT JOIN newv n USING (doc_id)
    ),
    dstat AS (
      SELECT shard_id,
             SUM(CASE WHEN clean_text IS NULL OR n_cut_tokens > 0
                      THEN 1 ELSE 0 END) > 0 AS dirty
      FROM jm GROUP BY shard_id
    )
    SELECT CAST(jm.shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(bit_xor(CAST(('0x' || substr(md5(
                  CAST(jm.doc_id AS VARCHAR) || '|' || jm.clean_text), 1, 8))
                AS UBIGINT)) AS BIGINT) AS content_hash,
           NOT dstat.dirty AS reused
    FROM jm JOIN dstat USING (shard_id)
    WHERE jm.clean_text IS NOT NULL
    GROUP BY jm.shard_id, dstat.dirty
    """


@register(
    "incremental_shard_rewrite",
    oracle=_sql_incremental_shard_rewrite(),
    tags=("packing", "export", "cdc", "incremental", "sink", "extension"),
)
def incremental_shard_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental export CLOSED (VERDICT r11 #3): where
    incremental_shard_export stops at marking dirty shards, this query
    WRITES shards v1 from the raw corpus, applies the two-stage
    exact-substring dedup pipeline, dynamically overwrites ONLY the
    dirty shards' partition directories with their v2 rows
    (operators/shardexport.py), and returns the manifest read back
    FROM THE FILES: (shard_id, n_docs, content_hash, reused). The
    content_hash (bit_xor of a portable 32-bit md5 hash over each
    member's doc_id|text) certifies the bytes on disk carry exactly
    the cleaned corpus; the reused flag is MEASURED from before/after
    file snapshots (name+size+mtime_ns per shard), while the oracle
    derives it as NOT-dirty from the CDC replay — a green hash
    therefore proves the set of untouched shard directories equals
    the set of clean shards, the operational reuse claim itself.
    Byte-identity of reused files is separately asserted in
    tests/test_shardexport.py.

    At 100 TB: v1 is one shuffle of the corpus by shard_id; each
    corpus change shuffles only the dirty fraction; the manifest scan
    projects two columns. Reference analog: transform-then-sink
    (Flight2/src/main/java/hw4/HPopulate.java:61-106), made
    CDC-incremental."""
    import os

    from pyspark.sql import functions as F

    from hadoop_project_spark.execution import eager_pin, run_overlapped
    from hadoop_project_spark.functions.text import normalize_text
    from hadoop_project_spark.operators import shardexport as se
    from hadoop_project_spark.operators.corpus import hash_uniform32
    from hadoop_project_spark.operators.substring import (
        exact_substring_dedup_corpus as cleaned_corpus,
    )
    from hadoop_project_spark.serving import _sf_tag
    from hadoop_project_spark.sources.sinks import warehouse_path
    from hadoop_project_spark.storage import fresh_pid_dir

    docs = load_table(spark, sf_dir, "documents")

    # pinned: three consumers (v1 write, v2 write, dirty-mark collect)
    # would each replay the global range-repartition prefix-sum rank
    def _pin_assign():
        a64 = training_shard_assignment(spark, sf_dir)
        pos = F.col("shard_id") * SHARD_SIZE + F.col("pos_in_shard")
        return eager_pin(
            a64.select(
                "doc_id",
                F.floor(pos / RW_SHARD_SIZE).cast("long").alias("shard_id"),
                (pos % RW_SHARD_SIZE).cast("long").alias("pos_in_shard"),
            )
        )

    # ONE run of the span pipeline feeds both the dirty set and the v2
    # rows (pinned: the two consumers would otherwise replay it). The
    # ranking's driver actions and the span pipeline's pins are
    # independent — overlap the two builds (guide §2.6).
    assign, corpus = run_overlapped(
        [_pin_assign, lambda: eager_pin(cleaned_corpus(docs))]
    )

    v1 = assign.join(
        docs.select("doc_id", normalize_text("text").alias("text")), "doc_id"
    ).select("shard_id", "pos_in_shard", "doc_id", "text")
    v2 = assign.join(
        corpus.select("doc_id", F.col("clean_text").alias("text")), "doc_id"
    ).select("shard_id", "pos_in_shard", "doc_id", "text")

    # pid-namespaced export root: a shared fixed root cleared at query
    # start would let concurrent same-host drivers sharing a warehouse
    # clobber each other's export mid-run
    root = fresh_pid_dir(
        os.path.join(warehouse_path(spark), "shard_export"),
        "shards",
        _sf_tag(sf_dir),
    )

    # Per-shard dirty/surviving rollup in ONE aggregate over the two
    # pinned relations (dirty: any member dropped or cut; surviving:
    # any member still present in v2 — v2 = assign ⋈ corpus inner, so
    # "present" ≡ non-null mark), overlapped with the v1 full-export
    # write, which depends on neither (guide §2.6). O(#shards) driver
    # rows.
    marks = assign.join(
        corpus.select("doc_id", "n_cut_tokens"), "doc_id", "left"
    )
    is_dirty = (
        F.col("n_cut_tokens").isNull() | (F.col("n_cut_tokens") > 0)
    ).cast("int")

    roll, _ = run_overlapped(
        [
            lambda: marks.groupBy("shard_id")
            .agg(
                F.max(is_dirty).alias("dirty"),
                F.max(F.col("n_cut_tokens").isNotNull().cast("int")).alias(
                    "surv"
                ),
            )
            .collect(),
            lambda: se.write_shard_files(v1, root),
        ]
    )
    dirty_ids = [int(r["shard_id"]) for r in roll if r["dirty"] == 1]
    surviving = {
        int(r["shard_id"]) for r in roll if r["dirty"] == 1 and r["surv"] == 1
    }
    reused = se.incremental_shard_rewrite(spark, root, v2, dirty_ids, surviving)

    back = spark.read.parquet(root).select(
        F.col("shard_id").cast("long").alias("shard_id"),
        hash_uniform32(
            F.concat(
                F.col("doc_id").cast("string"), F.lit("|"), F.col("text")
            )
        ).alias("h"),
    )
    man = back.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("bit_xor(h)").cast("long").alias("content_hash"),
    )
    flags = literal(
        spark,
        "shard_id long, reused boolean",
        [(int(s), bool(b)) for s, b in sorted(reused.items())],
    )
    return man.join(F.broadcast(flags), "shard_id").select(
        "shard_id", "n_docs", "content_hash", "reused"
    )
