"""Context-window preparation for LLM training corpora: overlapping
token-window chunking and streaming-concat sequence packing.

Two operators the reference has no analogue for (its text surface stops
at tokenization — WordCount1/src/main/java/WordCount.java:24); both are
standard stages of a pretraining data pipeline:

* **Chunking** — split each document into fixed-size token windows with
  overlap (RAG / long-doc preprocessing). Pure per-document column
  expressions: the plan is scan → project → explode with NO shuffle, so
  it scales linearly with input splits at any corpus size.

* **Sequence packing** — concatenate the corpus in a deterministic
  order and assign every document its global token offset, from which
  the fixed-length context windows ("bins") it lands in follow by
  integer division. The global offset is an exact distributed
  prefix-sum, NOT a single-task ``Window.orderBy``: a deterministic
  literal-bounds bucket id over the order key (operators/bounds.py),
  Arrow-batched running sum per bucket, then O(#buckets) driver-held
  partial sums broadcast back as offsets — the same shape as
  operators/ranking.py, parallelism preserved end to end and nothing
  checkpointed (lineage recovery intact at 100 TB).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from hadoop_project_spark.execution import literal
from hadoop_project_spark.functions.text import normalize_text
from hadoop_project_spark.operators.bounds import (
    bucket_id,
    collect_split_points,
    default_buckets,
)

CHUNK_WINDOW = 32
CHUNK_STRIDE = 24
PACK_BUDGET = 256  # tokens per packed context window


def chunk_starts(toks: Column, window: int, stride: int) -> Column:
    """1-based start positions of the token windows covering ``toks``.

    Regular starts 1, 1+stride, … up to L = max(n-window+1, 1), plus a
    final start at L when the strides don't land on it exactly — so the
    last window always ends on the last token. With stride ≤ window
    (the overlap regime) every token is covered; stride > window is the
    gappy sampled-windows regime (valid for sketching long docs) and
    skips tokens between windows by construction.
    Built without array_distinct (its output order is unspecified in
    some engines); the list is constructed duplicate-free so both Spark
    and the SQL oracle agree on element ORDER, which defines chunk_id.
    """
    last = F.greatest(F.size(toks) - F.lit(window - 1), F.lit(1))
    regular = F.sequence(F.lit(1), last, F.lit(stride))
    return F.when((last - 1) % stride == 0, regular).otherwise(
        F.concat(regular, F.array(last))
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Explode each document into overlapping token-window chunks.

    Output: doc_id, chunk_id (0-based, in stream order), chunk_start
    (1-based token index), n_chunk_tokens, chunk_md5 (fingerprint of the
    space-joined window — keeps result width O(1) regardless of window).

    The token array is MATERIALIZED into a column before slicing so the
    normalize+split runs once per document, not once per chunk (see
    functions/text.py::shingles_from_tokens for the measured pitfall).
    """
    from hadoop_project_spark.execution import widen_for_compute

    toks = F.split(normalize_text(text_col), " ")
    # widen the raw projection: normalize/split + per-chunk md5 are the
    # CPU stage (round-8 slope audit, split-starvation family)
    with_toks = widen_for_compute(docs.select("doc_id", text_col)).select(
        "doc_id", toks.alias("_toks")
    )
    starts = chunk_starts(F.col("_toks"), window, stride)
    exploded = with_toks.select(
        "doc_id", "_toks", F.posexplode(starts).alias("chunk_id", "chunk_start")
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_start"), window)
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def with_global_offset(
    df: DataFrame, order_col: str, weight_col: str, out_col: str = "start_offset"
) -> DataFrame:
    """Exact global prefix-sum: each row's offset = sum of ``weight_col``
    over all rows strictly before it in ``order_col`` order.

    Equivalent to ``SUM(w) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING AND
    1 PRECEDING)`` but distributed: the naive window is one task holding
    the whole corpus. Here ``_pid`` is a deterministic bucket id from
    literal split points over the order key (operators/bounds.py) —
    collected once on the driver, so the totals pass (computed straight
    off the source relation) and the offset pass agree by construction.
    A running counter computes the local prefix within each bucket
    (resetting on ``_pid`` change, so correctness survives any physical
    placement), and the per-bucket totals (O(#buckets) longs,
    driver-held like the K-Means centroid state) become broadcast
    offsets. Nothing is checkpointed — lineage recovery stays intact,
    unlike round 3's eager localCheckpoint which materialized the full
    relation to executor disk.
    """
    bounds, as_double = collect_split_points(
        df, F.col(order_col), default_buckets(df)
    )
    pid = bucket_id(F.col(order_col), bounds, as_double)
    assigned = df.withColumn("_pid", pid)
    totals = {
        r["_pid"]: r["tot"]
        for r in assigned.groupBy("_pid")
        .agg(F.sum(weight_col).alias("tot"))
        .collect()
    }
    arranged = assigned.repartitionByRange(F.col("_pid")).sortWithinPartitions(
        "_pid", order_col
    )
    out_schema = T.StructType(
        list(arranged.schema.fields)
        + [T.StructField("_local_before", T.LongType(), False)]
    )

    def running(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Buckets are contiguous in the sorted partition stream;
        # vectorized per-batch bucket cumsum + a carry for the bucket
        # straddling the batch boundary.
        last_pid, carry = None, 0
        for pdf in batches:
            if not len(pdf):
                yield pdf.assign(_local_before=pd.Series([], dtype="int64"))
                continue
            w = pdf[weight_col].astype("int64")
            ends = w.groupby(pdf["_pid"], sort=False).cumsum()
            if last_pid is not None:
                lead = (pdf["_pid"] == last_pid).astype("int64")
                ends = ends + lead * carry
            pdf = pdf.assign(_local_before=(ends - w).astype("int64"))
            last_pid = pdf["_pid"].iloc[-1]
            carry = int(ends.iloc[-1])
            yield pdf

    local = arranged.mapInPandas(running, schema=out_schema)
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += int(totals[pid])
    off_df = literal(df.sparkSession, "_pid int, _offset long", offsets)
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_offset") + F.col("_local_before")).cast("long"))
        .drop("_pid", "_offset", "_local_before")
    )


def pack_bins(
    docs_with_tokens: DataFrame,
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = PACK_BUDGET,
) -> DataFrame:
    """Streaming-concat packing: documents are concatenated in
    ``order_col`` order and cut into fixed ``budget``-token context
    windows; each document reports the first/last window it occupies and
    whether it straddles a window boundary (GPT-style pretraining
    packing, where documents may span bins). Integer arithmetic only —
    oracle-exact.
    """
    out = with_global_offset(docs_with_tokens, order_col, tokens_col)
    start = F.col("start_offset")
    end = start + F.col(tokens_col) - 1
    return out.select(
        order_col,
        F.col(tokens_col).cast("long").alias(tokens_col),
        start,
        F.floor(start / budget).cast("long").alias("bin_first"),
        F.floor(end / budget).cast("long").alias("bin_last"),
        (F.floor(start / budget) != F.floor(end / budget)).alias("spans_boundary"),
    )
