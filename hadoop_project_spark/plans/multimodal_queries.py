"""Multimodal plumbing exposed on the driver contract.

There is no media table in the testdata, so the media DataFrame is
derived deterministically from `documents` (payload = UTF-8 bytes of
the text). The decode stage uses the deterministic fake codec
(operators/multimodal.fake_image_decoder: 16 floats from sha256 of the
payload) — which means the WHOLE mapInPandas path has an exact SQL
oracle: DuckDB's sha256(text) hashes the same UTF-8 bytes, and
round(feature*255) recovers the exact digest byte on both sides (the
float32 storage of the feature is lossless enough that *255 rounds
back to the integer byte).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import widen_for_compute
from hadoop_project_spark.operators.multimodal import (
    extract_features,
    fake_image_decoder,
)
from hadoop_project_spark.plans.registry import register

_N_BYTES_CHECKED = 4

_BYTE_COLS_SQL = ",\n           ".join(
    f"CAST(('0x' || substr(sha256(text), {2 * i + 1}, 2)) AS INT) AS b{i}"
    for i in range(_N_BYTES_CHECKED)
)


@register(
    "multimodal_frame_samples",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(unnest(generate_series(0,
                  greatest(n_chars * 10 - 1, 0), 1000)) AS BIGINT)
             AS frame_ts_ms
    FROM documents
    """,
    tags=("multimodal", "video", "frame-sample", "extension"),
)
def multimodal_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (operators/multimodal.
    frame_sample_plan): synthetic video rows derived from documents
    (duration_ms = n_chars × 10), expanded to one row per 1000 ms
    sample point by a pure-JVM sequence+explode — the plan the real
    frame extractor (extract_features over the exploded rows) runs on.
    Spark's sequence(0, hi, step) and DuckDB's generate_series(0, hi,
    step) are both stop-inclusive, so the twins agree exactly."""
    from hadoop_project_spark.operators.multimodal import frame_sample_plan

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("fake").alias("format"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


@register(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           16 AS feat_dim,
           {_BYTE_COLS_SQL}
    FROM documents
    """,
    tags=("multimodal", "mapInPandas", "extension"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode→featurize over binary media columns, byte-
    exact against the SQL oracle (see module docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("fake").alias("format"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = extract_features(media, decoder=fake_image_decoder)
    byte_cols = [
        F.round(F.col("features")[i] * 255).cast("int").alias(f"b{i}")
        for i in range(_N_BYTES_CHECKED)
    ]
    return feats.select("media_id", "feat_dim", *byte_cols)


@register(
    "multimodal_wav_features",
    oracle="""
    WITH base AS (
      SELECT doc_id, n_chars % 49 + 16 AS n FROM documents
    ),
    s AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM base
    ),
    v AS (
      SELECT doc_id, n,
             ((doc_id * 31 + i * 7) % 65536) - 32768 AS val
      FROM s
    )
    SELECT doc_id AS media_id,
           6 AS feat_dim,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST(sum(val) AS BIGINT) AS s_sum,
           CAST(min(val) AS BIGINT) AS s_min,
           CAST(max(val) AS BIGINT) AS s_max
    FROM v GROUP BY doc_id
    """,
    tags=("multimodal", "audio", "wav", "codec", "mapInPandas", "extension"),
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec through the pluggable decode seam (VERDICT r5 item 6):
    synthetic RIFF/WAVE PCM16 payloads — packed per document with a
    junk odd-length LIST chunk so the chunk walk and word-alignment are
    exercised — decoded by the stdlib wav codec
    (operators/multimodal.wav_decoder, CODECS["wav"]) inside the same
    Arrow-batched extract_features path the fake codec certifies.

    Sample i of doc d is ((d*31 + i*7) % 65536) - 32768, n = n_chars %
    49 + 16 samples at 8 kHz mono: every decoded feature is an integer
    ≤ 2^21, so the float32 feature column is lossless and the DuckDB
    oracle recomputes the decode exactly — a hash-green row certifies
    the binary container parse end-to-end, not just the plumbing.
    """
    import pandas as pd

    from pyspark.sql import types as T

    from hadoop_project_spark.operators.multimodal import pack_wav_pcm16

    # the synth+decode loops below are Python-per-row work behind a
    # tiny two-column scan: widen or a single-row-group table runs
    # the whole codec path on 1-2 tasks (fires from ~sf1 up)
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    )

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("format", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        for pdf in batches:
            payloads = [
                pack_wav_pcm16(
                    [
                        ((int(d) * 31 + i * 7) % 65536) - 32768
                        for i in range(int(nc) % 49 + 16)
                    ],
                    sample_rate=8000,
                )
                for d, nc in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "format": "wav",
                    "payload": payloads,
                }
            )

    media = docs.mapInPandas(synth, schema=media_schema)
    feats = extract_features(media, decoder="wav")
    names = ["sample_rate", "n_channels", "n_samples", "s_sum", "s_min", "s_max"]
    return feats.select(
        "media_id",
        "feat_dim",
        *[
            F.round(F.col("features")[i]).cast("long").alias(name)
            for i, name in enumerate(names)
        ],
    )


@register(
    "multimodal_bmp_features",
    oracle="""
    WITH base AS (
      SELECT doc_id, n_chars % 13 + 5 AS w, n_chars % 7 + 4 AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
      FROM base
    ),
    v AS (
      SELECT doc_id, w, h, p, p % w AS x, p // w AS y,
             (doc_id + 3 * p) % 256 AS r,
             (doc_id + 3 * p + 1) % 256 AS g,
             (doc_id + 3 * p + 2) % 256 AS b
      FROM px
    )
    SELECT doc_id AS media_id,
           10 AS feat_dim,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
           CAST(sum(r) AS BIGINT) AS r_sum,
           CAST(sum(g) AS BIGINT) AS g_sum,
           CAST(sum(b) AS BIGINT) AS b_sum,
           CAST(min(least(r, g, b)) AS BIGINT) AS px_min,
           CAST(max(greatest(r, g, b)) AS BIGINT) AS px_max,
           CAST(sum(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS ds_count,
           CAST(sum(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN r + g + b
                         ELSE 0 END) AS BIGINT) AS ds_sum
    FROM v GROUP BY doc_id
    """,
    tags=("multimodal", "image", "bmp", "codec", "mapInPandas", "extension"),
)
def multimodal_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec through the pluggable decode seam (the image
    twin of round 6's wav query): synthetic 24 bpp BMP payloads —
    packed per document, alternating bottom-up and top-down row order
    by doc parity so BOTH decoder branches are driver-certified —
    decoded by the stdlib BMP parser (operators/multimodal.bmp_decoder,
    CODECS["bmp"]) inside the same Arrow-batched extract_features path.

    Pixel (x, y) of doc d is channel-wise (d + 3*(y*w+x) + c) % 256
    with w = n_chars % 13 + 5, h = n_chars % 7 + 4: every decoded
    feature is an integer ≤ 2^18, so the float32 feature column is
    lossless and the DuckDB oracle recomputes the decode exactly. The
    2x-downsample features (even x AND even y) depend on pixel
    coordinates, so a hash-green row certifies the bottom-up flip,
    BGR ordering, and 4-byte row-stride arithmetic — not just byte
    accounting. Reference seam: SURVEY.md §2 multimodal extension
    (decode / feature-extract / resize as Pandas-UDF plumbing)."""
    import pandas as pd

    from pyspark.sql import types as T

    from hadoop_project_spark.operators.multimodal import pack_bmp24

    # the synth+decode loops below are Python-per-row work behind a
    # tiny two-column scan: widen or a single-row-group table runs
    # the whole codec path on 1-2 tasks (fires from ~sf1 up)
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    )

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("format", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                d, nc = int(d), int(nc)
                w, h = nc % 13 + 5, nc % 7 + 4
                pix = [
                    tuple((d + 3 * p + c) % 256 for c in range(3))
                    for p in range(w * h)
                ]
                payloads.append(pack_bmp24(pix, w, h, top_down=bool(d % 2)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "format": "bmp",
                    "payload": payloads,
                }
            )

    media = docs.mapInPandas(synth, schema=media_schema)
    feats = extract_features(media, decoder="bmp")
    names = [
        "width", "height", "n_pixels", "r_sum", "g_sum", "b_sum",
        "px_min", "px_max", "ds_count", "ds_sum",
    ]
    return feats.select(
        "media_id",
        "feat_dim",
        *[
            F.round(F.col("features")[i]).cast("long").alias(name)
            for i, name in enumerate(names)
        ],
    )


@register(
    "multimodal_audio_windows",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(s AS BIGINT) AS window_start_ms,
           CAST((least(s + 400, n_chars * 10) - s) * 16000 // 1000 AS BIGINT)
             AS n_samples
    FROM (
      SELECT doc_id, n_chars,
             unnest(generate_series(0, greatest(n_chars * 10 - 1, 0), 250))
               AS s
      FROM documents
    )
    """,
    tags=("multimodal", "audio", "windowing", "extension"),
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analysis-window plumbing (operators/multimodal.
    audio_window_plan): synthetic audio rows from documents
    (duration_ms = n_chars × 10, sample_rate = 16 kHz) expanded into
    overlapping 400 ms windows at 250 ms hop — pure JVM
    sequence/explode with exact integer sample counts, the plan the
    real PCM featurizer would run on."""
    from hadoop_project_spark.operators.multimodal import audio_window_plan

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit("fake").alias("format"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    return audio_window_plan(media, window_ms=400, hop_ms=250)


# ---------------------------------------------------------------------------
# Perceptual near-dup over the image column (round 11): decode ->
# dHash (Arrow-batched) -> banded Hamming join. The multimodal twin of
# the SimHash text family — image near-dup without all-pairs.
# ---------------------------------------------------------------------------
DHASH_HAM_T = 6  # near-dup verification threshold (of 60 bits)
DHASH_BANDS = 4  # 15-bit bands: candidates must share >= 1 band
_GROUP = 4  # synthetic near-dup group size (doc_id // _GROUP)


def _sql_image_dhash_neardup() -> str:
    from hadoop_project_spark.operators.multimodal import (
        DHASH_BITS,
        DHASH_GRID_H,
        DHASH_GRID_W,
    )

    band_bits = DHASH_BITS // DHASH_BANDS
    return f"""
    WITH base AS (SELECT doc_id, doc_id // {_GROUP} AS grp FROM documents),
    mix AS (
      SELECT doc_id, grp,
             14 + grp % 3 AS w, 10 + grp % 2 AS h,
             (grp * 2654435761) % 2147483647 AS m
      FROM base
    ),
    grid AS (
      SELECT doc_id, w, h,
             m % 251 + 1 AS ca, (m // 251) % 241 + 1 AS cb,
             (m // 60491) % 31 AS cc,
             unnest(generate_series(0, {DHASH_GRID_W * DHASH_GRID_H - 1}))
               AS p
      FROM mix
    ),
    g AS (
      SELECT doc_id, p % {DHASH_GRID_W} AS gx, p // {DHASH_GRID_W} AS gy,
             (ca * (sx + 1) + cb * (sy + 1) + cc * sx * sy
              + CASE WHEN (sx + 2 * sy + doc_id) % 17 = 0
                     THEN (doc_id % {_GROUP}) * 9 ELSE 0 END) % 256 AS v
      FROM (
        SELECT *, ((p % {DHASH_GRID_W}) * w) // {DHASH_GRID_W} AS sx,
               ((p // {DHASH_GRID_W}) * h) // {DHASH_GRID_H} AS sy
        FROM grid
      )
    ),
    bits AS (
      SELECT a.doc_id, a.gy * 8 + a.gx AS pos,
             CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
      FROM g a JOIN g b
        ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
      WHERE a.gx < {DHASH_GRID_W - 1} AND a.gy * 8 + a.gx < {DHASH_BITS}
    ),
    hsh AS (
      SELECT doc_id,
             SUM(CASE WHEN bit = 1
                      THEN CAST(1 AS BIGINT) << CAST(pos AS INTEGER)
                      ELSE 0 END) AS dhash
      FROM bits GROUP BY doc_id
    ),
    keys AS (
      SELECT doc_id, dhash, band,
             (dhash >> ({band_bits} * band)) & {2 ** band_bits - 1} AS key
      FROM (
        SELECT doc_id, dhash,
               unnest(generate_series(0, {DHASH_BANDS - 1})) AS band
        FROM hsh
      )
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
             a.dhash AS ha, b.dhash AS hb
      FROM keys a JOIN keys b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT CAST(media_a AS BIGINT) AS media_a,
           CAST(media_b AS BIGINT) AS media_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming,
           media_a // {_GROUP} = media_b // {_GROUP} AS same_group
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {DHASH_HAM_T}
    """


@register(
    "image_dhash_neardup",
    oracle=_sql_image_dhash_neardup(),
    tags=("multimodal", "image", "dedup", "dhash", "mapInPandas",
          "extension"),
)
def image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup end to end: synthetic 24 bpp BMPs
    (deterministic per-group pattern + per-doc sparse perturbation, so
    each group of {_GROUP} docs are genuine near-duplicate images;
    alternating bottom-up/top-down row order certifies both decoder
    branches), decoded by the REAL stdlib BMP parser, dHashed on the
    9x8 grid (integer grayscale, floor-division sampling — the whole
    code is integer-exact), then paired by the banded Hamming join:
    4 x 15-bit bands, candidates must share a band, verified at
    bit_count(xor) <= {DHASH_HAM_T}. The SimHash trick applied to the
    image column — near-dup at corpus scale with zero all-pairs work;
    band keys are the only shuffle key. ~1% of true near-dup pairs miss
    all 4 bands (the documented LSH recall trade) — the oracle mirrors
    the banded candidates exactly, so the hash-match certifies decode,
    hashing, banding, and verification bit-for-bit."""
    import pandas as pd

    from pyspark.sql import types as T

    from hadoop_project_spark.operators.multimodal import (
        banded_hamming_pairs,
        image_dhash,
        pack_bmp24,
    )

    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                grp = d // _GROUP
                w, h = 14 + grp % 3, 10 + grp % 2
                m = (grp * 2654435761) % 2147483647
                ca, cb = m % 251 + 1, (m // 251) % 241 + 1
                cc = (m // 60491) % 31
                pix = []
                for p in range(w * h):
                    x, y = p % w, p // w
                    v = (ca * (x + 1) + cb * (y + 1) + cc * x * y) % 256
                    if (x + 2 * y + d) % 17 == 0:
                        v = (v + (d % _GROUP) * 9) % 256
                    pix.append((v, v, v))
                payloads.append(pack_bmp24(pix, w, h, top_down=bool(d % 2)))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(synth, schema=media_schema)
    codes = image_dhash(media, decoder="bmp")
    pairs = banded_hamming_pairs(
        codes, "dhash", DHASH_HAM_T, n_bands=DHASH_BANDS
    )
    return pairs.select(
        F.col("media_a").cast("long").alias("media_a"),
        F.col("media_b").cast("long").alias("media_b"),
        "hamming",
        F.expr(f"media_a DIV {_GROUP} = media_b DIV {_GROUP}").alias(
            "same_group"
        ),
    )


def _sql_audio_fingerprint_neardup() -> str:
    from hadoop_project_spark.operators.multimodal import (
        AFP_WINDOWS,
        DHASH_BITS,
    )

    band_bits = DHASH_BITS // DHASH_BANDS
    return f"""
    WITH base AS (
      SELECT doc_id, doc_id // {_GROUP} AS grp FROM documents
    ),
    mix AS (
      SELECT doc_id, grp, 240 + grp % 7 AS n,
             (grp * 2654435761) % 2147483647 AS m
      FROM base
    ),
    s AS (
      SELECT doc_id, n, m % 127 + 3 AS ca, (m // 127) % 89 + 2 AS cb,
             unnest(generate_series(0, n - 1)) AS i
      FROM mix
    ),
    v AS (
      SELECT doc_id,
             (i * {AFP_WINDOWS}) // n AS w,
             abs(((ca * i + cb * ((i * i) % 97)) % 4096) - 2048
                 + CASE WHEN (i + doc_id) % 29 = 0
                        THEN (doc_id % {_GROUP}) * 25 ELSE 0 END) AS av
      FROM s
    ),
    e AS (SELECT doc_id, w, SUM(av) AS energy FROM v GROUP BY 1, 2),
    bits AS (
      SELECT a.doc_id, a.w AS pos,
             CASE WHEN a.energy > b.energy THEN 1 ELSE 0 END AS bit
      FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.w = a.w + 1
      WHERE a.w < {DHASH_BITS}
    ),
    hsh AS (
      SELECT doc_id,
             SUM(CASE WHEN bit = 1
                      THEN CAST(1 AS BIGINT) << CAST(pos AS INTEGER)
                      ELSE 0 END) AS fp
      FROM bits GROUP BY doc_id
    ),
    keys AS (
      SELECT doc_id, fp, band,
             (fp >> ({band_bits} * band)) & {2 ** band_bits - 1} AS key
      FROM (
        SELECT doc_id, fp,
               unnest(generate_series(0, {DHASH_BANDS - 1})) AS band
        FROM hsh
      )
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
             a.fp AS ha, b.fp AS hb
      FROM keys a JOIN keys b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT CAST(media_a AS BIGINT) AS media_a,
           CAST(media_b AS BIGINT) AS media_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming,
           media_a // {_GROUP} = media_b // {_GROUP} AS same_group
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {DHASH_HAM_T}
    """


@register(
    "audio_fingerprint_neardup",
    oracle=_sql_audio_fingerprint_neardup(),
    tags=("multimodal", "audio", "dedup", "fingerprint", "mapInPandas",
          "extension"),
)
def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup end to end — the 1-D twin of image_dhash_neardup:
    synthetic PCM16 clips in near-duplicate groups of {_GROUP} (same
    seeded waveform, per-clip sparse amplitude perturbation; lengths
    vary WITHIN the 61-window grid so the floor-division window
    assignment is exercised), decoded by the real RIFF parser, reduced
    to a 60-bit energy-profile difference fingerprint (integer-exact),
    then paired by the same 4x15-bit banded Hamming join verified at
    bit_count(xor) <= {DHASH_HAM_T}. Shares banded_hamming_pairs with
    the image path — one banding implementation, two modalities."""
    import pandas as pd

    from pyspark.sql import types as T

    from hadoop_project_spark.operators.multimodal import (
        audio_fingerprint,
        banded_hamming_pairs,
        pack_wav_pcm16,
    )

    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                grp = d // _GROUP
                n = 240 + grp % 7
                m = (grp * 2654435761) % 2147483647
                ca, cb = m % 127 + 3, (m // 127) % 89 + 2
                samples = []
                for i in range(n):
                    v = ((ca * i + cb * ((i * i) % 97)) % 4096) - 2048
                    if (i + d) % 29 == 0:
                        v = v + (d % _GROUP) * 25
                    samples.append(v)
                payloads.append(pack_wav_pcm16(samples, sample_rate=8000))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(synth, schema=media_schema)
    codes = audio_fingerprint(media)
    pairs = banded_hamming_pairs(
        codes, "fingerprint", DHASH_HAM_T, n_bands=DHASH_BANDS
    )
    return pairs.select(
        F.col("media_a").cast("long").alias("media_a"),
        F.col("media_b").cast("long").alias("media_b"),
        "hamming",
        F.expr(f"media_a DIV {_GROUP} = media_b DIV {_GROUP}").alias(
            "same_group"
        ),
    )
