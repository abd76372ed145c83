"""Multimodal column pattern (SURVEY.md §2.11).

Media (image/audio/video) at 100 TB lives in the lake as opaque
`binary` payload columns next to a typed metadata struct -- never
driver-side, never decoded until the last possible stage. The testdata
has no real media, so the payload is manufactured deterministically
from documents.text (UTF-8 bytes); everything around it -- schema,
struct metadata, partitioning, Arrow batch shape, parquet round-trip --
is the real production plumbing.

The decode stage is a clearly-marked STUB: the image/audio libraries
are not in this container. `decode_image_stub` raises
NotImplementedError on the real path and ships a deterministic fake
(byte-histogram features) so the mapInPandas pipeline is testable
end-to-end. Swapping in a real decoder changes ONE function body, not
the plan.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recommendation_system_spark_ml_spark.banding import band_pairs
from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import pin_session_conf
from recommendation_system_spark_ml_spark.sources.catalog import load

# The mapInPandas closures below reference module-level helpers
# (decode_image_stub); cloudpickle ships closures by value but their
# module-global references BY REFERENCE, so a Python worker whose
# sys.path lacks the repo root would fail to import this module.
# By-value registration makes the shipped closure self-contained
# (same fix as sources/pysource.py).
try:
    from pyspark import cloudpickle as _cloudpickle
except ImportError:
    import cloudpickle as _cloudpickle
_cloudpickle.register_pickle_by_value(sys.modules[__name__])

FEATURE_DIM = 8

# features as DOUBLE, not float: the stub decoder's count/total ratios
# are IEEE-double divisions the DuckDB oracle reproduces exactly; a
# float32 leg would truncate ~1e-8 of precision and break the checked
# twin's quantized hash (a production pipeline shipping embeddings
# downcasts at the SINK, after any checks, for the same reason)
_FEATURES_SCHEMA = ("doc_id bigint, format string, n_bytes int, "
                    f"features array<double>")


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, payload binary, meta struct). The struct
    carries what a real ingest would: declared format, byte size, a
    content digest for integrity checks."""
    docs = load(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.col("source").alias("format"),
            F.length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("digest"),
        ).alias("meta"))


def decode_image_stub(payload: bytes) -> dict:
    """STUB decode. Real implementation would be e.g.:

        from PIL import Image; import io
        img = Image.open(io.BytesIO(payload))
        ...

    PIL/librosa/av are not installed in this container, so the real
    path raises and the deterministic fake below stands in: an
    8-bucket byte histogram, normalized -- stable across runs and
    engines, shaped exactly like a pooled feature vector."""
    real_decoder_available = False
    if real_decoder_available:  # pragma: no cover
        raise NotImplementedError("media decoders not present in this env")
    counts = [0] * FEATURE_DIM
    for b in payload:
        counts[b % FEATURE_DIM] += 1
    total = float(len(payload)) or 1.0
    return {"features": [c / total for c in counts]}


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction: mapInPandas over the payload
    column. Python touches each byte-buffer once per batch; the output
    schema is fixed so downstream stays Catalyst-planned."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decode_image_stub(p)["features"] for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "format": [m["format"] for m in pdf["meta"]],
                "n_bytes": [int(m["n_bytes"]) for m in pdf["meta"]],
                "features": feats,
            })

    return media.mapInPandas(batches, schema=_FEATURES_SCHEMA)


@register("multimodal_struct", oracle="""
SELECT doc_id,
       source AS format,
       CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
       sha256(text) AS digest
FROM documents
""")
def multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metadata plumbing, flattened for the oracle: payload size
    and digest must round-trip exactly through the struct column."""
    pin_session_conf(spark)
    m = media_table(spark, sf_dir)
    return m.select("doc_id", "meta.format", "meta.n_bytes", "meta.digest")


_FEATQ = 1_000_000  # 6-decimal floor-quantization, shared with the oracle


def _mm_features_oracle() -> str:
    """The stub decoder unrolled portably: byte k's low nibble comes
    from hex(blob) character 2k (strpos arithmetic, the
    dedup_simhash_checked recipe), bucket = nibble % 8 == byte % 8,
    feature = bucket count / byte count -- the identical IEEE division
    tree the Python UDF evaluates, floor-quantized at 1e-6 on both
    sides."""
    fcols = ",\n       ".join(
        f"floor(len(list_filter(lows, x -> x = {k}))"
        f" / CAST(greatest(n, 1) AS DOUBLE) * {_FEATQ} + 0.5)"
        f" / {_FEATQ} AS f{k}" for k in range(FEATURE_DIM))
    l1 = " + ".join(
        f"(len(list_filter(lows, x -> x = {k}))"
        f" / CAST(greatest(n, 1) AS DOUBLE))" for k in range(FEATURE_DIM))
    return f"""
WITH b AS (
    SELECT doc_id, source AS format,
           hex(CAST(text AS BLOB)) AS hx,
           octet_length(CAST(text AS BLOB)) AS n
    FROM documents WHERE text IS NOT NULL
), c AS (
    SELECT doc_id, format, n,
           list_transform(range(1, CAST(n AS BIGINT) + 1), i ->
               (strpos('0123456789ABCDEF', substr(hx, CAST(2 * i AS BIGINT), 1)) - 1) % 8)
               AS lows
    FROM b
)
SELECT doc_id, format, CAST(n AS INTEGER) AS n_bytes,
       {fcols},
       floor(({l1}) * {_FEATQ} + 0.5) / {_FEATQ} AS l1_norm
FROM c
"""


@register("multimodal_features", oracle=_mm_features_oracle())
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract via the stub decoder: the pooled feature
    vector per document, unpacked to scalar columns, plus an L1-norm
    self-check (the normalized histogram must sum to ~1).

    Oracle-backed (r6 promotion): the stub decode is deterministic
    byte arithmetic -- an 8-bucket byte%8 histogram normalized by
    byte count -- so DuckDB can replay it from hex(blob) nibble
    arithmetic and hash-check the ENTIRE mapInPandas path: Arrow
    batch transfer, per-byte Python pooling, schema declaration, and
    the float division tree. This certifies the multimodal plumbing a
    real decoder (PIL/librosa) would ride; only the pooling body
    changes when a codec lands. NULL payloads are excluded on both
    sides (production routes undecodable media to quarantine).
    Features unpack to f0..f7 scalars because the driver canonicalizer
    cannot hash array cells (the agg_approx_percentile r5 lesson)."""
    pin_session_conf(spark)
    media = media_table(spark, sf_dir).where(F.col("payload").isNotNull())
    feats = extract_features(media)

    def q6(c):
        return F.floor(c * _FEATQ + F.lit(0.5)) / _FEATQ

    fk = [F.element_at("features", k + 1) for k in range(FEATURE_DIM)]
    l1 = fk[0]
    for x in fk[1:]:
        l1 = l1 + x
    return feats.select(
        "doc_id", "format", "n_bytes",
        *[q6(fk[k]).alias(f"f{k}") for k in range(FEATURE_DIM)],
        q6(l1).alias("l1_norm"))


@register("multimodal_frame_sample", oracle="""
WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents)
SELECT doc_id, CAST((g - 1) / 1024 AS INTEGER) AS frame_idx,
       md5(substr(text, CAST(g AS BIGINT), 256)) AS frame_digest,
       CAST(length(substr(text, CAST(g AS BIGINT), 256)) AS INTEGER) AS frame_len
FROM t, LATERAL (SELECT unnest(generate_series(1, CAST(n AS BIGINT), 1024)) AS g) gs
""")
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a media payload: every 4th 256-unit frame
    (stride 1024), the video keyframe-sampling access pattern on a 1-D
    payload. The frame index set is computed from per-row length with
    sequence + posexplode -- pure JVM expressions, fan-out bounded by
    payload size / stride; a real codec version swaps the substring
    for a decoder inside mapInPandas (see extract_features) without
    changing the plan shape. Digest-per-frame makes the result exactly
    checkable."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    starts = F.sequence(F.lit(1), F.length("text"), F.lit(1024))
    frame = F.expr("substring(text, start, 256)")
    return (docs.select("doc_id", "text", F.explode(starts).alias("start"))
            .select("doc_id",
                    ((F.col("start") - 1) / 1024).cast("int").alias("frame_idx"),
                    F.md5(frame).alias("frame_digest"),
                    F.length(frame).alias("frame_len")))


RESIZE_DIM = 32


def _mm_resize_oracle() -> str:
    """The pooling body unrolled portably: byte k = 16*hi + lo nibble
    from hex(blob) chars 2k-1 / 2k, bucket i = mean of the 1-based
    slice [i*step+1 .. (i+1)*step] with step = max(n // 32, 1) (DuckDB
    list slicing clamps exactly like Python's), pooled_mean = the
    left-assoc sum of the 32 bucket means / 32 -- the identical IEEE
    tree the Spark-side aggregate folds, floor-quantized at 1e-4."""
    nib = ("(strpos('0123456789ABCDEF', substr(hx, {p}, 1)) - 1)")
    byte = (f"{nib.format(p='2*i - 1')} * 16 + {nib.format(p='2*i')}")
    bucket = ("(coalesce(list_sum(bytes[{a}:{b}]), 0)"
              " / CAST(greatest(len(bytes[{a}:{b}]), 1) AS DOUBLE))")
    chain = " + ".join(
        bucket.format(a=f"{i} * step + 1", b=f"{i + 1} * step")
        for i in range(RESIZE_DIM))
    return f"""
WITH b AS (
    SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
           octet_length(CAST(text AS BLOB)) AS n
    FROM documents WHERE text IS NOT NULL
), by AS (
    SELECT doc_id, n, greatest(n // {RESIZE_DIM}, 1) AS step,
           list_transform(range(1, CAST(n AS BIGINT) + 1),
                          i -> {byte}) AS bytes
    FROM b
)
SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
       {RESIZE_DIM} AS out_dim,
       floor(({chain}) / {RESIZE_DIM} * 10000 + 0.5) / 10000
           AS pooled_mean
FROM by
"""


@register("multimodal_resize", oracle=_mm_resize_oracle())
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage: every payload downsampled to a fixed RESIZE_DIM
    signal by average-pooling equal byte spans -- the 1-D analog of
    image resizing, with the same production shape: variable-size
    binary in, fixed-size float vector out, Arrow-batched, schema
    declared up front. A real image resize swaps the pooling body for
    PIL/cv2 inside the same mapInPandas contract. Self-checks ride
    along: out_dim is constant and the pooled mean preserves the
    payload's global byte mean (tests assert both).

    Oracle-backed (r6 promotion, the multimodal_features recipe): the
    stub pooling is deterministic byte arithmetic, so DuckDB replays
    it from hex(blob) nibble pairs and hash-checks the mapInPandas
    round-trip -- per-bucket integer sums, the Python float division
    tree, and the fold order of the final mean. NULL payloads are
    excluded on both sides (undecodable media is quarantined
    upstream, same contract as multimodal_features)."""
    pin_session_conf(spark)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for p in pdf["payload"]:
                n = len(p)
                step = max(n // RESIZE_DIM, 1)
                pooled = [sum(p[i * step:(i + 1) * step]) / max(len(p[i * step:(i + 1) * step]), 1)
                          for i in range(RESIZE_DIM)]
                out.append(pooled)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "resized": out,
                "n_bytes": [len(p) for p in pdf["payload"]],
            })

    media = (media_table(spark, sf_dir)
             .where(F.col("payload").isNotNull())
             .select("doc_id", "payload"))
    res = media.mapInPandas(
        batches, schema="doc_id bigint, resized array<double>, n_bytes int")
    mean = (F.aggregate("resized", F.lit(0.0), lambda a, x: a + x)
            / RESIZE_DIM)
    return res.select(
        "doc_id", "n_bytes",
        F.size("resized").alias("out_dim"),
        (F.floor(mean * 10000 + F.lit(0.5)) / 10000).alias("pooled_mean"))


PHASH_BITS = 64
PHASH_BANDS = 8          # 8 x 8-bit bands -> radius <= 7 EXACT (pigeonhole)
PHASH_RADIUS = 6         # max Hamming distance for a near-dup verdict


def _mm_phash_oracle() -> str:
    """dHash replayed portably, then the EXHAUSTIVE pair join: bytes
    from hex(blob) nibble pairs (the multimodal_resize recipe), 65
    pooled bucket means with the identical integer-sum / clamped-slice
    division tree, bit i = (pooled[i+1] > pooled[i]) on exactly-equal
    IEEE doubles, Hamming = elementwise bit disagreement count. The
    oracle checks ALL pairs because the Spark side's banding is exact
    at this radius (see the query docstring)."""
    nib = "(strpos('0123456789ABCDEF', substr(hx, {p}, 1)) - 1)"
    byte = f"{nib.format(p='2*i - 1')} * 16 + {nib.format(p='2*i')}"
    return f"""
WITH b AS (
    SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
           octet_length(CAST(text AS BLOB)) AS n
    FROM documents WHERE text IS NOT NULL
), by AS (
    SELECT doc_id, greatest(n // {PHASH_BITS + 1}, 1) AS step,
           list_transform(range(1, CAST(n AS BIGINT) + 1),
                          i -> {byte}) AS bytes
    FROM b
), pooled AS (
    SELECT doc_id,
           list_transform(range(0, {PHASH_BITS + 1}), i ->
               coalesce(list_sum(bytes[CAST(i * step + 1 AS BIGINT):
                                       CAST((i + 1) * step AS BIGINT)]), 0)
               / CAST(greatest(len(bytes[CAST(i * step + 1 AS BIGINT):
                                         CAST((i + 1) * step AS BIGINT)]), 1)
                      AS DOUBLE)) AS p
    FROM by
), bits AS (
    SELECT doc_id,
           list_transform(range(0, {PHASH_BITS}), i ->
               CASE WHEN p[CAST(i + 2 AS BIGINT)] > p[CAST(i + 1 AS BIGINT)]
                    THEN 1 ELSE 0 END) AS bit
    FROM pooled
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(list_sum(list_transform(range(1, {PHASH_BITS} + 1), i ->
            CASE WHEN a.bit[i] <> b.bit[i] THEN 1 ELSE 0 END)) AS INTEGER)
           AS hamming
FROM bits a JOIN bits b ON a.doc_id < b.doc_id
WHERE list_sum(list_transform(range(1, {PHASH_BITS} + 1), i ->
          CASE WHEN a.bit[i] <> b.bit[i] THEN 1 ELSE 0 END))
      <= {PHASH_RADIUS}
"""


@register("multimodal_dedup_phash", oracle=_mm_phash_oracle())
def multimodal_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection for media payloads (the
    image-dedup stage of a multimodal training pipeline): dHash over
    the decoded signal -- pool the payload to PHASH_BITS+1 buckets,
    take the gradient sign between adjacent buckets as one bit each --
    then find all pairs within Hamming distance PHASH_RADIUS via
    banded bucket joins, never all-pairs.

    Division of labor is the module's production contract: DECODE +
    pooling is Python (Arrow mapInPandas, one pass per payload; a real
    deployment swaps in PIL grayscale-resize without touching the
    plan), while DEDUP is pure JVM -- banding.py's band_pairs over
    (doc_id, phash, band, key) rows, with the exact bit_count(xor)
    radius check as its keep predicate and the distance as an extra
    pair column.

    Oracle-backed (r6 promotion): with 8 x 8-bit bands the pigeonhole
    guarantee covers radius 7 (>= PHASH_RADIUS: 6 differing bits can
    touch at most 6 of 8 bands), so the banded candidate set provably
    contains EVERY pair within the radius -- the result equals the
    exhaustive pair set, which DuckDB replays from hex(blob) nibble
    arithmetic (the multimodal_features recipe, extended through the
    pair stage). r5's 4 x 16-bit layout only guaranteed radius 3 and
    was high-probability beyond -- correct as LSH, but not exactly
    checkable; the 8-band layout buys exactness for ~2x bucket rows,
    the trade a verification-grade pipeline wants. NULL payloads are
    quarantined upstream on both sides (the module contract)."""
    pin_session_conf(spark)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_buckets = PHASH_BITS + 1
        for pdf in it:
            hashes = []
            for p in pdf["payload"]:
                n = len(p)
                step = max(n // n_buckets, 1)
                pooled = [sum(p[i * step:(i + 1) * step])
                          / max(len(p[i * step:(i + 1) * step]), 1)
                          for i in range(n_buckets)]
                h = 0
                for i in range(PHASH_BITS):
                    if pooled[i + 1] > pooled[i]:
                        h |= 1 << i
                # two's-complement into a signed 64-bit long
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": hashes})

    media = (media_table(spark, sf_dir)
             .where(F.col("payload").isNotNull())
             .select("doc_id", "payload"))
    sigs = media.mapInPandas(batches, schema="doc_id bigint, phash bigint")

    band_width = PHASH_BITS // PHASH_BANDS
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned("phash", b * band_width)
            .bitwiseAND(F.lit((1 << band_width) - 1)).alias("key"))
        for b in range(PHASH_BANDS)])
    buckets = (sigs.select("doc_id", "phash", F.explode(bands).alias("bk"))
               .select("doc_id", "phash",
                       F.col("bk.band").alias("band"),
                       F.col("bk.key").alias("key")))

    def hamming(a, b):
        return F.bit_count(a("phash").bitwiseXOR(b("phash")))

    return band_pairs(
        buckets, "doc_id", ("doc_a", "doc_b"),
        keep=lambda a, b: hamming(a, b) <= PHASH_RADIUS,
        extra=[("hamming", lambda a, b: hamming(a, b).cast("int"))])


AUDIO_WIN = 64   # frame length in samples (bytes of the fake PCM)
AUDIO_HOP = 32   # hop between frame starts


@register("multimodal_audio_frames", oracle=f"""
WITH b AS (
    SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
           octet_length(CAST(text AS BLOB)) AS n
    FROM documents WHERE text IS NOT NULL
), bs AS (
    SELECT doc_id, n,
           list_transform(range(1, CAST(n AS BIGINT) + 1), i ->
               (strpos('0123456789ABCDEF',
                       substr(hx, CAST(2 * i - 1 AS BIGINT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF',
                         substr(hx, CAST(2 * i AS BIGINT), 1)) - 1)) AS pcm
    FROM b WHERE n >= {AUDIO_WIN}
), f AS (
    SELECT doc_id, n,
           CAST(g - 1 AS BIGINT) AS frame_idx,
           CAST((g - 1) * {AUDIO_HOP} AS BIGINT) AS start_sample,
           list_sum(list_transform(
               list_slice(pcm, (g - 1) * {AUDIO_HOP} + 1,
                          (g - 1) * {AUDIO_HOP} + {AUDIO_WIN}),
               x -> abs(x - 128))) AS energy
    FROM bs, LATERAL (SELECT unnest(generate_series(
        1, CAST(1 + (n - {AUDIO_WIN}) // {AUDIO_HOP} AS BIGINT))) AS g) gs
)
SELECT doc_id, frame_idx, start_sample,
       CAST(energy AS BIGINT) AS energy,
       CAST(1 + (n - {AUDIO_WIN}) // {AUDIO_HOP} AS BIGINT) AS n_frames
FROM f
""")
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame windowing over the opaque payload column -- the
    STFT-front-end shape every speech/audio pipeline needs (librosa
    frame/hop semantics: frame f covers samples [f*hop, f*hop+win)),
    run as ONE Arrow mapInPandas pass with a vectorized NumPy body.
    The 'decode' treats each payload byte as an unsigned 8-bit PCM
    sample (the deterministic stand-in; a real codec swaps ONE
    function, the plumbing -- schema, batching, frame arithmetic --
    is exactly what ships) and emits per-frame integer energy
    sum(|sample - 128|), so the ENTIRE Arrow path is hash-verified by
    a DuckDB oracle that replays the byte arithmetic from hex(blob)
    nibbles (the multimodal_features recipe): window placement, tail
    handling (a doc shorter than one window emits nothing; the last
    partial window is dropped, librosa center=False), and the energy
    fold, all in exact integer arithmetic.

    Scale shape: frames = (n_bytes - win) / hop per doc, emitted
    map-side with zero shuffle (the noop sink sees ONE stage); at
    100 TB the frame table is the input to batched feature UDFs and
    is never wider than samples/hop rows. Python cost is one
    np.frombuffer + one strided matmul-free reduction per batch, not
    per frame."""
    pin_session_conf(spark)
    import numpy as np

    media = (media_table(spark, sf_dir)
             .where(F.col("payload").isNotNull())
             .select("doc_id", "payload"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fidx, starts, energies, totals = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pcm = np.frombuffer(payload, dtype=np.uint8)
                n = pcm.shape[0]
                if n < AUDIO_WIN:
                    continue
                n_frames = 1 + (n - AUDIO_WIN) // AUDIO_HOP
                # strided frame view: (n_frames, WIN) without copying
                view = np.lib.stride_tricks.sliding_window_view(
                    pcm, AUDIO_WIN)[::AUDIO_HOP][:n_frames]
                e = np.abs(view.astype(np.int64) - 128).sum(axis=1)
                ids.extend([doc_id] * n_frames)
                fidx.extend(range(n_frames))
                starts.extend(range(0, n_frames * AUDIO_HOP, AUDIO_HOP))
                energies.extend(int(x) for x in e)
                totals.extend([n_frames] * n_frames)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(fidx, dtype="int64"),
                "start_sample": pd.Series(starts, dtype="int64"),
                "energy": pd.Series(energies, dtype="int64"),
                "n_frames": pd.Series(totals, dtype="int64"),
            })

    return media.mapInPandas(
        batches,
        schema=("doc_id bigint, frame_idx bigint, start_sample bigint, "
                "energy bigint, n_frames bigint"))
