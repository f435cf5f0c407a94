"""Multimodal (binary payload) query entries.

Split from llm_queries.py; see that module for the shared
portability invariants."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from olist_data_warehouse_spark.operators import (
    bloom,
    components,
    corpus,
    dedup,
    multimodal,
    packing,
    sampling,
    scd,
    similarity,
    skew,
    sketches,
    temporal,
    textops,
)
from olist_data_warehouse_spark.plans.queries import _t, register
from olist_data_warehouse_spark.plans.llm.common import (  # noqa: F401
    SQL_MINHASH,
    SQL_NORM_TOKENS,
    SQL_SHINGLES,
    _COS_SQL,
    _EMB_LSH_BANDS,
    _EMB_LSH_BUCKETS_SQL,
    _EMB_LSH_MAX_BUCKET,
    _EMB_LSH_PLANES_PER_BAND,
    _LANG_CASE,
    _SCORE_COLS,
    _SQL_LSH_EDGES,
    _STOPWORDS_SQL,
    _bucket_sql,
    _lang_scores_sql,
    _lsh_bucket_sql,
)


@register(
    "multi_decode_meta",
    oracle="""
SELECT doc_id AS item_id,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE octet_length(encode(
         'FAKEIMG|' || CAST(doc_id % 64 + 16 AS VARCHAR) || '|'
                    || CAST(doc_id % 48 + 16 AS VARCHAR) || '|3|'
                    || substr(text, 1, 64))) END AS INT) AS byte_len,
       text IS NOT NULL AS is_valid,
       CAST(CASE WHEN text IS NULL THEN 0
                 ELSE doc_id % 64 + 16 END AS INT) AS width,
       CAST(CASE WHEN text IS NULL THEN 0
                 ELSE doc_id % 48 + 16 END AS INT) AS height,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 3 END AS INT) AS channels
FROM documents
""",
    doc="Multimodal decode stage end-to-end: deterministic fake image "
    "payloads built as a binary column (opaque bytes + typed metadata "
    "design), sharded by id-hash for size-skew-uniform tasks, decoded "
    "via the Arrow-batched mapInPandas kernel. The oracle recomputes "
    "the metadata analytically — checking the binary plumbing, batch "
    "shape, and schema, not a codec. A NULL payload (null source "
    "text) decodes as an INVALID row — zeros + is_valid false, the "
    "kernel contract — mirrored in the oracle (null_fuzz_sweep).",
)
def multi_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    w = (F.col("doc_id") % 64 + 16).cast("int")
    h = (F.col("doc_id") % 48 + 16).cast("int")
    payload = F.concat(
        F.lit("FAKEIMG|"), w.cast("string"), F.lit("|"),
        h.cast("string"), F.lit("|3|"), F.substring("text", 1, 64),
    ).cast("binary")
    images = d.select(F.col("doc_id").alias("item_id"), payload.alias("payload"))
    meta = multimodal.decode_image_meta(
        multimodal.shard_for_decode(images)
    )
    return meta.select(
        "item_id", "byte_len", "is_valid", "width", "height",
        F.col("channels").cast("int").alias("channels"),
    )


def _fake_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → deterministic fake image payloads (shared by the
    multimodal stage queries; dims re-derivable analytically by the
    oracle: width = doc_id%64+16, height = doc_id%48+16, 3 channels,
    body = first 64 chars of text as UTF-8 bytes)."""
    d = _t(spark, sf_dir, "documents")["documents"]
    w = (F.col("doc_id") % 64 + 16).cast("int")
    h = (F.col("doc_id") % 48 + 16).cast("int")
    payload = F.concat(
        F.lit("FAKEIMG|"), w.cast("string"), F.lit("|"),
        h.cast("string"), F.lit("|3|"), F.substring("text", 1, 64),
    ).cast("binary")
    return d.select(F.col("doc_id").alias("item_id"), payload.alias("payload"))


@register(
    "multi_extract_features",
    oracle="""
WITH vecs AS (
  SELECT doc_id AS item_id,
         [CAST(doc_id % 64 + 16 AS DOUBLE),
          CAST(doc_id % 48 + 16 AS DOUBLE),
          3.0,
          CAST(octet_length(encode(
            'FAKEIMG|' || CAST(doc_id % 64 + 16 AS VARCHAR) || '|'
                       || CAST(doc_id % 48 + 16 AS VARCHAR) || '|3|'
                       || substr(text, 1, 64))) AS DOUBLE),
          CAST(doc_id % 64 + 16 AS DOUBLE) / CAST(doc_id % 48 + 16 AS DOUBLE)
         ] AS features
  FROM documents
  WHERE text IS NOT NULL
)
SELECT item_id,
       CAST(unnest(generate_series(1, len(features))) - 1 AS INT) AS dim_idx,
       unnest(features) AS value
FROM vecs
""",
    doc="Multimodal feature-extract stage: binary payload → "
    "array<double> embedding column via the Arrow-batched mapInPandas "
    "kernel (a vision model's slot at scale). The fake codec's "
    "descriptor is analytic over the header, so the oracle re-derives "
    "the exact vector. Registered output is the vector exploded to "
    "(item_id, dim_idx, value) rows — scalar cells hash portably; the "
    "array form itself is pinned in tests/test_multimodal.py.",
)
def multi_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = _fake_images(spark, sf_dir)
    feats = multimodal.extract_features(
        multimodal.shard_for_decode(images)
    )
    return feats.select(
        "item_id", F.posexplode("features").alias("dim_idx", "value")
    )


@register(
    "multi_resize_meta",
    oracle="""
SELECT doc_id AS item_id,
       CAST(CASE WHEN text IS NULL THEN 0
            ELSE octet_length(encode('FAKEIMG|4|4|3|'))
                 + least(octet_length(encode(substr(text, 1, 64))), 48)
            END AS INT) AS byte_len,
       text IS NOT NULL AS is_valid,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 4 END AS INT) AS width,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 4 END AS INT) AS height,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 3 END AS INT) AS channels
FROM documents
""",
    doc="Multimodal resize stage: binary in → binary out with the "
    "header rewritten to the target dims and the body truncated to "
    "width*height*channels bytes, then re-decoded. The oracle "
    "recomputes the post-resize byte length analytically, so the "
    "binary-to-binary kernel is value-checked, not just shape-checked.",
)
def multi_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = _fake_images(spark, sf_dir)
    resized = multimodal.resize_images(images, 4, 4)
    meta = multimodal.decode_image_meta(resized)
    return meta.select(
        "item_id", "byte_len", "is_valid", "width", "height",
        F.col("channels").cast("int").alias("channels"),
    )


@register(
    "multi_frame_sample",
    oracle="""
SELECT doc_id AS item_id, CAST(f AS INT) AS frame_idx,
       32 AS width, 24 AS height
FROM documents,
     unnest(generate_series(0, CAST(doc_id % 10 AS BIGINT), 3)) AS t(f)
WHERE text IS NOT NULL
""",
    doc="Multimodal frame-sample stage: one FAKEVID payload row fans "
    "out to one row per sampled frame (every 3rd of n_frames = "
    "doc_id%10+1) via mapInPandas — the one-to-many batch shape an "
    "ffmpeg stage needs. Oracle = generate_series over the same "
    "analytic frame counts.",
)
def multi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    n_frames = (F.col("doc_id") % 10 + 1).cast("int")
    payload = F.concat(
        F.lit("FAKEVID|"), n_frames.cast("string"), F.lit("|32|24|"),
        F.substring("text", 1, 32),
    ).cast("binary")
    videos = d.select(F.col("doc_id").alias("item_id"), payload.alias("payload"))
    return multimodal.sample_frames(
        multimodal.shard_for_decode(videos), every_n=3
    )


@register(
    "multi_audio_meta",
    oracle="""
SELECT doc_id AS item_id,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE octet_length(encode(
         'FAKEAUD|16000|' || CAST(doc_id % 48000 + 8000 AS VARCHAR) || '|1|'
         || substr(text, 1, 64))) END AS INT) AS byte_len,
       text IS NOT NULL AS is_valid,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 16000 END AS INT)
         AS sample_rate,
       CAST(CASE WHEN text IS NULL THEN 0
                 ELSE doc_id % 48000 + 8000 END AS INT) AS n_samples,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 1 END AS INT) AS channels,
       CAST(CASE WHEN text IS NULL THEN 0
                 ELSE (doc_id % 48000 + 8000) * 1000 // 16000 END AS BIGINT)
         AS duration_ms
FROM documents
""",
    doc="Audio decode stage (completes the image/audio/video triad): "
    "fake 16 kHz payloads decoded to sample count / channel / "
    "duration metadata via the same Arrow-batched mapInPandas "
    "contract; duration is integer math so the oracle re-derives it "
    "exactly.",
)
def multi_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    n = (F.col("doc_id") % 48000 + 8000).cast("int")
    payload = F.concat(
        F.lit("FAKEAUD|16000|"), n.cast("string"), F.lit("|1|"),
        F.substring("text", 1, 64),
    ).cast("binary")
    audio = d.select(F.col("doc_id").alias("item_id"), payload.alias("payload"))
    meta = multimodal.decode_audio_meta(
        multimodal.shard_for_decode(audio)
    )
    return meta.select(
        "item_id", "byte_len", "is_valid",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("n_samples").cast("int").alias("n_samples"),
        F.col("channels").cast("int").alias("channels"),
        "duration_ms",
    )


@register(
    "multi_image_phash",
    oracle="""
WITH b AS (
  SELECT doc_id, substr(text, 1, 48) AS s FROM documents
),
bytes AS (
  SELECT doc_id,
         list_transform(range(1, least(length(s), 48) + 1),
                        i -> unicode(substr(s, i, 1))) AS bs
  FROM b
),
stats AS (
  SELECT doc_id, bs, len(bs) AS n,
         COALESCE(list_sum(bs), 0) AS tot
  FROM bytes
),
hashed AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN 0 ELSE
           CAST(COALESCE(list_sum(list_transform(
             range(1, n + 1),
             i -> CASE WHEN bs[i] * n > tot
                       THEN (CAST(1 AS BIGINT) << (i - 1))
                       ELSE 0 END)), 0) AS BIGINT)
         END AS phash
  FROM stats
)
SELECT phash,
       CAST(count(*) AS BIGINT) AS n_items,
       min(doc_id) AS first_item
FROM hashed
GROUP BY phash
HAVING count(*) >= 2
""",
    doc="Image dedup by perceptual hash: the deterministic fake "
    "payloads run through the Arrow-batched aHash kernel "
    "(mapInPandas — the only place bytes touch Python, once per "
    "batch), and items are grouped by the 48-bit hash; groups >= 2 "
    "are the near-duplicate report every image-corpus pipeline runs "
    "before training. The bit rule is the cross-multiplied integer "
    "predicate pixel*n > sum (no float mean), so the oracle can "
    "recompute the hash ANALYTICALLY from the same source text the "
    "fake payload embeds (pure-ASCII corpus: bytes == codepoints, "
    "verified octet_length == length over the whole table) — the "
    "full binary plumbing gets the strongest (hash-match) gate, like "
    "every other multimodal stage. At 100 TB the hash is a map-only "
    "pass over sharded payloads; the groupBy shuffles (48-bit, id) "
    "pairs only — images never move.",
)
def multi_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = _fake_images(spark, sf_dir)
    hashed = multimodal.image_phash(
        multimodal.shard_for_decode(images)
    )
    return (
        hashed.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("item_id").alias("first_item"),
        )
        .filter(F.col("n_items") >= 2)
    )
