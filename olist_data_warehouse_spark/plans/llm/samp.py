"""Sampling, packing and corpus-pipeline query entries.

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
    "pipe_corpus_curation",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
scored AS (
  SELECT doc_id, t, toks,
       {_SCORE_COLS}
  FROM tok
),
feats AS (
  SELECT doc_id, t,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         round(CAST(len(list_filter(toks, x -> x IN ({_STOPWORDS_SQL})))
                    AS BIGINT) / CAST(len(toks) AS DOUBLE), 4)
           AS stopword_ratio,
         {_LANG_CASE} AS lang_pred,
         md5(t) AS fingerprint
  FROM scored
),
kept AS (
  SELECT * FROM feats
  WHERE n_tokens >= 30 AND stopword_ratio >= 0.03 AND lang_pred = 'en'
),
canon AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                                 ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
)
SELECT doc_id, n_tokens, lang_pred,
       CASE WHEN b < 8000 THEN 'train'
            WHEN b < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT *, {_bucket_sql("split", "doc_id")} AS b FROM canon)
""",
    doc="The LLM-data pipeline end-to-end, as ONE composed plan: "
    "quality filter (length + stopword ratio) → language filter "
    "(lang_id = en) → exact dedup (min doc_id per content digest) → "
    "deterministic train/val/test split. Everything before the dedup "
    "window is a codegen'd narrow pass over the corpus — one shuffle "
    "total (on the digest), split membership is partition-invariant, "
    "and each stage is the already-oracle-verified operator reused "
    "unchanged. This is the composition a 100 TB curation job runs.",
)
def pipe_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")["documents"]
    feats = textops.quality_features("text")
    scored = d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        textops.lang_id("text").alias("lang_pred"),
        textops.fingerprint("text").alias("fingerprint"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= 30)
        & (F.col("stopword_ratio") >= 0.03)
        & (F.col("lang_pred") == "en")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    canon = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    split = sampling.hash_split(
        canon, F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.select("doc_id", "n_tokens", "lang_pred", "split")


@register(
    "samp_hash_split",
    oracle=f"""
SELECT doc_id,
       CASE WHEN b < 8000 THEN 'train'
            WHEN b < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, {_bucket_sql("split", "doc_id")} AS b FROM documents)
""",
    doc="Deterministic 80/10/10 train/val/test split by salted content "
    "hash of the key — membership is independent of partitioning and "
    "row order, so re-runs and backfills cannot leak held-out rows. "
    "Pure codegen'd column expression; no shuffle.",
)
def samp_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    split = sampling.hash_split(
        d, F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.select("doc_id", "split")


_MIX_WEIGHTS = {"en": 0.5, "de": 0.125, "es": 0.125, "fr": 0.125, "zh": 0.125}


_MIX_CASE = " ".join(
    f"WHEN '{k}' THEN CAST({v!r} AS DOUBLE)" for k, v in _MIX_WEIGHTS.items()
)


@register(
    "samp_domain_mixture",
    oracle=f"""
WITH counts AS (
  SELECT lang AS dom, CAST(count(*) AS DOUBLE) AS n
  FROM documents GROUP BY lang
),
wa AS (
  SELECT dom, n, w FROM (
    SELECT dom, n, CASE dom {_MIX_CASE} END AS w FROM counts
  ) WHERE w IS NOT NULL
),
rates AS (
  SELECT dom,
         CAST(floor(w * (SELECT min(n / w) FROM wa) / n * {sampling.N_BUCKETS})
              AS BIGINT) AS thr
  FROM wa
)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r ON d.lang = r.dom
WHERE {_bucket_sql("mix", "d.doc_id")} < r.thr
""",
    doc="Domain-mixture sampling: deterministically downsample to a "
    "target per-language blend (en 50%, others 12.5% each) — the "
    "largest subset achievable without upsampling (S = min n_g/w_g). "
    "Group counts aggregate map-side to one row per domain; the rate "
    "table joins back as a broadcast; the corpus itself is scanned "
    "once and filtered by a codegen'd hash predicate — never shuffled.",
)
def samp_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heal=False: the keep-predicate is one cheap hash per row; the
    # default documents repartition costs more than it parallelizes.
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    kept = sampling.domain_mixture(
        d, "lang", F.col("doc_id"), _MIX_WEIGHTS
    )
    return kept.select("doc_id", "lang")


@register(
    "samp_stratified",
    oracle=f"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang, {_bucket_sql("strat", "doc_id")} AS b FROM documents)
WHERE b < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 5000 ELSE 10000 END
""",
    doc="Deterministic stratified sampling (reproducible sampleBy): "
    "per-language keep-fractions rebalance a corpus — downsample "
    "dominant en/zh, keep the tail whole. Threshold map compiles to a "
    "codegen'd CASE; no join, no shuffle.",
)
def samp_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    kept = sampling.stratified_sample(
        d, F.col("lang"), F.col("doc_id"),
        {"en": 0.25, "zh": 0.5}, default_fraction=1.0,
    )
    return kept.select("doc_id", "lang")


@register(
    "samp_per_group_topn",
    oracle=f"""
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {_bucket_sql("pergroup", "doc_id")}, CAST(doc_id AS VARCHAR)
         ) AS rn
  FROM documents
) WHERE rn <= 5
""",
    doc="Deterministic fixed-size per-group sample (reservoir-style): "
    "exactly <=5 docs per language, chosen by hash order. One hash "
    "shuffle on the group key, no global sort — the per-group top-k "
    "exchange shape at any group cardinality.",
)
def samp_per_group_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    got = sampling.per_group_sample(d, ["lang"], F.col("doc_id"), n=5)
    return got.select("doc_id", "lang")


@register(
    "samp_kfold",
    oracle=f"""
SELECT doc_id,
       CAST(({_bucket_sql("kfold", "doc_id")}) % 5 AS INT) AS fold
FROM documents
""",
    doc="K-fold cross-validation assignment (k=5) from the same "
    "salted content hash as hash_split — folds are partitioning- and "
    "run-invariant, so every training job sees the same folds.",
)
def samp_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id",
        (sampling.hash_bucket(F.col("doc_id"), "kfold") % 5)
        .cast("int").alias("fold"),
    )


@register(
    "samp_global_fixed",
    oracle=f"""
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5('gfix|' || CAST(doc_id AS VARCHAR)), 1, 8))
           ::BIGINT AS h
  FROM documents
)
ORDER BY h, doc_id
LIMIT 100
""",
    doc="Global fixed-size deterministic sample: exactly k rows chosen "
    "by salted-hash order — the reservoir-sample replacement whose "
    "membership survives re-runs, backfills, and cluster resizes. "
    "Plans as TakeOrderedAndProject (per-partition top-k, then a "
    "k-row merge on one reducer): no global sort, no full shuffle, "
    "the same plan shape as the reference's TOP-N queries. Full "
    "32-bit hash + key tiebreak makes the order total, so the k-set "
    "is unique.",
)
def samp_global_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.operators.textops import portable_hash32

    d = _t(spark, sf_dir, "documents")["documents"]
    h = portable_hash32(
        F.concat_ws("|", F.lit("gfix"), F.col("doc_id").cast("string"))
    )
    return (
        d.select("doc_id", "lang", h.alias("_h"))
        .orderBy("_h", "doc_id")
        .limit(100)
        .drop("_h")
    )


@register(
    "samp_weighted_pps",
    oracle=f"""
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
FROM documents
WHERE ({_bucket_sql("wpps", "doc_id")}) * 2048
      < least(CAST(length(text) AS BIGINT), 2048) * {sampling.N_BUCKETS}
""",
    doc="Probability-proportional-to-size sampling: keep probability "
    "min(len, 2048)/2048 per document from its character length — the "
    "corpus 'long documents carry more tokens' downsample, without a "
    "sort or a size histogram. Membership is a pure-integer "
    "inequality on the salted content hash (no float round/pow), so "
    "assignment is bit-identical across engines, partitionings, and "
    "row orders. Codegen'd scan filter; zero shuffle.",
)
def samp_weighted_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    kept = sampling.weighted_sample(
        d, F.col("doc_id"), F.length("text"), cap=2048, salt="wpps"
    )
    return kept.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


@register(
    "samp_cluster_split",
    oracle=f"""
WITH RECURSIVE {SQL_NORM_TOKENS},
{SQL_SHINGLES},
{SQL_MINHASH},
{_SQL_LSH_EDGES},
reach AS (
  SELECT a AS src, b AS dst FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component_id
  FROM reach GROUP BY src
),
grouped AS (
  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id, group_id,
       CASE WHEN b < 8000 THEN 'train'
            WHEN b < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, group_id, {_bucket_sql("split", "group_id")} AS b
      FROM grouped)
""",
    doc="Leakage-safe train/val/test split: membership is decided per "
    "near-duplicate CLUSTER, not per document, so two near-dups can "
    "never straddle train and held-out (the contamination a plain "
    "per-doc hash split allows). Composition of three already-verified "
    "operators: MinHash-LSH candidate edges -> hash-min connected "
    "components -> salted-hash split keyed on the cluster id "
    "(singletons key on their own doc_id via a left join, so the "
    "fact-scale side needs only one broadcast-ready join against the "
    "small component map). Deterministic under any partitioning.",
)
def samp_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    edges = dedup.minhash_lsh_candidates(d, num_hashes=16, rows_per_band=4, k=3)
    comp = components.duplicate_clusters(edges).select(
        "doc_id", "component_id"
    )
    grouped = d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("group_id"),
    )
    return sampling.hash_split(
        grouped, F.col("group_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "group_id", "split")


@register(
    "pack_concat_chunks",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
n AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 64
           AS bucket
  FROM tok WHERE len(toks) > 0
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (
           ORDER BY bucket, doc_id ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS tok_end
  FROM n
),
s AS (
  SELECT doc_id, n_tokens, tok_end, tok_end - n_tokens AS tok_start FROM c
),
ch AS (
  SELECT doc_id, tok_start, tok_end,
         unnest(generate_series(tok_start // 2048, (tok_end - 1) // 2048))
           AS chunk_id
  FROM s
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, tok_start, tok_end,
       CAST(least(tok_end, (chunk_id + 1) * 2048)
            - greatest(tok_start, chunk_id * 2048) AS BIGINT) AS span_len
FROM ch
""",
    doc="Concat-and-chunk sequence packing: documents laid out as one "
    "token stream in canonical (hash-bucket, doc_id) order, sliced "
    "into 2048-token training windows; output is each doc's (chunk, "
    "span) coverage. The global prefix sum is the two-pass distributed "
    "form (operators/packing.py): per-bucket totals -> tiny "
    "64-row prefix -> broadcast offsets -> within-bucket window — no "
    "single-partition global sort anywhere. Oracle: one window sum "
    "ordered by (bucket, doc_id), identical layout.",
)
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return packing.concat_chunks(
        d, "doc_id", textops.token_count("text"), ctx=2048, n_buckets=64
    )


@register(
    "pack_sliding_windows",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
n AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM tok
  WHERE len(toks) > 0
),
w AS (
  SELECT doc_id, n,
         unnest(generate_series(0, (n - 1) // 128)) AS win_idx
  FROM n
)
SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
       CAST(win_idx * 128 AS BIGINT) AS tok_start,
       CAST(least(win_idx * 128 + 256, n) AS BIGINT) AS tok_end,
       CAST(least(win_idx * 128 + 256, n) - win_idx * 128 AS BIGINT)
         AS win_len
FROM w
""",
    doc="Intra-document sliding windows (win 256, stride 128): the "
    "long-document segmentation pass for embedding contexts and "
    "extraction, complementary to pack_concat_chunks' cross-document "
    "packing. Pure per-row sequence/explode arithmetic over token "
    "counts — no shuffle, no state, scale-free (operators/packing.py).",
)
def pack_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return packing.sliding_windows(
        d, "doc_id", textops.token_count("text"), win=256, stride=128
    )


@register(
    "corpus_profile",
    oracle=r"""
WITH per AS (
  SELECT lang, source,
         CAST(len(string_split(
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '
         )) AS BIGINT) AS nt,
         CAST(length(text) AS BIGINT) AS nc
  FROM documents
)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       CAST(SUM(nc) AS BIGINT) AS total_chars,
       round(CAST(SUM(nt) AS BIGINT) / COUNT(*), 4) AS avg_tokens
FROM per GROUP BY lang, source
""",
    doc="Per-(lang, source) corpus inventory — doc counts, token and "
    "char totals, token mean — the before/after report every curation "
    "stage prints. Exact integer sums (one end division for the "
    "mean), map-side combined; shuffle volume is the group "
    "cardinality, not the corpus (operators/corpus.py).",
)
def corpus_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return corpus.corpus_profile(d)


@register(
    "samp_token_budget",
    oracle=r"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(len(string_split(
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '
         )) AS BIGINT) AS n_tokens,
         ('0x' || substr(md5('budget|' || CAST(doc_id AS VARCHAR)), 1, 8))
           ::BIGINT % 10000 AS hb,
         CAST(doc_id AS VARCHAR) AS ks
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY hb, ks
           ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cum_size
  FROM sized
)
SELECT doc_id, source, n_tokens, cum_size
FROM cum WHERE cum_size <= 800
""",
    doc="Per-source token-budget selection (~800 tokens each): walk "
    "each source's docs in salted-hash order, keep while the running "
    "token total fits — corpora are blended in token units, not row "
    "counts. Deterministic on any partitioning; ONE hash shuffle on "
    "source, window state one long per group "
    "(operators/sampling.py token_budget_sample).",
)
def samp_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    sized = d.select(
        "doc_id", "source", textops.token_count("text").alias("n_tokens")
    )
    return sampling.token_budget_sample(
        sized, ["source"], F.col("doc_id"), F.col("n_tokens"),
        budget=800, salt="budget",
    ).select("doc_id", "source", "n_tokens", "cum_size")


@register(
    "samp_label_balance",
    oracle=r"""
WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
m AS (SELECT MIN(n) AS m FROM c),
r AS (
  SELECT vec_id, label,
         ROW_NUMBER() OVER (
           PARTITION BY label
           ORDER BY ('0x' || substr(md5('balance|' || CAST(vec_id AS VARCHAR)),
                                    1, 8))::BIGINT % 10000,
                    CAST(vec_id AS VARCHAR)
         ) AS rn
  FROM embeddings
)
SELECT vec_id, label FROM r, m WHERE rn <= m.m
""",
    doc="Class-rebalancing undersample: every label downsampled to the "
    "rarest label's count, membership by salted-hash order — the "
    "deterministic de-skew for labeled training sets. Class sizes are "
    "a map-side-combined aggregate (one row per class), the floor a "
    "one-row broadcast, the pick one row_number shuffle on the class "
    "key (operators/sampling.py balanced_sample).",
)
def samp_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return sampling.balanced_sample(
        e.select("vec_id", "label"), "label", F.col("vec_id"),
        salt="balance",
    ).select("vec_id", "label")


@register(
    "samp_epoch_shard_shuffle",
    oracle="""
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5('epoch1|' || CAST(doc_id AS VARCHAR)), 1, 8))
           ::BIGINT AS hk
  FROM documents
)
SELECT doc_id,
       CAST(hk % 8 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hk % 8
                               ORDER BY hk, doc_id) AS BIGINT)
         AS pos_in_shard
FROM h
""",
    doc="Deterministic epoch shuffle-to-shards: every training epoch "
    "needs the corpus in a fresh pseudo-random order, split into "
    "reader shards — salting the content hash with the epoch number "
    "re-shuffles reproducibly (same epoch = same order on any "
    "cluster, any partitioning; no df.sample/orderBy(rand()) "
    "nondeterminism). Scale shape: shard = hash mod S is a free "
    "scan-side expression; within-shard position is a row_number over "
    "the SHARD key — one hash shuffle, never a global sort, state one "
    "counter per shard. The global-order equivalent would "
    "rangepartition the whole corpus; sharded readers don't need it.",
)
def samp_epoch_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from olist_data_warehouse_spark.operators.textops import portable_hash32

    d = _t(spark, sf_dir, "documents")["documents"]
    hk = portable_hash32(
        F.concat_ws("|", F.lit("epoch1"), F.col("doc_id").cast("string"))
    )
    shard = (hk % 8).cast("int")
    w = Window.partitionBy(shard).orderBy(hk.asc(), F.col("doc_id").asc())
    return d.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


@register(
    "samp_negative_mining",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id AND e.label != q.q_label
),
ranked AS (
  SELECT query_id, neighbor_id, label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, CAST(label AS INT) AS neg_label,
       CAST(rn AS INT) AS rank, cos_sim
FROM ranked WHERE rn <= 5
""",
    doc="Hard-negative mining for contrastive training: for each "
    "anchor, the top-5 most-SIMILAR vectors with a DIFFERENT label — "
    "the near-miss negatives that actually move a contrastive loss "
    "(random negatives are trivially separable). The label-mismatch "
    "predicate filters before scoring, anchors broadcast, the corpus "
    "streams once, and per-anchor top-k is a windowed row_number — "
    "the same plan family as sim_bruteforce_topk. At 100 TB the "
    "anchor batch still broadcasts (mining runs in anchor batches), "
    "and the corpus pass swaps to the IVF/LSH bucketed layout: probe "
    "the anchor's nearest buckets, filter labels there, same "
    "verify-exactly-on-candidates discipline as the dedup family.",
)
def samp_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    queries = e.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        similarity.l2_norm(F.col("embedding")).alias("_q_nrm"),
    )
    corpus = e.select(
        "vec_id",
        "embedding",
        "label",
        similarity.l2_norm(F.col("embedding")).alias("_nrm"),
    )
    pairs = corpus.join(
        F.broadcast(queries),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("q_label")),
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.round(
            similarity.dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("_q_nrm") * F.col("_nrm")),
            4,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "neg_label", "rank", "cos_sim")
    )


@register(
    "samp_soft_dedup",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
  FROM documents
),
corpus AS (
  SELECT doc_id, h FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, h FROM base WHERE doc_id < 50
),
grp AS (
  SELECT h, CAST(count(*) AS BIGINT) AS dup_count
  FROM corpus GROUP BY h
)
SELECT c.doc_id, g.dup_count,
       CASE WHEN ('0x' || substr(md5('soft|' || CAST(c.doc_id AS VARCHAR)),
                                 1, 8))::BIGINT % g.dup_count = 0
            THEN 1 ELSE 0 END AS kept
FROM corpus c JOIN grp g ON c.h = g.h
""",
    doc="Soft (probabilistic) dedup — the RefinedWeb/Gopher policy of "
    "DOWNWEIGHTING duplicates instead of hard-keeping one: each copy "
    "in an n-way duplicate cluster survives iff its salted hash "
    "falls in the 1/n bucket, so a cluster contributes ~1 expected "
    "copy while unique docs always survive (dup_count=1 -> any hash "
    "% 1 == 0). Deterministic, partition/order-invariant (pure "
    "function of doc_id + cluster size — same sampling contract as "
    "samp_hash_split), and it preserves natural-distribution mass "
    "where hard dedup would bias toward first occurrences. Shape: "
    "one groupBy on the text md5 + one hash join back on the digest "
    "— text never shuffles; at 100 TB the join broadcasts nothing "
    "and AQE handles the dup-cluster skew.",
)
def samp_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    base = d.select(
        "doc_id", F.md5(textops.normalize_text(F.col("text"))).alias("h")
    )
    corpus = base.unionByName(
        base.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "h"
        )
    )
    grp = corpus.groupBy("h").agg(F.count(F.lit(1)).alias("dup_count"))
    bucket = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit("soft"), F.col("doc_id"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return corpus.join(grp, "h").select(
        "doc_id",
        "dup_count",
        F.when(bucket % F.col("dup_count") == 0, 1)
        .otherwise(0)
        .alias("kept"),
    )


@register(
    "samp_weighted_fixed_k",
    oracle="""
WITH u AS (
  SELECT doc_id, n_chars,
         (('0x' || substr(md5('aes|' || CAST(doc_id AS VARCHAR)), 1, 8))
            ::BIGINT % 1048576 + 1) / 1048576.0 AS uval
  FROM documents
  WHERE n_chars > 0
),
keyed AS (
  SELECT doc_id, n_chars,
         round(ln(uval) / n_chars, 12) AS skey
  FROM u
)
SELECT doc_id, n_chars FROM keyed
ORDER BY skey DESC, doc_id LIMIT 50
""",
    doc="EXACTLY-k weighted sampling without replacement (Efraimidis-"
    "Spirakis A-ES): each row draws u from its salted content hash "
    "(an exact binary fraction, engine-identical) and keys on "
    "ln(u)/w; the k largest keys are a weight-proportional fixed-"
    "size sample. Completes the sampling family's matrix — PPS is "
    "weighted but Bernoulli (random size), global_fixed is exactly-k "
    "but unweighted; this is both. Deterministic and partition-"
    "invariant like every membership rule here; the single float op "
    "(one ln per row) rounds to 1e-12 before ranking so a last-ulp "
    "libm difference can't move the k-boundary, with doc_id as the "
    "tie-break. Plans as TakeOrderedAndProject over a narrow scan — "
    "no shuffle, no window, no global sort.",
)
def samp_weighted_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    u = (
        textops.portable_hash32(
            F.concat_ws("|", F.lit("aes"), F.col("doc_id").cast("string"))
        )
        % 1048576
        + 1
    ) / F.lit(1048576.0)
    skey = F.round(F.log(u) / F.col("n_chars"), 12)
    return (
        d.filter(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", skey.alias("_s"))
        .orderBy(F.desc("_s"), "doc_id")
        .limit(50)
        .select("doc_id", "n_chars")
    )


@register(
    "samp_temporal_embargo",
    oracle="""
WITH d AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
labeled AS (
  SELECT CASE WHEN day < 10970 THEN 'train'
              WHEN day < 11000 THEN 'embargo'
              ELSE 'test' END AS split,
         day, cents
  FROM d
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(day) AS min_day, max(day) AS max_day,
       CAST(sum(cents) AS BIGINT) AS cents_total
FROM labeled GROUP BY split
""",
    doc="Temporal train/test split with an EMBARGO gap — the "
    "time-series-ML split rule (forecasting, fraud, ranking-model "
    "backtests): everything before the cutoff minus a 30-day embargo "
    "trains, everything after the cutoff tests, and the embargo rows "
    "between are DROPPED from both sides so label-window leakage "
    "(labels computed from post-cutoff behavior of pre-cutoff rows) "
    "cannot straddle the boundary — the temporal counterpart of "
    "samp_cluster_split's content-leakage rule. Assignment is a pure "
    "integer epoch-day comparison: partitioning/order-invariant, "
    "re-runs reproduce membership exactly. Plan: one scan, one "
    "map-side-combined 3-group aggregate — the split audit costs one "
    "pass and the split itself is a scan-stage filter that composes "
    "under any downstream operator (and prunes files outright on a "
    "date-partitioned layout).",
)
def samp_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    d = o.select(
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    split = (
        F.when(F.col("day") < 10970, "train")
        .when(F.col("day") < 11000, "embargo")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "day", "cents")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
            F.sum("cents").alias("cents_total"),
        )
    )


@register(
    "pipe_pretrain_layout",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
scored AS (
  SELECT doc_id, t, toks,
       {_SCORE_COLS}
  FROM tok
),
feats AS (
  SELECT doc_id, t,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         round(CAST(len(list_filter(toks, x -> x IN ({_STOPWORDS_SQL})))
                    AS BIGINT) / CAST(len(toks) AS DOUBLE), 4)
           AS stopword_ratio,
         {_LANG_CASE} AS lang_pred,
         md5(t) AS fingerprint
  FROM scored
),
kept AS (
  SELECT * FROM feats
  WHERE n_tokens >= 30 AND stopword_ratio >= 0.03 AND lang_pred = 'en'
),
canon AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                                 ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
train AS (
  SELECT doc_id, n_tokens
  FROM (SELECT *, {_bucket_sql("split", "doc_id")} AS b FROM canon)
  WHERE b < 8000
),
n AS (
  SELECT doc_id, n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 64
           AS bucket
  FROM train WHERE n_tokens > 0
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (
           ORDER BY bucket, doc_id ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS tok_end
  FROM n
),
s AS (
  SELECT doc_id, n_tokens, tok_end, tok_end - n_tokens AS tok_start FROM c
),
ch AS (
  SELECT doc_id, tok_start, tok_end,
         unnest(generate_series(tok_start // 1024, (tok_end - 1) // 1024))
           AS chunk_id
  FROM s
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, tok_start, tok_end,
       CAST(least(tok_end, (chunk_id + 1) * 1024)
            - greatest(tok_start, chunk_id * 1024) AS BIGINT) AS span_len
FROM ch
""",
    doc="The pre-training data layout end-to-end, ONE composed plan: "
    "quality filter -> language filter -> exact dedup -> leakage-"
    "safe hash split -> TRAIN slice -> concat-and-chunk packing into "
    "1024-token windows. Every stage is the already-oracle-verified "
    "operator reused verbatim (pipe_corpus_curation feeding "
    "packing.concat_chunks), which is the point: curation decisions "
    "and the physical training layout stay ONE lineage — no "
    "intermediate table whose staleness can desynchronize what was "
    "selected from what gets packed. Plan shape: the curation side "
    "is one digest shuffle; packing adds the two-pass distributed "
    "prefix sum (64-row bucket offsets broadcast back) — nothing "
    "global-sorts, and the corpus text itself never moves past the "
    "scan stage.",
)
def pipe_pretrain_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    curated = pipe_corpus_curation(spark, sf_dir)
    train = curated.filter(F.col("split") == "train")
    return packing.concat_chunks(
        train, "doc_id", F.col("n_tokens"), ctx=1024, n_buckets=64
    )


@register(
    "samp_apportion_lr",
    oracle="""
WITH strata AS (
  SELECT o_orderpriority AS stratum, CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM strata),
quota AS (
  SELECT stratum, n,
         (1000 * n) // t AS base,
         (1000 * n) % t AS rem
  FROM strata CROSS JOIN tot
),
short AS (
  SELECT CAST(1000 - sum(base) AS BIGINT) AS k_left FROM quota
),
ranked AS (
  SELECT stratum, n, base, rem,
         ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rk
  FROM quota
)
SELECT r.stratum, r.n,
       CAST(r.base + CASE WHEN r.rk <= s.k_left THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked r CROSS JOIN short s
""",
    doc="Largest-remainder (Hamilton) apportionment of a fixed sample "
    "budget (k=1000) across strata, exactly: integer base quotas "
    "floor(k*n_s/N) plus one extra for the strata with the largest "
    "remainders (k*n_s mod N, ties to stratum name) until the budget "
    "is spent — allocations sum to EXACTLY k and are within one of "
    "true proportionality, which per-stratum float rounding cannot "
    "guarantee. This is the missing piece between samp_stratified "
    "(fractions, not exact counts) and samp_weighted_fixed_k (exact "
    "k, no strata): the apportionment FEEDS a per-stratum exact-k "
    "selection (hash top-k within stratum, samp_per_group_topn's "
    "shape). Pure BIGINT floor-div/mod throughout; the remainder "
    "ranking is a window over O(strata) rows.",
)
def samp_apportion_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")["orders"]
    strata = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = strata.agg(F.sum("n").alias("t"))
    quota = strata.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n",
        F.expr("(1000 * n) div t").alias("base"),
        ((1000 * F.col("n")) % F.col("t")).alias("rem"),
    )
    short = quota.agg((F.lit(1000) - F.sum("base")).alias("k_left"))
    wr = Window.orderBy(F.desc("rem"), F.asc("stratum"))
    return (
        quota.withColumn("rk", F.row_number().over(wr))
        .crossJoin(F.broadcast(short))
        .select(
            "stratum",
            "n",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("k_left"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
    )


@register(
    "samp_entity_split",
    oracle=f"""
WITH labeled AS (
  SELECT event_id, user_id,
         CASE WHEN {_bucket_sql("usersplit", "user_id")} < 8000
              THEN 'train'
              WHEN {_bucket_sql("usersplit", "user_id")} < 9000
              THEN 'val' ELSE 'test' END AS split
  FROM events
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM labeled GROUP BY split
""",
    doc="ENTITY-level train/val/test split: membership is hashed from "
    "the USER id, not the row, so every event of a user lands in the "
    "same split BY CONSTRUCTION — the third leg of the leakage-split "
    "triad (samp_cluster_split: near-dup content can't straddle; "
    "samp_temporal_embargo: label windows can't straddle; this: "
    "per-entity behavioral signal can't straddle — the requirement "
    "for any per-user model eval). Same salted-hash membership rule "
    "as samp_hash_split (partition/order-invariant, reproducible); "
    "the audit is one scan + a 3-group aggregate with per-split "
    "distinct users.",
)
def samp_entity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    labeled = sampling.hash_split(
        e, F.col("user_id"), {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="usersplit",
    )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "pack_balanced_shards",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
sized AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
  FROM tok WHERE len(toks) > 0
),
ranked AS (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rk
  FROM sized
),
assigned AS (
  SELECT doc_id, n_tokens, (rk - 1) % 16 AS shard FROM ranked
),
loads AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tok_total
  FROM assigned GROUP BY shard
),
tot AS (SELECT CAST(sum(tok_total) AS BIGINT) AS t FROM loads)
SELECT shard, n_docs, tok_total,
       CAST((1000000 * 16 * tok_total) // t AS BIGINT) AS load_ppm_of_mean
FROM loads CROSS JOIN tot
""",
    doc="Balanced shard packing by LPT round-robin: documents ranked "
    "by token count DESC and dealt (rank-1) mod W into W=16 shards — "
    "the deterministic, fully-declarative form of longest-processing-"
    "time-first scheduling that keeps training-shard files near-"
    "uniform (big docs spread first, small docs fill the gaps; "
    "sequential greedy least-loaded packing does not distribute). "
    "The report shows per-shard doc count, token load, and the load "
    "as ppm of the perfectly-even mean via integer cross-"
    "multiplication (1e6·W·load div total — 1e6 = exactly even). "
    "Complements pack_concat_chunks (WITHIN-shard layout) with the "
    "ACROSS-shard assignment. One size rollup + one DISTRIBUTED rank "
    "over O(docs) (doc_id, n_tokens) pairs: the global "
    "ROW_NUMBER is the two-pass range-banded rank "
    "(packing.banded_global_rank — band on -(n_tokens div 16), rank "
    "within band, offset by broadcast per-band counts), so no "
    "single-partition window ever sees the doc table; at 100 TB the "
    "rank runs on the size table, never the text.",
)
def pack_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.operators.packing import (
        banded_global_rank,
    )

    d = _t(spark, sf_dir, "documents")["documents"]
    sized = d.select(
        "doc_id", textops.token_count("text").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    # Band is monotone in the DESC sort key: -(n div 16) ascends as
    # n_tokens descends, so the banded rank equals the global rank.
    ranked = banded_global_rank(
        sized,
        band=F.expr("-(n_tokens div 16)"),
        order_by=[F.desc("n_tokens"), F.asc("doc_id")],
    )
    assigned = ranked.select(
        "doc_id",
        "n_tokens",
        ((F.col("rk") - 1) % 16).alias("shard"),
    )
    loads = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_total"),
    )
    tot = loads.agg(F.sum("tok_total").alias("t"))
    return loads.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "tok_total",
        F.expr(
            "CAST((1000000 * 16 * tok_total) div t AS BIGINT)"
        ).alias("load_ppm_of_mean"),
    )


@register(
    "samp_dsir_importance",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
words AS (SELECT doc_id, lang, unnest(toks) AS word FROM tok),
w AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(word), 1, 8))::BIGINT % 64 AS b
  FROM words WHERE word != ''
),
spine AS (SELECT unnest(generate_series(0, 63)) AS b),
c AS (
  SELECT s.b,
         CAST(COALESCE(SUM(CASE WHEN w.lang = 'en' THEN 1 END), 0) + 1
              AS BIGINT) AS a,
         CAST(COUNT(w.b) + 1 AS BIGINT) AS r
  FROM spine s LEFT JOIN w ON w.b = s.b
  GROUP BY s.b
),
t AS (SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(r) AS BIGINT) AS tr
      FROM c),
sc AS (
  SELECT c.b,
         CAST(floor(1000000.0 * ln(
             CAST(GREATEST((1000000 * c.a) // t.ta, 1) AS DOUBLE) /
             GREATEST((1000000 * c.r) // t.tr, 1))) AS BIGINT)
           AS score_micro
  FROM c CROSS JOIN t
),
dc AS (SELECT doc_id, b, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
dw AS (
  SELECT dc.doc_id,
         CAST(SUM(dc.cnt * sc.score_micro) AS BIGINT) AS weight_micro
  FROM dc JOIN sc ON sc.b = dc.b
  GROUP BY dc.doc_id
)
SELECT doc_id, weight_micro FROM dw WHERE weight_micro > 0
""",
    doc="Importance resampling for target-domain data selection — the "
    "public DSIR recipe (Xie et al., 'Data Selection for Language "
    "Models via Importance Resampling', NeurIPS 2023) with this "
    "repo's determinism discipline. Features are hashed word unigrams "
    "(portable 32-bit hash mod 64 buckets); target (lang='en') and "
    "raw bag-of-buckets models get add-one smoothing over the full "
    "bucket spine; per-bucket log-likelihood ratios follow the "
    "PSI/BM25 precedent — shares in floor-div ppm clamped >= 1, ONE "
    "ln per BUCKET floored to micro-nats — so each document's "
    "importance weight is an exact BIGINT dot product (token-bucket "
    "counts x bucket scores) and selection (weight > 0: more "
    "target-like than the raw average) is engine-exact, no float "
    "boundary can flip membership. Scale shape: the 64-row bucket "
    "model is a broadcast; the heavy operations are one token-bucket "
    "shuffle bounded by |docs| x 64 partial-aggregated rows and a "
    "map-side dot product. At 100 TB this runs once per target domain "
    "to score the whole raw corpus; the paper's Gumbel top-k variant "
    "swaps the deterministic threshold for a seeded-noise threshold "
    "on the same weights.",
)
def samp_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    n_buckets = 64
    w = (
        d.select(
            "doc_id",
            "lang",
            F.explode(textops.tokens("text")).alias("word"),
        )
        .filter(F.col("word") != "")
        .select(
            "doc_id",
            "lang",
            (textops.portable_hash32("word") % n_buckets).alias("b"),
        )
    )
    spine = spark.range(n_buckets).select(F.col("id").alias("b"))
    c = (
        spine.join(w, "b", "left")
        .groupBy("b")
        .agg(
            (
                F.coalesce(
                    F.sum(F.when(F.col("lang") == "en", 1)), F.lit(0)
                )
                + 1
            )
            .cast("long")
            .alias("a"),
            (F.count("doc_id") + 1).cast("long").alias("r"),
        )
    )
    t = c.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("r").cast("long").alias("tr"),
    )
    sc = c.crossJoin(F.broadcast(t)).select(
        "b",
        F.floor(
            F.lit(1000000.0)
            * F.log(
                F.greatest(
                    F.expr("(1000000 * a) div ta"), F.lit(1).cast("long")
                ).cast("double")
                / F.greatest(
                    F.expr("(1000000 * r) div tr"), F.lit(1).cast("long")
                )
            )
        )
        .cast("long")
        .alias("score_micro"),
    )
    dc = w.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    dw = (
        dc.join(F.broadcast(sc), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("score_micro"))
            .cast("long")
            .alias("weight_micro")
        )
    )
    return dw.where(F.col("weight_micro") > 0)
