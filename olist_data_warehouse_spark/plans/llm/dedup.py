"""Dedup and decontamination query entries.

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
    "dedup_exact",
    oracle=r"""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM documents
)
SELECT min(doc_id) AS doc_id, fingerprint FROM fp GROUP BY fingerprint
""",
    doc="Exact dedup: hash-groupBy on normalized-content digest, min "
    "doc_id survives. One shuffle of (digest, id); text never moves.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return dedup.exact_dedup(d)


@register(
    "dedup_exact_groups",
    oracle=r"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50
),
fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM all_docs
)
SELECT fingerprint, min(doc_id) AS canonical_doc_id, count(doc_id) AS n_dups
FROM fp GROUP BY fingerprint HAVING count(doc_id) > 1
""",
    doc="Duplicate-group detection, exercised on a corpus with seeded "
    "dups (docs 0-49 duplicated under shifted ids).",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    with_dups = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return dedup.exact_duplicate_groups(with_dups)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES},
shh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
  FROM sh
),
kept AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= 100),
shf AS (SELECT shh.doc_id, shh.h FROM shh JOIN kept USING (h)),
sizes AS (SELECT doc_id, count(h) AS set_size FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(a.h) AS n_inter
  FROM shf a JOIN shf b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE), 4)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE), 4)
      >= 0.12
""",
    doc="n-gram Jaccard near-dup pairs (3-word shingles, thr 0.12) "
    "WITH the shingle-DF skew cap on (df ≤ 100): a stop-shingle shared "
    "by every doc would hot-spot the self-join into one reducer — the "
    "cap drops it before the join, in both engines, exactly like "
    "stop-word removal. At 100 TB this runs as the verify stage behind "
    "LSH; the cap is what makes the standalone form survivable.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return dedup.ngram_jaccard_pairs(d, k=3, threshold=0.12, max_shingle_df=100)


@register(
    "dedup_containment",
    oracle=r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         substr(text, 1, CAST(floor(length(text) / 2) AS INT)) AS text
  FROM documents WHERE doc_id < 40
),
norm AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM corpus
),
tok AS (SELECT doc_id, t, string_split(t, ' ') AS toks FROM norm),
shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [t] END AS shingles
  FROM tok
),
sh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shingled),
shh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
  FROM sh
),
kept AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= 100),
shf AS (SELECT shh.doc_id, shh.h FROM shh JOIN kept USING (h)),
sizes AS (SELECT doc_id, count(h) AS set_size FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(a.h) AS n_inter
  FROM shf a JOIN shf b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / CAST(least(sa.set_size, sb.set_size) AS DOUBLE), 4)
         AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / CAST(least(sa.set_size, sb.set_size) AS DOUBLE), 4)
      >= 0.6
""",
    doc="Shingle CONTAINMENT dedup |A∩B|/min(|A|,|B|) ≥ 0.6 — the "
    "near-superset pass Jaccard structurally misses (a doc embedded "
    "verbatim in a longer one scores Jaccard ≈ |A|/|B| → 0 but "
    "containment ≈ 1). Exercised on a corpus with seeded crops: the "
    "first half of docs 0-39 re-enters under shifted ids, and every "
    "crop must surface against its source. Same hashed-shingle core, "
    "DF-100 skew cap, and plan shape as dedup_ngram_jaccard "
    "(operators/dedup.py:_shingle_pair_stats — shared verifier core); "
    "at 100 TB both run as the verify stage behind LSH discovery.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    crops = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr(
            "substring(text, 1, CAST(floor(length(text) / 2) AS INT))"
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(crops)
    return dedup.containment_pairs(
        corpus, k=3, threshold=0.6, max_shingle_df=100
    )


@register(
    "dedup_minhash_signatures",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES},
{SQL_MINHASH}
SELECT doc_id, CAST(hash_idx AS INT) AS hash_idx, minhash FROM signatures
""",
    doc="MinHash signatures (16 Carter-Wegman permutations mod 2^31-1 "
    "over portable md5-based shingle hashes) — bit-for-bit reproducible "
    "in the oracle. Two compact shuffles; no UDFs.",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return dedup.minhash_signatures(d, num_hashes=16, k=3).select(
        "doc_id", F.col("hash_idx").cast("int").alias("hash_idx"), "minhash"
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES},
{SQL_MINHASH},
buckets AS (
  SELECT doc_id, CAST(hash_idx // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_idx))
           AS band_digest
  FROM signatures
  GROUP BY doc_id, CAST(hash_idx // 4 AS INT)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.band_digest = b.band_digest
WHERE a.doc_id < b.doc_id
""",
    doc="MinHash-LSH candidate pairs (16 hashes, 4 bands × 4 rows): "
    "docs meet only within equal band digests — the discovery stage "
    "that replaces the quadratic join at scale.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return dedup.minhash_lsh_candidates(d, num_hashes=16, rows_per_band=4, k=3)


@register(
    "dedup_simhash",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
tokens_flat AS (
  SELECT doc_id, unnest(toks) AS token FROM tok
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
  FROM tokens_flat
),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
            AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
""",
    doc="SimHash (32-bit): per-token bit votes; near-dups land within "
    "small hamming distance. Relational form for parity; the scale "
    "path computes the same per-partition with an Arrow batch.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return dedup.simhash(d, bits=32)


@register(
    "dedup_simhash_hamming",
    oracle=r"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         text || ' extra trailing words appended here' AS text
  FROM documents WHERE doc_id < 50
),
norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM all_docs
),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
tokens_flat AS (SELECT doc_id, unnest(toks) AS token FROM tok),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
  FROM tokens_flat
),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit)
  GROUP BY doc_id, bit
),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, band, (simhash >> (8 * band)) & 255 AS val
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
    doc="COMPLETE hamming-<=3 SimHash near-dup search via pigeonhole "
    "banding: signatures within hamming k < n_bands must agree exactly "
    "on >=1 of the 4 byte-bands, so the (band, value) equi-join finds "
    "every qualifying pair — exact search in hash-join shape, no "
    "nested loop, no approximation. Exercised on a corpus with seeded "
    "near-dups (docs 0-49 re-appended with a short suffix under "
    "shifted ids); the signature rides the join so verify needs no "
    "second lookup.",
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    with_dups = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                "text", F.lit(" extra trailing words appended here")
            ).alias("text"),
        )
    )
    return dedup.simhash_hamming_pairs(with_dups, max_hamming=3, n_bands=4)


@register(
    "decon_ngram_overlap",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
hits AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits
  FROM train t LEFT JOIN bench b ON t.shingle = b.shingle
  GROUP BY t.doc_id
)
SELECT doc_id, n_shingles, n_hits,
       round(n_hits / CAST(n_shingles AS DOUBLE), 4) AS contamination
FROM hits
""",
    doc="Benchmark decontamination: per-training-doc fraction of "
    "distinct 3-word shingles that also occur in a held-out benchmark "
    "set (docs with doc_id % 97 == 0 stand in for the eval corpus). "
    "Bench shingles broadcast (eval corpora are tiny vs. the corpus); "
    "per-doc shingle dedup happens in array land with no exchange; the "
    "one shuffle carries a single row per document after map-side "
    "partial agg.",
)
def decon_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return dedup.benchmark_contamination(train, bench, k=3)


@register(
    "dedup_embedding_lsh",
    oracle=f"""
WITH buckets AS (
{_EMB_LSH_BUCKETS_SQL}
),
kept AS (
  SELECT band, bucket FROM buckets
  GROUP BY band, bucket HAVING COUNT(*) <= {_EMB_LSH_MAX_BUCKET}
),
bucketsf AS (
  SELECT b.* FROM buckets b JOIN kept USING (band, bucket)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bucketsf a
  JOIN bucketsf b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
pairs AS (
  SELECT vec_a, vec_b,
         {_COS_SQL.format(a="ea.embedding", b="eb.embedding")} AS cos_sim
  FROM cand
  JOIN embeddings ea ON ea.vec_id = vec_a
  JOIN embeddings eb ON eb.vec_id = vec_b
)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.35
""",
    doc="Embedding near-dup pairs, bucketed: banded random-hyperplane "
    "LSH discovery (8 bands × 8 planes = 256 buckets/band, equi-join "
    "on (band, bucket) — ids only, embeddings never shuffle) then "
    "exact-cosine verify on the candidate set, with a hot-bucket cap "
    "as the skew fuse (degenerate embedding regions drop from "
    "discovery, mirroring the shingle-DF cap). The 100 TB composition "
    "of the all-pairs verify stage; every join is a hash join "
    "(plan-pinned no-nested-loop).",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.lsh_near_dup_pairs(
        e, threshold=0.35,
        n_bands=_EMB_LSH_BANDS, planes_per_band=_EMB_LSH_PLANES_PER_BAND,
        max_bucket_size=_EMB_LSH_MAX_BUCKET,
    )


@register(
    "dedup_semdedup",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < 16
),
assign_scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_COS_SQL.format(a="e.embedding", b="c.c_emb")} AS cos_sim
  FROM embeddings e CROSS JOIN c
  WHERE e.vec_id IS NOT NULL
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, centroid_id) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a="a.embedding", b="b.embedding")} >= 0.32
)
SELECT vec_id, centroid_id FROM assigned s
WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.vec_id = s.vec_id)
""",
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic "
    "dedup by k-means-style clustering then WITHIN-CLUSTER pairwise "
    "cosine — the public recipe that replaced O(N^2) all-pairs "
    "embedding dedup with k*(N/k)^2 intra-cluster work on LAION/C4 "
    "corpora. Clustering = the deterministic IVF seed assignment "
    "(literal centroids, argmax inside the corpus scan); survivors = "
    "vectors with no smaller-id cluster-mate at >= 0.32 cosine (the "
    "keep-lowest-id convention). The oracle restates assignment, "
    "intra-cluster pair discovery, and the NOT-EXISTS survivor set "
    "relationally — a wrong cluster boundary, a missed pair, or a "
    "tie-break drift all hash-mismatch. At 100 TB n_centroids grows "
    "as N/target_cluster_size so the self-join stays bounded per "
    "cluster; discovery cost is the paper's headline saving.",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.semdedup(e, n_centroids=16, threshold=0.32)


@register(
    "dedup_cc_groups",
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
sizes AS (
  SELECT component_id, COUNT(*) AS n_members FROM comp GROUP BY component_id
)
SELECT c.doc_id, c.component_id, s.n_members,
       c.doc_id = c.component_id AS is_canonical
FROM comp c JOIN sizes s USING (component_id)
""",
    doc="Transitive closure of MinHash-LSH candidate pairs into "
    "duplicate clusters via hash-min label propagation "
    "(operators/components.py): if A~B and B~C then {A,B,C} is one "
    "group with one canonical survivor — the pairs->clusters step "
    "every corpus dedup needs. Per round: one (long,long) shuffle "
    "join + groupBy-min, lineage cut by localCheckpoint; rounds = "
    "graph diameter (near-dup graphs are shallow). Oracle: recursive-"
    "CTE reachability, same min-id labeling.",
)
def dedup_cc_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    edges = dedup.minhash_lsh_candidates(d, num_hashes=16, rows_per_band=4, k=3)
    return components.duplicate_clusters(edges)


@register(
    "dedup_affix_groups",
    oracle=r"""
WITH tok AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                      ' ') AS t
  FROM documents
  WHERE text IS NOT NULL
),
fp AS (
  SELECT doc_id, md5(array_to_string(t[1:8], ' ')) AS prefix_fp
  FROM tok
)
SELECT prefix_fp,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id
FROM fp
GROUP BY prefix_fp
HAVING COUNT(*) >= 2
""",
    doc="Affix (shared-prefix) grouping: documents whose first 8 "
    "normalized tokens are identical — the template/boilerplate-header "
    "detector (scraped pages sharing a banner, form letters, license "
    "headers) that complements whole-doc fingerprints: it catches "
    "near-copies whose tails diverge. One md5 per doc, one "
    "map-side-combined groupBy on the fingerprint — the text itself "
    "never shuffles, same shape as dedup_exact_groups.",
)
def dedup_affix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    fp = F.md5(F.concat_ws(" ", F.slice(textops.tokens("text"), 1, 8)))
    return (
        # Textless docs share no prefix with anything: excluded on both
        # sides, or concat_ws's null-skip would md5('') them into one
        # fake 49-doc "template" group (null_fuzz_sweep).
        d.filter(F.col("text").isNotNull())
        .select("doc_id", fp.alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "decon_bloom_prefilter",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES},
bench AS (SELECT DISTINCT shingle FROM sh
          WHERE doc_id % 97 = 0 AND shingle IS NOT NULL),
hashes AS (SELECT unnest([0, 1, 2]) AS i),
pos AS (
  SELECT DISTINCT
         ('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || shingle), 1, 8))
           ::BIGINT % {bloom.M_BITS_DEFAULT} AS p
  FROM bench CROSS JOIN hashes
),
train AS (SELECT doc_id, shingle FROM sh
          WHERE doc_id % 97 <> 0 AND shingle IS NOT NULL),
tested AS (
  SELECT doc_id,
         NOT EXISTS (
           SELECT 1 FROM hashes h
           WHERE ('0x' || substr(md5(CAST(h.i AS VARCHAR) || '|'
                                     || shingle), 1, 8))::BIGINT
                   % {bloom.M_BITS_DEFAULT} NOT IN (SELECT p FROM pos)
         ) AS might
  FROM train
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN might THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_hits,
       round(sum(CASE WHEN might THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS contamination_ub
FROM tested
GROUP BY doc_id
""",
    doc="Bloom-accelerated decontamination: the bench set's shingles "
    "collapse to an 8 KB bitset (a plan literal, not a broadcast "
    "join) and every training shingle tests against it INSIDE the "
    "scan — the per-doc result is an upper bound on contamination "
    "(false positives only, never negatives), so docs with zero bloom "
    "hits skip the exact verify (decon_ngram_overlap) entirely. At "
    "100 TB this is the shape that matters: membership costs zero "
    "shuffle and the exact join runs on the tiny flagged remainder. "
    "Portable hash family -> the oracle reproduces every false "
    "positive bit-for-bit.",
)
def decon_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    # A NULL shingle (textless doc) can neither populate nor test the
    # filter — and on the SQL side a NULL bit position in the set
    # poisons every NOT IN membership test to 'unknown'. Excluded on
    # both sides (null_fuzz_sweep).
    bench_sh = (
        dedup.shingle_sets(bench, 3)
        .filter(F.col("shingle").isNotNull())
        .select("shingle")
        .distinct()
    )
    words = bloom.bloom_build(bench_sh, F.col("shingle"))
    train_sh = dedup.shingle_sets(train, 3).filter(
        F.col("shingle").isNotNull()
    )
    hit = F.when(
        bloom.bloom_might_contain(F.col("shingle"), words), 1
    ).otherwise(0)
    return (
        train_sh.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(hit).alias("n_bloom_hits"),
        )
        .withColumn(
            "contamination_ub",
            F.round(
                F.col("n_bloom_hits") / F.col("n_shingles").cast("double"), 4
            ),
        )
    )


SPAN_W = 8  # words per span chunk


@register(
    "dedup_span_chunks",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
ch AS (
  SELECT doc_id,
         generate_subscripts(chs, 1) - 1 AS idx,
         unnest(chs) AS chunk
  FROM (
    SELECT doc_id,
           list_transform(
             range(0, len(toks) // {SPAN_W}),
             i -> array_to_string(
                    toks[i * {SPAN_W} + 1 : i * {SPAN_W} + {SPAN_W}], ' ')
           ) AS chs
    FROM tok WHERE len(toks) >= {SPAN_W}
  )
),
occ AS (
  SELECT doc_id, md5(chunk) AS h, doc_id * 100000 + idx AS k
  FROM ch
),
mins AS (SELECT h, MIN(k) AS mk FROM occ GROUP BY h)
SELECT o.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN o.k = m.mk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       round(sum(CASE WHEN o.k = m.mk THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS retained_ratio
FROM occ o JOIN mins m ON o.h = m.h
GROUP BY 1
""",
    doc="Paragraph-granularity exact dedup (the Dolma / RefinedWeb "
    "'dedupe paragraphs, keep documents' pass), adapted to the "
    "synthetic corpus's newline-free text as fixed 8-word spans: "
    "every non-overlapping span is kept only at its globally first "
    "occurrence (min doc_id, then min position — an integer-packed "
    "key so the tie-break is one MIN, not a struct ordering), and "
    "each document reports how much of it survives. Scale shape: "
    "spans are md5'd IMMEDIATELY so the shuffle moves 32-hex keys, "
    "never text; first-occurrence is a map-side-combined MIN per hash "
    "joined back on h (NOT a window over h: a boilerplate span "
    "repeated corpus-wide makes h a hot key, and AQE can split a "
    "skewed join but not a window partition), and the per-doc rollup "
    "partially aggregates map-side. 128-bit keys make collisions "
    "negligible at any corpus size (~1e-18 at 10^12 spans).",
)
def dedup_span_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")["documents"]
    W = SPAN_W
    toks = d.select(
        "doc_id", textops.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= W)
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), (F.size("toks") / W).cast("int") - 1
                ),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * W + 1, W), " "
                ),
            )
        ).alias("idx", "chunk"),
    )
    occ = chunks.select(
        "doc_id",
        F.md5("chunk").alias("h"),
        (F.col("doc_id") * 100000 + F.col("idx")).alias("k"),
    )
    # First-occurrence via groupBy+join rather than a window MIN over
    # the hash: same shuffle volume (both hash-partition on h), but a
    # boilerplate span repeated across the whole corpus makes h a hot
    # key — AQE can split a skewed JOIN, while a skewed window
    # partition is one indivisible task. The map-side partial MIN also
    # collapses the hot key before it ever crosses the wire.
    mins = occ.groupBy("h").agg(F.min("k").alias("mk"))
    kept = F.when(F.col("k") == F.col("mk"), 1).otherwise(0)
    return (
        occ.join(mins, "h")
        .withColumn("kept", kept)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("kept").alias("n_kept"),
        )
        .withColumn(
            "retained_ratio",
            F.round(F.col("n_kept") / F.col("n_chunks").cast("double"), 4),
        )
    )


_KEEP_BEST_PACK = 10_000_000


@register(
    "dedup_keep_best",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      ' ') AS t
  FROM documents
),
corpus AS (
  SELECT doc_id, t FROM base
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         t[1 : greatest(8, len(t) // 2)] AS t
  FROM base WHERE doc_id < 50
),
fp AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         md5(array_to_string(t[1:8], ' ')) AS prefix_fp
  FROM corpus WHERE len(t) >= 8
),
grp AS (
  SELECT prefix_fp,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         MAX(n_tokens * {_KEEP_BEST_PACK} + ({_KEEP_BEST_PACK} - 1)
             - doc_id) AS packed
  FROM fp GROUP BY prefix_fp HAVING COUNT(*) >= 2
)
SELECT prefix_fp, n_docs,
       CAST((packed + {_KEEP_BEST_PACK} - 1) // {_KEEP_BEST_PACK}
            AS BIGINT) AS kept_n_tokens,
       CAST((packed + {_KEEP_BEST_PACK} - 1) // {_KEEP_BEST_PACK}
            * {_KEEP_BEST_PACK} + ({_KEEP_BEST_PACK} - 1) - packed
            AS BIGINT) AS kept_doc_id
FROM grp
""",
    doc="Quality-aware dedup: within a duplicate group keep the BEST "
    "exemplar, not the first seen — the curation policy real corpora "
    "use (among a page and its truncated syndicated copies, keep the "
    "longest). Near-copies are synthesized by re-adding the first 50 "
    "docs truncated to half length (same 8-token prefix -> same "
    "group, fewer tokens -> loses). The argmax is a PACKED INTEGER "
    "MAX — n_tokens*1e7 + (1e7-1-doc_id), so one plain aggregate "
    "yields (max tokens, tie -> min doc_id) and both fields decode "
    "exactly — which map-side combines like any MAX; no window, no "
    "sort, no join, and the md5 group key means text never shuffles. "
    "Contrast w1_window_topn_per_group: a windowed row_number needs "
    "a per-group sort; the packed MAX is the shape that survives a "
    "billion groups.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    P = _KEEP_BEST_PACK
    base = d.select("doc_id", textops.tokens(F.col("text")).alias("t"))
    trunc = base.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.slice(
            F.col("t"), 1, F.greatest(F.lit(8), F.expr("size(t) div 2"))
        ).alias("t"),
    )
    corpus = base.unionByName(trunc).filter(F.size("t") >= 8)
    fp = corpus.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.slice(F.col("t"), 1, 8))).alias(
            "prefix_fp"
        ),
    )
    packed_col = (
        F.col("n_tokens") * P + F.lit(P - 1) - F.col("doc_id")
    )
    grp = (
        fp.groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(packed_col).alias("packed"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    kept_nt = F.expr(f"(packed + {P - 1}) div {P}")
    return grp.select(
        "prefix_fp",
        "n_docs",
        kept_nt.alias("kept_n_tokens"),
        (kept_nt * P + F.lit(P - 1) - F.col("packed")).alias("kept_doc_id"),
    )


@register(
    "dedup_minhash_jaccard_est",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES},
{SQL_MINHASH},
buckets AS (
  SELECT doc_id, CAST(hash_idx // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_idx))
           AS band_digest
  FROM signatures
  GROUP BY doc_id, CAST(hash_idx // 4 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.band_digest = b.band_digest
  WHERE a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       round(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
             / 16.0, 4) AS est_jaccard
FROM cand c
JOIN signatures sa ON sa.doc_id = c.doc_a
JOIN signatures sb ON sb.doc_id = c.doc_b AND sb.hash_idx = sa.hash_idx
GROUP BY 1, 2
""",
    doc="MinHash Jaccard ESTIMATION on the LSH candidates: the "
    "fraction of agreeing signature components is an unbiased "
    "estimator of the true Jaccard (stderr 1/sqrt(H) ~ 0.25 at "
    "H=16), which ranks/filters candidate pairs WITHOUT touching the "
    "shingle sets again — the middle rung between free LSH discovery "
    "and the exact shingle-join verify (dedup_ngram_jaccard). Scale "
    "shape: signatures are 16 longs per doc, so the pair join "
    "shuffles 128-byte rows regardless of document size; the "
    "estimate is a row-local array comparison. The integer minhash "
    "family is the portable one, so the oracle reproduces every "
    "component agreement exactly.",
)
def dedup_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    H = 16
    sigs = dedup.minhash_signatures_wide(d, num_hashes=H, k=3).persist()
    cand = dedup.minhash_lsh_candidates(
        d, num_hashes=H, rows_per_band=4, k=3
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a{i}") for i in range(H)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b{i}") for i in range(H)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(H)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree.cast("long").alias("n_agree"),
            F.round(agree / float(H), 4).alias("est_jaccard"),
        )
    )


@register(
    "dedup_containment_est",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES},
{SQL_MINHASH},
buckets AS (
  SELECT doc_id, CAST(hash_idx // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_idx))
           AS band_digest
  FROM signatures
  GROUP BY doc_id, CAST(hash_idx // 4 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.band_digest = b.band_digest
  WHERE a.doc_id < b.doc_id
),
shh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
  FROM sh
),
sizes AS (
  SELECT doc_id, CAST(count(h) AS BIGINT) AS set_size
  FROM shh GROUP BY doc_id
),
agree AS (
  SELECT c.doc_a, c.doc_b,
         CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
              AS BIGINT) AS n_agree
  FROM cand c
  JOIN signatures sa ON sa.doc_id = c.doc_a
  JOIN signatures sb ON sb.doc_id = c.doc_b AND sb.hash_idx = sa.hash_idx
  GROUP BY 1, 2
)
SELECT a.doc_a, a.doc_b, a.n_agree,
       za.set_size AS size_a, zb.set_size AS size_b,
       least(
         (1000000 * a.n_agree * (za.set_size + zb.set_size))
           // ((16 + a.n_agree) * least(za.set_size, zb.set_size)),
         1000000) AS est_containment_ppm
FROM agree a
JOIN sizes za ON za.doc_id = a.doc_a
JOIN sizes zb ON zb.doc_id = a.doc_b
""",
    doc="Containment ESTIMATION on the LSH candidates — the scale "
    "path of dedup_containment, exactly as dedup_minhash_jaccard_est "
    "is the scale path of the exact Jaccard verify. From the Jaccard "
    "estimate J = m/H (m of H=16 signature components agree) and the "
    "EXACT per-doc set sizes (one count-distinct over the shingle "
    "hashes, no pair join), the intersection solves to "
    "I = m(a+b)/(H+m), so containment I/min(a,b) is the integer "
    "rational m(a+b) / ((H+m)·min(a,b)) — reported in floor-division "
    "ppm, engine-exact (all operands nonnegative), clamped at 1e6 "
    "(the raw estimator can exceed 1 when m/H overestimates J; true "
    "containment cannot). Scale shape: the "
    "pair join moves 16 longs per doc; the shingle sets are touched "
    "once for sizes and never per-pair — estimate first, run the "
    "exact verifier only on pairs the estimate shortlists.",
)
def dedup_containment_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    H = 16
    while _CEST_CACHES:
        _CEST_CACHES.pop().unpersist(blocking=False)
    sigs = dedup.minhash_signatures_wide(d, num_hashes=H, k=3).persist()
    _CEST_CACHES.append(sigs)
    cand = dedup.minhash_lsh_candidates(
        d, num_hashes=H, rows_per_band=4, k=3
    )
    sizes = (
        dedup.shingle_sets(d, k=3, distinct=False)
        .select(
            "doc_id",
            (textops.portable_hash32("shingle") % dedup.MERSENNE_P).alias(
                "h"
            ),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("h").alias("set_size"))
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a{i}") for i in range(H)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b{i}") for i in range(H)],
    )
    za = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")
    )
    zb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(H)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", agree.cast("long").alias("n_agree"))
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            "size_a",
            "size_b",
            F.expr(
                "least((1000000 * n_agree * (size_a + size_b)) div "
                "((16 + n_agree) * least(size_a, size_b)), 1000000)"
            ).alias("est_containment_ppm"),
        )
    )


@register(
    "dedup_latest_snapshot",
    oracle="""
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC)
           AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS latest_order_day,
       o_orderstatus
FROM r WHERE rn = 1
""",
    doc="CDC snapshot compaction — latest record per key: the dedup "
    "every change-capture ingest runs to turn an append-only event "
    "log into current state (the batch analog of the streaming "
    "dropDuplicates + the MERGE target build). row_number over "
    "(key ORDER BY ts DESC, id DESC) with the id tie-break makes "
    "same-timestamp updates deterministic on both engines. One hash "
    "exchange on the key; at 100 TB this runs per ingested partition "
    "and merges via LakeTable.replace_where, never over the full "
    "history. The windowed form beats groupBy+join-back (one shuffle "
    "vs two) and beats max_by (which has no deterministic tie rule).",
)
def dedup_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias(
                "latest_order_day"
            ),
            "o_orderstatus",
        )
    )


@register(
    "dedup_cdc_chunks",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
b AS (
  SELECT doc_id, toks,
         list_filter(generate_series(1, len(toks)),
                     i -> ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT
                          % 16 = 0) AS bounds
  FROM tok WHERE len(toks) >= 1
),
se AS (
  SELECT doc_id, toks,
         list_prepend(1, list_transform(bounds, x -> x + 1)) AS starts,
         list_append(bounds, len(toks)) AS ends
  FROM b
),
ch0 AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(starts)),
           j -> CASE WHEN ends[j] >= starts[j]
                     THEN array_to_string(toks[starts[j]:ends[j]], ' ')
                END) AS chs
  FROM se
),
ch AS (
  SELECT doc_id, generate_subscripts(chs, 1) - 1 AS idx,
         unnest(chs) AS chunk
  FROM ch0
),
occ AS (
  SELECT doc_id, md5(chunk) AS h, doc_id * 100000 + idx AS k
  FROM ch WHERE chunk IS NOT NULL
),
mins AS (SELECT h, MIN(k) AS mk FROM occ GROUP BY h)
SELECT o.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN o.k = m.mk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       round(sum(CASE WHEN o.k = m.mk THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS retained_ratio
FROM occ o JOIN mins m ON o.h = m.h
GROUP BY 1
""",
    doc="Content-defined-chunk dedup — the insertion-robust upgrade of "
    "dedup_span_chunks: boundaries fall where a token's hash ≡ 0 "
    "(mod 16), so an edit redraws only the chunk it touches and all "
    "later chunks realign and still dedup (fixed spans shift and "
    "miss everything downstream of an insertion — the property test "
    "pins this difference). Chunking is pure Catalyst array algebra "
    "in the scan stage; the first-occurrence pass is the same "
    "skew-splittable aggregate+join-on-md5 as the span form, so the "
    "shuffle again moves 32-hex keys, never text.",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    ch = dedup.cdc_chunks(d, divisor=16)
    occ = ch.select(
        "doc_id",
        F.md5("chunk").alias("h"),
        (F.col("doc_id") * 100000 + F.col("idx")).alias("k"),
    )
    mins = occ.groupBy("h").agg(F.min("k").alias("mk"))
    kept = F.when(F.col("k") == F.col("mk"), 1).otherwise(0)
    return (
        occ.join(mins, "h")
        .withColumn("kept", kept)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("kept").alias("n_kept"),
        )
        .withColumn(
            "retained_ratio",
            F.round(F.col("n_kept") / F.col("n_chunks").cast("double"), 4),
        )
    )


_CEST_CACHES: list[DataFrame] = []


@register(
    "dedup_pipeline_eval",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES},
{SQL_MINHASH},
buckets AS (
  SELECT doc_id, CAST(hash_idx // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_idx))
           AS band_digest
  FROM signatures
  GROUP BY doc_id, CAST(hash_idx // 4 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.band_digest = b.band_digest
  WHERE a.doc_id < b.doc_id
),
shh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
  FROM sh
),
kept AS (SELECT h FROM shh GROUP BY h HAVING count(*) <= 100),
shf AS (SELECT shh.doc_id, shh.h FROM shh JOIN kept USING (h)),
sizes AS (SELECT doc_id, count(h) AS set_size FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(a.h) AS n_inter
  FROM shf a JOIN shf b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter / CAST(sa.set_size + sb.set_size - n_inter
                             AS DOUBLE), 4) >= 0.12
),
joined AS (
  SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
         t.doc_a IS NOT NULL AS is_true,
         c.doc_a IS NOT NULL AS is_cand
  FROM truth t FULL OUTER JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST(sum(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(sum(CASE WHEN is_true AND NOT is_cand THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CAST(sum(CASE WHEN is_cand AND NOT is_true THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST((1000000 * sum(CASE WHEN is_true AND is_cand THEN 1 ELSE 0
                               END))
         // greatest(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 1)
         AS BIGINT) AS recall_ppm,
       CAST((1000000 * sum(CASE WHEN is_true AND is_cand THEN 1 ELSE 0
                               END))
         // greatest(sum(CASE WHEN is_cand THEN 1 ELSE 0 END), 1)
         AS BIGINT) AS precision_ppm
FROM joined
""",
    doc="Dedup-pipeline evaluation IN the engine: LSH discovery "
    "(dedup_minhash_lsh's exact plan) scored against ground truth "
    "(dedup_ngram_jaccard's exact plan, thr 0.12) — TP/FN/FP plus "
    "integer-ppm recall and precision in ONE scalar row. This is "
    "the measurement every 'tune bands vs rows' decision needs, and "
    "composing two already-verified operators means the evaluation "
    "can never drift from what production actually runs. FULL OUTER "
    "on the pair key classifies; map-side-combined scalar aggregate "
    "reduces; floor-division ppm with a greatest(. ,1) guard keeps "
    "the empty-truth edge exact on both engines. At 100 TB the "
    "ground-truth side is the bounded verify-stage join (shingle-DF "
    "cap), typically run on a SAMPLE — the composition is unchanged.",
)
def dedup_pipeline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    truth = dedup.ngram_jaccard_pairs(
        d, k=3, threshold=0.12, max_shingle_df=100
    ).select("doc_a", "doc_b", F.lit(True).alias("is_true"))
    cand = dedup.minhash_lsh_candidates(
        d, num_hashes=16, rows_per_band=4, k=3
    ).select("doc_a", "doc_b", F.lit(True).alias("is_cand"))
    joined = truth.join(cand, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("is_true"), F.lit(False)).alias("is_true"),
        F.coalesce(F.col("is_cand"), F.lit(False)).alias("is_cand"),
    )
    tp = F.sum(F.when(F.col("is_true") & F.col("is_cand"), 1).otherwise(0))
    fn = F.sum(F.when(F.col("is_true") & ~F.col("is_cand"), 1).otherwise(0))
    fp = F.sum(F.when(F.col("is_cand") & ~F.col("is_true"), 1).otherwise(0))
    nt = F.sum(F.when(F.col("is_true"), 1).otherwise(0))
    nc = F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
    return joined.agg(
        tp.cast("long").alias("tp"),
        fn.cast("long").alias("fn"),
        fp.cast("long").alias("fp"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN is_true AND is_cand THEN 1 "
            "ELSE 0 END)) div greatest(sum(CASE WHEN is_true THEN 1 "
            "ELSE 0 END), 1) AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN is_true AND is_cand THEN 1 "
            "ELSE 0 END)) div greatest(sum(CASE WHEN is_cand THEN 1 "
            "ELSE 0 END), 1) AS BIGINT)"
        ).alias("precision_ppm"),
    )


@register(
    "dedup_decontaminate",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES},
shh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS h
  FROM sh
),
bench AS (SELECT DISTINCT h FROM shh WHERE doc_id % 97 = 0),
train AS (SELECT doc_id, h FROM shh WHERE doc_id % 97 <> 0),
sizes AS (SELECT doc_id, count(h) AS set_size FROM train GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, count(t.h) AS n_overlap
  FROM train t JOIN bench b ON t.h = b.h
  GROUP BY t.doc_id
)
SELECT h.doc_id, h.n_overlap, s.set_size,
       round(h.n_overlap / CAST(s.set_size AS DOUBLE), 4)
         AS overlap_ratio
FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
""",
    doc="TRAIN-SET DECONTAMINATION against a held-out benchmark (the "
    "GPT-3 Appendix-C / C4-analysis recipe, Brown et al. 2020; Dodge "
    "et al. 2021): every 97th document plays the eval set, the rest "
    "is the training corpus, and any train doc sharing a 3-word "
    "shingle with any benchmark doc is flagged with its overlap "
    "evidence (distinct contaminated shingle-hash count, shingle-set "
    "size, ratio). The benchmark side reduces to DISTINCT shingle "
    "HASHES and broadcasts — real eval suites are megabytes against "
    "a 100 TB train corpus, so contamination screening is one "
    "map-side semi join where the train text never moves; the flagged "
    "list then drives a drop or a manual audit. Same md5-based "
    "portable hash family as the whole shingle operator family, so "
    "the oracle states the identical computation relationally.",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    bench = d.where(F.col("doc_id") % 97 == 0)
    train = d.where(F.col("doc_id") % 97 != 0)
    return dedup.decontaminate(train, bench, k=3)
