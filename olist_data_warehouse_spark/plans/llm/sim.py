"""Similarity-search and ANN query entries.

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
    "sim_bruteforce_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, cos_sim
FROM ranked WHERE rn <= 10
""",
    doc="Brute-force cosine top-10 for 5 query vectors: exact ANN "
    "baseline. Queries broadcast; corpus streams once; JVM-side "
    "zip_with/aggregate dot products (no Python).",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.brute_force_topk(e, [0, 1, 2, 3, 4], k=10)


@register(
    "sim_ivf_assign",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < 8
),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         {_COS_SQL.format(a="e.embedding", b="c.c_emb")} AS cos_sim
  FROM embeddings e CROSS JOIN c
),
ranked AS (
  SELECT vec_id, centroid_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, centroid_id) AS rn
  FROM scored
)
SELECT vec_id, centroid_id, cos_sim FROM ranked WHERE rn = 1
""",
    doc="IVF assignment: nearest of 8 deterministic seed centroids per "
    "vector — at scale this becomes the bucketing key so queries touch "
    "~1/C of the corpus.",
)
def sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.ivf_assign(e, n_centroids=8)


@register(
    "sim_ivf_topk",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < 8
),
assign_scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_COS_SQL.format(a="e.embedding", b="c.c_emb")} AS cos_sim
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, centroid_id) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
  FROM assigned WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS cos_sim
  FROM assigned e JOIN q ON e.centroid_id = q.centroid_id
  WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, cos_sim
FROM ranked WHERE rn <= 10
""",
    doc="IVF top-10: search restricted to the query's centroid bucket — "
    "the approximate scale path (recall tunable via bucket count / "
    "multi-probe).",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.ivf_topk(e, [0, 1, 2, 3, 4], k=10, n_centroids=8)


@register(
    "sim_lsh_assign",
    oracle=f"""
SELECT vec_id, {_lsh_bucket_sql("embedding")} AS bucket
FROM embeddings
""",
    doc="Random-hyperplane LSH bucket assignment: bit-packed sign "
    "signature per vector. The bucket id is the partition key at scale "
    "(write corpus bucketed by it; a probe touches one bucket). One "
    "narrow pass, no shuffle, no UDF.",
)
def sim_lsh_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.lsh_assign(e)


@register(
    "sim_lsh_topk",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql("embedding")} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, bucket
  FROM bucketed WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS cos_sim
  FROM bucketed e JOIN q ON e.bucket = q.bucket
  WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, cos_sim
FROM ranked WHERE rn <= 10
""",
    doc="LSH-bucketed approximate top-10: candidates restricted to the "
    "query's hyperplane bucket — the LSH counterpart of sim_ivf_topk "
    "(recall tuned by plane count / multi-probe).",
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.lsh_topk(e, [0, 1, 2, 3, 4], k=10)


# The exact multi-probe IVF truth (2 probed cells per query, top-10
# within them) — shared by sim_ivf_topk_mp (which computes it as the
# entry) and sim_nsw_topk (which certifies the NSW graph search
# against it and returns it as the driver-checkable contract).
_IVF_MP_TRUTH_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < 8
),
assign_scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_COS_SQL.format(a="e.embedding", b="c.c_emb")} AS cos_sim
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, centroid_id) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, centroid_id) AS rn
    FROM assign_scored WHERE vec_id IN (0, 1, 2, 3, 4)
  ) WHERE rn <= 2
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS cos_sim
  FROM assigned e JOIN q ON e.centroid_id = q.centroid_id
  WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, cos_sim
FROM ranked WHERE rn <= 10
"""


@register(
    "sim_ivf_topk_mp",
    oracle=_IVF_MP_TRUTH_ORACLE,
    doc="IVF top-10 with multi-probe (2 nearest centroids per query): "
    "the recall lever at fixed bucket count — a neighbor near a "
    "Voronoi boundary lives under the query's runner-up centroid. "
    "Corpus stays single-bucketed; only the 5 broadcast query rows "
    "fan out, so cost is probes × bucket size.",
)
def sim_ivf_topk_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.ivf_topk(e, [0, 1, 2, 3, 4], k=10, n_centroids=8, probes=2)


_KM_ASSIGN_SQL = """
SELECT * FROM (
  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sq_dist, centroid_id) AS rn
  FROM (
    SELECT q.vec_id, q.qe, c.centroid_id,
           list_reduce(list_prepend(0.0,
             list_transform(generate_series(1, 64),
               j -> (q.qe[j] / 1000000.0 - c.c_emb[j])
                  * (q.qe[j] / 1000000.0 - c.c_emb[j]))),
             (a, x) -> a + x) AS sq_dist
    FROM q CROSS JOIN {cent} c
  ) s
) WHERE rn = 1
""".strip()


@register(
    "sim_kmeans_refine",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS centroid_id,
         list_transform(qe, v -> v / 1000000.0) AS c_emb
  FROM q WHERE vec_id < 8
),
a1 AS ({_KM_ASSIGN_SQL.format(cent="c0")}),
sums AS (
  SELECT centroid_id, j AS d, sum(qe[j]) AS s, count(*) AS n
  FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) jj
  GROUP BY 1, 2
),
c1 AS (
  SELECT centroid_id, list(s / n / 1000000.0 ORDER BY d) AS c_emb
  FROM sums GROUP BY 1
),
a2 AS ({_KM_ASSIGN_SQL.format(cent="c1")})
SELECT vec_id, centroid_id, round(sq_dist, 4) AS sq_dist FROM a2
""",
    doc="Iterative k-means (2 Lloyd rounds) refining the IVF seed "
    "centroids on FIXED-POINT vectors: quantizing to 1e-6 makes every "
    "centroid sum an exact BIGINT, so partial-aggregation order stops "
    "mattering and the iteration is bit-reproducible on any partition "
    "layout and any engine — the trick that lets an iterative ML "
    "algorithm pass a cross-engine hash gate. Per round: broadcast of "
    "C centroids + one corpus pass, then a bounded (C x dim) integer "
    "partial aggregate.",
)
def sim_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.kmeans_refine(e, n_centroids=8, iters=2)


@register(
    "sim_knn_label_vote",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN (100, 101, 102, 103, 104, 105, 106, 107, 108, 109)
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
),
votes AS (
  SELECT query_id, label, COUNT(*) AS votes
  FROM ranked WHERE rn <= 5 AND label IS NOT NULL GROUP BY 1, 2
),
best AS (
  SELECT query_id, label, votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label) AS vr
  FROM votes
)
SELECT query_id, CAST(label AS INT) AS knn_label,
       CAST(votes AS BIGINT) AS votes
FROM best WHERE vr = 1
""",
    doc="kNN classification (k=5, majority vote, ties to smallest "
    "label): the label-propagation / auto-labeling primitive — "
    "predict a tier or topic for unlabeled items from labeled "
    "neighbors. Exact top-k scorer (queries broadcast, corpus "
    "streams once) then tiny label-join + vote stages "
    "(operators/similarity.py knn_label_vote); swap the scorer for "
    "IVF/LSH when the corpus outgrows brute force.",
)
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.knn_label_vote(
        e, query_ids=list(range(100, 110)), k=5
    ).select(
        "query_id",
        F.col("knn_label").cast("int").alias("knn_label"),
        F.col("votes").cast("long").alias("votes"),
    )


_PQ_SUB = 16


_PQ_BOOKS_SQL = f"""
subs AS (SELECT unnest([0, 1, 2, 3]) AS m),
books AS (
  SELECT e.vec_id AS code_id, s.m,
         list_transform(
           list_slice(e.embedding, s.m * {_PQ_SUB} + 1, (s.m + 1) * {_PQ_SUB}),
           x -> x::DOUBLE) AS w
  FROM embeddings e CROSS JOIN subs s
  WHERE e.vec_id < 8
),
corp AS (
  SELECT e.vec_id, s.m,
         list_transform(
           list_slice(e.embedding, s.m * {_PQ_SUB} + 1, (s.m + 1) * {_PQ_SUB}),
           x -> x::DOUBLE) AS sv
  FROM embeddings e CROSS JOIN subs s
),
coded AS (
  SELECT vec_id, m, code_id FROM (
    SELECT c.vec_id, c.m, b.code_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.vec_id, c.m
             ORDER BY round(list_dot_product(c.sv, c.sv)
                            - 2 * list_dot_product(c.sv, b.w)
                            + list_dot_product(b.w, b.w), 6),
                      b.code_id) AS rn
    FROM corp c JOIN books b ON b.m = c.m
  ) WHERE rn = 1
)
""".strip()


@register(
    "sim_pq_encode",
    oracle=f"""
WITH {_PQ_BOOKS_SQL}
SELECT vec_id,
       string_agg(CAST(code_id AS VARCHAR), ',' ORDER BY m) AS pq_code
FROM coded GROUP BY vec_id
""",
    doc="Product-quantization encoding: each vector compresses to M=4 "
    "code indices (dim×4 bytes → 4 bytes, 64× — the memory lever "
    "that keeps a vector corpus RAM-resident at 100 TB; int8 scalar "
    "quantization's 4× is the gentle sibling). Codebooks are model "
    "parameters (seed subvectors, like IVF centroids / LSH planes) "
    "compiled into the scan, so encoding is a pure per-row argmin "
    "expression — zero joins, zero shuffles. Distances are "
    "||x||²−2xw+||w||² rounded to 1e-6 before the argmin with the "
    "code index as tie-break, so both engines pick identical codes; "
    "the oracle derives the same codebooks relationally from the "
    "seed rows.",
)
def sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.pq_encode(e, n_subspaces=4, n_codes=8)


@register(
    "sim_pq_adc_topk",
    oracle=f"""
WITH {_PQ_BOOKS_SQL},
q AS (
  SELECT e.vec_id AS query_id, s.m,
         list_transform(
           list_slice(e.embedding, s.m * {_PQ_SUB} + 1, (s.m + 1) * {_PQ_SUB}),
           x -> x::DOUBLE) AS qv
  FROM embeddings e CROSS JOIN subs s
  WHERE e.vec_id IN (0, 1, 2, 3, 4)
),
qd AS (
  SELECT q.query_id, q.m, b.code_id,
         round(list_dot_product(q.qv, q.qv)
               - 2 * list_dot_product(q.qv, b.w)
               + list_dot_product(b.w, b.w), 6) AS d
  FROM q JOIN books b ON b.m = q.m
),
adc AS (
  SELECT qd.query_id, c.vec_id AS neighbor_id,
         round(SUM(qd.d), 4) AS adc_dist
  FROM coded c
  JOIN qd ON qd.m = c.m AND qd.code_id = c.code_id
  WHERE c.vec_id != qd.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, adc_dist
FROM ranked WHERE rn <= 10
""",
    doc="PQ retrieval by ASYMMETRIC distance computation: the query "
    "stays full-precision, corpus vectors are replaced by their M "
    "stored codes, and distance is Σ_m LUT_m[code] — per-(query, "
    "subspace) distances to all K code words form a lookup array "
    "riding the broadcast query rows, so scoring a corpus row is M "
    "array lookups by its code, NOT a dim-length dot. This is the "
    "property that makes PQ search memory-bandwidth-bound (codes: 4 "
    "bytes/vector) rather than FLOP-bound at 100 TB; recall recovers "
    "via a full-precision re-rank of the shortlist (the "
    "sim_quantized_topk / verify-stage pattern). Both engines "
    "compute identical rounded-1e-6 sub-distances, so the ADC sums "
    "and the k-boundary match exactly.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.pq_adc_topk(
        e, [0, 1, 2, 3, 4], k=10, n_subspaces=4, n_codes=8
    )


@register(
    "sim_ivfpq_topk",
    oracle=f"""
WITH {_PQ_BOOKS_SQL},
c AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < 8
),
assign_scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_COS_SQL.format(a="e.embedding", b="c.c_emb")} AS acos
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY acos DESC, centroid_id) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
q AS (
  SELECT a.vec_id AS query_id, a.embedding AS q_emb, a.centroid_id,
         s.m,
         list_transform(
           list_slice(a.embedding, s.m * {_PQ_SUB} + 1, (s.m + 1) * {_PQ_SUB}),
           x -> x::DOUBLE) AS qv
  FROM assigned a CROSS JOIN subs s
  WHERE a.vec_id IN (0, 1, 2, 3, 4)
),
qd AS (
  SELECT q.query_id, q.m, b.code_id,
         round(list_dot_product(q.qv, q.qv)
               - 2 * list_dot_product(q.qv, b.w)
               + list_dot_product(b.w, b.w), 6) AS d
  FROM q JOIN books b ON b.m = q.m
),
qq AS (SELECT DISTINCT query_id, q_emb, centroid_id FROM q),
bucket AS (
  SELECT qq.query_id, qq.q_emb, e.vec_id AS neighbor_id, e.embedding
  FROM assigned e JOIN qq ON e.centroid_id = qq.centroid_id
  WHERE e.vec_id != qq.query_id
),
adc AS (
  SELECT bu.query_id, bu.neighbor_id, bu.q_emb, bu.embedding,
         round(SUM(qd.d), 4) AS adc_dist
  FROM bucket bu
  JOIN coded cd ON cd.vec_id = bu.neighbor_id
  JOIN qd ON qd.query_id = bu.query_id
         AND qd.m = cd.m AND qd.code_id = cd.code_id
  GROUP BY 1, 2, 3, 4
),
short AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, q_emb, embedding,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_dist, neighbor_id) AS srn
    FROM adc
  ) WHERE srn <= 20
),
rer AS (
  SELECT query_id, neighbor_id,
         {_COS_SQL.format(a="q_emb", b="embedding")} AS cos_sim
  FROM short
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM rer
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, cos_sim
FROM ranked WHERE rn <= 10
""",
    doc="IVF-PQ — the billion-scale retrieval pipeline as ONE composed "
    "plan: coarse-filter to the query's IVF bucket (~1/C of the "
    "corpus), ADC-scan the bucket's PQ codes (M lookup-table reads "
    "per row), then full-precision cosine re-rank of the top-20 "
    "shortlist. The corpus projection computes centroid id AND PQ "
    "codes in a single narrow scan (both literal-parameter argmin/"
    "argmax expressions, zero corpus joins before the broadcast query "
    "join). At 100 TB stages 1-2 read the bucketed layout "
    "(write_ivf_layout) with codes stored beside ids and only the "
    "re-rank touches full-precision vectors — shortlist-many id-keyed "
    "lookups per query. Every stage is an already-oracle-verified "
    "operator reused unchanged (sim_ivf_assign + sim_pq_encode + "
    "sim_pq_adc_topk + the brute-force verify).",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.ivfpq_topk(
        e, [0, 1, 2, 3, 4], k=10, shortlist=20,
        n_centroids=8, n_subspaces=4, n_codes=8,
    )


@register(
    "sim_quantized_topk",
    oracle="""
WITH q0 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
),
sc AS (
  SELECT vec_id, e,
         list_aggregate(list_transform(e, x -> abs(x)), 'max') AS maxabs
  FROM q0
),
qt AS (
  SELECT vec_id,
         CASE WHEN maxabs > 0 THEN maxabs / 127.0 END AS qscale,
         CASE WHEN maxabs > 0
              THEN list_transform(
                     e, x -> round(x / (maxabs / 127.0), 0))
              ELSE list_transform(e, x -> 0.0) END AS qvec
  FROM sc
),
qq AS (
  SELECT vec_id AS query_id, qvec AS q_qvec FROM qt
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT qq.query_id, t.vec_id AS neighbor_id,
         CAST(list_dot_product(qq.q_qvec, t.qvec) AS BIGINT) AS qdot,
         list_dot_product(qq.q_qvec, t.qvec) * t.qscale AS mag
  FROM qt t CROSS JOIN qq
  WHERE t.vec_id != qq.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, qdot,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY mag DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, qdot
FROM ranked WHERE rn <= 10
""",
    doc="Top-10 by int8-quantized dot product: symmetric max-abs "
    "scalar quantization (4x smaller vectors than float32), candidate "
    "scoring in exact BIGINT integer arithmetic — the cheap "
    "first-pass ranker a 100 TB vector corpus runs over its "
    "quantized-on-disk column, with float re-rank reserved for "
    "survivors (recall-vs-exact pinned in tests). Same broadcast-"
    "query one-corpus-pass shape as sim_bruteforce_topk "
    "(operators/similarity.py quantize_embeddings / quantized_topk).",
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.quantized_topk(e, [0, 1, 2, 3, 4], k=10)


@register(
    "sim_centroid_outlier",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < 8
),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         {_COS_SQL.format(a="e.embedding", b="c.c_emb")} AS cos_sim
  FROM embeddings e CROSS JOIN c
),
ranked AS (
  SELECT vec_id, centroid_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, centroid_id) AS rn
  FROM scored
)
SELECT vec_id, centroid_id, cos_sim
FROM ranked WHERE rn = 1 AND cos_sim < 0.05
""",
    doc="Embedding-space outlier pruning (the SemDeDup-style curation "
    "complement of dedup: drop points that sit far from EVERY "
    "cluster center — noise, encoding failures, off-distribution "
    "junk): vectors whose best-centroid cosine falls below 0.05 "
    "(~the 4th percentile here). Same zero-join scan shape as "
    "sim_ivf_assign — centroids are plan-time literals, the argmax "
    "and the threshold test both run inside the scan projection, so "
    "the filter is shuffle-FREE at any corpus size (unlike per-"
    "cluster bottom-k, which would need a C-partition window sort). "
    "The 4dp round happens before the compare, so the boundary row "
    "is identical on both engines.",
)
def sim_centroid_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    assigned = similarity.ivf_assign(e, n_centroids=8)
    return assigned.filter(F.col("cos_sim") < 0.05).select(
        "vec_id", "centroid_id", "cos_sim"
    )


@register(
    "sim_tfidf_cosine",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term != '' GROUP BY 1, 2
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
w AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * CAST(floor(1000000.0 *
           (ln(CAST(n.n_docs + 1 AS DOUBLE) / (d.df + 1)) + 1.0))
           AS BIGINT) AS w
  FROM tf JOIN dfreq d USING (term) CROSS JOIN n
),
nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id),
dot AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.w * b.w) AS BIGINT) AS dp
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(dp / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2), 4) AS cos_sim
FROM dot
JOIN nrm na ON na.doc_id = doc_a
JOIN nrm nb ON nb.doc_id = doc_b
WHERE round(dp / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2), 4) >= 0.85
""",
    doc="SPARSE document similarity — TF-IDF cosine over shared-term "
    "posting lists, the bag-of-words counterpart of the dense "
    "embedding ANN family: pairs meet only through terms they share "
    "(an equi-join on term), so candidate volume is Σ_terms C(df, 2) "
    "— bounded by document frequency, never |docs|². Weights are "
    "exact integers (tf × micro-nat idf, the BM25 precedent: ONE "
    "ln() per TERM floored to micro units, then pure BIGINT "
    "products), so dot products and squared norms hash identically "
    "on both engines; the only per-pair float is the final "
    "sqrt/divide, correctly-rounded IEEE ops on identical integer "
    "inputs. At open vocabulary the df cap (drop terms with df > "
    "cap, the stop-term fuse shared with n-gram dedup and the "
    "inverted index) bounds the hot-term quadratic term; norms are "
    "computed once per doc, and only ids + weights shuffle — the "
    "text never moves; the posting join is salted (probe side by doc "
    "hash, build side replicated per salt) so one hot term's df² "
    "products can never serialize into a single task. NOTE the "
    "synthetic corpus is this operator's adversarial case, measured "
    "by tools/scale_audit.py: a ~31-term closed vocabulary makes "
    "df ≈ N for every term (all stop-terms, nothing cappable — a "
    "df cap strips so much weight mass the remaining rare-term "
    "vectors are all trivially cosine≈1, and the AllPairs prefix "
    "filter still leaves ~C(N,2) candidates, both measured), so "
    "~all doc pairs share terms and the partial aggregation over "
    "the Σdf² pair products is inherently quadratic here (~44s at "
    "sf0.1 vs 1.4s at sf0.01). The entry is correctness-gated at "
    "the small SFs and deliberately not in the sf0.1 bench; real "
    "corpora have open vocabularies where the df bound does the "
    "work and the salt keeps the surviving hot terms parallel.",
)
def sim_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    tf = (
        d.select(
            "doc_id", F.explode(textops.tokens("text")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.floor(
                    F.lit(1000000.0)
                    * (
                        F.log(
                            (F.col("n_docs") + 1).cast("double")
                            / (F.col("df") + 1)
                        )
                        + 1.0
                    )
                ).cast("long")
            ).alias("w"),
        )
    ).persist()
    nrm = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    # Salted posting join: `term` alone is a catastrophic shuffle key —
    # a vocabulary-bounded key domain (~31 terms here; hot stop-terms
    # in any open vocabulary) serializes the hottest term's df² pair
    # products into ONE task (measured 46.9s at sf0.1, 32.8x the
    # sf0.01 time — tools/scale_audit.py's first catch). Salting the
    # probe side by doc hash and replicating the build side per salt
    # (the skew_salted_join pattern) splits each term's work S ways:
    # same products, same answer, max task df²/S.
    n_salt = 32
    a = w.select(
        F.col("doc_id").alias("doc_a"),
        "term",
        F.col("w").alias("wa"),
        F.pmod(F.hash("doc_id"), F.lit(n_salt)).alias("_salt"),
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    ).withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    dot = (
        a.join(b, ["term", "_salt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dp"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb"))
    cos = F.round(
        F.col("dp") / F.sqrt(F.col("na").cast("double") * F.col("nb")), 4
    )
    return (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.85)
    )


@register(
    "sim_mmr_rerank",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS rel
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
),
cand AS (
  SELECT query_id, cand_id, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cand_id) AS rn
    FROM scored
  ) WHERE rn <= 10
),
ce AS (
  SELECT c.query_id, c.cand_id, c.rel, e.embedding AS c_emb
  FROM cand c JOIN embeddings e ON e.vec_id = c.cand_id
),
sims AS (
  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
         {_COS_SQL.format(a="a.c_emb", b="b.c_emb")} AS sim
  FROM ce a JOIN ce b
    ON a.query_id = b.query_id AND a.cand_id != b.cand_id
),
s1 AS (
  SELECT query_id, cand_id AS doc_id, rel AS score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cand_id) AS rn
    FROM cand
  ) WHERE rn = 1
),
p2 AS (
  SELECT c.query_id, c.cand_id, round(c.rel - s.sim, 4) AS score
  FROM cand c
  JOIN s1 ON c.query_id = s1.query_id AND c.cand_id != s1.doc_id
  JOIN sims s ON s.query_id = c.query_id AND s.ca = c.cand_id
             AND s.cb = s1.doc_id
),
s2 AS (
  SELECT query_id, cand_id AS doc_id, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, cand_id) AS rn
    FROM p2
  ) WHERE rn = 1
),
p3 AS (
  SELECT c.query_id, c.cand_id,
         round(c.rel - greatest(x1.sim, x2.sim), 4) AS score
  FROM cand c
  JOIN s1 ON c.query_id = s1.query_id AND c.cand_id != s1.doc_id
  JOIN s2 ON c.query_id = s2.query_id AND c.cand_id != s2.doc_id
  JOIN sims x1 ON x1.query_id = c.query_id AND x1.ca = c.cand_id
              AND x1.cb = s1.doc_id
  JOIN sims x2 ON x2.query_id = c.query_id AND x2.ca = c.cand_id
              AND x2.cb = s2.doc_id
),
s3 AS (
  SELECT query_id, cand_id AS doc_id, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, cand_id) AS rn
    FROM p3
  ) WHERE rn = 1
)
SELECT query_id, CAST(1 AS INT) AS pos, doc_id, score AS mmr_score FROM s1
UNION ALL
SELECT query_id, CAST(2 AS INT), doc_id, score FROM s2
UNION ALL
SELECT query_id, CAST(3 AS INT), doc_id, score FROM s3
""",
    doc="Maximal-marginal-relevance diversified re-rank (lambda=0.5, "
    "top-3 from the exact-cosine top-10 shortlist): each greedy pick "
    "maximizes relevance MINUS similarity to the already-selected — "
    "the diversification pass that stops a result list (or a curated "
    "exemplar set) from being three near-copies of the same "
    "document. The greedy recurrence unrolls into fixed dataframe "
    "rounds (the graph_pagerank_items pattern), which keeps it "
    "oracle-expressible; the score uses the UNSCALED (rel - maxsim) "
    "difference — an exact multiple of 1e-4 given the rounded-4 "
    "inputs, hence engine-stable, where halving first could land on "
    ".00005 boundaries where double representation decides the "
    "round. Per-query extra work beyond the shortlist scorer is "
    "shortlist^2 pairwise sims (bounded self-join of the candidate "
    "table on query_id); the corpus streams exactly once.",
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.mmr_rerank(e, [0, 1, 2, 3, 4], shortlist=10, k=3)


@register(
    "sim_ann_recall_eval",
    oracle=f"""
WITH qset AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
bf_scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS cos_sim
  FROM embeddings e CROSS JOIN qset q
  WHERE e.vec_id != q.query_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM bf_scored
  ) WHERE rn <= 10
),
c AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < 8
),
assign_scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_COS_SQL.format(a="e.embedding", b="c.c_emb")} AS cos_sim
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, centroid_id) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, centroid_id) AS rn
    FROM assign_scored WHERE vec_id IN (0, 1, 2, 3, 4)
  ) WHERE rn <= 2
),
ivf_scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS cos_sim
  FROM assigned e JOIN q ON e.centroid_id = q.centroid_id
  WHERE e.vec_id != q.query_id
),
got AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM ivf_scored
  ) WHERE rn <= 10
)
SELECT t.query_id,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST((1000000 * sum(CASE WHEN g.neighbor_id IS NOT NULL
                                THEN 1 ELSE 0 END)) // count(*)
            AS BIGINT) AS recall_ppm
FROM truth t
LEFT JOIN got g
  ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id
GROUP BY t.query_id
""",
    doc="ANN recall@10 measured IN the engine: the multi-probe IVF "
    "plan (sim_ivf_topk_mp, 2 probes) scored against brute-force "
    "ground truth (sim_bruteforce_topk) per query — integer-ppm "
    "recall from a LEFT JOIN of the two already-verified top-k "
    "plans. The retrieval twin of dedup_pipeline_eval: every "
    "probes/centroids tuning decision needs this number, and "
    "composing the registered plans means the measurement can never "
    "drift from what production runs. At scale the truth side runs "
    "on a query SAMPLE (brute force over the sample only — still "
    "one corpus pass); the composition is unchanged.",
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    truth = similarity.brute_force_topk(e, [0, 1, 2, 3, 4], k=10).select(
        "query_id", "neighbor_id", F.lit(True).alias("is_truth")
    )
    got = similarity.ivf_topk(
        e, [0, 1, 2, 3, 4], k=10, n_centroids=8, probes=2
    ).select("query_id", "neighbor_id", F.lit(True).alias("is_got"))
    joined = truth.join(got, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.sum(F.when(F.col("is_got"), 1).otherwise(0))
        .cast("long")
        .alias("n_hit"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN is_got THEN 1 ELSE 0 END)) "
            "div count(*) AS BIGINT)"
        ).alias("recall_ppm"),
    )


@register(
    "sim_threshold_calibration",
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
SELECT CAST(floor(cos_sim * 20) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
""",
    doc="Near-dup threshold calibration: the cosine HISTOGRAM "
    "(0.05-wide bins) over ALL LSH candidate pairs, unthresholded — "
    "the distribution a practitioner reads to PLACE the near-dup "
    "cutoff (true near-dups pile up near 1.0, the background mass "
    "sits low; the valley is the threshold). Upstream of "
    "dedup_embedding_lsh, which then applies the chosen cutoff, and "
    "sideways of dedup_pipeline_eval, which scores it. Binning is "
    "floor(cos*20) on the identical rounded-4 doubles both engines "
    "compute, so bin edges are engine-stable; bucket-capped LSH "
    "discovery bounds the candidate volume exactly as in the dedup "
    "entry — the histogram costs one extra map-side-combined "
    "aggregate over pairs already produced.",
)
def sim_threshold_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    pairs = similarity.lsh_near_dup_pairs(
        e, threshold=-1.0,
        n_bands=_EMB_LSH_BANDS, planes_per_band=_EMB_LSH_PLANES_PER_BAND,
        max_bucket_size=_EMB_LSH_MAX_BUCKET,
    )
    return pairs.groupBy(
        F.floor(F.col("cos_sim") * 20).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


_PQ_ASSIGN_SQL = """
SELECT * FROM (
  SELECT s.vec_id, s.centroid_id, s.m, s.rs, b.code,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
           list_reduce(list_prepend(0.0,
             list_transform(generate_series(1, 16),
               j -> (s.rs[j] / 1000000.0 - b.cw[j])
                  * (s.rs[j] / 1000000.0 - b.cw[j]))),
             (a, x) -> a + x),
           b.code) AS rn
  FROM slices s JOIN {bk} b ON s.m = b.m
) WHERE rn = 1
""".strip()


_PQ_UPDATE_SQL = """
SELECT m, code, list(s / n / 1000000.0 ORDER BY d) AS cw FROM (
  SELECT m, code, j.j AS d, sum(rs[j.j]) AS s, count(*) AS n
  FROM {asg} CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS j) j
  GROUP BY 1, 2, 3
) GROUP BY 1, 2
""".strip()


@register(
    "sim_pq_trained_encode",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
  FROM embeddings
),
cents AS (SELECT vec_id AS centroid_id, qe AS qc FROM q WHERE vec_id < 8),
asg AS (
  SELECT vec_id, centroid_id,
         list_transform(generate_series(1, 64), j -> qe[j] - qc[j]) AS r
  FROM (
    SELECT q.vec_id, q.qe, c.centroid_id, c.qc,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, 64),
                 j -> (q.qe[j] - c.qc[j]) * (q.qe[j] - c.qc[j]))),
               (a, x) -> a + x),
             c.centroid_id) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn = 1
),
slices AS (
  SELECT vec_id, centroid_id, m.m,
         list_slice(r, m.m * 16 + 1, m.m * 16 + 16) AS rs
  FROM asg CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) m
),
b0 AS (
  SELECT m, CAST(vec_id - 8 AS INTEGER) AS code,
         list_transform(rs, v -> v / 1000000.0) AS cw
  FROM slices WHERE vec_id >= 8 AND vec_id < 16
),
a1 AS ({_PQ_ASSIGN_SQL.format(bk="b0")}),
b1 AS ({_PQ_UPDATE_SQL.format(asg="a1")}),
a2 AS ({_PQ_ASSIGN_SQL.format(bk="b1")}),
b2 AS ({_PQ_UPDATE_SQL.format(asg="a2")}),
a3 AS ({_PQ_ASSIGN_SQL.format(bk="b2")})
SELECT vec_id, max(centroid_id) AS centroid_id,
       max(CASE WHEN m = 0 THEN code END) AS code_0,
       max(CASE WHEN m = 1 THEN code END) AS code_1,
       max(CASE WHEN m = 2 THEN code END) AS code_2,
       max(CASE WHEN m = 3 THEN code END) AS code_3
FROM a3 GROUP BY vec_id
""",
    doc="TRAINED product-quantization codebooks over coarse-quantizer "
    "residuals — the full IVF-PQ training recipe (Jegou, Douze & "
    "Schmid, TPAMI 2011), upgrading the retrieval stack's seeded "
    "codebooks to Lloyd-trained ones: exact-integer coarse assignment "
    "on 1e-6 fixed-point vectors, BIGINT residuals, two Lloyd rounds "
    "per subspace over residual slices (broadcast M*K codewords; "
    "update = bounded M*K*16 exact-integer partial aggregate), final "
    "encode against the trained books. The fixed-point discipline "
    "(sim_kmeans_refine's) makes the whole iterative pipeline bit-"
    "reproducible, so the DuckDB oracle replays training verbatim and "
    "the ENCODING hash-matches. Codebook seeds are the vectors after "
    "the IVF seeds (whose residuals are identically zero — seeding "
    "from them collapses Lloyd). At 100 TB the corpus is scanned once "
    "per round against broadcast model parameters; nothing wider than "
    "M*K*sub integer sums aggregates, and the corpus never self-joins.",
)
def sim_pq_trained_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    _books, encoded = similarity.pq_train_residual_codebooks(
        e, n_subspaces=4, n_codes=8, n_centroids=8, iters=2
    )
    return encoded


# ---------------------------------------------------------------------------
# Graph ANN (r13): partitioned navigable-small-world search
# ---------------------------------------------------------------------------

from olist_data_warehouse_spark.operators import graphann  # noqa: E402


def _nsw_recall_gated_truth(e: DataFrame, qids: list[int], k: int):
    """The exact top-``k`` restricted to each query's 2 probed IVF
    cells (the ``sim_ivf_topk_mp`` truth), after the partitioned NSW
    search over the same cells passed the recall gate: per-query
    recall against that truth must be >= 0.9, or RuntimeError."""
    got = graphann.nsw_topk(
        e, qids, k=k, n_cells=8, probes=2, m_links=8, ef=32
    ).select("query_id", "neighbor_id", F.lit(True).alias("is_got"))
    truth = similarity.ivf_topk(e, qids, k=k, n_centroids=8, probes=2)
    recall = (
        truth.select("query_id", "neighbor_id")
        .join(got, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            (F.sum(F.when(F.col("is_got"), 1).otherwise(0))
             / F.count(F.lit(1))).alias("recall")
        )
        .collect()
    )
    for r in recall:
        if r["recall"] < 0.9:
            raise RuntimeError(
                f"NSW recall vs cell-restricted truth below contract: "
                f"query {r['query_id']} = {r['recall']:.2f}"
            )
    return truth


@register(
    "sim_nsw_topk",
    oracle=_IVF_MP_TRUTH_ORACLE,
    doc="Partitioned NSW graph ANN (operators/graphann.py — Malkov & "
    "Yashunin 2016 composed with Jegou 2011 IVF cells): corpus "
    "partitions into deterministic IVF cells, each cell builds a "
    "navigable-small-world graph and answers its probing queries "
    "inside one Arrow-batched applyInPandas kernel (beam-search "
    "construction AND search, O(n*ef*M) per cell, all orderings "
    "(cos_sim desc, vec_id asc) tie-broken so the result is "
    "partition-invariant), queries multi-probe their 2 nearest "
    "cells, and the global top-10 is a tiny window re-rank. Graph "
    "traversal itself is not SQL-expressible, so the entry carries "
    "the a13_approx_percentile_cert CONTRACT SHAPE (r13 verdict "
    "item 1): it runs the NSW search, asserts per-query recall >= "
    "0.9 in-engine against the exact within-probed-cells truth, and "
    "returns that truth — which IS SQL-expressible and hash-checked "
    "by the DuckDB oracle (the sim_ivf_topk_mp truth at the same "
    "cells/probes). A broken graph build or beam search fails the "
    "in-engine recall gate; a broken exact path fails the hash. At 100 TB "
    "the cell is the unit of build/storage/search — the IVF scale "
    "story with a graph inside each bucket, higher recall per "
    "candidate visited than the flat cell scan.",
)
def sim_nsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return _nsw_recall_gated_truth(e, [0, 1, 2, 3, 4], k=10)


@register(
    "sim_nsw_recall_cert",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.q_emb", b="e.embedding")} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, cos_sim
FROM ranked WHERE rn <= 10
""",
    doc="NSW certification entry (the a13_approx_percentile_cert "
    "pattern for a non-SQL-expressible search): runs the partitioned "
    "NSW search, computes the EXACT top-10 restricted to each "
    "query's probed cells in-engine, asserts per-query recall >= 0.9 "
    "against that cell-restricted truth (isolating graph-search "
    "quality from probe coverage, which the IVF recall entries "
    "already measure), then returns the global brute-force top-10 — "
    "which the DuckDB oracle recomputes and hash-matches. A broken "
    "graph build or beam search fails the in-engine recall gate; a broken "
    "exact path fails the hash.",
)
def sim_nsw_recall_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    qids = [0, 1, 2, 3, 4]
    _nsw_recall_gated_truth(e, qids, k=10)
    return similarity.brute_force_topk(e, qids, k=10)
