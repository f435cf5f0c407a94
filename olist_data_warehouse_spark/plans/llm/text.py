"""Text-analysis, linkage and path query entries.

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
    "text_token_stats",
    oracle=f"""
WITH {SQL_NORM_TOKENS}
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(ceil(length(t) / 4.0) AS BIGINT) AS bpe_est,
       md5(t) AS fingerprint
FROM tok
""",
    doc="Token counting (whitespace + BPE-ish chars/4 estimate) and "
    "rolling document fingerprint (md5 of normalized text). All "
    "Catalyst built-ins: one narrow pass, no shuffle.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id",
        textops.token_count("text").alias("n_tokens"),
        textops.bpe_token_estimate("text").alias("bpe_est"),
        textops.fingerprint("text").alias("fingerprint"),
    )


@register(
    "text_rolling_fingerprint",
    oracle=f"""
WITH {SQL_NORM_TOKENS}
SELECT doc_id,
       CASE WHEN t IS NULL THEN NULL ELSE
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(toks,
             t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)),
         (acc, h) -> (acc * {textops.ROLL_BASE} + h) % {textops.ROLL_MOD})
       END AS roll_hash
FROM tok
""",
    doc="Document fingerprinting via Rabin-Karp polynomial rolling hash "
    "over the token stream — order-sensitive and O(1)-incremental per "
    "appended token. Single narrow pass, no shuffle, no UDF. NULL "
    "text fingerprints as NULL on both sides (null_fuzz_sweep).",
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id", textops.rolling_hash("text").alias("roll_hash")
    )


@register(
    "text_quality",
    oracle=f"""
WITH {SQL_NORM_TOKENS}
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round((length(t) - (len(toks) - 1)) / CAST(len(toks) AS DOUBLE), 4)
         AS mean_token_len,
       round(CAST(len(list_filter(toks, x -> x IN ({_STOPWORDS_SQL})))
                  AS BIGINT) / CAST(len(toks) AS DOUBLE), 4) AS stopword_ratio,
       round(CAST(length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS BIGINT)
             / CAST(length(t) AS DOUBLE), 4) AS punct_ratio
FROM tok
""",
    doc="Quality scoring: length/stopword/punctuation signals per doc "
    "(the standard pre-training quality-filter features).",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    feats = textops.quality_features("text")
    return d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
    )


@register(
    "text_lang_id",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
scored AS (
  SELECT doc_id, lang,
       {_SCORE_COLS}
  FROM tok
)
SELECT doc_id, lang AS lang_labeled,
       {_LANG_CASE} AS lang_pred
FROM scored
""",
    doc="Language ID: stopword-marker n-gram heuristic with "
    "deterministic argmax/tie-break — per-row expression, no shuffle.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_labeled"),
        textops.lang_id("text").alias("lang_pred"),
    )


@register(
    "text_repetition_ratio",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
{SQL_SHINGLES}
SELECT s.doc_id,
       CASE WHEN k.t IS NULL THEN NULL ELSE
         round(1.0 - len(list_distinct(k.toks))
                     / CAST(len(k.toks) AS DOUBLE), 4) END
         AS dup_token_ratio,
       CASE WHEN k.t IS NULL THEN NULL ELSE
         round(1.0 - len(list_distinct(s.shingles))
                     / CAST(len(s.shingles) AS DOUBLE), 4) END
         AS dup_shingle_ratio
FROM shingled s JOIN tok k USING (doc_id)
""",
    doc="Within-document repetition quality filter (Gopher-style): "
    "fraction of duplicate tokens and duplicate 3-word shingles per "
    "doc. Pure array expressions (array_distinct over the token/"
    "shingle arrays) — no explode, no shuffle; pipelines into the "
    "corpus scan at any scale.",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    feats = textops.repetition_features("text")
    # Missing text has no repetition score — NULL through, pinned on
    # both sides (the tokenizer's ''-coalesce would otherwise score a
    # NULL doc as a zero-duplication singleton; null_fuzz_sweep).
    has_text = F.col("text").isNotNull()
    return d.select(
        "doc_id",
        F.when(has_text, feats["dup_token_ratio"]).alias(
            "dup_token_ratio"
        ),
        F.when(has_text, feats["dup_shingle_ratio"]).alias(
            "dup_shingle_ratio"
        ),
    )


_PII_INJECT_SQL = """
injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
                THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR)
                     || '@mail.example.com'
              WHEN doc_id % 7 = 0
                THEN text || ' call 555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || ' now'
              ELSE text END AS t
  FROM documents
)
""".strip()


@register(
    "text_pii_redact",
    oracle=f"""
WITH {_PII_INJECT_SQL}
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{textops.EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '{textops.PHONE_RE}')) AS BIGINT)
         AS n_phones,
       md5(regexp_replace(
             regexp_replace(t, '{textops.EMAIL_RE}', '<EMAIL>', 'g'),
             '{textops.PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp
FROM injected
""",
    doc="PII detection + redaction: regexp_count/regexp_replace over "
    "email and phone patterns restricted to Java-regex/RE2-shared "
    "syntax, verified via md5 of the redacted text. Seeded PII "
    "(deterministic per-doc_id injection, identical on both engines) "
    "exercises the match path. Narrow codegen'd pass, no shuffle.",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                "text",
                F.lit(" reach me at user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                "text",
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    counts = textops.pii_counts("t")
    return injected.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        F.md5(textops.pii_redact("t")).alias("redacted_fp"),
    )


@register(
    "text_word_count",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
words AS (SELECT unnest(toks) AS word FROM tok),
counted AS (
  SELECT word, COUNT(*) AS n FROM words
  WHERE word != '' AND word NOT IN ({_STOPWORDS_SQL})
  GROUP BY word
)
SELECT word, n FROM counted ORDER BY n DESC, word LIMIT 20
""",
    doc="Corpus word-frequency top-k (explode -> filter stopwords -> "
    "count -> top-k): the canonical text-pipeline generator op. "
    "Explode happens map-side before the shuffle, so shuffle volume "
    "is (word, partial_count) pairs after partial aggregation, not "
    "the exploded token stream; top-k is TakeOrderedAndProject, no "
    "global sort. Tiebroken by word for deterministic k-boundary.",
)
def text_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heal=False: partial aggregation collapses the exploded tokens
    # map-side, so the shuffle is tiny either way and the default
    # documents repartition is pure overhead (measured +0.2 s at sf0.1).
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    return (
        d.select(F.explode(textops.tokens("text")).alias("word"))
        .filter((F.col("word") != "") & ~F.col("word").isin(*textops.STOPWORDS))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
tks AS (
  SELECT doc_id, unnest(toks) AS token FROM tok
),
tkf AS (SELECT doc_id, token FROM tks WHERE token != ''),
freq AS (SELECT token, COUNT(*) AS cnt FROM tkf GROUP BY token),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM freq),
lp AS (
  SELECT token,
         CAST(floor(-ln(CAST(cnt AS DOUBLE) / tot) * 1000000) AS BIGINT)
           AS lp_micro
  FROM freq CROSS JOIN tot
)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       round(CAST(SUM(lp.lp_micro) AS BIGINT) / COUNT(*) / 1000000, 4)
         AS neg_logprob
FROM tkf t JOIN lp USING (token)
GROUP BY t.doc_id
""",
    doc="Unigram-LM quality score: average per-token -ln p(token) "
    "under the corpus's own unigram distribution — the perplexity "
    "proxy used to rank fluent vs. junk documents. Portability: the "
    "transcendental runs once per VOCABULARY entry on identical "
    "integer (cnt, total) arguments, floored to integer micro-nats; "
    "per-doc aggregation is then an exact BIGINT sum (double sums "
    "drift with partial-agg order; see operators/corpus.py).",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return corpus.unigram_logprob(d)


@register(
    "text_tfidf_topk",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
tks AS (
  SELECT doc_id, unnest(toks) AS token FROM tok
),
tkf AS (SELECT doc_id, token FROM tks WHERE token != ''),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tkf GROUP BY doc_id, token
),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token AS term, tf.tf, dfreq.df,
         tf.tf * nd.n_docs / dfreq.df AS s
  FROM tf JOIN dfreq USING (token) CROSS JOIN nd
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY s DESC, term ASC
  ) AS rn
  FROM scored
)
SELECT doc_id, term, tf, df, round(s, 4) AS score
FROM rn WHERE rn <= 3
""",
    doc="Top-3 characteristic terms per document by tf x N/df (linear "
    "inverse document frequency: one correctly-rounded IEEE division, "
    "bit-identical across engines, where log-idf's last ulp is libm-"
    "dependent — see operators/corpus.py). Frequency tables are map-"
    "side-combinable groupBys; the per-doc top-k is one window over "
    "(doc, term) rows, tiebroken by term.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return corpus.tfidf_top_terms(d, k=3)


@register(
    "text_bigram_topk",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
bi AS (
  SELECT unnest(list_transform(
           range(1, len(toks)),
           i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM tok WHERE len(toks) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM bi GROUP BY 1
ORDER BY n DESC, bigram
LIMIT 20
""",
    doc="Corpus-level bigram heavy hitters — the exact-count companion "
    "to sk_cms_heavy_hitters and the building block for boilerplate "
    "and template detection (a bigram appearing in millions of "
    "documents is navigation chrome, not language). Bigrams are "
    "formed JVM-side with zip_with over two shifted slices (no "
    "Python, no self-join), counted with one map-side-combined "
    "shuffle on the bigram, and the top-k is TakeOrderedAndProject "
    "(count DESC, bigram ASC — the T4 tie convention), so only 20 "
    "rows ever reach the driver. At 100 TB the exact count is one "
    "shuffle of partial counts (vocabulary-bounded, not corpus-"
    "bounded); if even that is too wide, the CMS sketch twin "
    "estimates the same list in O(1) memory.",
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    t = d.select(textops.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    n1 = F.size("toks") - 1
    bi = t.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, n1),
                F.slice(F.col("toks"), 2, n1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    return (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "text_inverted_index",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
words AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM tok),
postings AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
           AS posting_list
  FROM words
  WHERE term != '' AND term NOT IN ({_STOPWORDS_SQL})
  GROUP BY term
)
SELECT term, df, posting_list FROM postings WHERE df >= 2
""",
    doc="Inverted-index build (term -> sorted posting list + document "
    "frequency): the search-engine/RAG-retrieval primitive over a "
    "corpus. One shuffle: tokens explode map-side and collect_set's "
    "partial aggregate dedups (doc, term) pairs BEFORE the exchange, "
    "so shuffle volume is bounded by distinct (term, doc) — never the "
    "raw token stream. Postings serialize as a canonical "
    "ascending-id CSV string (the portable array encoding, like "
    "a18's histogram). At 100 TB the posting list for a stop-like "
    "term is the classic hot key — the stopword filter here is the "
    "skew fuse, and a df cap (like dedup's max_shingle_df) is the "
    "documented knob when the corpus vocabulary is open.",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    return (
        d.select("doc_id", F.explode(textops.tokens("text")).alias("term"))
        .filter(
            (F.col("term") != "") & ~F.col("term").isin(*textops.STOPWORDS)
        )
        .groupBy("term")
        .agg(F.collect_set("doc_id").alias("_docs"))
        .select(
            "term",
            F.size("_docs").cast("long").alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort("_docs"), lambda x: x.cast("string")
                ),
                ",",
            ).alias("posting_list"),
        )
        .filter(F.col("df") >= 2)
    )


@register(
    "text_keywords_topk",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term != '' AND term NOT IN ({_STOPWORDS_SQL})
  GROUP BY 1, 2
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
ranked AS (
  SELECT doc_id, term, w,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY w DESC, term) AS rn
  FROM w
)
SELECT doc_id,
       string_agg(term, ',' ORDER BY rn) AS keywords
FROM ranked WHERE rn <= 3 GROUP BY doc_id
""",
    doc="Keyword extraction: each document's top-3 TF-IDF terms "
    "(stopwords excluded) as a deterministic rank-ordered CSV — the "
    "tagging/snippeting pass search and labeling pipelines run over "
    "a corpus. Weights reuse the integer micro-nat idf discipline "
    "(one ln per TERM, BIGINT products), so ranks — and the CSV — "
    "are engine-exact with (weight desc, term) tie-breaks. Plan: the "
    "tf aggregate's exchange is the only fact-scale shuffle (token "
    "stream -> (doc, term) pairs, partial-combined map-side); df "
    "joins back vocabulary-sized as a broadcast, and the per-doc "
    "window re-keys the already-collapsed (doc, term, weight) rows — "
    "a doc-grain exchange, orders of magnitude below the token "
    "stream.",
)
def text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    tf = (
        d.select("doc_id", F.explode(textops.tokens("text")).alias("term"))
        .filter(
            (F.col("term") != "") & ~F.col("term").isin(*textops.STOPWORDS)
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
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
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    return (
        w.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 3)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "term"))
                    ),
                    lambda s: s["term"],
                ),
                ",",
            ).alias("keywords")
        )
    )


_BM25_TERMS = ("spark", "merge", "window")


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


_BM25_CACHES: list[DataFrame] = []


@register(
    "text_bm25_topk",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM tok),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM base
),
tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         CAST(floor(1000000.0 * ln(
           CAST(2 * s.n_docs + 2 AS DOUBLE) / CAST(2 * d.df + 1 AS DOUBLE)
         )) AS BIGINT) AS idf_micro,
         t.tf, t.dl, s.n_docs, s.sum_dl
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s
),
contrib AS (
  SELECT doc_id,
         (idf_micro * tf * 22000000) //
           (10000000 * tf + 3000000 +
            9 * ((1000000 * dl * n_docs) // sum_dl)) AS sc
  FROM scored
)
SELECT doc_id, CAST(sum(sc) AS BIGINT) AS score_micro,
       CAST(count(*) AS BIGINT) AS n_terms_hit
FROM contrib GROUP BY doc_id
ORDER BY score_micro DESC, doc_id LIMIT 10
""",
    doc="BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed query-term "
    "set, exact-integer micro-units: the per-term score "
    "idf*tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) is algebraically "
    "cleared of fractions — multiply through by 10*sum_dl — so the "
    "only float is one ln() per QUERY TERM (floored to micro-nats, "
    "the unigram_logprob precedent); every per-document operation is "
    "BIGINT arithmetic with identical floor-division semantics on "
    "both engines (all operands nonnegative, so Spark's div and "
    "DuckDB's // agree). Plan shape: tf filters to query terms "
    "map-side (the explode never shuffles non-query tokens), df and "
    "the corpus stats are one-row/3-row broadcasts, and the top-10 "
    "is TakeOrderedAndProject. At 100 TB this is one shuffle of "
    "(doc, term in query) — the textbook 'score only the candidate "
    "postings' retrieval plan.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    # ONE tokenize pass (tokenization — normalize + regex split — is
    # the dominant per-row cost): a single array filter keeps only
    # query-term occurrences per doc, so the persisted narrow frame is
    # (doc_id, dl, qtoks) with |qtoks| = query-term hits (tiny), and
    # the stats branch and the tf branch share the one tokenize scan.
    # Non-query tokens are never exploded into rows; the explode that
    # remains runs codegen over the tiny arrays. Bounded cache scope
    # per the mmr_rerank convention.
    toks = textops.tokens("text")
    def is_query_term(x):
        cond = x == F.lit(_BM25_TERMS[0])
        for t in _BM25_TERMS[1:]:
            cond = cond | (x == F.lit(t))
        return cond
    narrow = d.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        F.filter("toks", is_query_term).alias("qtoks"),
    )
    while _BM25_CACHES:
        _BM25_CACHES.pop().unpersist(blocking=False)
    narrow = narrow.persist()
    _BM25_CACHES.append(narrow)
    stats = narrow.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        narrow.select("doc_id", "dl", F.explode("qtoks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.lit(1000000.0)
                * F.log(
                    (2 * F.col("n_docs") + 2).cast("double")
                    / (2 * F.col("df") + 1).cast("double")
                )
            )
            .cast("long")
            .alias("idf_micro"),
            "tf",
            "dl",
            "n_docs",
            "sum_dl",
        )
    )
    contrib = scored.select(
        "doc_id",
        F.expr(
            "(idf_micro * tf * 22000000) div "
            "(10000000 * tf + 3000000 + "
            " 9 * ((1000000 * dl * n_docs) div sum_dl))"
        ).alias("sc"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("sc").alias("score_micro"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(10)
    )


_PHRASE = ("table", "hash")


@register(
    "text_phrase_search",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
pos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS p, unnest(toks) AS w
  FROM tok
),
p1 AS (SELECT doc_id, p FROM pos WHERE w = '{_PHRASE[0]}'),
p2 AS (SELECT doc_id, p FROM pos WHERE w = '{_PHRASE[1]}'),
hits AS (
  SELECT p1.doc_id, p1.p FROM p1
  JOIN p2 ON p1.doc_id = p2.doc_id AND p2.p = p1.p + 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(p) AS BIGINT) AS first_pos
FROM hits GROUP BY doc_id
""",
    doc="Exact phrase search via POSITIONAL postings — the retrieval "
    "shape, not a corpus scan: docs containing both terms are pruned "
    "first with array_contains predicates evaluated inside the scan "
    "(cheap containment before any explode), then each term's "
    "(doc, position) postings equi-join on (doc, adjacent position). "
    "At 100 TB this is how phrase queries run against an index: join "
    "the two rarest terms' postings — cost scales with posting-list "
    "sizes, never corpus size. The scan-side alternative (a zip_with "
    "over each doc's token array) is the right shape only when there "
    "is no index; this entry demonstrates the indexed plan. Positions "
    "are 1-based in both engines.",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    toks = textops.tokens("text")
    both = d.filter(
        F.array_contains(toks, _PHRASE[0]) & F.array_contains(toks, _PHRASE[1])
    )
    pos = both.select(
        "doc_id", F.posexplode(toks).alias("p0", "term")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "term")
    p1 = pos.filter(F.col("term") == _PHRASE[0]).select("doc_id", "p")
    p2 = pos.filter(F.col("term") == _PHRASE[1]).select(
        "doc_id", F.col("p").alias("p2")
    )
    hits = p1.join(
        p2, (p1.doc_id == p2.doc_id) & (F.col("p2") == F.col("p") + 1)
    ).select(p1.doc_id, "p")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("p").alias("first_pos"),
    )


@register(
    "link_fuzzy_parts",
    oracle="""
WITH named AS (
  SELECT p_partkey, p_name, string_split(p_name, ' ')[2] AS noun
  FROM part
),
pairs AS (
  SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
         a.p_name AS name_a, b.p_name AS name_b,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
  FROM named a JOIN named b ON a.noun = b.noun
  WHERE a.p_partkey < b.p_partkey
    AND abs(length(a.p_name) - length(b.p_name)) <= 4
)
SELECT part_a, part_b, name_a, name_b, edit_dist
FROM pairs WHERE edit_dist <= 4
ORDER BY edit_dist, part_a, part_b LIMIT 15
""",
    doc="Fuzzy record linkage (entity resolution): near-identical part "
    "names found by BLOCKED pairwise edit distance — the classic "
    "dedupe/Splink shape. Blocking key = the name's noun token, so "
    "candidate pairs come from an equi hash join on the block, never "
    "an all-pairs cross join. The DP itself runs on DISTINCT name "
    "pairs only (the Splink comparison-dedup move, guide §8's decide-"
    "with-small-rows): per block the distinct names pair up, each "
    "pair passes a lossless length-difference bound (|len_a − len_b| "
    "> k implies edit_dist > k) then BANDED levenshtein with "
    "threshold=k (O(len·k), not O(len²)), and the resulting tiny "
    "accepted-pair table broadcasts back onto the key-level pair "
    "enumeration as a hash-join LOOKUP — the 25M key pairs at sf0.1 "
    "share only 64 distinct names, so the DP runs ~4k times instead "
    "of 25M with a bit-identical accept set. The oracle applies the "
    "same length bound and an unbanded levenshtein per key pair — "
    "identical accept set, per-pair cost is the engine's problem. "
    "At 100 TB distinct-value cardinality ≪ row count is exactly why "
    "entity-resolution engines dedup comparisons; if a corpus ever "
    "had ~row-count distinct names the broadcast would grow toward "
    "the block product and the per-pair DP would be the right shape "
    "again. Block size stays the skew knob — a hot block degrades to "
    "quadratic exactly like an LSH bucket, and the same cap-and-drop "
    "fuse (dedup.max_shingle_df, embedding_lsh.max_bucket_size) "
    "applies. Top-k ordered by (distance, ids) for a deterministic "
    "k-boundary.",
)
def link_fuzzy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    named = p.select(
        "p_partkey",
        "p_name",
        F.split("p_name", " ").getItem(1).alias("noun"),
    )
    a = named.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        "noun",
    )
    b = named.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        "noun",
    )
    # the DP table: distinct names per block, paired within the block,
    # length-bounded, banded-DP'd, accepted pairs only — tiny (64
    # names at sf0.1), computed once, broadcast as a lookup
    # Tier 0 — exact duplicates (edit_dist = 0 ⟺ name_a = name_b):
    # the standard tiered-linkage shortcut. The number of exact-
    # duplicate pairs is computable from name COUNTS alone (Σ n·(n−1)/2
    # — one tiny aggregate, no pair enumeration); when it already
    # fills k, no d ≥ 1 pair can enter the top-k (order is d-first),
    # so the answer is the k smallest same-name key pairs. Those all
    # have BOTH endpoints among their group's 16 smallest keys: a pair
    # with an endpoint of within-group rank ≥ 17 has ≥ 15 lexicographic
    # predecessors inside its own group, so it can never be top-15.
    # The candidate set is then ≤ groups × C(16,2) rows instead of the
    # 25M blocked pairs. Falls through to the full blocked enumeration
    # whenever exact duplicates are scarce (identical rows for ANY
    # input — the oracle pins it at every SF).
    from pyspark.sql.window import Window

    k = 15
    counts = named.groupBy("noun", "p_name").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_exact = (
        counts.agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p")
        ).collect()[0]["p"]
        or 0
    )
    if n_exact >= k:
        wr = Window.partitionBy("noun", "p_name").orderBy("p_partkey")
        small = (
            named.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= k + 1)
            .select("noun", "p_name", "p_partkey")
        )
        x = small.select(
            "noun", "p_name", F.col("p_partkey").alias("part_a")
        )
        y = small.select(
            "noun", "p_name", F.col("p_partkey").alias("part_b")
        )
        return (
            x.join(y, ["noun", "p_name"])
            .filter(F.col("part_a") < F.col("part_b"))
            .select(
                "part_a",
                "part_b",
                F.col("p_name").alias("name_a"),
                F.col("p_name").alias("name_b"),
                F.lit(0).cast("long").alias("edit_dist"),
            )
            .orderBy("part_a", "part_b")
            .limit(k)
        )
    dn = named.select("noun", "p_name").distinct()
    ndist = (
        dn.select("noun", F.col("p_name").alias("name_a"))
        .join(dn.select("noun", F.col("p_name").alias("name_b")), "noun")
        # lossless tier-1 reject: k edits change length by <= k
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(4)
        )
        .select(
            "noun",
            "name_a",
            "name_b",
            # banded DP: O(len*k) per pair; > threshold reports -1
            F.levenshtein("name_a", "name_b", 4).cast("long").alias(
                "edit_dist"
            ),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 4))
    )
    # Parallelism, not per-pair cost, is the first-order term: the part
    # scan is one small-file partition, and a broadcast join inherits
    # the PROBE side's partitioning — without the repartition the whole
    # quadratic block enumeration runs in a single task. Round-robin
    # spreading the probe rows balances work by construction: each
    # probe row carries ~its block's size worth of lookups, and rows
    # of a hot block scatter uniformly, so no salting is needed (the
    # same reason the skew-join salt replicates the BUILD side).
    return (
        a.repartition(64)
        .join(F.broadcast(b), "noun")
        .filter(F.col("part_a") < F.col("part_b"))
        .join(F.broadcast(ndist), ["noun", "name_a", "name_b"])
        .select("part_a", "part_b", "name_a", "name_b", "edit_dist")
        .orderBy("edit_dist", "part_a", "part_b")
        .limit(15)
    )


@register(
    "path_top_trigrams",
    oracle="""
WITH o AS (
  SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us
  FROM events
),
s AS (
  SELECT *,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM o
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT *,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
),
p AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w2 AS e2,
         lead(event_type, 2) OVER w2 AS e3,
         sess,
         lead(sess, 1) OVER w2 AS s2,
         lead(sess, 2) OVER w2 AS s3
  FROM g
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT coalesce(e1, '') || '>' || coalesce(e2, '')
       || '>' || coalesce(e3, '') AS path,
       CAST(count(*) AS BIGINT) AS n_paths
FROM p WHERE s2 = sess AND s3 = sess
GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 10
""",
    doc="Session path analysis: the 10 most common 3-event event-type "
    "sequences inside 30-minute-gap user sessions — the 'how do users "
    "actually move through the product' query behind every funnel "
    "redesign. Single-exchange shape: sessionization (gap flag + "
    "running sum) AND the trigram leads all run in windows partitioned "
    "by user_id alone — session membership of the lead rows is checked "
    "by leading the session id itself (s2/s3 = sess), so no second "
    "window partitioned by (user, session) and no second exchange. "
    "The trailing aggregate's input is one row per event; output is "
    "vocabulary³-bounded. Deterministic: event order is (ts, event_id) "
    "and the frame is explicit ROWS.",
)
def path_top_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros("ts")
    brk = F.when(
        F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > 1800000000),
        1,
    ).otherwise(0)
    g = e.select("user_id", "event_id", "event_type", "ts").withColumn(
        "sess", F.sum(brk).over(wr)
    )
    p = g.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        "sess",
        F.lead("sess", 1).over(w).alias("s2"),
        F.lead("sess", 2).over(w).alias("s3"),
    )
    return (
        p.filter((F.col("s2") == F.col("sess")) & (F.col("s3") == F.col("sess")))
        .select(
            # coalesce('') per step: concat_ws SKIPS a NULL step
            # (collapsing the trigram) while SQL || nulls the whole
            # path — pin the canonical '' form (null_fuzz_sweep).
            F.concat_ws(
                ">",
                F.coalesce(F.col("e1"), F.lit("")),
                F.coalesce(F.col("e2"), F.lit("")),
                F.coalesce(F.col("e3"), F.lit("")),
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(10)
    )


@register(
    "text_collocation_pmi",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
uni AS (
  SELECT unnest(toks) AS w FROM tok
),
uc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
),
n_uni AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM uni),
bi AS (
  SELECT unnest(list_transform(
           range(1, len(toks)),
           i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM tok WHERE len(toks) >= 2
),
bc AS (
  SELECT string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS c_ab
  FROM bi GROUP BY 1, 2
),
n_bi AS (SELECT CAST(sum(c_ab) AS BIGINT) AS np FROM bc)
SELECT w1, w2, c_ab,
       CAST(floor(ln(
         CAST(c_ab * nu * nu AS DOUBLE) /
         CAST(np * a.c * b.c AS DOUBLE)) * 1000000) AS BIGINT)
         AS pmi_micro
FROM bc
JOIN uc a ON bc.w1 = a.w
JOIN uc b ON bc.w2 = b.w
CROSS JOIN n_uni CROSS JOIN n_bi
WHERE c_ab >= 5
ORDER BY pmi_micro DESC, w1, w2
LIMIT 20
""",
    doc="Pointwise mutual information collocations: the top-20 "
    "adjacent word pairs that co-occur far more than their unigram "
    "frequencies predict — the phrase-mining signal (multi-word "
    "expressions, named entities) that raw bigram counts miss "
    "because they rank stopword pairs first. PMI = ln(P(ab) / "
    "P(a)P(b)) is computed as ONE ln over an exact integer rational "
    "(c_ab*N_uni^2 over N_pairs*c_a*c_b — both products BIGINT, "
    "int-to-double conversion identical on both engines), floored "
    "to micro-nats; the c_ab >= 5 support floor is the standard "
    "PMI-vs-noise fuse. Plan: bigram and unigram counts are two "
    "map-side-combined vocabulary-bounded aggregates; unigram "
    "counts join back onto the bigram table by word (vocabulary-"
    "sized hash join, never corpus-sized); the two scalar totals "
    "broadcast; top-20 is TakeOrderedAndProject.",
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    t = d.select(textops.tokens(F.col("text")).alias("toks"))
    uni = t.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.count(F.lit(1)).alias("nu"))
    t2 = t.filter(F.size("toks") >= 2)
    n1 = F.size("toks") - 1
    bi = t2.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, n1),
                F.slice(F.col("toks"), 2, n1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    bc = (
        bi.select(
            F.split("bigram", " ").getItem(0).alias("w1"),
            F.split("bigram", " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    n_bi = bc.agg(F.sum("c_ab").alias("np"))
    a = uc.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    b = uc.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    return (
        bc.filter(F.col("c_ab") >= 5)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.floor(
                F.log(
                    (F.col("c_ab") * F.col("nu") * F.col("nu")).cast(
                        "double"
                    )
                    / (F.col("np") * F.col("ca") * F.col("cb")).cast(
                        "double"
                    )
                )
                * 1000000
            )
            .cast("long")
            .alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


@register(
    "text_zipf_fit",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
uni AS (SELECT unnest(toks) AS w FROM tok),
freq AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM uni GROUP BY w),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS r
  FROM freq
),
top AS (SELECT * FROM ranked WHERE r <= 1000),
pts AS (
  SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM top
),
sums AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_tokens_fit,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
FROM sums
""",
    doc="Zipf-exponent fit: OLS slope of ln(frequency) on ln(rank) "
    "over the top-1000 tokens, as the EXACT RATIONAL num/den (the "
    "ts_linear_trend pattern) — natural corpora sit near -1, and "
    "drift toward 0 (too flat: template spam) or below -1.5 (too "
    "steep: tiny vocabulary) is a corpus-health alarm no per-"
    "document quality score catches. Both logs are floored to "
    "integer micro-nats BEFORE the moment sums (the libm-"
    "determinism pattern: identical integer-derived doubles through "
    "one ln each), so the regression inputs — and therefore the "
    "rational slope — are bit-identical on both engines. Plan: one "
    "vocabulary-bounded count aggregate, then the top-1000 is "
    "selected by orderBy().limit() — TakeOrderedAndProject, the "
    "per-partition-heap top-k every other top-k in the repo uses — "
    "NOT a rank window over the whole vocabulary (10^8 tokens on a "
    "web corpus would sort on one partition; VERDICT r6 #2); the "
    "rank needed for ln(rank) is then re-derived by a window over "
    "the 1000 SURVIVORS only, and a 1-row moment reduce follows; "
    "the corpus text leaves the scan only as tokens.",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")["documents"]
    uni = d.select(F.explode(textops.tokens(F.col("text"))).alias("w"))
    freq = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # (cnt DESC, w ASC) is a total order (w unique after groupBy), so
    # limit(1000) under it selects exactly the rank <= 1000 set; the
    # window below then runs over <= 1000 rows — bounded by the limit,
    # not the vocabulary.
    top1000 = freq.orderBy(F.desc("cnt"), F.asc("w")).limit(1000)
    wr = Window.orderBy(F.desc("cnt"), F.asc("w"))
    top = top1000.withColumn("r", F.row_number().over(wr))
    pts = top.select(
        F.floor(F.log(F.col("r").cast("double")) * 1000000)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1000000)
        .cast("long")
        .alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    return pts.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(xd).alias("_sx"),
        F.sum(yd).alias("_sy"),
        F.sum(xd * yd).alias("_sxy"),
        F.sum(xd * xd).alias("_sxx"),
    ).select(
        F.col("_n").alias("n_tokens_fit"),
        (
            F.col("_n").cast("decimal(38,0)") * F.col("_sxy")
            - F.col("_sx") * F.col("_sy")
        )
        .cast("long")
        .alias("slope_num"),
        (
            F.col("_n").cast("decimal(38,0)") * F.col("_sxx")
            - F.col("_sx") * F.col("_sx")
        )
        .cast("long")
        .alias("slope_den"),
    )


@register(
    "path_markov_transitions",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS to_type
  FROM sess
),
trans AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS t
  FROM trans GROUP BY from_type
)
SELECT tr.from_type, tr.to_type, tr.n,
       CAST((1000000 * tr.n) // tot.t AS BIGINT) AS p_ppm
FROM trans tr JOIN tot USING (from_type)
""",
    doc="First-order Markov transition matrix over event types WITHIN "
    "30-minute sessions: counts and integer-ppm conditional "
    "probabilities P(next | current) — the behavioral model behind "
    "next-action prediction, funnel-leak diagnosis, and bot "
    "detection (bots have degenerate rows). Sessionization (gap "
    "flag -> running sum) and the lead() pairing run in the SAME "
    "per-user window pass — one fact-scale exchange, the trick "
    "path_top_trigrams pins — and cross-session transitions are "
    "excluded by partitioning the lead on (user, session). The "
    "transition table is type-vocabulary-bounded (<= |types|^2 "
    "rows), so the probability normalization joins tiny tables; "
    "floor-div ppm keeps every output BIGINT.",
)
def path_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()  # timeless rows have no session
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(wu)
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(gap > 1800, 1).otherwise(0).alias("new_session"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    pairs = sess.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(ws).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    trans = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("t"))
    return trans.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.expr("CAST((1000000 * n) div t AS BIGINT)").alias("p_ppm"),
    )
