"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

The 100 TB shapes:

- **Exact** — one hash-groupBy on a 32-char digest: a single shuffle of
  (digest, doc_id), no full-text movement. This is the baseline pass
  every corpus dedup starts with.
- **n-gram Jaccard (all-pairs)** — explode k-word shingles, self-join
  on shingle, count intersections, filter by threshold. Correct but
  quadratic in the worst case; at scale it is the *verification* stage
  run only on candidate pairs, never the discovery stage.
- **MinHash-LSH** — the discovery stage: H permutation-min signatures
  per doc, banded into B buckets; only same-bucket docs become
  candidate pairs. Everything is relational (explode → groupBy-min →
  band digest → self-join on (band, digest)), so Catalyst distributes
  it; no UDFs. Hash family is the portable md5-based 32-bit hash under
  a Carter-Wegman family mod the Mersenne prime 2^31-1, so the DuckDB
  oracle reproduces signatures bit-for-bit.
- **SimHash** — per-token hash bit-vote; near-dups share the 32-bit
  signature (or differ in ≤ hamming-k, checked by a bucket join on
  rotated bands at scale). Relational form: token × bit explode.

Skew note: stop-shingles ("the the the") can hot-spot the shingle
join; production runs add a document-frequency cap on shingles (drop
shingles appearing in > X% of docs) — exposed as ``max_shingle_df``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olist_data_warehouse_spark.operators import textops

MERSENNE_P = (1 << 31) - 1  # 2147483647, prime
# Carter-Wegman coefficients: a_i = (i*2654435761 mod p) | 1, b_i =
# (i*40503 + 17) mod p — fixed, reproduced literally in the oracle SQL.
HASH_A_MULT = 2654435761
HASH_B_MULT = 40503
HASH_B_ADD = 17

# Bounded cache residency (the _BM25_CACHES list in plans/llm/text.py
# and _CEST_CACHES in plans/llm/dedup.py bound theirs to one frame):
# each persist slot keeps at most _CACHE_CAP cached frames alive — a
# new plan through a full slot unpersists the least-recently-used one —
# so a session running many dedup passes holds a bounded set of cached
# lineages per helper, not an ever-growing one.
#
# Semantic reuse, not blind eviction: re-running the SAME plan (bench
# repetitions, a verify pass after a discovery pass over one corpus)
# must keep hitting the resident cache — Spark's CacheManager matches
# cached data by logical plan, so evicting and re-persisting an
# identical plan would recompute the whole shingle pipeline per call.
# A small LRU per slot (not a single frame): several registered
# pipelines legitimately interleave DIFFERENT plans through one slot
# (jaccard / containment / eval over different corpus preps), and a
# one-frame cache would thrash on exactly that alternation. Residency
# stays bounded at _CACHE_CAP lineages per slot; genuinely new plans
# (new corpus, new k) evict the least-recently-used one.
_DEDUP_CACHES: dict[str, list[DataFrame]] = {}
_CACHE_CAP = 4


def _bounded_persist(slot: str, df: DataFrame) -> DataFrame:
    frames = _DEDUP_CACHES.setdefault(slot, [])
    # Drop frames bound to a stopped/replaced session first: comparing
    # against (or returning) one would break the CURRENT call, and its
    # unpersist may itself raise — every cache-management touch of a
    # possibly-dead frame is best-effort.
    alive: list[DataFrame] = []
    for prev in frames:
        try:
            stale = prev.sparkSession is not df.sparkSession
        except Exception:
            stale = True
        if stale:
            try:
                prev.unpersist(blocking=False)
            except Exception:
                pass
        else:
            alive.append(prev)
    frames[:] = alive
    for i, prev in enumerate(frames):
        try:
            same = prev.sameSemantics(df)
        except Exception:
            same = False  # plan comparison is best-effort
        if same:
            frames.append(frames.pop(i))  # LRU bump
            return frames[-1]
    if len(frames) >= _CACHE_CAP:
        evicted = frames.pop(0)
        try:
            evicted.unpersist(blocking=False)
        except Exception:
            pass
    frames.append(df.persist())
    return frames[-1]


def exact_duplicate_groups(docs: DataFrame) -> DataFrame:
    """Group documents by normalized-content fingerprint.

    Returns (fingerprint, canonical_doc_id, n_dups) for groups with >1
    member — the survivors list is its complement.
    """
    fp = docs.select(
        F.col("doc_id"), textops.fingerprint("text").alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("doc_id").alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep one doc per normalized-content fingerprint (min doc_id wins).

    One shuffle of (fingerprint, doc_id); text never moves.
    """
    fp = docs.select(
        "doc_id", textops.fingerprint("text").alias("fingerprint")
    )
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return keep.select("doc_id", "fingerprint")


def shingle_sets(
    docs: DataFrame, k: int = 3, distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) pairs — the set representation (distinct by
    default).

    Tokenization is materialized in its own projection so the
    per-shingle lambda references a computed attribute instead of
    re-evaluating the regexp+split chain per element. On Spark 3.3+
    (SPARK-36718) a plain projection suffices: CollapseProject will
    not inline a non-cheap alias referenced more than once, and the
    shingle lambda references ``toks`` three times — see the committed
    post-change dumps (plans/r14/dedup_*_after.txt: Generate's
    generator reads the ``toks`` attribute, the tokenizer chain stays
    in the Project below it). The repartition
    exchange this used to hide behind was a SECOND full shuffle of
    the token arrays right after the scan-side heal exchange
    (sources/readers.py:_heal_partitioning already parallelizes the
    single-file local scan; cluster inputs arrive partitioned) — at
    corpus scale it was the largest avoidable data movement in the
    dedup pipeline (optimization guide §2.4).

    ``distinct=False`` skips the string-level dedup exchange: callers
    that immediately hash the shingle and dedup (or min-aggregate) at
    the HASH level would otherwise shuffle the full shingle STRINGS
    once just to shuffle their 8-byte hashes again — at corpus scale
    that first exchange is the largest data movement in the whole
    dedup pipeline, and it is pure waste for those paths.
    """
    toks = docs.select(
        "doc_id",
        textops.tokens("text").alias("toks"),
        textops.normalize_text("text").alias("norm"),
    )
    out = toks.select(
        "doc_id",
        F.explode(
            textops.shingles_from_tokens(F.col("toks"), F.col("norm"), k)
        ).alias("shingle"),
    )
    return out.distinct() if distinct else out


def _shingle_pair_stats(
    docs: DataFrame, k: int, max_shingle_df: int | None
) -> DataFrame:
    """(doc_a, doc_b, n_inter, size_a, size_b) over hashed k-word
    shingles (doc_a < doc_b; pairs with no shared shingle never
    appear) — the common core of set-overlap dedup measures
    (Jaccard, containment).

    Scale posture: sets are represented by their 32-bit shingle hashes
    (same portable hash in the oracle, so results match exactly —
    "hashed-shingle" overlap, the standard large-corpus practice): the
    self-join shuffles compact (id, long) rows instead of strings.
    ``max_shingle_df`` drops stop-shingles to bound skew. At 100 TB
    this runs as the verifier behind :func:`minhash_lsh_candidates`,
    not standalone.
    """
    sh = _bounded_persist(
        "shingle_pairs",
        # distinct=False: dedup happens once at the hash level below —
        # the string-level distinct would shuffle full shingle text
        # first, the single largest (and avoidable) exchange here.
        # Referenced three times below (sizes + both self-join sides):
        # persisted (bounded to one resident copy) so the shingle
        # pipeline runs once, not 3×.
        shingle_sets(docs, k, distinct=False).select(
            "doc_id", (textops.portable_hash32("shingle") % MERSENNE_P).alias("h")
        ).distinct(),
    )
    if max_shingle_df is not None:
        # Cap as a BROADCAST anti-join against the HOT set: shingles
        # over the DF cap number at most |rows|/cap, so the build side
        # is always broadcastable — the complementary inner join
        # against the (vocabulary-sized) small set would shuffle.
        df_counts = sh.groupBy("h").agg(F.count("*").alias("df"))
        hot = df_counts.filter(F.col("df") > max_shingle_df).select("h")
        sh = sh.join(F.broadcast(hot), "h", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")
    )
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All-pairs k-word-shingle Jaccard ≥ threshold (doc_a < doc_b).
    See :func:`_shingle_pair_stats` for the scale posture."""
    return (
        _shingle_pair_stats(docs, k, max_shingle_df)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-SUPERSET pairs: shingle containment |A∩B| / min(|A|,|B|)
    ≥ threshold (doc_a < doc_b).

    The measure Jaccard structurally misses: a short document embedded
    verbatim in a much longer one (boilerplate wrappers, quoted
    articles, prompt-in-completion leakage) has Jaccard ≈ |A|/|B| → 0
    but containment ≈ 1. Training-data pipelines run BOTH passes —
    Jaccard for near-identical pairs, containment for subsumption.
    Same hashed-shingle core and skew cap as
    :func:`ngram_jaccard_pairs`; at 100 TB this too runs behind an LSH
    discovery stage (banding the SMALLER doc's signature biases
    recall toward the contained side).
    """
    return (
        _shingle_pair_stats(docs, k, max_shingle_df)
        .withColumn(
            "containment",
            F.round(
                F.col("n_inter") / F.least(F.col("size_a"), F.col("size_b")),
                4,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def _coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Carter-Wegman (a_i, b_i) pairs — mirrored literally in oracle SQL."""
    out = []
    for i in range(num_hashes):
        a = (i * HASH_A_MULT) % MERSENNE_P
        if a % 2 == 0:
            a += 1
        b = (i * HASH_B_MULT + HASH_B_ADD) % MERSENNE_P
        out.append((a, b))
    return out


def minhash_signatures_wide(
    docs: DataFrame, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(doc_id, mh_0 .. mh_{H-1}): H-permutation MinHash, one shuffle.

    All H mins are computed as H aggregate columns over the SAME
    shingle-hash rows — no H× row explosion, a single groupBy(doc_id).
    At 100 TB this is the difference between shuffling |shingles| rows
    and shuffling H·|shingles| rows.

    distinct=False: min() is idempotent to duplicate shingles, so the
    string-level dedup exchange would be pure waste — the only shuffle
    left is the groupBy, whose partial aggregate collapses each
    partition's rows to H longs per doc map-side.
    """
    sh = shingle_sets(docs, k, distinct=False).select(
        "doc_id",
        (textops.portable_hash32("shingle") % MERSENNE_P).alias("h"),
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_coefficients(num_hashes))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(doc_id, hash_idx, minhash) long-form signatures — an unpivot of
    :func:`minhash_signatures_wide` (post-agg, so the stack runs on
    |docs| rows, not |shingles|)."""
    wide = minhash_signatures_wide(docs, num_hashes, k)
    stack_expr = ", ".join(
        f"{i}, mh_{i}" for i in range(num_hashes)
    )
    return wide.select(
        "doc_id",
        F.expr(
            f"stack({num_hashes}, {stack_expr}) AS (hash_idx, minhash)"
        ),
    ).select("doc_id", F.col("hash_idx").cast("int").alias("hash_idx"), "minhash")


def minhash_band_buckets(
    signatures_wide: DataFrame, num_hashes: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, band_digest): md5 over each band's ordered minhash
    values — docs sharing (band, digest) are LSH candidates.

    Works on the wide signature form: each band digest is a direct
    concat of its member columns (hash-idx order by construction) — no
    collect_list/sort, no extra shuffle.
    """
    n_bands = num_hashes // rows_per_band
    bands = []
    for band in range(n_bands):
        cols = [
            F.col(f"mh_{band * rows_per_band + j}").cast("string")
            for j in range(rows_per_band)
        ]
        # F.concat (NULL-propagating, like SQL ||), NOT concat_ws: a
        # doc with no shingle hashes (NULL text) has NULL minhashes,
        # and concat_ws would SKIP them — collapsing every such doc
        # into one shared ""-digest bucket and fabricating candidate
        # pairs; a NULL digest instead drops out of the equi-join on
        # both engines (null_fuzz_sweep's catch).
        parts = [cols[0]]
        for c in cols[1:]:
            parts.extend([F.lit(","), c])
        bands.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(F.concat(*parts)).alias("band_digest"),
            )
        )
    return signatures_wide.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.band_digest").alias("band_digest"))


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    k: int = 3,
) -> DataFrame:
    """Distinct candidate near-dup pairs (doc_a < doc_b) from banded
    MinHash — the scale path: only same-bucket docs ever meet."""
    # Both self-join sides read the bucket table: persist (bounded to
    # one resident copy) to compute the signature pipeline once.
    buckets = _bounded_persist(
        "lsh_buckets",
        minhash_band_buckets(
            minhash_signatures_wide(docs, num_hashes, k),
            num_hashes, rows_per_band,
        ),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "band_digest"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash): bit-vote over per-token portable hashes.

    ONE groupBy over token rows with ``bits`` sum expressions — each
    bit's ±1 vote is a column, not an exploded row, so the shuffle
    carries |tokens| rows instead of |tokens|×bits (the 32× inflation
    the naive relational form pays). Partial aggregation then reduces
    map-side to one row per (partition, doc): what actually crosses the
    wire is ~|docs|×partitions tiny rows. Near-dup docs agree on most
    bits.
    """
    toks = docs.select(
        "doc_id",
        F.explode(textops.tokens("text")).alias("token"),
    ).withColumn("h", textops.portable_hash32("token"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b) % 2 == 1, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(bits)
        ]
    )
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + F.when(
            F.col(f"_v{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", out.alias("simhash"))


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """COMPLETE hamming-≤k near-dup pairs over SimHash signatures.

    Pigeonhole banding: split the ``bits``-bit signature into
    ``n_bands`` equal bands; two signatures within hamming distance
    k < n_bands must agree EXACTLY on at least one band, so an
    equi-join on (band, band_value) finds every qualifying pair — this
    is exact search, not LSH approximation. Verify = popcount of the
    XOR on candidates.

    Scale shape: the join shuffles (doc_id, signature, band, value)
    rows — 8+8 bytes of payload, |docs|×n_bands rows; the signature
    rides along so the verify needs no second join. Candidate count is
    bounded by band-bucket occupancy, tunable via bits/n_bands.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"completeness needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands")
    width = bits // n_bands
    mask = (1 << width) - 1
    sig = simhash(docs, bits)
    # Persisted (bounded to one resident copy): both sides of the band
    # self-join read this table, and without the persist the simhash
    # aggregation (token explode + 32 bit-vote sums over the whole
    # corpus) executes twice.
    bands = _bounded_persist(
        "simhash_bands",
        sig.select(
            "doc_id",
            "simhash",
            F.posexplode(
                F.array(*[
                    F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ])
            ).alias("band", "val"),
        ),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
        "band", "val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
        "band", "val",
    )
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def benchmark_contamination(
    train: DataFrame, bench: DataFrame, k: int = 3
) -> DataFrame:
    """Per-document benchmark-contamination score: the fraction of a
    training document's distinct k-word shingles that also occur in a
    held-out benchmark/eval corpus.

    This is the decontamination pass every training-data pipeline runs
    before finalizing a corpus (drop or flag documents that leak eval
    content). Scale shape: benchmark corpora are tiny relative to the
    corpus (millions of shingles vs. trillions of rows), so the bench
    shingle set is a **broadcast** build side; the training side is a
    narrow explode whose per-doc dedup happens in array land
    (``array_distinct``, no exchange) and whose groupBy collapses
    map-side (a doc's shingles are co-located by construction) — the
    one shuffle carries a single row per document.

    Returns (doc_id, n_shingles, n_hits, contamination) for every
    training document; callers threshold as policy dictates.
    """
    tsh = train.select(
        "doc_id",
        F.explode(
            F.array_distinct(textops.word_shingles("text", k))
        ).alias("shingle"),
    )
    bsh = (
        bench.select(
            F.explode(
                F.array_distinct(textops.word_shingles("text", k))
            ).alias("shingle")
        )
        .distinct()
        .withColumn("_hit", F.lit(1).cast("long"))
    )
    per_doc = (
        tsh.join(F.broadcast(bsh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0).cast("long")))
            .cast("long")
            .alias("n_hits"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_hits",
        F.round(
            F.col("n_hits") / F.col("n_shingles").cast("double"), 4
        ).alias("contamination"),
    )


def cdc_chunks(docs: DataFrame, divisor: int = 16) -> DataFrame:
    """Content-defined chunking (CDC): split each token stream at
    positions where the token's portable hash ≡ 0 (mod ``divisor``) —
    chunk boundaries are a pure function of LOCAL content, so an
    insertion or deletion only redraws the one chunk it touches and
    every later chunk re-aligns identically (the property fixed-width
    spans lack: one inserted word shifts every subsequent 8-word span
    and defeats their dedup). Average chunk length ≈ ``divisor``
    tokens. The gear-style single-token trigger is the simplest CDC
    boundary rule; rolling-window variants (Rabin-Karp over the last w
    tokens, cf. textops.rolling_hash) bound worst-case chunk length
    the same way production CDC (LBFS, restic, borg) does.

    Returns (doc_id, idx, chunk) — idx is the chunk's position in the
    document. Entirely Catalyst array expressions: zero shuffle, zero
    Python; the boundary token closes its chunk.
    """
    base = docs.select(
        "doc_id", textops.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 1)
    bounds = F.filter(
        F.sequence(F.lit(1), F.size("toks")),
        lambda i: textops.portable_hash32(
            F.element_at(F.col("toks"), i)
        )
        % divisor
        == 0,
    )
    with_bounds = base.select("doc_id", "toks", bounds.alias("bounds"))
    starts = F.concat(
        F.array(F.lit(1)),
        F.transform(F.col("bounds"), lambda b: b + 1),
    )
    ends = F.concat(F.col("bounds"), F.array(F.size("toks")))
    chunks = F.zip_with(
        starts,
        ends,
        lambda s, e: F.when(
            e >= s, F.array_join(F.slice(F.col("toks"), s, e - s + 1), " ")
        ),
    )
    return (
        with_bounds.select(
            "doc_id", F.posexplode(chunks).alias("idx", "chunk")
        )
        .filter(F.col("chunk").isNotNull())
    )


def decontaminate(
    train: DataFrame, benchmark: DataFrame, k: int = 3
) -> DataFrame:
    """Train-set DECONTAMINATION against a held-out benchmark corpus —
    the GPT-3 Appendix-C / C4-analysis recipe (Brown et al. 2020;
    Dodge et al. 2021), re-expressed Spark-first: flag every train
    document sharing at least one k-word shingle with ANY benchmark
    document, reporting the overlap evidence so the pipeline can drop
    or audit. Returns ``(doc_id, n_overlap, set_size,
    overlap_ratio)`` for contaminated train docs only.

    Scale posture: the benchmark side reduces to its DISTINCT shingle
    HASHES — real eval suites are megabytes, so that set broadcasts
    (hinted) and the train corpus streams through a map-side semi
    join; the train text itself never moves. Same portable md5-based
    32-bit hash family as every other shingle operator, so the DuckDB
    oracle states the identical computation.
    """
    bench_h = (
        shingle_sets(benchmark, k, distinct=False)
        .select(
            (textops.portable_hash32("shingle") % MERSENNE_P).alias("h")
        )
        .distinct()
    )
    train_h = (
        shingle_sets(train, k, distinct=False)
        .select(
            "doc_id",
            (textops.portable_hash32("shingle") % MERSENNE_P).alias("h"),
        )
        .distinct()
    )
    sizes = train_h.groupBy("doc_id").agg(
        F.count("h").alias("set_size")
    )
    hits = (
        train_h.join(F.broadcast(bench_h), "h")
        .groupBy("doc_id")
        .agg(F.count("h").alias("n_overlap"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_overlap",
        "set_size",
        F.round(
            F.col("n_overlap") / F.col("set_size").cast("double"), 4
        ).alias("overlap_ratio"),
    )
