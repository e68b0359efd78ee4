"""Deduplication operators over the documents table.

Five flavors (exact → fuzzy), as a large-scale training-data pipeline needs:

1. exact           — hash groupBy on content (oracle-checked)
2. keep-first      — exact dedup retaining min doc_id (oracle-checked)
3. n-gram Jaccard  — fingerprint-blocked pairwise Jaccard (oracle-checked)
4. MinHash + LSH   — banding candidates, Jaccard-verified (oracle-checked:
                     the md5 hash family is byte-identical in DuckDB)
5. SimHash         — 60-bit md5-derived simhash, 15-bit-chunk blocking,
                     Hamming verify (oracle-checked, same md5 family)

Scale notes: every flavor is blocking-based — candidate pairs come from an
equi-join on a bucket key (fingerprint / LSH band / simhash band), never a
cross join. At 100 TB the bucket join shuffles ~n_docs×bands rows of
(key, id, small-payload); the quadratic work happens only within buckets,
whose expected size is O(1) for near-uniform hash keys. Skewed buckets
(e.g. empty-doc signatures) are pre-filtered.

The pair queries persist the signature/shingle table that both self-join
sides and the verify read (recomputed per reader it measured 56x slower)
and register it with ``caching.deferred``, so it lives as long as its
query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from als_pyspark_spark.functions.hashing import (
    hamming64,
    lsh_bands,
    md5_hash60,
    minhash_signature,
    simhash64,
)
from als_pyspark_spark.caching import deferred
from als_pyspark_spark.functions.text import fingerprint, tokens, word_ngrams
from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.tables import load_table

_SHINGLE_N = 3
_NUM_HASHES = 16
_BANDS = 4
_ROWS_PER_BAND = 4  # 16 = 4 bands × 4 rows; ~0.5 candidate prob at j≈0.7

# ---------------------------------------------------------------------------
# Adaptive clone-class collapse.
#
# The pairwise tiers (prefix join / MinHash / SimHash) can run two
# physically different but output-identical plans: DOC-LEVEL (one row per
# document through blocking + verify) or CLASS-LEVEL (group identical
# texts/shingle sets first, run candidate + verify per DISTINCT class,
# expand doc pairs at the end). Class-level wins big on clone-dense
# corpora (sf1: −2.1/−7.1s; at 100 TB every boilerplate clone verifies
# ONCE) but pays a pure-overhead class groupBy when the corpus is
# clone-free (sf0.01/0.1: +0.3–1.8s/query, distinct-classes ≈ docs).
# The choice is a fixture statistic, so decide from one: the distinct-
# text ratio. approx_count_distinct keeps the decision scan a partial-
# agg-only job (HLL partials, no wide shuffle — at 100 TB this is the
# cheapest full-scan statistic there is), and a ±2% estimate error can
# only misclassify corpora near the threshold, where BOTH plans are
# correct and within noise of each other. Memoized per fixture dir —
# the three tiers share one scan, exactly like a warehouse reusing
# ANALYZE statistics (``runner.reset_memos`` clears the memo, so every
# bench pass reprices it honestly).
_COLLAPSE_MAX_DISTINCT_RATIO = 0.95
_CLONE_RATIO: dict[str, float] = {}


def _clone_ratio(spark: SparkSession, sf_dir: str) -> float:
    """Memoized distinct-text ratio (≈ n_text_classes / n_docs) of the
    fixture's documents table."""
    got = _CLONE_RATIO.get(sf_dir)
    if got is None:
        # xxhash64, not md5: the statistic never faces an oracle, so the
        # cheapest 64-bit hash wins — measured ~3× cheaper per decision
        # scan on the long text column (the scan is repriced every bench
        # pass, so its cost is part of the first dedup query's number)
        row = (
            load_table(spark, sf_dir, "documents")
            .agg(
                F.approx_count_distinct(F.xxhash64("text"), 0.02).alias(
                    "classes"
                ),
                F.count("*").alias("docs"),
            )
            .collect()[0]
        )
        got = _CLONE_RATIO[sf_dir] = (
            row["classes"] / row["docs"] if row["docs"] else 1.0
        )
    return got


def _collapse_clones(spark: SparkSession, sf_dir: str) -> bool:
    """True when clone density justifies the class-level plan."""
    return _clone_ratio(spark, sf_dir) <= _COLLAPSE_MAX_DISTINCT_RATIO


@query(
    "q_dedup_exact",
    oracle="""
SELECT MD5(text) AS text_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keeper_id
FROM documents
GROUP BY MD5(text)
""",
    tags=("dedup", "exact"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep min doc_id per group."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_id"))
    )


@query(
    "q_dedup_exact_survivors",
    oracle="""
SELECT MIN(doc_id) AS doc_id, ANY_VALUE(n_chars) AS n_chars
FROM documents
GROUP BY text
""",
    tags=("dedup", "exact"),
)
def q_dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving rows after exact dedup (keep-first policy)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.first("n_chars").alias("n_chars")
    ).drop("text")


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH shingled AS (
    SELECT doc_id,
           list_distinct(
               list_transform(
                   generate_series(1, GREATEST(len(string_split(text, ' ')) - {_SHINGLE_N - 1}, 0)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
               )
           ) AS grams,
           CASE WHEN len(string_split(text, ' ')) >= {_SHINGLE_N}
                THEN list_min(list_transform(
                    list_transform(
                        generate_series(1, len(string_split(text, ' ')) - {_SHINGLE_N - 1}),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                    ), g -> MD5(g)))
                ELSE MD5(text)
           END AS fp
    FROM documents
)
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS DOUBLE)
         / (len(a.grams) + len(b.grams) - len(list_filter(a.grams, g -> list_contains(b.grams, g))))
         AS jaccard
FROM shingled a JOIN shingled b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
WHERE CAST(len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS DOUBLE)
      / (len(a.grams) + len(b.grams) - len(list_filter(a.grams, g -> list_contains(b.grams, g)))) >= 0.5
""",
    tags=("dedup", "jaccard", "ngram"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs, blocked by winnowing fingerprint.

    Blocking key = min-md5 3-gram fingerprint (functions/text.py); exact
    Jaccard on distinct shingle sets verifies each candidate pair.
    Integer set sizes → exact double division → oracle hash-matches.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # repartition first: shingling + fingerprinting is the CPU-heavy step
    # and the corpus parquet may be a single row group (1 task); persist
    # because the projection feeds BOTH sides of the fp-blocked self-join
    n_part = spark.sparkContext.defaultParallelism
    shingled = deferred(
        d.repartition(n_part, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(word_ngrams(toks, _SHINGLE_N)).alias("grams"),
            fingerprint(toks, _SHINGLE_N).alias("fp"),
        )
        .persist()
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size("a.grams") + F.size("b.grams") - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )


_GRAM_CONCAT = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(_SHINGLE_N))

# Jaccard threshold for the prefix-filtered set-similarity join. 0.5, the
# same operating point as the fingerprint-blocked and MinHash tiers, so
# the three tiers' outputs are directly comparable.
_PREFIX_TAU = 0.5


@query(
    "q_dedup_jaccard_prefix_join",
    oracle=f"""
WITH toked AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), shingled AS (
    SELECT doc_id,
           list_distinct(list_transform(
               list_distinct(list_transform(
                   generate_series(1, GREATEST(len(t) - {_SHINGLE_N - 1}, 0)),
                   i -> {_GRAM_CONCAT})),
               g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS hs
    FROM toked
), nonempty AS (
    SELECT doc_id, hs, len(hs) AS n FROM shingled WHERE len(hs) > 0
), tok AS (
    SELECT doc_id, n, UNNEST(hs) AS h FROM nonempty
), dfq AS (
    SELECT h, COUNT(*) AS df FROM tok GROUP BY h
), ranked AS (
    SELECT tok.doc_id, tok.n, tok.h,
           ROW_NUMBER() OVER (PARTITION BY tok.doc_id
                              ORDER BY dfq.df ASC, tok.h ASC) AS rn
    FROM tok JOIN dfq USING (h)
), pre AS (
    SELECT doc_id, n, h, rn FROM ranked
    WHERE rn <= n - CAST(CEIL({_PREFIX_TAU} * n) AS BIGINT) + 1
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pre a JOIN pre b
      ON a.h = b.h AND a.doc_id < b.doc_id
     AND {_PREFIX_TAU} * b.n <= a.n AND {_PREFIX_TAU} * a.n <= b.n
     AND 1 + LEAST(a.n - a.rn, b.n - b.rn) >= (a.n + b.n + 2) // 3
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_filter(sa.hs, x -> list_contains(sb.hs, x))) AS DOUBLE)
         / (sa.n + sb.n
            - len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))) AS jaccard
FROM cand c
JOIN nonempty sa ON sa.doc_id = c.doc_a
JOIN nonempty sb ON sb.doc_id = c.doc_b
WHERE CAST(len(list_filter(sa.hs, x -> list_contains(sb.hs, x))) AS DOUBLE)
      / (sa.n + sb.n - len(list_filter(sa.hs, x -> list_contains(sb.hs, x))))
      >= {_PREFIX_TAU}
""",
    tags=("dedup", "jaccard", "prefix-filter", "ppjoin"),
)
def q_dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-COMPLETE set-similarity self-join at Jaccard ≥ τ via prefix
    filtering (the PPJoin/AllPairs candidate rule, Xiao et al. 2008 /
    Bayardo et al. 2007) — the deterministic tier of the Jaccard ladder.
    The winnowing-fingerprint tier blocks on ONE min-hash gram (cheap,
    can miss pairs whose min-grams differ) and MinHash-LSH is
    probabilistic by construction; this tier GUARANTEES every qualifying
    pair is produced, without an all-pairs comparison.

    Candidate rule: order every doc's distinct 3-gram shingles by global
    document frequency ascending (rarest first, gram string tie-break);
    a doc's PREFIX is its first |g| − ceil(τ·|g|) + 1 grams. If
    J(A,B) ≥ τ, the two prefixes must intersect: take c = the
    smallest-ranked common gram; if c were outside A's prefix then at
    least ℓ(A) grams of A rank before c and none of them is common, so
    |A∩B| ≤ |A| − ℓ(A) = ceil(τ|A|) − 1 < τ|A| ≤ τ|A∪B| — contradicting
    J ≥ τ (symmetric for B). So an equi-join on PREFIX grams finds every
    qualifying pair, and rarest-first ordering makes prefix buckets the
    SMALLEST ones (a common boilerplate gram sits at the back of every
    prefix ordering and never generates candidates).

    Scale shape: one df-count aggregate (map-side combined), one
    per-doc window rank (keyed by doc_id), the prefix self-equi-join
    with the length filter τ·|B| ≤ |A| ≤ |B|/τ (J ≥ τ forces
    min ≥ τ·max, so mismatched sizes never verify — pruned before the
    shuffle), then exact Jaccard verification of the distinct candidate
    pairs. Nothing pairwise corpus-wide. EVERYTHING downstream of the
    shingling carries 60-bit md5 gram HASHES, never gram strings — the
    verify join ships arrays of longs, measured 3× the end-to-end query
    vs string arrays at sf0.1 (the dedup module's standard hash-payload
    discipline). A hash collision (P ≈ n²/2⁶¹) merges two grams
    IDENTICALLY in both engines — it can only inflate an intersection,
    never lose a qualifying pair, and cannot split the oracle. The
    hashed shingle table persists for its three readers (prefix build +
    both verify sides) via ``caching.deferred`` — corpus-proportional,
    released at the harness checkpoint.

    EXACT oracle: DuckDB replays the identical rule over the identical
    md5-derived hashes (same rank order, same ceil arithmetic — 0.5·n
    and CEIL are IEEE-exact both sides); integer set sizes divide to
    bit-identical doubles (the sibling tiers' established discipline).

    CLONE-CLASS GROUPING (the physical plan; the output is unchanged):
    web-scale corpora are clone-dense — at the sf1 fixture 50,000 docs
    collapse to 4,992 distinct shingle SETS and 90% of the qualifying
    pairs are intra-clone (J = 1 exactly). Jaccard depends only on the
    set, so the prefix join, positional filter and verify all run over
    DISTINCT sets (groupBy on the sorted hash array — structurally
    exact, no collision argument needed), and doc pairs are expanded at
    the end: intra-class pairs emit J = 1.0 directly, cross-class pairs
    inherit the class pair's verified J. Candidate completeness is
    order-agnostic (the prefix proof above holds for ANY total gram
    order), so ranking by class-level df instead of doc-level df is
    still complete, and the τ-verify makes the OUTPUT independent of
    the order either engine used — the doc-level oracle hash-matches.
    Measured 17.5 → ~4s at sf1; at 100 TB this is the difference
    between verifying every boilerplate clone pair and verifying each
    boilerplate ONCE. ADAPTIVE: on a clone-FREE corpus (distinct-text
    ratio > 0.95, see ``_collapse_clones``) the class groupBy is pure
    overhead, so the plan falls through to identity classes (gid =
    doc_id, no groupBy) — the doc-level shape. Both
    paths hash-match the same doc-level oracle; tests pin both.
    """
    return _prefix_join_plan(spark, sf_dir, _collapse_clones(spark, sf_dir))


def _prefix_join_plan(
    spark: SparkSession, sf_dir: str, collapse: bool
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    hs = F.array_distinct(
        F.transform(
            F.array_distinct(word_ngrams(tokens(F.col("text")), _SHINGLE_N)),
            md5_hash60,
        )
    )
    if collapse:
        # canonical groupBy key needs a deterministic element order;
        # everything downstream (explode / array_intersect) is
        # order-independent, so doc mode skips the per-doc sort
        hs = F.sort_array(hs)
    hashed = (
        d.repartition(n_part, "doc_id")
        .select("doc_id", hs.alias("hs"))
        .where(F.size("hs") > 0)
    )
    if collapse:
        # one row per DISTINCT shingle set; gid = min doc_id of the class
        cls = hashed.groupBy("hs").agg(
            F.min("doc_id").alias("gid"),
            F.collect_list("doc_id").alias("docs"),
        )
    else:
        # identity classes: gid = doc_id, singleton expansion arrays —
        # the doc-level plan with the class groupBy skipped entirely
        cls = hashed.select(
            F.col("doc_id").alias("gid"),
            F.array("doc_id").alias("docs"),
            "hs",
        )
    sets_ = deferred(
        cls.select("gid", "docs", "hs", F.size("hs").alias("n")).persist()
    )
    tok = sets_.select("gid", "n", F.explode("hs").alias("h"))
    # Document frequency stays a groupBy + join, NOT a window count over
    # the gram key (A/B measured): a partitionBy(h) window looked like
    # the §2.4 shared-exchange move but measured ~1.4× SLOWER (8-9s →
    # 12-13s isolated at sf0.1) — h is a maximal-cardinality key, so
    # WindowExec pays per-group buffering over millions of 1-3-row
    # groups, where the hash aggregate + join handles the same keys in
    # one hash table. The shared-exchange window trick needs FEW, LARGE
    # partitions (the PageRank degree window's node key), not a
    # gram-grain key.
    dfq = tok.groupBy("h").agg(F.count("*").alias("df"))
    w = Window.partitionBy("gid").orderBy(F.asc("df"), F.asc("h"))
    pre = (
        tok.join(dfq, "h")
        .withColumn("rn", F.row_number().over(w))
        .where(
            F.col("rn")
            <= F.col("n") - F.ceil(F.lit(_PREFIX_TAU) * F.col("n")) + 1
        )
        .select("gid", "n", "h", "rn")
    )
    a, b = pre.alias("a"), pre.alias("b")
    # positional filter (PPJoin): a meeting at prefix positions (rn_a,
    # rn_b) can still reach overlap at most 1 + min(n_a−rn_a, n_b−rn_b);
    # J ≥ τ needs |A∩B| ≥ τ/(1+τ)·(n_a+n_b) = ceil((n_a+n_b)/3) at
    # τ=0.5 — integer arithmetic, so both engines agree bit-for-bit,
    # and the filter is prune-only (a pair meeting at several prefix
    # grams survives if ANY meeting passes, and the earliest meeting is
    # always the loosest bound — no qualifying pair can be lost).
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.gid") < F.col("b.gid"))
            & (F.lit(_PREFIX_TAU) * F.col("b.n") <= F.col("a.n"))
            & (F.lit(_PREFIX_TAU) * F.col("a.n") <= F.col("b.n"))
            & (
                1
                + F.least(
                    F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
                )
                >= F.floor((F.col("a.n") + F.col("b.n") + 2) / 3)
            ),
        )
        .select(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
        .distinct()
    )
    sa = sets_.select(
        F.col("gid").alias("ga"), F.col("hs").alias("ha"),
        F.col("n").alias("na"), F.col("docs").alias("da"),
    )
    sb = sets_.select(
        F.col("gid").alias("gb"), F.col("hs").alias("hb"),
        F.col("n").alias("nb"), F.col("docs").alias("db"),
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    union = F.col("na") + F.col("nb") - inter
    # verified CLASS pairs → expand to doc pairs (distinct classes never
    # collide, so least/greatest orientation alone keeps pairs unique)
    cross = (
        cand.join(sa, "ga")
        .join(sb, "gb")
        .select("da", "db", (inter.cast("double") / union).alias("jaccard"))
        .where(F.col("jaccard") >= _PREFIX_TAU)
        .select(F.explode("da").alias("ia"), "db", "jaccard")
        .select("ia", F.explode("db").alias("ib"), "jaccard")
        .select(
            F.least(F.col("ia"), F.col("ib")).alias("doc_a"),
            F.greatest(F.col("ia"), F.col("ib")).alias("doc_b"),
            "jaccard",
        )
    )
    if not collapse:
        # identity classes: every qualifying pair (including exact
        # clones, J = 1 via the verify) already flows through `cross`
        return cross
    # intra-class pairs: identical sets, J = 1.0 exactly on both engines
    intra = (
        sets_.where(F.size("docs") >= 2)
        .select(F.explode("docs").alias("ia"), "docs")
        .select("ia", F.explode("docs").alias("ib"))
        .where(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("doc_a"),
            F.col("ib").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


@query(
    "q_dedup_minhash_lsh",
    oracle=f"""
WITH tk AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), shingled AS (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, GREATEST(len(t) - {_SHINGLE_N - 1}, 0)),
               i -> {_GRAM_CONCAT})) AS grams
    FROM tk
), sig AS (
    -- Kirsch–Mitzenmacher double hashing, mirroring functions/hashing.py:
    -- one md5 per shingle, h1/h2 = first/second 8 hex chars, g_i = h1+i*h2
    SELECT doc_id, grams,
           list_transform(generate_series(0, {_NUM_HASHES - 1}),
               i -> COALESCE(list_min(list_transform(grams,
                        s -> ('0x' || substr(md5(s), 1, 8))::BIGINT
                             + i * ('0x' || substr(md5(s), 9, 8))::BIGINT)),
                    9223372036854775807)) AS sig
    FROM shingled WHERE len(grams) > 0
), banded AS (
    SELECT doc_id,
           bs.b::VARCHAR || ':' ||
             md5(array_to_string(list_slice(sig,
                 bs.b * {_ROWS_PER_BAND} + 1,
                 bs.b * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}), ',')) AS band
    FROM sig, (SELECT UNNEST(generate_series(0, {_BANDS - 1})) AS b) bs
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_filter(sa.grams, g -> list_contains(sb.grams, g))) AS DOUBLE)
         / (len(sa.grams) + len(sb.grams)
            - len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))) AS jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE CAST(len(list_filter(sa.grams, g -> list_contains(sb.grams, g))) AS DOUBLE)
      / (len(sa.grams) + len(sb.grams)
         - len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))) >= 0.5
""",
    tags=("dedup", "minhash", "lsh"),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle → 16-hash signature → 4 bands →
    bucket join → exact-Jaccard verification ≥ 0.5.

    Shape chosen for scale (and measured 3× faster even at sf0.01):
    - repartition before the signature projection — the corpus parquet may
      be a single row group, and hashing is the CPU-heavy step, so spread
      it across cores/executors first (a few KiB/row shuffle, trivial);
    - persist the signature table — it feeds BOTH sides of the band
      self-join and the verification join; without it Spark recomputes the
      whole shingle+hash pipeline three times;
    - the band self-join carries ONLY (band, doc_id); shingle arrays join
      back by doc_id for verification — at 100 TB the band shuffle moves
      ids, not n_bands copies of every document's shingle set.

    EXACT oracle: the md5 minhash family (functions/hashing.py) is
    byte-identical in DuckDB, so the oracle replays signature, banding,
    candidate join, and integer-set Jaccard verbatim — every emitted pair
    AND its jaccard value hash-match. Recall vs the fingerprint-blocked
    Jaccard pairs is additionally asserted in tests/test_dedup.py.

    CLONE-CLASS GROUPING (physical only — the prefix-join tier's
    rewrite, same argument): signature, bands and Jaccard depend only on
    the gram SET, so docs with identical sets collapse to one class row
    (groupBy the sorted gram array) before signature hashing, banding,
    the band self-join and verification; doc pairs expand at the end
    (intra-class pairs share every band and have J = 1 exactly — they
    were all candidates and all qualified in the doc-level plan too).
    The clone-dense sf1 fixture verifies 100× fewer pairs and hashes
    10× fewer signatures; the oracle stays the doc-level replay, so the
    hash-match also certifies the collapse's equivalence. ADAPTIVE:
    clone-free corpora (see ``_collapse_clones``) skip the class groupBy
    and run identity classes — the doc-level shape.
    """
    return _minhash_plan(spark, sf_dir, _collapse_clones(spark, sf_dir))


def _minhash_plan(spark: SparkSession, sf_dir: str, collapse: bool) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    toks = tokens(F.col("text"))
    grams = F.array_distinct(word_ngrams(toks, _SHINGLE_N))
    if collapse:
        # canonical groupBy key only; the signature min-fold and the
        # Jaccard verify are order-independent, so doc mode skips it
        grams = F.sort_array(grams)
    shingled = (
        d.repartition(n_part, "doc_id")
        .select("doc_id", grams.alias("grams"))
        .where(F.size("grams") > 0)
    )
    if collapse:
        cls = shingled.groupBy("grams").agg(
            F.min("doc_id").alias("gid"),
            F.collect_list("doc_id").alias("docs"),
        )
    else:
        # identity classes (clone-free corpus): gid = doc_id, no groupBy
        cls = shingled.select(
            F.col("doc_id").alias("gid"),
            F.array("doc_id").alias("docs"),
            "grams",
        )
    sig = deferred(
        cls.withColumn("sig", minhash_signature(F.col("grams"), _NUM_HASHES))
        .persist()
    )
    banded = sig.select(
        "gid", F.explode(lsh_bands(F.col("sig"), _BANDS, _ROWS_PER_BAND)).alias("band")
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), "band")
        .where(F.col("a.gid") < F.col("b.gid"))
        .select(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
        .distinct()  # a class pair can collide in several bands
    )
    sa = sig.select(
        F.col("gid").alias("ga"), F.col("grams").alias("grams_a"),
        F.col("docs").alias("da"),
    )
    sb = sig.select(
        F.col("gid").alias("gb"), F.col("grams").alias("grams_b"),
        F.col("docs").alias("db"),
    )
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jac = inter.cast("double") / union
    cross = (
        cand.join(sa, "ga")
        .join(sb, "gb")
        .select("da", "db", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
        .select(F.explode("da").alias("ia"), "db", "jaccard")
        .select("ia", F.explode("db").alias("ib"), "jaccard")
        .select(
            F.least(F.col("ia"), F.col("ib")).alias("doc_a"),
            F.greatest(F.col("ia"), F.col("ib")).alias("doc_b"),
            "jaccard",
        )
    )
    if not collapse:
        return cross
    intra = (
        sig.where(F.size("docs") >= 2)
        .select(F.explode("docs").alias("ia"), "docs")
        .select("ia", F.explode("docs").alias("ib"))
        .where(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("doc_a"),
            F.col("ib").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


@query(
    "q_dedup_simhash",
    oracle="""
WITH tk AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), hv AS (
    SELECT doc_id,
           list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hs
    FROM tk
), sh AS (
    SELECT doc_id,
           list_aggregate(list_transform(generate_series(0, 59),
               b -> CASE WHEN list_aggregate(list_transform(hs,
                        h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END),
                        'sum') > 0
                    THEN (1::BIGINT << b) ELSE 0 END), 'sum') AS sh
    FROM hv
), chunks AS (
    SELECT doc_id, sh,
           cs.i::VARCHAR || ':' || (((sh >> (15 * cs.i)) & 32767)::VARCHAR) AS chunk
    FROM sh, (SELECT UNNEST(generate_series(0, 3)) AS i) cs
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sha, b.sh AS shb
    FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sha, shb)) <= 3
""",
    tags=("dedup", "simhash"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit simhash, blocked on 15-bit chunks
    (a pair within Hamming distance 3 must share ≥1 of 4 chunks — the
    standard pigeonhole blocking), verified with exact Hamming ≤ 3.

    EXACT oracle: the token hash is md5-derived (functions/hashing.py
    md5_hash60), byte-identical in DuckDB, so the oracle recomputes the
    same simhash integers, the same chunk keys, and the same Hamming
    distances — pairs and distances both hash-match.

    CLONE-CLASS GROUPING (physical only — the prefix-join/MinHash
    rewrite, same argument): the simhash is a pure function of the text,
    so exact-duplicate documents collapse to one class row (groupBy
    md5(text)) BEFORE the per-token simhash fold, the chunk join and the
    Hamming verify; doc pairs expand at the end (intra-class pairs share
    all 4 chunks and have Hamming 0, so the doc-level plan emitted them
    all too). The expensive per-doc step here is the 60-bit vote fold
    over every token — computing it once per DISTINCT text is the
    exact-dedup-before-enrichment pipeline ordering, paid for by one
    corpus-text shuffle (tens of MB per million docs, trivial next to
    the fold). ADAPTIVE: clone-free corpora (see ``_collapse_clones``)
    skip the md5(text) groupBy — the corpus-text shuffle buys nothing
    when every text is distinct — and compute the fold once per doc.
    """
    return _simhash_plan(spark, sf_dir, _collapse_clones(spark, sf_dir))


def _simhash_plan(spark: SparkSession, sf_dir: str, collapse: bool) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    if collapse:
        grouped = d.groupBy(F.md5("text").alias("th")).agg(
            F.min("doc_id").alias("gid"),
            F.collect_list("doc_id").alias("docs"),
            F.first("text").alias("text"),
        )
    else:
        # identity classes (clone-free corpus): no text shuffle; spread
        # the per-token fold across cores first (single-row-group guard)
        n_part = spark.sparkContext.defaultParallelism
        grouped = d.repartition(n_part, "doc_id").select(
            F.col("doc_id").alias("gid"),
            F.array("doc_id").alias("docs"),
            "text",
        )
    cls = deferred(
        grouped.select("gid", "docs", simhash64(tokens(F.col("text"))).alias("sh"))
        .persist()
    )
    chunks = cls.select(
        "gid",
        "sh",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        F.shiftright(F.col("sh"), 15 * i)
                        .bitwiseAND(F.lit(0x7FFF))
                        .cast("string"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(
            F.col("a.gid").alias("ga"),
            F.col("b.gid").alias("gb"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 3)
    )
    sa = cls.select(F.col("gid").alias("ga"), F.col("docs").alias("da"))
    sb = cls.select(F.col("gid").alias("gb"), F.col("docs").alias("db"))
    cross = (
        cand.join(sa, "ga")
        .join(sb, "gb")
        .select(F.explode("da").alias("ia"), "db", "hamming")
        .select("ia", F.explode("db").alias("ib"), "hamming")
        .select(
            F.least(F.col("ia"), F.col("ib")).alias("doc_a"),
            F.greatest(F.col("ia"), F.col("ib")).alias("doc_b"),
            "hamming",
        )
    )
    if not collapse:
        return cross
    intra = (
        cls.where(F.size("docs") >= 2)
        .select(F.explode("docs").alias("ia"), "docs")
        .select("ia", F.explode("docs").alias("ib"))
        .where(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("doc_a"),
            F.col("ib").alias("doc_b"),
            F.lit(0).cast(cross.schema["hamming"].dataType).alias("hamming"),
        )
    )
    return cross.unionByName(intra)


@query(
    "q_dedup_canonical",
    oracle="""
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT MD5(text)) AS raw_groups,
       COUNT(DISTINCT MD5(LOWER(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))) AS canon_groups
FROM documents
""",
    tags=("dedup", "canonical", "exact"),
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized exact dedup: lowercase + strip non-alphanumerics
    before hashing, catching case/punctuation variants plain exact dedup
    misses — the cheap normalization layer every training-data pipeline
    runs before fuzzy dedup. Output compares group counts under raw vs
    canonical hashing (canon_groups <= raw_groups always; strictly fewer
    when variants exist)."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.md5(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9 ]", "")))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("raw_groups"),
        F.countDistinct(canon).alias("canon_groups"),
    )


# Shared edge definition for cluster resolution: the fingerprint-blocked
# Jaccard pairs (deterministic on both engines — same blocking, same
# threshold), i.e. exactly q_dedup_ngram_jaccard's output.
_EDGE_CTE = f"""
shingled AS (
    SELECT doc_id,
           list_distinct(
               list_transform(
                   generate_series(1, GREATEST(len(string_split(text, ' ')) - {_SHINGLE_N - 1}, 0)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
               )
           ) AS grams,
           CASE WHEN len(string_split(text, ' ')) >= {_SHINGLE_N}
                THEN list_min(list_transform(
                    list_transform(
                        generate_series(1, len(string_split(text, ' ')) - {_SHINGLE_N - 1}),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                    ), g -> MD5(g)))
                ELSE MD5(text)
           END AS fp
    FROM documents
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM shingled a JOIN shingled b ON a.fp = b.fp AND a.doc_id < b.doc_id
    WHERE CAST(len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS DOUBLE)
          / (len(a.grams) + len(b.grams) - len(list_filter(a.grams, g -> list_contains(b.grams, g)))) >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
)
"""


@query(
    "q_dedup_clusters",
    oracle=f"""
WITH RECURSIVE
{_EDGE_CTE},
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node
""",
    tags=("dedup", "clusters", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: connected components over the Jaccard
    pair graph — the step that turns pairwise matches into dedup groups
    (keep min doc_id per component, drop the rest).

    Spark side: iterative min-label propagation on DataFrames — the
    reference's iterate/persist/unpersist loop pattern (SURVEY.md §2.8
    C1-C3) applied to our own operator instead of hidden inside MLlib.
    Each round: label[n] ← min(label[n], min label of neighbors); stop at
    fixpoint. Rounds = graph diameter (near-dup components are tiny, so
    2-4). The DuckDB oracle computes the same components with a recursive
    CTE — an EXACT check of an iterative distributed algorithm.

    Scale notes: each iteration is one join + one groupBy on (node) —
    shuffle-bounded by edge count; persist + unpersist per round truncates
    lineage exactly as the reference does across ALS iterations
    (reference ALS.py:121-135).
    """
    from als_pyspark_spark.functions.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # repartition-before-shingling + persist-the-self-join-input — the
    # module's discipline: the corpus parquet is a single row group, so the
    # CPU-heavy gram build otherwise runs on ONE task, and the self-join
    # re-ran it for BOTH sides. Measured at sf0.1: pair build 4.8-6.9s →
    # 0.7-1.3s, identical pairs.
    shingled = deferred(
        d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(word_ngrams(toks, _SHINGLE_N)).alias("grams"),
            fingerprint(toks, _SHINGLE_N).alias("fp"),
        )
        .persist()
    )
    from als_pyspark_spark.operators.graph import min_label_components

    a, b = shingled.alias("a"), shingled.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size("a.grams") + F.size("b.grams") - inter
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .where(inter.cast("double") / union >= 0.5)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    return min_label_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


_CONTAIN_THRESHOLD = 0.8


@query(
    "q_dedup_ngram_containment",
    oracle=f"""
WITH shingled AS (
    SELECT doc_id,
           list_distinct(
               list_transform(
                   generate_series(1, GREATEST(len(string_split(text, ' ')) - {_SHINGLE_N - 1}, 0)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
               )
           ) AS grams,
           CASE WHEN len(string_split(text, ' ')) >= {_SHINGLE_N}
                THEN list_min(list_transform(
                    list_transform(
                        generate_series(1, len(string_split(text, ' ')) - {_SHINGLE_N - 1}),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                    ), g -> MD5(g)))
                ELSE MD5(text)
           END AS fp
    FROM documents
)
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS DOUBLE)
         / LEAST(len(a.grams), len(b.grams)) AS containment
FROM shingled a JOIN shingled b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
WHERE CAST(len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS DOUBLE)
      / LEAST(len(a.grams), len(b.grams)) >= {_CONTAIN_THRESHOLD}
""",
    tags=("dedup", "containment", "ngram"),
)
def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.8,
    blocked by winnowing fingerprint — catches quotation/subsumption
    (a short doc embedded in a long one), which symmetric Jaccard dilutes
    below threshold as the length ratio grows.

    Same exactness contract as q_dedup_ngram_jaccard: BOTH engines block on
    fp equality, so the oracle is exact over the blocked candidate set
    (recall of the blocking itself is a separate, test-asserted property).
    Integer set sizes → exact double division → hash-stable.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_part = spark.sparkContext.defaultParallelism
    shingled = deferred(
        d.repartition(n_part, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(word_ngrams(toks, _SHINGLE_N)).alias("grams"),
            fingerprint(toks, _SHINGLE_N).alias("fp"),
        )
        .persist()
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    containment = inter.cast("double") / F.least(
        F.size("a.grams"), F.size("b.grams")
    )
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            containment.alias("containment"),
        )
        .where(F.col("containment") >= _CONTAIN_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Incremental dedup: Bloom-prefilter a new ingestion batch against the
# historical corpus. The canonical 100 TB ingestion shape — the historical
# side is reduced ONCE to a compact membership filter; each new batch
# probes the broadcast filter and only candidates pay the exact
# verification join.

_BLOOM_M = 1 << 17  # filter bits (16 KiB as a real bitmap)
_BLOOM_K = 7        # hash functions (Kirsch-Mitzenmacher double hashing)


def _bloom_positions(df: DataFrame, *keep: str, m: int = _BLOOM_M) -> DataFrame:
    """Per-row Bloom bit positions g_i = (h1 + i*h2) mod m, i < K, from ONE
    md5 of the text (the repo's cross-engine hash family — DuckDB computes
    byte-identical md5, so the whole filter replays in the oracle).

    Shape note: the position expression sits ABOVE the explode generator
    while the md5 projection sits BELOW it, so the digest is computed once
    per document, not once per (document, i) — the runtime twin of the
    word_ngrams CollapseProject trap documented in functions/hashing.py.
    """
    hashed = df.select(
        *keep,
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(F.md5("text"), 9, 8), 16, 10).cast("long").alias("h2"),
    )
    return hashed.select(
        *keep,
        "h1",
        "h2",
        F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("i"),
    ).select(
        *keep,
        ((F.col("h1") + F.col("i") * F.col("h2")) % m).alias("pos"),
    )


# The modeled ingestion batch: a re-crawl fetches some known pages again
# byte-identical (doc_id % 5 == 0 — these are the true duplicates) and
# some pages that changed since last crawl (doc_id % 5 == 1, a marker
# appended — near the old text but NOT byte-equal, so exact dedup must
# keep them). Derived deterministically from the fixture because the
# driver corpus contains no exact text duplicates at all.
_NEW_BATCH_SQL = """
SELECT doc_id, source, text FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id, source, text || ' [updated]' AS text
FROM documents WHERE doc_id % 5 = 1
"""


def _new_batch(d: DataFrame) -> DataFrame:
    recrawl = d.where(F.col("doc_id") % 5 == 0).select("doc_id", "source", "text")
    updated = (
        d.where(F.col("doc_id") % 5 == 1)
        .select("doc_id", "source", F.concat("text", F.lit(" [updated]")).alias("text"))
    )
    return recrawl.unionAll(updated)


@query(
    "q_bloom_incremental_dedup",
    oracle=f"""
WITH new_docs AS ({_NEW_BATCH_SQL}),
hist_pos AS (
    SELECT DISTINCT (h1 + i * h2) % {_BLOOM_M} AS pos
    FROM (SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT AS h1,
                 ('0x' || substr(md5(text), 9, 8))::BIGINT AS h2
          FROM documents),
         generate_series(0, {_BLOOM_K - 1}) AS t(i)
),
new_pos AS (
    SELECT doc_id, source, (h1 + i * h2) % {_BLOOM_M} AS pos
    FROM (SELECT doc_id, source,
                 ('0x' || substr(md5(text), 1, 8))::BIGINT AS h1,
                 ('0x' || substr(md5(text), 9, 8))::BIGINT AS h2
          FROM new_docs),
         generate_series(0, {_BLOOM_K - 1}) AS t(i)
),
cand AS (
    SELECT doc_id, source
    FROM (SELECT np.doc_id, np.source,
                 COUNT(DISTINCT np.pos) AS n_pos,
                 COUNT(DISTINCT CASE WHEN hp.pos IS NOT NULL THEN np.pos END) AS n_hit
          FROM new_pos np LEFT JOIN hist_pos hp ON np.pos = hp.pos
          GROUP BY 1, 2)
    WHERE n_hit = n_pos
),
dup AS (
    SELECT n.doc_id, n.source
    FROM new_docs n
    WHERE EXISTS (SELECT 1 FROM documents h WHERE md5(h.text) = md5(n.text))
)
SELECT b.source,
       b.n_new,
       COALESCE(c.n_candidates, 0) AS n_candidates,
       COALESCE(d.n_true_dups, 0) AS n_true_dups,
       COALESCE(c.n_candidates, 0) - COALESCE(d.n_true_dups, 0)
           AS n_false_positives
FROM (SELECT source, COUNT(*) AS n_new FROM new_docs GROUP BY source) b
LEFT JOIN (SELECT source, COUNT(*) AS n_candidates FROM cand GROUP BY source) c
       ON b.source = c.source
LEFT JOIN (SELECT source, COUNT(*) AS n_true_dups FROM dup GROUP BY source) d
       ON b.source = d.source
""",
    tags=("dedup", "bloom", "incremental"),
)
def q_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an ingestion batch against the historical
    corpus through a Bloom prefilter. The batch models a re-crawl: some
    pages come back byte-identical (true duplicates to drop), some changed
    since the last crawl (must be kept — near-dup but not exact). The
    historical corpus reduces ONCE to a 2^17-bit membership filter (here
    its exact relational twin: the DISTINCT set of bit positions, ≤ 2^17
    rows, broadcast; a production run packs it into the 16 KiB bitmap it
    is); each new document probes its K=7 positions against the broadcast
    filter; only probe-positive candidates pay the exact verification
    join. Per source the row carries n_new, n_candidates (bloom-positive,
    INCLUDING any false positives), n_true_dups (exact md5 match) and
    n_false_positives — all EXACT: the md5 double-hash family replays
    byte-identically in DuckDB, so the oracle reproduces the filter
    bit-for-bit. (At fixture load factors the fp term is deterministically
    0 — ~7n/2^17 bit load; tests/test_dedup.py drives the same filter at
    m=256 to witness false positives firing and no false negative ever.)

    100 TB shape: the historical scan happens once per ingestion epoch and
    collapses to kilobytes; per batch the work is K in-memory probes per
    document plus an equi-join over the (tiny) candidate set — the reason
    large-scale ingestion pipelines front exact dedup with a filter. No
    false negative is possible by construction (identical text →
    identical positions, all present in the filter).

    Spark surface note: Spark's own BloomFilter lives in
    DataFrame.stat.bloomFilter (a driver-side object) and the runtime
    bloom_filter_agg is not SQL-exposed, so the filter is expressed in
    relational form — which is also what makes it oracle-checkable.
    """
    d = load_table(spark, sf_dir, "documents")
    new_docs = _new_batch(d)

    hist_pos = _bloom_positions(d).select("pos").distinct()
    new_pos = _bloom_positions(new_docs, "doc_id", "source")
    probed = (
        new_pos.join(
            F.broadcast(hist_pos.withColumn("hit", F.lit(1))), "pos", "left"
        )
        .groupBy("doc_id", "source")
        .agg(
            F.countDistinct("pos").alias("n_pos"),
            F.countDistinct(F.when(F.col("hit") == 1, F.col("pos"))).alias("n_hit"),
        )
    )
    cand = probed.where(F.col("n_hit") == F.col("n_pos")).select("doc_id", "source")

    dup = new_docs.join(
        d.select(F.md5("text").alias("th")).distinct(),
        F.md5(new_docs.text) == F.col("th"),
        "leftsemi",
    ).select("doc_id", "source")

    base = new_docs.groupBy("source").agg(F.count("*").alias("n_new"))
    n_cand = cand.groupBy("source").agg(F.count("*").alias("n_candidates"))
    n_dup = dup.groupBy("source").agg(F.count("*").alias("n_true_dups"))
    return (
        base.join(F.broadcast(n_cand), "source", "left")
        .join(F.broadcast(n_dup), "source", "left")
        .select(
            "source",
            "n_new",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_true_dups", F.lit(0)).alias("n_true_dups"),
            (
                F.coalesce("n_candidates", F.lit(0))
                - F.coalesce("n_true_dups", F.lit(0))
            ).alias("n_false_positives"),
        )
    )



# ---------------------------------------------------------------------------
# Incremental NEAR-DUP dedup: a new crawl batch probed against
# the historical corpus at the MinHash tier — the incremental twin of
# q_bloom_incremental_dedup, which covers only EXACT dedup (the Bloom
# filter's byte-identity can't see the %5==1 "page changed since last
# crawl" docs; the MinHash tier catches them as near-dups of their own
# previous crawl).

_INCR_TAU = 0.5  # same verify threshold as the batch-mode MinHash tier


@query(
    "q_dedup_minhash_incremental",
    oracle=f"""
WITH new_docs AS ({_NEW_BATCH_SQL}),
htk AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), hsh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, GREATEST(len(t) - {_SHINGLE_N - 1}, 0)),
               i -> {_GRAM_CONCAT})) AS grams
    FROM htk
), hsig AS (
    SELECT doc_id, grams,
           list_transform(generate_series(0, {_NUM_HASHES - 1}),
               i -> COALESCE(list_min(list_transform(grams,
                        s -> ('0x' || substr(md5(s), 1, 8))::BIGINT
                             + i * ('0x' || substr(md5(s), 9, 8))::BIGINT)),
                    9223372036854775807)) AS sig
    FROM hsh WHERE len(grams) > 0
), hband AS (
    SELECT doc_id,
           bs.b::VARCHAR || ':' ||
             md5(array_to_string(list_slice(sig,
                 bs.b * {_ROWS_PER_BAND} + 1,
                 bs.b * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}), ',')) AS band
    FROM hsig, (SELECT UNNEST(generate_series(0, {_BANDS - 1})) AS b) bs
), btk AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM new_docs
), bsh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, GREATEST(len(t) - {_SHINGLE_N - 1}, 0)),
               i -> {_GRAM_CONCAT})) AS grams
    FROM btk
), bsig AS (
    SELECT doc_id, grams,
           list_transform(generate_series(0, {_NUM_HASHES - 1}),
               i -> COALESCE(list_min(list_transform(grams,
                        s -> ('0x' || substr(md5(s), 1, 8))::BIGINT
                             + i * ('0x' || substr(md5(s), 9, 8))::BIGINT)),
                    9223372036854775807)) AS sig
    FROM bsh WHERE len(grams) > 0
), bband AS (
    SELECT doc_id,
           bs.b::VARCHAR || ':' ||
             md5(array_to_string(list_slice(sig,
                 bs.b * {_ROWS_PER_BAND} + 1,
                 bs.b * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}), ',')) AS band
    FROM bsig, (SELECT UNNEST(generate_series(0, {_BANDS - 1})) AS b) bs
), cand AS (
    SELECT DISTINCT b.doc_id AS bdoc, h.doc_id AS hdoc
    FROM bband b JOIN hband h ON b.band = h.band
), ver AS (
    SELECT c.bdoc,
           CAST(len(list_filter(sb.grams, g -> list_contains(sh.grams, g)))
                AS DOUBLE)
             / (len(sb.grams) + len(sh.grams)
                - len(list_filter(sb.grams, g -> list_contains(sh.grams, g))))
               AS j
    FROM cand c
    JOIN bsig sb ON sb.doc_id = c.bdoc
    JOIN hsig sh ON sh.doc_id = c.hdoc
), m AS (
    SELECT bdoc,
           CAST(COUNT(*) AS BIGINT) AS n_hist_matches,
           MAX(j) AS best_jaccard
    FROM ver WHERE j >= {_INCR_TAU} GROUP BY bdoc
)
SELECT n.doc_id, n.source,
       CAST(COALESCE(m.n_hist_matches, 0) AS BIGINT) AS n_hist_matches,
       COALESCE(m.best_jaccard, 0.0) AS best_jaccard
FROM new_docs n LEFT JOIN m ON m.bdoc = n.doc_id
""",
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash near-dedup: the re-crawl batch (same model as
    q_bloom_incremental_dedup — %5==0 pages byte-identical, %5==1 pages
    changed since last crawl) probes the HISTORICAL corpus's LSH band
    index; every batch document gets (n_hist_matches, best_jaccard) over
    Jaccard-verified historical matches at tau = 0.5. The byte-identical
    recrawls surface with best_jaccard = 1.0; the changed pages surface as
    near-dups of their own previous crawl (the docs the exact/Bloom tier
    structurally keeps) — together the two queries complete the
    incremental family across both dedup grains.

    NO BATCH-INTERNAL PAIR is ever counted, by construction rather than by
    filter: candidates come from joining batch bands to HISTORICAL bands
    only, so both the count and the max range over historical documents
    alone — the within-batch near-dup question belongs to the batch-mode
    tiers (q_dedup_minhash_lsh) run over the merged corpus afterwards.
    tests/test_dedup.py additionally witnesses the recrawl rows' exact
    self-match and the count's distinct-historical grain.

    Scale shape (100 TB): the historical signature/band index is the
    persisted epoch artifact (computed once per ingestion epoch, here in
    the same job); per batch the work is an equi-join of the batch's
    n_docs x n_bands band keys against the index — hash-partitioned on
    the band key, broadcastable by AQE when the batch is small — plus
    Jaccard verification of the (bounded) candidate set. The historical
    side collapses identical shingle sets to clone CLASSES first (gid +
    class size), so a batch doc hitting a boilerplate clone family
    verifies ONCE and counts the family by its stored size; the oracle
    stays the doc-level replay, so the hash-match also certifies the
    collapse (the q_dedup_minhash_lsh argument). Band payloads are ids
    and 32-hex band hashes, never shingle arrays.
    """
    d = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    toks = tokens(F.col("text"))
    grams = F.array_distinct(word_ngrams(toks, _SHINGLE_N))

    # historical index: clone-class collapse (sorted gram set as the class
    # key), signature, bands — the per-epoch artifact
    hcls = (
        d.repartition(n_part, "doc_id")
        .select("doc_id", F.sort_array(grams).alias("grams"))
        .where(F.size("grams") > 0)
        .groupBy("grams")
        .agg(F.min("doc_id").alias("gid"), F.count("*").alias("n_docs"))
    )
    hsig = deferred(
        hcls.withColumn("sig", minhash_signature(F.col("grams"), _NUM_HASHES)).persist()
    )
    hband = hsig.select(
        "gid",
        F.explode(lsh_bands(F.col("sig"), _BANDS, _ROWS_PER_BAND)).alias("band"),
    )

    # the incoming batch: doc-level (each row needs its own verdict)
    nb = _new_batch(d)
    bsig = deferred(
        nb.repartition(n_part, "doc_id")
        .select("doc_id", "source", grams.alias("grams"))
        .where(F.size("grams") > 0)
        .withColumn("sig", minhash_signature(F.col("grams"), _NUM_HASHES))
        .persist()
    )
    bband = bsig.select(
        "doc_id",
        F.explode(lsh_bands(F.col("sig"), _BANDS, _ROWS_PER_BAND)).alias("band"),
    )

    cand = (
        bband.join(hband, "band")
        .select("doc_id", "gid")
        .distinct()  # a pair can collide in several bands
    )
    inter = F.size(F.array_intersect("bg", "hg"))
    union = F.size("bg") + F.size("hg") - inter
    ver = (
        cand.join(bsig.select("doc_id", F.col("grams").alias("bg")), "doc_id")
        .join(
            hsig.select("gid", F.col("grams").alias("hg"), "n_docs"), "gid"
        )
        .select(
            "doc_id",
            "n_docs",
            (inter.cast("double") / union).alias("j"),
        )
        .where(F.col("j") >= _INCR_TAU)
    )
    agg = ver.groupBy("doc_id").agg(
        F.sum("n_docs").alias("n_hist_matches"),
        F.max("j").alias("best_jaccard"),
    )
    return (
        nb.select("doc_id", "source")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_hist_matches", F.lit(0)).cast("long").alias(
                "n_hist_matches"
            ),
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Fuzzy entity matching: edit-distance join with blocking — the entity-
# resolution primitive (same product/supplier/customer under slightly
# different names) that complements the token-set (Jaccard/MinHash) and
# bit-signature (SimHash) near-dup tiers with a CHARACTER-level one.

_FUZZY_MAX_DIST = 2


@query(
    "q_fuzzy_part_match",
    oracle=f"""
WITH p AS (
    SELECT p_partkey, p_name,
           string_split(p_name, ' ')[-1] || '|' || substr(p_name, 1, 1)
               AS block_key
    FROM part
),
pairs AS (
    SELECT a.block_key,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM p a JOIN p b
      ON a.block_key = b.block_key AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
)
SELECT block_key,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_near
FROM pairs
GROUP BY block_key
""",
    tags=("dedup", "fuzzy", "entity-resolution", "levenshtein"),
)
def q_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching over part names: block on the last name token
    (the product type), pair within blocks, keep pairs within Levenshtein
    distance 2, and report per-block match tallies — exact-name collisions
    (distance 0: the same product listed under different keys) separated
    from near-misses (transposed/edited qualifiers). Both engines compute
    classic Levenshtein on identical strings, so the integer tallies
    hash-match exactly.

    100 TB shape: the candidate set comes from the blocking equi-join
    (never all-pairs), and the block key is the REFINED production form —
    last token (product type) PLUS the first qualifier character — after
    the coarse type-only key measurably went quadratic on the 10×-clone
    sf1 fixture (block width scales with corpus over a fixed type
    vocabulary; pairs with its square). Refinement trades recall only for
    edits in the first character — the standard multi-pass blocking
    trade — and a still-skewed block is AQE skew-join territory.
    Character-level distance complements the token-set tiers: 'cold
    widget' vs 'bold widget' is invisible to 3-gram Jaccard (no shared
    shingles at n=3 tokens) but distance 1 here.

    NAME-CLASS COLLAPSE (output unchanged —
    the module's exact-dedup-before-near-dup ordering applied to entity
    matching): Levenshtein depends only on the STRING pair, and clone-
    dense catalogs repeat names — this fixture family collapses 20,000
    parts to 64 distinct names — so the pairwise join runs over DISTINCT
    (block, name) groups and the per-block tallies are recovered
    arithmetically: same-name groups of size c contribute c·(c−1)/2
    distance-0 pairs; distinct-name qualifying pairs (distance ≥ 1 by
    construction) contribute c_a·c_b near pairs. Two further prune-only
    cuts on the candidate join, both exactness-preserving: a length
    prefilter (|len(a)−len(b)| ≤ k is implied by dist ≤ k) drops pairs
    before any distance work, and Spark's BOUNDED
    ``levenshtein(a, b, k)`` (returns −1 past the threshold) replaces
    the unbounded O(|a|·|b|) form with the O(k·|a|) banded computation.
    Measured at sf0.1: 9.8-10.3s → 0.4-0.8s, identical rows; at clone-
    dense web scale the collapse is the difference between comparing
    every listing pair and comparing each distinct name pair once."""
    p = load_table(spark, sf_dir, "part").select(
        "p_name",
        F.concat(
            F.element_at(F.split("p_name", " "), -1),
            F.lit("|"),
            F.substring("p_name", 1, 1),
        ).alias("block_key"),
    )
    g = (
        p.groupBy("block_key", "p_name")
        .agg(F.count("*").alias("c"))
        .withColumn("ln", F.length("p_name"))
    )
    exact = g.groupBy("block_key").agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("n_exact"),
    )
    a, b = g.alias("a"), g.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), _FUZZY_MAX_DIST)
    near = (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.p_name") < F.col("b.p_name"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= _FUZZY_MAX_DIST),
        )
        .where(dist >= 0)
        .groupBy(F.col("a.block_key").alias("block_key"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("long").alias("n_near"))
    )
    return (
        exact.join(near, "block_key", "full")
        .select(
            "block_key",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce("n_near", F.lit(0)).alias("n_near"),
        )
        .where((F.col("n_exact") + F.col("n_near")) > 0)
        .select(
            "block_key",
            (F.col("n_exact") + F.col("n_near")).alias("n_pairs"),
            "n_exact",
            "n_near",
        )
    )


_SPAN_N = 5  # word n-gram width for the intra-doc repeated-span tier


@query(
    "q_dedup_intra_doc_spans",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
    WHERE len(string_split(text, ' ')) >= {_SPAN_N}
), g AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, len(w) - {_SPAN_N - 1}),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                    || ' ' || w[i+3] || ' ' || w[i+4]
           ) AS grams
    FROM toks
), e AS (
    SELECT doc_id, UNNEST(grams) AS gram FROM g
), c AS (
    SELECT doc_id, gram, COUNT(*) AS cnt FROM e GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
           AS n_repeated_positions,
       CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_distinct_repeated
FROM c GROUP BY doc_id
""",
    tags=("dedup", "intra-doc", "ngram", "scrub"),
)
def q_dedup_intra_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-span statistics — the WITHIN-doc dedup tier
    (boilerplate headers, navigation chrome, copy-pasted paragraphs repeat
    INSIDE one document; cross-doc dedup never sees them). Per document:
    total word 5-gram positions, positions covered by a gram that occurs
    ≥2 times in the same document, and the count of distinct repeated
    grams — the numbers a scrubbing pass thresholds on before cutting.

    Spark shape: ZERO shuffles. The whole computation is per-row HOFs over
    the gram array — sort the grams, flag adjacent equals, and derive both
    counts from the flag array (an occurrence is repeated iff it equals a
    sorted neighbor; a run of length k ≥ 2 contributes k occurrences =
    (k-1 adjacent-equal flags) + (1 run start)). At 100 TB this is
    embarrassingly parallel scan work inside WholeStageCodegen — no
    (doc, gram) shuffle, unlike the oracle's groupBy replay, because a
    single document's grams always fit one row. O(g log g) per doc for the
    sort, g = token count.

    EXACT oracle by a DIFFERENT algorithm (DuckDB re-derives the counts
    via unnest + GROUP BY on (doc, gram)) — integer-only output, so any
    divergence in the sorted-run arithmetic vs the multiset count is a
    hash mismatch, not a rounding question.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = d.where(F.size(toks) >= _SPAN_N).select(
        "doc_id", F.array_sort(word_ngrams(toks, _SPAN_N)).alias("s")
    )
    # eq_next[i] = s[i] == s[i+1]; zip_with pads the shifted side with
    # null, and eqNullSafe(value, null) is false, so the tail flag is a
    # clean false rather than a null that filter() would also drop.
    shifted = F.slice(F.col("s"), 2, F.greatest(F.size("s") - 1, F.lit(0)))
    flagged = base.select(
        "doc_id",
        F.size("s").alias("n_grams"),
        F.zip_with("s", shifted, lambda a, b: a.eqNullSafe(b)).alias("eq_next"),
    )
    # eq_prev = eq_next shifted right one slot (false at the head)
    eq_prev = F.concat(
        F.array(F.lit(False)),
        F.slice(F.col("eq_next"), 1, F.greatest(F.size("eq_next") - 1, F.lit(0))),
    )
    truthy = lambda arr: F.size(F.filter(arr, lambda x: x))
    counted = flagged.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        truthy(F.col("eq_next")).alias("adj_dups"),
        truthy(
            F.zip_with(F.col("eq_next"), eq_prev, lambda n, p: n & ~p)
        ).alias("run_starts"),
    )
    return counted.select(
        "doc_id",
        "n_grams",
        (F.col("adj_dups") + F.col("run_starts"))
        .cast("long")
        .alias("n_repeated_positions"),
        F.col("run_starts").cast("long").alias("n_distinct_repeated"),
    )


_CHUNK_W = 32  # non-overlapping token window for chunk-level dedup


@query(
    "q_dedup_chunk_level",
    oracle=f"""
WITH toked AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), ch AS (
    SELECT doc_id,
           list_slice(toks, k * {_CHUNK_W} + 1, k * {_CHUNK_W} + {_CHUNK_W}) AS chunk
    FROM toked,
         UNNEST(generate_series(0, CAST(len(toks) // {_CHUNK_W} - 1 AS BIGINT))) AS g(k)
), h AS (
    SELECT doc_id, md5(array_to_string(chunk, ' ')) AS hh FROM ch
), c AS (
    SELECT hh, COUNT(*) AS cnt FROM h GROUP BY hh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
FROM h JOIN c USING (hh)
GROUP BY doc_id
""",
    tags=("dedup", "chunk-level", "paragraph", "hash"),
)
def q_dedup_chunk_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity corpus dedup — the paragraph/window tier between
    intra-doc span scrubbing and whole-document dedup (the RefinedWeb /
    CCNet recipe: a document can be globally unique while half its
    32-token windows are boilerplate shared across the corpus). Per doc:
    full non-overlapping 32-token chunks, and how many of them also occur
    elsewhere in the corpus (by exact content hash).

    Scale shape: two keyed shuffles, both the exact-dedup shape — chunk
    occurrences counted by a window over the md5 CONTENT HASH partition
    key (never the chunk text itself: the shuffle carries 32-hex keys,
    not 32-token payloads), then one partial+final agg back on doc_id.
    Output volume is corpus-linear; no pairwise anything. The md5 family
    keeps the oracle exact (house sketch discipline).
    """
    d = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    toked = d.repartition(n_part, "doc_id").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    n_full = (F.size("toks") / _CHUNK_W).cast("int")  # floor for nonneg
    chunks = F.transform(
        F.sequence(F.lit(1), n_full),
        lambda k: F.slice(F.col("toks"), (k - 1) * _CHUNK_W + 1, _CHUNK_W),
    )
    hashed = (
        toked.where(F.size("toks") >= _CHUNK_W)
        .select("doc_id", F.explode(chunks).alias("chunk"))
        .select("doc_id", F.md5(F.array_join("chunk", " ")).alias("hh"))
    )
    cnt = F.count("*").over(Window.partitionBy("hh"))
    return (
        hashed.withColumn("cnt", cnt)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
        )
    )


_SS_K = 16  # overlapping window length (tokens) for the substring tier


def _toked_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents split to (doc_id, toks), pre-spread across the default
    parallelism (the parquet may be one row group; the window hashing is
    the CPU-heavy step)."""
    d = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    return d.repartition(n_part, "doc_id").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )


def _dup_window_positions(toked: DataFrame) -> DataFrame:
    """(doc_id, ps): per doc, the SORTED start positions (1-based) of its
    overlapping ``_SS_K``-token windows that also occur in ≥ 2 distinct
    documents — the shared frontend of the exact-substring tier (span
    stats + scrub). The shuffle carries (doc_id, pos, 32-hex CONTENT
    hash), never window text.

    Cross-doc counting is a TWO-PHASE aggregate, not a collect_set
    window (which would need salting on hot keys): distinct (hh, doc_id)
    pairs — unskewed by construction —
    then a count per hh whose map-side combine hands the hot reducer at
    most one partial per upstream partition. A corpus-wide boilerplate
    window (every doc sharing one 16-gram) therefore costs O(#partitions)
    at the count, where the window form shipped every occurrence to one
    task and materialized the full doc-id set in memory; the join back
    on hh is AQE-skew-eligible for the same hot key. Measured: equal in
    the normal case (2.61s vs 2.65s at sf1) and bounded under a planted
    50k-doc corpus-wide 16-gram (tests/test_dedup.py pins semantics
    under that plant). The windows table is persisted for its two
    readers (count + join back) and registered with ``caching.deferred``
    — corpus-proportional, released at the harness checkpoint."""
    hashes = F.transform(
        F.sequence(F.lit(1), F.size("toks") - _SS_K + 1),
        lambda k: F.md5(F.array_join(F.slice("toks", k, _SS_K), " ")),
    )
    w = deferred(
        toked.where(F.size("toks") >= _SS_K)
        .select("doc_id", F.posexplode(hashes).alias("i", "hh"))
        .select("doc_id", (F.col("i") + 1).cast("long").alias("pos"), "hh")
        .persist()
    )
    dup_keys = (
        w.select("hh", "doc_id")
        .distinct()
        .groupBy("hh")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("hh")
    )
    dup = w.join(dup_keys, "hh").select("doc_id", "pos")
    return dup.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("ps")
    )


@query(
    "q_dedup_substring_spans",
    oracle=f"""
WITH toked AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), w AS (
    SELECT doc_id, k AS pos,
           md5(array_to_string(list_slice(toks, k, k + {_SS_K} - 1), ' ')) AS hh
    FROM toked,
         UNNEST(generate_series(1, CAST(len(toks) - {_SS_K} + 1 AS BIGINT))) AS g(k)
    WHERE len(toks) >= {_SS_K}
), c AS (
    SELECT hh FROM w GROUP BY hh HAVING COUNT(DISTINCT doc_id) >= 2
), dup AS (
    SELECT doc_id, pos FROM w JOIN c USING (hh)
), isl AS (
    SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     <= {_SS_K} - 1
                THEN 0 ELSE 1 END AS new_span
    FROM dup
), grp AS (
    SELECT doc_id, pos,
           SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
    FROM isl
), spans AS (
    SELECT doc_id, MAX(pos) - MIN(pos) + {_SS_K} AS span_tokens
    FROM grp GROUP BY doc_id, span_id
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
FROM spans GROUP BY doc_id
""",
    tags=("dedup", "substring", "spans", "hash"),
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup — maximal cross-document repeated spans of
    ≥ 16 tokens (the Lee et al. 2021 "Deduplicating Training Data"
    exact-substring tier, re-expressed with overlapping window hashes
    instead of a suffix array). Per doc: every OVERLAPPING 16-token
    window is content-hashed; a window is duplicated when it occurs in
    ≥ 2 DISTINCT documents; overlapping duplicated windows merge into
    maximal spans (interval union: windows whose starts are ≤ K−1 apart
    overlap; windows whose coverage merely TOUCHES — start gap exactly
    K — stay separate spans, a convention both engines implement
    identically and a hypothesis property pins at the boundary). Output per affected doc: the number of maximal spans and
    the total token count they cover — the numbers a scrub/filter stage
    keys on. Completes the granularity ladder between
    ``q_dedup_chunk_level`` (aligned 32-token windows) and the whole-doc
    tiers: an unaligned verbatim quote is invisible to aligned chunks
    but lands here.

    Scale shape: keyed shuffles only. (1) cross-doc counting by the
    two-phase aggregate in ``_dup_window_positions`` — the shuffle
    carries (doc_id, pos, 32-hex), never the window text, and a
    pathological corpus-wide boilerplate key degrades to O(#partitions)
    at the hot reducer instead of shipping every occurrence to one task
    (no salting needed — structural, and pinned by the
    planted-boilerplate test). (2) one partial+final agg back on
    doc_id, where the
    span merge runs as an in-row fold over the doc's sorted duplicated
    positions (a single doc's positions always fit one row — the
    q_dedup_intra_doc_spans argument), not a per-position window chain.
    Volume is Σ tokens per doc (overlapping windows ≈ one per token), so
    corpus-linear; no pairwise anything.

    EXACT oracle by a DIFFERENT algorithm: DuckDB re-derives the spans
    via LAG/SUM gaps-and-islands over the same md5 window hashes
    (byte-identical across engines — house sketch discipline); the
    output is integer-only, so any divergence in the fold arithmetic vs
    the window replay is a hash mismatch, not a rounding question.
    """
    toked = _toked_documents(spark, sf_dir)
    pos_arr = _dup_window_positions(toked)
    # interval-union fold over sorted positions: a new maximal span opens
    # when the gap to the previous duplicated window start exceeds K-1
    # (the windows no longer overlap); closing a span adds its covered
    # width prev - start + K. The sentinel start/prev make the first
    # position take the open-new-span branch with nothing to close.
    far = -(10**9)
    init = F.struct(
        F.lit(0).cast("long").alias("n_spans"),
        F.lit(0).cast("long").alias("toks"),
        F.lit(far).cast("long").alias("start"),
        F.lit(far).cast("long").alias("prev"),
    )
    spans = F.aggregate(
        F.col("ps"),
        init,
        lambda acc, p: F.when(
            p - acc["prev"] <= _SS_K - 1,
            F.struct(
                acc["n_spans"].alias("n_spans"),
                acc["toks"].alias("toks"),
                acc["start"].alias("start"),
                p.cast("long").alias("prev"),
            ),
        ).otherwise(
            F.struct(
                (acc["n_spans"] + 1).alias("n_spans"),
                (
                    acc["toks"]
                    + F.when(
                        acc["n_spans"] > 0, acc["prev"] - acc["start"] + _SS_K
                    ).otherwise(F.lit(0).cast("long"))
                ).alias("toks"),
                p.cast("long").alias("start"),
                p.cast("long").alias("prev"),
            )
        ),
        lambda acc: F.struct(
            acc["n_spans"].alias("n_spans"),
            (acc["toks"] + acc["prev"] - acc["start"] + _SS_K)
            .cast("long")
            .alias("dup_tokens"),
        ),
    )
    # alias the fold ONCE, then extract fields: single evaluation is
    # structural (CollapseProject keeps non-cheap producers separate),
    # not optimizer-dependent — the quality-scorer discipline.
    return pos_arr.select("doc_id", spans.alias("s")).select(
        "doc_id",
        F.col("s.n_spans").alias("n_spans"),
        F.col("s.dup_tokens").alias("dup_tokens"),
    )


@query(
    "q_dedup_scrub_spans",
    oracle=f"""
WITH toked AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), w AS (
    SELECT doc_id, k AS pos,
           md5(array_to_string(list_slice(toks, k, k + {_SS_K} - 1), ' ')) AS hh
    FROM toked,
         UNNEST(generate_series(1, CAST(len(toks) - {_SS_K} + 1 AS BIGINT))) AS g(k)
    WHERE len(toks) >= {_SS_K}
), c AS (
    SELECT hh FROM w GROUP BY hh HAVING COUNT(DISTINCT doc_id) >= 2
), dup AS (
    SELECT doc_id, pos FROM w JOIN c USING (hh)
), isl AS (
    SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     <= {_SS_K} - 1
                THEN 0 ELSE 1 END AS new_span
    FROM dup
), grp AS (
    SELECT doc_id, pos,
           SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
    FROM isl
), spans AS (
    SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SS_K} - 1 AS e
    FROM grp GROUP BY doc_id, span_id
), tokpos AS (
    SELECT doc_id, t, toks[t] AS tok
    FROM toked,
         UNNEST(generate_series(1, CAST(len(toks) AS BIGINT))) AS g(t)
), cov AS (
    SELECT tp.doc_id, tp.t, tp.tok, COUNT(sp.s) > 0 AS covered
    FROM tokpos tp
    LEFT JOIN spans sp
      ON sp.doc_id = tp.doc_id AND tp.t BETWEEN sp.s AND sp.e
    GROUP BY tp.doc_id, tp.t, tp.tok
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN NOT covered THEN tok END, ' ' ORDER BY t),
                '') AS cleaned
FROM cov GROUP BY doc_id
""",
    tags=("dedup", "substring", "scrub", "transform"),
)
def q_dedup_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring SCRUB — the transform stage the span stats feed
    (Lee et al. 2021 apply-side): every token covered by a maximal
    cross-document repeated span of ≥ 16 tokens is deleted from every
    carrier, and each document comes back with its cleaned text plus the
    before/after token accounting. Corpus-complete output: clean
    documents pass through unchanged (n_removed = 0), so the result IS
    the next pipeline stage's input table.

    Scale shape: the ``_dup_window_positions`` frontend (hash-key window
    + doc_id agg, hash-only shuffle payload), then ONE co-partitioned
    left join back to the tokenized docs — both sides are already
    hash-partitioned on doc_id (the repartition feeds both the window
    frontend and the join probe), so no extra exchange — and the scrub
    itself is in-row: the sorted positions fold into MERGED disjoint
    intervals first (bounded by span count, not window count), and each
    token index tests against those few intervals, O(tokens × spans) per
    doc instead of O(tokens × dup-windows). Nothing pairwise, output
    corpus-linear.

    EXACT oracle by a DIFFERENT algorithm: DuckDB re-derives coverage by
    LAG/SUM islands + a positional BETWEEN join and rebuilds the text
    with ordered string_agg; the md5 window hashes are byte-identical
    across engines. The cleaned STRING must match byte-for-byte — a
    stronger check than the integer span stats.
    """
    toked = _toked_documents(spark, sf_dir)
    pos_arr = _dup_window_positions(toked)
    far = -(10**9)
    iv_t = "array<struct<s:bigint,e:bigint>>"
    init = F.struct(
        F.array().cast(iv_t).alias("ivs"),
        F.lit(far).cast("long").alias("start"),
        F.lit(far).cast("long").alias("prev"),
    )
    close = lambda acc: F.concat(
        acc["ivs"],
        F.array(
            F.struct(
                acc["start"].alias("s"), (acc["prev"] + _SS_K - 1).alias("e")
            )
        ).cast(iv_t),
    )
    ivs = F.aggregate(
        F.coalesce(F.col("ps"), F.array().cast("array<long>")),
        init,
        lambda acc, p: F.when(
            p - acc["prev"] <= _SS_K - 1,
            F.struct(
                acc["ivs"].alias("ivs"),
                acc["start"].alias("start"),
                p.cast("long").alias("prev"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["start"] > 0, close(acc))
                .otherwise(acc["ivs"])
                .alias("ivs"),
                p.cast("long").alias("start"),
                p.cast("long").alias("prev"),
            )
        ),
        lambda acc: F.when(acc["start"] > 0, close(acc)).otherwise(acc["ivs"]),
    )
    joined = toked.join(pos_arr, "doc_id", "left").select(
        "doc_id", "toks", ivs.alias("ivs")
    )
    # kept = all positions minus the covered ones via NATIVE set ops: the
    # per-token `filter(..., t -> !exists(ivs, between))` HOF chain this
    # replaces interpreted two lambdas per (token × span) and measured
    # 7.1s at sf1; expanding the few merged intervals to an index array
    # and one array_except (hash-based, order-preserving on the left
    # argument) is 2.3s — identical rows (verified exceptAll both ways).
    covered = F.flatten(F.transform("ivs", lambda iv: F.sequence(iv["s"], iv["e"])))
    kept = F.array_except(
        F.sequence(F.lit(1).cast("long"), F.size("toks").cast("long")), covered
    )
    out = joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        "toks",
        kept.alias("kept"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.size("kept")).cast("long").alias("n_removed"),
        F.array_join(
            F.transform("kept", lambda t: F.element_at("toks", t.cast("int"))),
            " ",
        ).alias("cleaned"),
    )


def _tier_recall_oracle() -> str:
    """Compose the tier-recall oracle from the three tiers' own oracle
    strings (DuckDB allows WITH inside a CTE body), so the audit's ground
    truth and probes can never drift from the queries they audit.

    ``truth`` is MATERIALIZED: it is
    referenced twice (the recall join AND the n_truth count), and DuckDB
    inlines a plain CTE per reference — at sf1 that re-ran the ~1300s
    prefix-join ground-truth replay a second time inside the sweep's
    single slowest chunk. The hint changes evaluation order only, never
    results."""
    from als_pyspark_spark.registry import QUERIES

    truth = QUERIES["q_dedup_jaccard_prefix_join"].oracle
    mh = QUERIES["q_dedup_minhash_lsh"].oracle
    wn = QUERIES["q_dedup_ngram_jaccard"].oracle
    return f"""
WITH truth AS MATERIALIZED (SELECT doc_a, doc_b FROM ({truth})),
mh AS (SELECT doc_a, doc_b FROM ({mh})),
wn AS (SELECT doc_a, doc_b FROM ({wn})),
tiers AS (
    SELECT 'minhash_lsh' AS tier, doc_a, doc_b FROM mh
    UNION ALL
    SELECT 'winnow_fingerprint' AS tier, doc_a, doc_b FROM wn
), tn AS (
    SELECT COUNT(*) AS n_truth FROM truth
), j AS (
    SELECT t.tier,
           CASE WHEN tr.doc_a IS NULL THEN 0 ELSE 1 END AS in_truth
    FROM tiers t LEFT JOIN truth tr
      ON t.doc_a = tr.doc_a AND t.doc_b = tr.doc_b
)
SELECT tier,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(in_truth) AS BIGINT) AS n_true,
       CAST(n_truth - SUM(in_truth) AS BIGINT) AS n_missed,
       CAST(COUNT(*) - SUM(in_truth) AS BIGINT) AS n_extra,
       CAST(SUM(in_truth) AS DOUBLE) / n_truth AS recall
FROM j, tn GROUP BY tier, n_truth
"""


@query(
    "q_dedup_tier_recall",
    oracle=_tier_recall_oracle(),
    tags=("dedup", "audit", "recall", "meta"),
)
def q_dedup_tier_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tier dedup QUALITY AUDIT: recall of the probabilistic
    (MinHash-LSH) and cheap (winnowing-fingerprint) Jaccard tiers against
    the exact-complete prefix-join ground truth at the shared τ = 0.5 —
    the measurement a pipeline owner runs before trusting a cheaper tier
    on a new corpus, promoted from a test assertion
    (tests/test_dedup.py's winnow ⊆ prefix check) to a first-class,
    driver-audited operator.

    ``n_extra`` is a STRUCTURAL WITNESS, not a measurement: both audited
    tiers verify exact Jaccard ≥ τ on their candidates and the prefix
    tier is provably complete at τ, so tier∖truth is empty — each engine
    derives the 0 independently, so a nonzero value would expose a
    completeness bug in the ground truth itself (the failure mode a
    recall audit is most blind to). ``recall`` divides two exact BIGINT
    counts — one IEEE division, bit-identical both sides.

    Composition: the three tiers' registered builders run as
    subplans, each with its own deferred signature cache that all of
    its readers in the audit share and that is released with the audit
    (the audit costs ONE extra pair-set join over the tiers' own work),
    one left join onto the truth pair set, one per-tier rollup, and a
    broadcast single-row truth count. The oracle string is COMPOSED from
    the three tiers' own oracle SQL at import time, so audit and audited
    can never drift.
    """
    truth = q_dedup_jaccard_prefix_join(spark, sf_dir).select("doc_a", "doc_b")
    tiers = (
        q_dedup_minhash_lsh(spark, sf_dir)
        .select(F.lit("minhash_lsh").alias("tier"), "doc_a", "doc_b")
        .unionByName(
            q_dedup_ngram_jaccard(spark, sf_dir).select(
                F.lit("winnow_fingerprint").alias("tier"), "doc_a", "doc_b"
            )
        )
    )
    tn = truth.agg(F.count("*").alias("n_truth"))
    j = tiers.join(
        truth.withColumn("in_truth", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).select("tier", F.coalesce("in_truth", F.lit(0)).alias("in_truth"))
    return (
        j.groupBy("tier")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("in_truth").alias("n_true"),
        )
        .crossJoin(F.broadcast(tn))
        .select(
            "tier",
            "n_truth",
            "n_pairs",
            "n_true",
            (F.col("n_truth") - F.col("n_true")).alias("n_missed"),
            (F.col("n_pairs") - F.col("n_true")).alias("n_extra"),
            (F.col("n_true").cast("double") / F.col("n_truth")).alias("recall"),
        )
    )
