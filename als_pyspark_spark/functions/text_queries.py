"""Text-analysis queries over documents (language-ID, quality scoring,
token counting, fingerprinting) — registry entries with DuckDB oracles.

All metrics are per-row JVM expressions from functions/text.py; the only
shuffles are the final aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from als_pyspark_spark.caching import deferred, local_frame
from als_pyspark_spark.functions.text import (
    STOPWORDS,
    fingerprint,
    lang_id,
    mean_token_len,
    quality_score,
    stopword_count,
    token_count,
    tokens,
)
from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.tables import load_table

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@query(
    "q_text_token_counts",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       n_chars
FROM documents
""",
    tags=("text", "tokens"),
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"), "n_chars")


@query(
    "q_text_quality",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n_toks
    FROM documents
), m AS (
    SELECT doc_id, n_toks,
           CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS BIGINT) AS n_stop,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / n_toks AS mean_tok_len
    FROM t
)
SELECT doc_id, n_stop,
       CAST(n_stop AS DOUBLE) / n_toks AS stop_ratio,
       mean_tok_len,
       CAST(
         (CASE WHEN n_toks BETWEEN 20 AND 400 THEN 0.4 ELSE 0.0 END)
       + (CASE WHEN CAST(n_stop AS DOUBLE) / n_toks >= 0.02 THEN 0.3 ELSE 0.0 END)
       + (CASE WHEN mean_tok_len BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
       AS DOUBLE) AS quality
FROM m
""",
    tags=("text", "quality"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + mean token length + length band."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        stopword_count(toks).alias("n_stop"),
        (stopword_count(toks).cast("double") / F.size(toks)).alias("stop_ratio"),
        mean_token_len(toks).alias("mean_tok_len"),
        quality_score(F.col("text"), toks).alias("quality"),
    )


@query(
    "q_text_lang_id",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_SQL}))) AS DOUBLE)
             / len(string_split(text, ' ')) AS r
    FROM documents
)
SELECT CASE WHEN r >= 0.10 THEN 'en'
            WHEN r >= 0.03 THEN 'en-ish'
            ELSE 'unknown' END AS pred_lang,
       COUNT(*) AS n_docs
FROM t
GROUP BY 1
""",
    tags=("text", "langid"),
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID, aggregated by predicted language."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(lang_id(tokens(F.col("text"))).alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "q_text_fingerprints",
    oracle="""
WITH t AS (
    SELECT doc_id,
           text,
           string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
)
SELECT doc_id,
       CASE WHEN n >= 3
            THEN list_min(list_transform(
                 list_transform(generate_series(1, n - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
                 g -> MD5(g)))
            ELSE MD5(text)
       END AS fp
FROM t
""",
    tags=("text", "fingerprint"),
)
def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min-md5 3-gram fingerprint per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(tokens(F.col("text")), 3).alias("fp"))


@query(
    "q_text_top_tokens",
    oracle="""
SELECT tok, COUNT(*) AS n
FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok ASC
LIMIT 30
""",
    tags=("text", "explode", "topk"),
)
def q_text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-30 (explode → agg → top-k).

    The one text query that deliberately uses explode (reference P4
    flatMap analogue, ALS.py:536): token-level aggregation needs row
    multiplication. Partial aggregation tames the shuffle at scale.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(30)
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, or single other
# non-space char — the word/number/punct split every BPE pipeline applies
# before merges. Plain character classes only, so Java regex (Spark) and
# RE2 (DuckDB) agree exactly.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "q_text_bpe_token_counts",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
FROM documents
""",
    tags=("text", "tokens", "bpe"),
)
def q_text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization count beside the whitespace count — the
    token-budget estimator of a training-data pipeline (pre-merge BPE
    piece count upper-bounds the post-merge count)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        token_count(F.col("text")).alias("n_ws_tokens"),
    )


_BM25_TERMS = ("join", "scan", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


@query(
    "q_bm25_retrieval",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
m AS (
    SELECT doc_id,
           len(toks) AS dl,
           len(list_filter(toks, x -> x = '{_BM25_TERMS[0]}')) AS tf1,
           len(list_filter(toks, x -> x = '{_BM25_TERMS[1]}')) AS tf2,
           len(list_filter(toks, x -> x = '{_BM25_TERMS[2]}')) AS tf3
    FROM t
),
s AS (
    SELECT COUNT(*) AS n,
           SUM(dl) AS tot,
           COUNT(*) FILTER (WHERE tf1 > 0) AS df1,
           COUNT(*) FILTER (WHERE tf2 > 0) AS df2,
           COUNT(*) FILTER (WHERE tf3 > 0) AS df3
    FROM m
),
scored AS (
    SELECT doc_id,
           ((n - df1 + 0.5) / (df1 + 0.5)) * ((tf1 * 2.2) / (tf1 + 1.2 * (0.25 + (0.75 * dl) / (tot / n))))
         + ((n - df2 + 0.5) / (df2 + 0.5)) * ((tf2 * 2.2) / (tf2 + 1.2 * (0.25 + (0.75 * dl) / (tot / n))))
         + ((n - df3 + 0.5) / (df3 + 0.5)) * ((tf3 * 2.2) / (tf3 + 1.2 * (0.25 + (0.75 * dl) / (tot / n))))
           AS score
    FROM m, s
)
SELECT doc_id, score FROM scored WHERE score > 0
ORDER BY score DESC, doc_id ASC LIMIT {_BM25_TOPK}
""",
    tags=("text", "retrieval", "bm25"),
)
def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed 3-term query — the retrieval
    scorer a corpus-curation pipeline uses for quality probes and nearest-
    benchmark lookups.

    Float-exact across engines BY CONSTRUCTION: the idf factor is the raw
    ratio (N - df + 0.5)/(df + 0.5) rather than its logarithm (ln is not
    correctly-rounded and differs between libm implementations; +, *, /
    are IEEE-exact), term contributions are summed in fixed left-to-right
    term order, and tf/df/dl/N are integers — so Spark and the oracle
    compute bit-identical doubles. The ratio idf is monotone in the
    standard log idf, so the ranking is the textbook BM25 ranking.

    Scale shape: corpus stats (N, Σdl, per-term df) are ONE aggregate
    broadcast back; per-doc scoring is a row-local expression; top-k is
    TakeOrderedAndProject. No shuffle of the corpus at any point.
    """
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    def tf_of(term: str) -> F.Column:
        # single-arg lambda: a 2-arg signature would be read as the
        # (element, index) filter variant
        return F.size(F.filter("toks", lambda x: x == F.lit(term)))

    m = toked.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[tf_of(t).alias(f"tf{i+1}") for i, t in enumerate(_BM25_TERMS)],
    )
    stats = m.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("tot"),
        *[
            F.count_if(F.col(f"tf{i+1}") > 0).alias(f"df{i+1}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def contrib(i: int) -> F.Column:
        tf = F.col(f"tf{i}")
        df = F.col(f"df{i}")
        idf = (F.col("n") - df + F.lit(0.5)) / (df + F.lit(0.5))
        den = tf + F.lit(_BM25_K1) * (
            F.lit(0.25) + (F.lit(_BM25_B) * F.col("dl")) / (F.col("tot") / F.col("n"))
        )
        return idf * ((tf * F.lit(_BM25_K1 + 1)) / den)

    score = contrib(1) + contrib(2) + contrib(3)
    return (
        m.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


@query(
    "q_approx_topk_tokens",
    oracle=None,  # frequent-items sketch output is engine-specific
    tags=("text", "sketch", "approx", "topk"),
)
def q_approx_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via approx_top_k (Spark 4's frequent-items sketch):
    corpus-wide top-20 tokens from ONE aggregation whose state is a
    bounded sketch (maxItemsTracked counters), not the full token
    dictionary — the 100 TB path when the distinct-token space (think
    URLs, n-grams, user ids) no longer fits a hash aggregate. Rows-only
    by design, but each ROW witnesses the result quality: every sketch
    item carries its exact count from a side-by-side exact aggregate and
    an exact_match flag (count agreement) — on fixture corpora the
    tracked space exceeds the distinct-token count, so the sketch is
    lossless and every row must witness exact_match = true; at real
    scale the flag is what an offline audit would sample.

    Tie handling: ranks can differ between the sketch's internal order
    and the exact ordering for equal counts, so the output pins
    (token, count) pairs, not ranks."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    sketch = toks.agg(
        F.expr("approx_top_k(tok, 20, 100000)").alias("tk")
    ).select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("token"),
        F.col("e.count").alias("approx_count"),
    )
    exact = toks.groupBy(F.col("tok").alias("token")).agg(
        F.count("*").alias("exact_count")
    )
    # Scale shape: semi-filter the (huge at scale) exact aggregate down to
    # the 20 sketch tokens first — a broadcast left-semi with the sketch as
    # build side — so the outer witness join is tiny × tiny. A direct
    # sketch-LEFT-JOIN-exact would have to broadcast or shuffle the full
    # token dictionary.
    exact_hits = exact.join(F.broadcast(sketch.select("token")), "token", "leftsemi")
    return sketch.join(F.broadcast(exact_hits), "token", "left").select(
        "token",
        "approx_count",
        "exact_count",
        (F.col("approx_count") == F.col("exact_count")).alias("exact_match"),
    )


@query(
    "q_bpe_pair_counts",
    oracle="""
WITH words AS (
    SELECT tok, COUNT(*) AS wc
    FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
    WHERE len(tok) >= 2
    GROUP BY tok
), pairs AS (
    SELECT UNNEST(list_transform(generate_series(1, len(tok) - 1),
                                 i -> substr(tok, i, 2))) AS pair,
           wc
    FROM words
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 30
""",
    tags=("text", "bpe", "tokenizer"),
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round: count adjacent character pairs across the
    corpus, weighted by word frequency — the argmax of this table IS the
    first merge a BPE tokenizer trainer would learn. Complements
    ``q_text_bpe_token_counts`` (which counts pre-tokenized pieces) with
    the actual merge-statistics computation.

    The corpus collapses to the word-frequency table FIRST (the standard
    BPE-training trick: pair counts are ``Σ wc(word) · pairs(word)``, so
    the expensive explode runs over distinct words, not over every token
    occurrence), then each word explodes into its ``len-1`` overlapping
    2-grams via sequence+substr — all JVM-side HOFs, no UDFs. Single-char
    words are filtered symmetrically on both engines (they contribute no
    pairs; the filter also keeps Spark's ``sequence(1, 0)`` from emitting
    its descending-step artifact).

    100 TB shape: the word rollup is the only corpus-sized shuffle
    (partial aggregation absorbs within-doc repetition); the pair explode
    runs over the (vastly smaller, Zipf-truncated) distinct-word table and
    its rollup is dictionary-sized; top-30 is TakeOrdered.
    """
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count("*").alias("wc"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.substring(F.col("tok"), i, F.lit(2)),
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(30)
    )


@query(
    "q_bigram_lm_counts",
    oracle="""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), bigrams AS (
    SELECT UNNEST(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM toks WHERE len(t) >= 2
), unigrams AS (
    SELECT UNNEST(t) AS w1 FROM toks
), bg AS (
    SELECT string_split(bigram, ' ')[1] AS w1,
           string_split(bigram, ' ')[2] AS w2,
           COUNT(*) AS cond_num
    FROM bigrams GROUP BY 1, 2
), ug AS (
    SELECT w1, COUNT(*) AS w1_count FROM unigrams GROUP BY w1
)
SELECT bg.w1, bg.w2,
       CAST(bg.cond_num AS BIGINT) AS cond_num,
       CAST(ug.w1_count AS BIGINT) AS cond_den
FROM bg JOIN ug USING (w1)
ORDER BY cond_num DESC, w1, w2
LIMIT 30
""",
    tags=("text", "ngram-lm", "tokenizer"),
)
def q_bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model estimation counts: for the corpus's top
    bigrams, the maximum-likelihood conditional ``P(w2|w1)`` as the exact
    integer fraction ``count(w1 w2) / count(w1)`` — the statistics an
    n-gram LM (or a data-quality perplexity filter) is built from, with
    no division and therefore no float drift. Complements
    q_bpe_pair_counts (character level) and q_text_top_tokens (unigram
    level) at the token-bigram level.

    Bigrams explode via the same sequence+zip idiom as the shingling
    queries (JVM HOFs, single-char-free since documents are
    space-tokenized); the conditional denominator joins from the unigram
    rollup on w1.

    100 TB shape: two partial+final aggregates (bigram, unigram) — the
    unigram table is vocabulary-sized, so the denominator join
    broadcasts; top-30 is TakeOrdered. Zipf head skew on w1 is absorbed
    by map-side partial aggregation before the shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens(F.col("text")).alias("t"))
    bigrams = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cond_num"))
    )
    unigrams = (
        toks.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("w1_count"))
    )
    return (
        bigrams.join(F.broadcast(unigrams), "w1")
        .select("w1", "w2", "cond_num", F.col("w1_count").alias("cond_den"))
        .orderBy(F.desc("cond_num"), F.asc("w1"), F.asc("w2"))
        .limit(30)
    )


@query(
    "q_source_vocab_overlap",
    oracle="""
WITH vocab AS (
    SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS tok
    FROM documents
), sizes AS (
    SELECT source, COUNT(*) AS n FROM vocab GROUP BY source
), inter AS (
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
    FROM vocab a JOIN vocab b
      ON a.tok = b.tok AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       CAST(sa.n AS BIGINT) AS vocab_a,
       CAST(sb.n AS BIGINT) AS vocab_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       CAST((i.n_common * 1000000) // (sa.n + sb.n - i.n_common) AS BIGINT)
           AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
""",
    tags=("text", "corpus-similarity", "jaccard"),
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level source similarity: pairwise vocabulary Jaccard
    between sources (in exact ppm via integer cross-division) — the
    dataset-comparison readout behind mixture design and contamination
    triage (two sources with near-identical vocabularies are candidates
    for dedup ahead of mixing; q_mixture_rebalance decides the weights,
    this measures the redundancy).

    100 TB shape: the corpus collapses to the DISTINCT (source, token)
    vocabulary first — vocabulary-sized, Zipf-truncated — so the pair
    join runs over dictionaries, not documents; with |sources| small the
    intersect join is dictionary × dictionary on the token key. The same
    computation over MinHash signatures (q_dedup_minhash_lsh's family)
    replaces the exact intersect when vocabularies stop fitting."""
    d = load_table(spark, sf_dir, "documents")
    vocab = d.select("source", F.explode(tokens(F.col("text"))).alias("tok")).distinct()
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            F.expr(
                "(n_common * 1000000) DIV (vocab_a + vocab_b - n_common)"
            ).alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative BPE tokenizer TRAINING: N convergent merge rounds, not just
# the first round's pair statistics (q_bpe_pair_counts).
#
# Word representation shared by BOTH engines: a word's symbol sequence is
# the concatenation of '\x1f<sym>\x1f' units ('\x1f' = ASCII unit
# separator, never present in corpus text; tokens containing it are
# filtered symmetrically). Under this encoding the greedy left-to-right
# non-overlapping merge of pair (l, r) — exactly Sennrich BPE's merge —
# IS plain string replace('\x1f l \x1f\x1f r \x1f' -> '\x1f lr \x1f'),
# because replace() scans left to right over non-overlapping matches and
# adjacent symbol units share no characters. Both Spark's `replace` and
# DuckDB's `replace` implement that contract, so the two engines apply
# bit-identical merges.
_BPE_SEP = "\x1f"
_BPE_SEP2 = _BPE_SEP * 2
_BPE_MERGES = 18  # vocab budget: max merge rounds (real trainers use ~32k)
_BPE_MIN_PAIR = 2  # stop early when the best pair is unrepeated
# Driver-collect row budget for the trainer's distinct-word table (see
# _bpe_train). 10M short-word rows ≈ hundreds of MB of driver
# heap — generous for any natural-language vocabulary, small enough to fail
# loudly before the JVM does.
_BPE_DRIVER_ROW_BUDGET = 10_000_000


def _bpe_words0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial BPE word table: (w = unit-encoded char sequence, wc = corpus
    frequency). The ONLY corpus-sized shuffle of the whole training loop —
    every later round runs over this (Zipf-truncated) distinct-word table."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .where((F.length("tok") >= 2) & (~F.col("tok").contains(_BPE_SEP)))
        .groupBy("tok")
        .agg(F.count("*").alias("wc"))
        .select(
            F.regexp_replace("tok", "(.)", _BPE_SEP + "$1" + _BPE_SEP).alias("w"),
            "wc",
        )
    )


def _bpe_train_ctes() -> str:
    """The WITH-body of the DuckDB training replay — shared VERBATIM by the
    train oracle and the encode oracle (the q_pipeline_e2e composition
    discipline: one source string, two readers, so the two oracles cannot
    drift; tests/test_text.py asserts the containment). Per round: pair
    counts -> deterministic argmax -> replace-based merge, words
    MATERIALIZED per round (three downstream readers each). w{r} carries
    the ORIGINAL token alongside its (progressively merged) unit-encoded
    form so the final table doubles as the tok -> encoding map the encode
    oracle joins against; the train oracle ignores the column."""
    s, s2 = _BPE_SEP, _BPE_SEP2

    def syms(src: str) -> str:
        return f"string_split(substr({src}.w, 2, length({src}.w) - 2), '{s2}')"

    parts = [
        f"""w0 AS MATERIALIZED (
    SELECT tok,
           regexp_replace(tok, '(.)', '{s}\\1{s}', 'g') AS w,
           CAST(COUNT(*) AS BIGINT) AS wc
    FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
    WHERE len(tok) >= 2 AND strpos(tok, '{s}') = 0
    GROUP BY tok
)"""
    ]
    for r in range(1, _BPE_MERGES + 1):
        p = r - 1
        parts.append(
            f"""p{r} AS (
    SELECT s[i] AS l, s[i + 1] AS r2, SUM(wc) AS n
    FROM (SELECT {syms(f"w{p}")} AS s, wc FROM w{p} AS w{p}) q,
         UNNEST(generate_series(1, len(s) - 1)) AS g(i)
    GROUP BY 1, 2
),
t{r} AS (SELECT l, r2, n FROM p{r} ORDER BY n DESC, l ASC, r2 ASC LIMIT 1),
w{r} AS MATERIALIZED (
    SELECT x.tok AS tok,
           CASE WHEN t.n >= {_BPE_MIN_PAIR}
                THEN replace(x.w, '{s}' || t.l || '{s2}' || t.r2 || '{s}',
                             '{s}' || t.l || t.r2 || '{s}')
                ELSE x.w END AS w,
           x.wc AS wc
    FROM w{p} x LEFT JOIN t{r} t ON TRUE
),
s{r} AS (
    SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_after,
           CAST(SUM(wc) AS BIGINT) AS toks_after
    FROM (SELECT UNNEST({syms(f"w{r}")}) AS sym, wc FROM w{r} AS w{r})
)"""
        )
    return ",\n".join(parts)


def _bpe_oracle() -> str:
    """Training-replay oracle: the shared CTE chain (_bpe_train_ctes) plus
    the merge/stat assembly. The stopping rule (best count < _BPE_MIN_PAIR)
    prunes a suffix because top counts are monotone non-increasing: a
    merge's induced pairs occur at most pair_count times and every other
    count can only shrink."""
    merges = "\nUNION ALL ".join(
        f"SELECT {r} AS round, l, r2, n FROM t{r}"
        for r in range(1, _BPE_MERGES + 1)
    )
    stats = "\nUNION ALL ".join(
        f"SELECT {r} AS round, vocab_after, toks_after FROM s{r}"
        for r in range(1, _BPE_MERGES + 1)
    )
    return f"""
WITH {_bpe_train_ctes()},
merges AS ({merges}),
stats AS ({stats})
SELECT CAST(m.round AS BIGINT) AS round,
       m.l AS left_sym,
       m.r2 AS right_sym,
       m.l || m.r2 AS merged,
       CAST(m.n AS BIGINT) AS pair_count,
       st.vocab_after,
       st.toks_after AS corpus_tokens_after
FROM merges m JOIN stats st USING (round)
WHERE m.n >= {_BPE_MIN_PAIR}
"""


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Run BPE training; returns the learned merge table as driver-side
    rows (round, left, right, merged, pair_count, vocab_after,
    corpus_tokens_after) — bounded by _BPE_MERGES, never corpus-sized.

    Merge resolution runs on the DRIVER. The corpus-sized step is the ONE
    Spark job that collapses the corpus to its distinct-word frequency
    table (``_bpe_words0``); everything after operates on a
    VOCABULARY-bounded table (Heaps' law keeps a natural-language
    vocabulary sub-linear in corpus size; this fixture family collapses to
    ~30 words at every tier, a 100 TB web corpus to the tens of millions
    of rows every production trainer — Sennrich's reference code,
    HuggingFace tokenizers, SentencePiece — holds on one machine by
    design). So the word table collects ONCE and the merge loop runs as
    plain Python: exact pair counts, argmax by (count desc, pair lex asc),
    greedy left-to-right non-overlapping merge — the identical semantics
    an in-plan chunked variant resolves with one Spark job per 3 merges,
    at ~19 Spark stages fewer (a non-interacting batch rule was rejected:
    batch sizes collapse to 1 after ~6 merges). Measured at sf0.1:
    9.3-15.7s → ~1.6s, byte-identical merge table (the DuckDB oracle and
    the independent sequential reference in tests/test_text.py both still
    gate it). The driver-side fit follows the IVF coarse-quantizer
    precedent (similarity/queries.py: bounded fit set ⇒ driver
    milliseconds beat a chain of bounded-row Spark jobs); a corpus whose
    DISTINCT-WORD table outgrows the driver is the signal to revive the
    in-plan chunked trainer.

    DRIVER-BUDGET GUARD: the Heaps'-law bound is an argument, not a proof — a
    pathological corpus (URLs, hashes, code identifiers) can push the
    distinct-"word" table to billions of rows and OOM the driver silently
    inside collect(). The word table is persisted, counted (one cheap
    action on the cached table — the corpus-sized job still runs exactly
    once), and the collect only proceeds under ``_BPE_DRIVER_ROW_BUDGET``
    rows (10M ≈ several hundred MB of driver heap for short words). Over
    budget, the trainer raises a clear error pointing at the archived
    in-plan chunked trainer instead of dying in the JVM. A frequency-floor prune was considered
    and REJECTED as inexact: pair counts sum wc over words, so many wc=1
    words can jointly host a winning pair — dropping them could change the
    learned merge list."""
    words0 = deferred(_bpe_words0(spark, sf_dir).persist())
    n_words = words0.count()
    if n_words > _BPE_DRIVER_ROW_BUDGET:
        raise ValueError(
            f"BPE trainer: distinct-word table has {n_words} rows, over "
            f"the driver collect budget ({_BPE_DRIVER_ROW_BUDGET}). A corpus "
            "whose vocabulary outgrows the driver needs an in-plan merge "
            "trainer."
        )
    rows = words0.collect()  # vocabulary-bounded, now proven in-budget
    words: list[tuple[tuple[str, ...], int]] = [
        (tuple(r["w"][1:-1].split(_BPE_SEP2)), int(r["wc"])) for r in rows
    ]

    def greedy(syms: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
        # left-to-right non-overlapping merge — exactly what the
        # engines' replace(SEP·l·SEP²·r·SEP → SEP·lr·SEP) does on the
        # unit-encoded string (both scan forward and resume after the
        # replacement), so the oracle's w{r} CTE chain reproduces it.
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    out: list[tuple] = []
    for rnd in range(1, _BPE_MERGES + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, wc in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + wc
        if not pair_counts:
            break
        (left, right), n = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if n < _BPE_MIN_PAIR:
            break
        words = [(greedy(s, left, right), c) for s, c in words]
        vocab = len({sym for s, _ in words for sym in s})
        toks = sum(len(s) * c for s, c in words)
        out.append((rnd, left, right, left + right, n, vocab, toks))
    return out


@query(
    "q_bpe_train_merges",
    oracle=_bpe_oracle(),
    tags=("text", "bpe", "tokenizer", "iterative", "convergence"),
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL iterative BPE tokenizer training (Sennrich): up to
    ``_BPE_MERGES`` convergent rounds of highest-frequency-pair -> greedy
    merge -> recount, stopping early when the best pair's corpus count
    drops below ``_BPE_MIN_PAIR``. Output is the learned merge table with
    per-round vocab stats: (round, left_sym, right_sym, merged,
    pair_count, vocab_after, corpus_tokens_after) — all integers/strings,
    so the DuckDB replay hash-matches exactly. The second genuine member
    of the convergence-driven iterative family after q_pagerank_converged:
    the round count is DATA-DEPENDENT (the merge sequence itself differs
    between sf tiers) and the tie-break (count desc, then lexicographic)
    is pinned so both engines learn the identical merge list.

    Execution shape (the 100 TB story): the corpus collapses ONCE to the
    distinct-word frequency table (the standard BPE-training reduction —
    the only corpus-sized job, and the trainer's whole cluster
    footprint); that table is VOCABULARY-bounded (Heaps' law) at any
    corpus scale, so it collects once and the merge loop runs driver-side
    in plain Python — the Sennrich reference design every production
    trainer (HuggingFace tokenizers, SentencePiece) uses, and this
    repo's IVF-quantizer precedent for bounded fit sets (one Spark job
    per 3 in-plan merge levels measured ~6x slower end-to-end with an
    identical merge table). The
    independent sequential reference in tests/test_text.py and the full
    DuckDB replay both gate the loop's exactness.
    """
    rows = _bpe_train(spark, sf_dir)
    return local_frame(
        spark,
        rows,
        "round long, left_sym string, right_sym string, merged string, "
        "pair_count long, vocab_after long, corpus_tokens_after long",
    )


def _bpe_encode_oracle() -> str:
    """Encode-side oracle COMPOSED from the training replay: the shared
    CTE chain's final word table w{_BPE_MERGES} IS the tok -> fully-merged-
    encoding map (every corpus token of length >= 2 is a training word, and
    the CASE-guarded w{r} chain applies exactly the learned merges), so the
    per-document stats are one join away. Tokens outside the map (single
    characters, or containing the separator sentinel) encode to one symbol
    per character — COALESCE(n_sym, len(tok)) — matching the Spark side's
    fallback rule."""
    s2 = _BPE_SEP2
    return f"""
WITH {_bpe_train_ctes()},
enc AS (
    SELECT tok,
           CAST(len(string_split(substr(w, 2, length(w) - 2), '{s2}'))
                AS BIGINT) AS n_sym
    FROM w{_BPE_MERGES}
),
tk AS (
    SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS tok
    FROM documents
)
SELECT t.doc_id,
       t.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(t.tok)) AS BIGINT) AS n_chars,
       CAST(SUM(COALESCE(e.n_sym, len(t.tok))) AS BIGINT) AS n_bpe_tokens
FROM tk t LEFT JOIN enc e USING (tok)
WHERE len(t.tok) >= 1
GROUP BY t.doc_id, t.source
"""


@query(
    "q_bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    tags=("text", "bpe", "tokenizer", "encode"),
)
def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's production READ path: apply the LEARNED merge table
    corpus-wide and emit per-document encoded-token stats (doc_id, source,
    n_words, n_chars, n_bpe_tokens) — the apply side of
    q_bpe_train_merges, exactly as q_dedup_scrub_spans is
    q_dedup_substring_spans' apply side.

    Execution shape (the 100 TB story): encoding is VOCABULARY-sized, not
    corpus-sized — the corpus collapses to its distinct-token table, each
    distinct token unit-encodes once and replays the <= _BPE_MERGES learned
    merges as chained narrow replaces (pure whole-stage-codegen string
    ops), and the resulting tok -> n_sym map BROADCASTS back onto the
    exploded corpus for a map-side join + per-doc aggregation. A natural-
    language vocabulary stays bounded (Heaps' law) while the corpus does
    not, so per-token re-encoding — running 18 replaces on every token
    OCCURRENCE — would do Zipf-fold duplicate work; the lookup-table shape
    is how production tokenizers amortize it. Tokens the trainer never saw
    as words (single characters; separator-sentinel carriers) fall back to
    one symbol per character, mirrored by the oracle's COALESCE.

    Oracle COMPOSITION (drift-proof): the oracle reuses _bpe_train_ctes()
    VERBATIM — the train oracle's own CTE chain — and reads the final
    w{_BPE_MERGES} table as the encoding map, so train and encode cannot
    diverge: any change to training semantics rewrites both oracles
    (tests/test_text.py asserts the textual containment and the tokenizer
    coupling).

    Training itself runs first (one corpus-collapse job + a driver-side
    merge loop, see _bpe_train) because the merge table is a model
    artifact; in a production pipeline it would be read from the model
    store instead."""
    merges = _bpe_train(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    enc_w = F.regexp_replace("tok", "(.)", _BPE_SEP + "$1" + _BPE_SEP)
    for _, left, right, *_rest in merges:
        enc_w = F.replace(
            enc_w,
            F.lit(_BPE_SEP + left + _BPE_SEP2 + right + _BPE_SEP),
            F.lit(_BPE_SEP + left + right + _BPE_SEP),
        )
    n_sym = F.size(F.split(enc_w.substr(F.lit(2), F.length(enc_w) - 2), _BPE_SEP2))
    enc = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.length("tok") >= 1)
        .distinct()
        .select(
            "tok",
            F.when(F.col("tok").contains(_BPE_SEP), F.length("tok"))
            .otherwise(n_sym)
            .cast("long")
            .alias("n_sym"),
        )
    )
    ex = d.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("tok")
    ).where(F.length("tok") >= 1)
    return (
        ex.join(F.broadcast(enc), "tok")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("tok")).cast("long").alias("n_chars"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )
