"""Corpus-curation operators: repetition metrics, boilerplate
n-gram detection, a composite quality gate with reasons, curriculum
staging, token-length histograms, and source-mixture rebalancing.

These extend functions/pipeline_queries.py with the quality/repetition
family a large-scale pretraining pipeline runs (the Gopher/C4-style rules):
"how repetitive is this document", "which n-grams are boilerplate across
the corpus", "why was this document dropped", "what order do we feed the
survivors". All decisions are deterministic expressions, so every query
carries an EXACT DuckDB oracle.

Scale notes:
- repetition metrics are per-row HOF expressions (array_sort + one
  aggregate fold) — zero shuffles, WholeStageCodegen-friendly; the naive
  explode→groupBy(doc,tok) twin would shuffle the full token stream;
- boilerplate detection shuffles once on the gram key with map-side
  partial aggregation, then TakeOrderedAndProject for the report;
- the quality gate composes per-row metrics — no shuffle;
- curriculum thresholds ride the distinct-value cumulative-count recipe
  (bounded by the value range, not corpus size) and reach the corpus as
  one broadcast filter — the same shape as q_length_filter_percentile;
- the histogram and mixture tables aggregate to a handful of rows; the
  corpus-level totals reach them via broadcast cross join, never a
  global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from als_pyspark_spark.caching import local_frame
from als_pyspark_spark.functions.text import (
    STOPWORDS,
    mean_token_len,
    stopword_count,
    tokens,
    word_ngrams,
)
from als_pyspark_spark.registry import collected_query, query
from als_pyspark_spark.sources.tables import load_table

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

_BOILER_N = 3  # boilerplate shingle width
# gram must appear in ≥ this many distinct docs. Calibrated against the
# fixture corpus (500 docs at every SF; the most repeated 3-gram spans
# 7-9 docs) so the report is non-vacuous at sf0.001 AND sf0.01 — a
# 0-row driver row proves nothing.
_BOILER_MIN_DOCS = 5
_BOILER_TOP = 50

# quality-gate thresholds (mirrored verbatim into the oracle SQL)
_GATE_MIN_TOKS = 20
_GATE_MAX_TOKS = 400
_GATE_MIN_STOP = 0.02
_GATE_TOKLEN_LO = 3.0
_GATE_TOKLEN_HI = 8.0
_GATE_MAX_TOP_FRAC = 0.2

# target source mixture for rebalancing (shares sum to 1)
_MIX_TARGETS = {"src0": 0.40, "src1": 0.25, "src2": 0.20, "src3": 0.15}


def _top_token_run(toks: F.Column) -> F.Column:
    """Count of the most frequent token, computed WITHOUT a shuffle: sort
    the token array, then fold once tracking the longest run of equal
    neighbours (the sorted-run-length = per-token count). One O(n log n)
    sort + O(n) fold per row, all inside codegen."""
    srt = F.array_sort(toks)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(srt, acc0, step, lambda acc: acc["best"]).cast("long")


@query(
    "q_repetition_metrics",
    oracle="""
WITH tk AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
    SELECT doc_id, tok, COUNT(*) AS n FROM tk GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS n_toks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MAX(n) AS BIGINT) AS top_tok_n,
       CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_tok_frac,
       CAST(COUNT(*) AS DOUBLE) / SUM(n) AS distinct_ratio
FROM c
GROUP BY doc_id
""",
    tags=("pipeline", "quality", "repetition"),
)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile (the Gopher-style repetition
    signals): token count, distinct-token count, the most frequent token's
    count and corpus share, and the distinct ratio.

    The oracle counts tokens relationally (unnest → GROUP BY); the Spark
    side gets identical numbers from a per-row sorted-run fold — no
    explode, no shuffle, which is the difference between a projection and
    a full token-stream exchange at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    top = _top_token_run(toks)
    return d.select(
        "doc_id",
        n.alias("n_toks"),
        nd.alias("n_distinct"),
        top.alias("top_tok_n"),
        (top.cast("double") / n).alias("top_tok_frac"),
        (nd.cast("double") / n).alias("distinct_ratio"),
    )


_G = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(_BOILER_N))


@collected_query(
    "q_boilerplate_ngrams",
    oracle=f"""
WITH tk AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               generate_series(1, GREATEST(len(t) - {_BOILER_N - 1}, 0)),
               i -> {_G}))) AS gram
    FROM tk
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM grams
GROUP BY gram
HAVING COUNT(*) >= {_BOILER_MIN_DOCS}
ORDER BY n_docs DESC, gram
LIMIT {_BOILER_TOP}
""",
    tags=("pipeline", "quality", "boilerplate"),
)
def _boilerplate_plan(spark: SparkSession, sf_dir: str):
    """Corpus-level boilerplate report: the top {n}-grams by the number of
    DISTINCT documents containing them (≥ threshold). The cross-document
    twin of per-doc repetition — in a web corpus these are cookie banners
    and license headers; dropping lines containing them is the C4 rule.

    Per-doc grams are deduped BEFORE the explode (array_distinct), so the
    aggregate is a plain COUNT(*) on (gram) — one shuffle with map-side
    combine, then TakeOrderedAndProject for the bounded report.

    The gram table materializes through a released cache:
    exploding an array built by an expensive inline HOF pipeline re-pays
    the pipeline ~per OUTPUT row (the decontaminate Generate class) —
    measured 6.2s inline vs 0.6s from the materialized column at sf1.
    The result is a bounded ≤{top}-row report, so ``collected`` releases
    the cache instead of leaking it."""
    d = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    grams = (
        d.repartition(n_part, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(word_ngrams(tokens(F.col("text")), _BOILER_N)).alias(
                "gs"
            ),
        )
        .persist()
    )
    top = (
        grams.select(F.explode("gs").alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= _BOILER_MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(_BOILER_TOP)
    )
    return top, [grams]


@query(
    "q_quality_gate",
    oracle=f"""
WITH tk AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), m AS (
    SELECT doc_id,
           len(toks) AS n_toks,
           CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
               / len(toks) AS stop_ratio,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
               AS DOUBLE) / len(toks) AS mean_tok_len,
           CAST(list_max(list_transform(
                   list_distinct(toks),
                   x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
               / len(toks) AS top_frac
    FROM tk
)
SELECT doc_id,
       CASE
         WHEN n_toks < {_GATE_MIN_TOKS} THEN 'too_short'
         WHEN n_toks > {_GATE_MAX_TOKS} THEN 'too_long'
         WHEN stop_ratio < {_GATE_MIN_STOP} THEN 'low_stopword'
         WHEN mean_tok_len < {_GATE_TOKLEN_LO}
           OR mean_tok_len > {_GATE_TOKLEN_HI} THEN 'token_length'
         WHEN top_frac > {_GATE_MAX_TOP_FRAC} THEN 'repetitive'
         ELSE 'ok'
       END AS reason,
       CASE
         WHEN n_toks < {_GATE_MIN_TOKS} THEN FALSE
         WHEN n_toks > {_GATE_MAX_TOKS} THEN FALSE
         WHEN stop_ratio < {_GATE_MIN_STOP} THEN FALSE
         WHEN mean_tok_len < {_GATE_TOKLEN_LO}
           OR mean_tok_len > {_GATE_TOKLEN_HI} THEN FALSE
         WHEN top_frac > {_GATE_MAX_TOP_FRAC} THEN FALSE
         ELSE TRUE
       END AS keep
FROM m
""",
    tags=("pipeline", "quality", "gate"),
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite keep/drop gate with an audit REASON column — the form a
    production filter takes, because "what fraction did each rule drop" is
    the first question asked of any curation run. First failing rule wins
    (fixed priority), so the output is deterministic and the reasons
    partition the corpus. The reason chain itself lives in
    :func:`gate_reason` so the composed pipeline (q_pipeline_e2e) applies
    the IDENTICAL gate and the two can never drift."""
    d = load_table(spark, sf_dir, "documents")
    reason = gate_reason(tokens(F.col("text")))
    return d.select(
        "doc_id", reason.alias("reason"), (reason == "ok").alias("keep")
    )


def gate_reason(toks: F.Column) -> F.Column:
    """The quality gate's first-failing-rule reason chain over a token
    array ('ok' = keep) — shared by q_quality_gate and the end-to-end
    pipeline composition."""
    n = F.size(toks)
    stop_ratio = stopword_count(toks).cast("double") / n
    mtl = mean_token_len(toks)
    top_frac = _top_token_run(toks).cast("double") / n
    return (
        F.when(n < _GATE_MIN_TOKS, F.lit("too_short"))
        .when(n > _GATE_MAX_TOKS, F.lit("too_long"))
        .when(stop_ratio < _GATE_MIN_STOP, F.lit("low_stopword"))
        .when((mtl < _GATE_TOKLEN_LO) | (mtl > _GATE_TOKLEN_HI), F.lit("token_length"))
        .when(top_frac > _GATE_MAX_TOP_FRAC, F.lit("repetitive"))
        .otherwise(F.lit("ok"))
    )


@query(
    "q_curriculum_stages",
    oracle="""
WITH c AS (SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY n_chars),
cum AS (SELECT n_chars, SUM(cnt) OVER (ORDER BY n_chars) AS cum FROM c),
t AS (SELECT COUNT(*) AS tot FROM documents),
b AS (
    SELECT MIN(CASE WHEN cum >= (tot + 3) // 4 THEN n_chars END) AS q1,
           MIN(CASE WHEN cum >= (2 * tot + 3) // 4 THEN n_chars END) AS q2,
           MIN(CASE WHEN cum >= (3 * tot + 3) // 4 THEN n_chars END) AS q3
    FROM cum, t
)
SELECT doc_id, n_chars,
       CAST(CASE WHEN n_chars <= q1 THEN 1
                 WHEN n_chars <= q2 THEN 2
                 WHEN n_chars <= q3 THEN 3
                 ELSE 4 END AS INT) AS stage
FROM documents, b
""",
    tags=("pipeline", "curriculum", "percentile"),
)
def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum staging: assign each document to a quartile stage
    by n_chars (stage 1 = shortest quarter … stage 4 = longest) — the
    shortest-first schedule curriculum training feeds batches in.

    Quartile bounds are DISCRETE-rank percentiles in pure integer
    arithmetic over the distinct-value cumulative-count table (bounded by
    the value range, not corpus size), identical on both engines by
    construction; the corpus is touched once by a broadcast CASE — the
    scale-safe alternative to a global ntile() window, which would move
    every row through one partition."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("n_chars").agg(F.count("*").alias("c"))
    vals = cnt.select(F.col("n_chars").alias("v"), F.col("c").alias("vc"))
    cum = (
        cnt.join(F.broadcast(vals), F.col("v") <= F.col("n_chars"))
        .groupBy("n_chars")
        .agg(F.sum("vc").alias("cum"))
    )
    tot = cnt.agg(F.sum("c").alias("tot"))
    bounds = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(tot + 3) div 4"), F.col("n_chars"))
        ).alias("q1"),
        F.min(
            F.when(F.col("cum") >= F.expr("(2 * tot + 3) div 4"), F.col("n_chars"))
        ).alias("q2"),
        F.min(
            F.when(F.col("cum") >= F.expr("(3 * tot + 3) div 4"), F.col("n_chars"))
        ).alias("q3"),
    )
    stage = (
        F.when(F.col("n_chars") <= F.col("q1"), F.lit(1))
        .when(F.col("n_chars") <= F.col("q2"), F.lit(2))
        .when(F.col("n_chars") <= F.col("q3"), F.lit(3))
        .otherwise(F.lit(4))
        .cast("int")
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .select("doc_id", "n_chars", stage.alias("stage"))
    )


@query(
    "q_token_length_histogram",
    oracle="""
WITH tk AS (
    SELECT CASE
             WHEN len(string_split(text, ' ')) < 16  THEN '[0,16)'
             WHEN len(string_split(text, ' ')) < 32  THEN '[16,32)'
             WHEN len(string_split(text, ' ')) < 64  THEN '[32,64)'
             WHEN len(string_split(text, ' ')) < 128 THEN '[64,128)'
             WHEN len(string_split(text, ' ')) < 256 THEN '[128,256)'
             ELSE '[256,inf)'
           END AS bucket
    FROM documents
), t AS (SELECT COUNT(*) AS tot FROM documents)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(tot) AS share
FROM tk, t
GROUP BY bucket
""",
    tags=("pipeline", "histogram"),
)
def q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution in fixed power-of-two bins with corpus
    share — the sequence-length profile that sizes packing budgets and
    batch shapes. Fixed CASE bins (not log2 floats) so bucket edges are
    exact on both engines; the corpus total reaches the ≤6-row result via
    broadcast, not a global window."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(tokens(F.col("text")))
    bucket = (
        F.when(n < 16, "[0,16)")
        .when(n < 32, "[16,32)")
        .when(n < 64, "[32,64)")
        .when(n < 128, "[64,128)")
        .when(n < 256, "[128,256)")
        .otherwise("[256,inf)")
    )
    tot = d.agg(F.count("*").alias("tot"))
    return (
        d.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("tot")).alias("share"),
        )
    )


# CAST the shares to DOUBLE in the VALUES list: a bare 0.40 literal is
# DECIMAL in DuckDB, and decimal vs double downstream arithmetic would
# diverge from Spark's double path.
_MIX_SQL = ", ".join(
    f"('{s}', CAST({w} AS DOUBLE))" for s, w in sorted(_MIX_TARGETS.items())
)


@query(
    "q_mixture_rebalance",
    oracle=f"""
WITH tgt(source, target_share) AS (VALUES {_MIX_SQL}),
c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
t AS (SELECT SUM(n_docs) AS tot FROM c)
SELECT c.source,
       CAST(c.n_docs AS BIGINT) AS n_docs,
       tgt.target_share,
       LEAST(1.0, tgt.target_share * t.tot / c.n_docs) AS sample_rate,
       CAST(FLOOR(LEAST(1.0, tgt.target_share * t.tot / c.n_docs) * c.n_docs)
            AS BIGINT) AS n_keep
FROM c JOIN tgt USING (source), t
""",
    tags=("pipeline", "sampling", "mixture"),
)
def q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture rebalancing plan: given target corpus shares per
    source, derive each source's deterministic sampling rate and kept-doc
    count — the planning step before a rate-threshold sample (md5 <
    rate, as in q_split_train_test) executes the mixture.

    All inputs to the rate are exact (BIGINT counts, literal shares); the
    double arithmetic is the same IEEE ops on both engines. The plan table
    is |sources| rows; at 100 TB it broadcasts back onto the corpus."""
    d = load_table(spark, sf_dir, "documents")
    tgt = local_frame(
        spark,
        sorted(_MIX_TARGETS.items()), "source string, target_share double"
    )
    c = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = c.agg(F.sum("n_docs").alias("tot"))
    rate = F.least(
        F.lit(1.0), F.col("target_share") * F.col("tot") / F.col("n_docs")
    )
    return (
        c.join(F.broadcast(tgt), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "target_share",
            rate.alias("sample_rate"),
            F.floor(rate * F.col("n_docs")).cast("bigint").alias("n_keep"),
        )
    )


@query(
    "q_ngram_novelty",
    oracle=f"""
WITH tk AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), g AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               generate_series(1, GREATEST(len(t) - {_BOILER_N - 1}, 0)),
               i -> {_G}))) AS gram
    FROM tk
), f AS (
    SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS novelty
FROM g JOIN f USING (gram)
GROUP BY g.doc_id
""",
    tags=("pipeline", "quality", "novelty"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    {n}-grams whose FIRST corpus occurrence (min doc_id) is this document —
    the dedup-adjacent signal that separates original content from
    recombinations of earlier text, and the streaming-ingest analogue of
    'how much of this crawl snapshot is new'.

    Scale shape: one shuffle keyed on the gram (min-aggregate with map-side
    combine), the first-occurrence table joins back on the same gram key
    (Catalyst reuses the partitioning), then a per-doc aggregate. Shuffle
    volume ∝ distinct (doc, gram) pairs — the same envelope as the
    dedup/decontamination family, nothing quadratic."""
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams(tokens(F.col("text")), _BOILER_N))
        ).alias("gram"),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            novel.cast("long").alias("n_novel"),
            (novel.cast("double") / F.count("*")).alias("novelty"),
        )
    )


@query(
    "q_k_anonymity_generalize",
    oracle="""
WITH g0 AS (
    SELECT c_nationkey AS nation, c_mktsegment AS segment, COUNT(*) AS n
    FROM customer GROUP BY 1, 2
), keep0 AS (
    SELECT CAST(nation AS VARCHAR) AS nation, segment, n,
           CAST(0 AS BIGINT) AS level
    FROM g0 WHERE n >= 5
), g1 AS (
    SELECT nation, SUM(n) AS n FROM g0 WHERE n < 5 GROUP BY nation
), keep1 AS (
    -- CAST is load-bearing: DuckDB types SUM(BIGINT) as HUGEINT, UNION ALL
    -- promotes the whole n column, and pandas materializes HUGEINT as
    -- float64 — hash-mismatching Spark's int64.
    SELECT CAST(nation AS VARCHAR) AS nation, '*' AS segment,
           CAST(n AS BIGINT) AS n, CAST(1 AS BIGINT) AS level
    FROM g1 WHERE n >= 5
), g2 AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n FROM g1 WHERE n < 5
), keep2 AS (
    SELECT '*' AS nation, '*' AS segment, n, CAST(2 AS BIGINT) AS level
    FROM g2 WHERE n > 0
)
SELECT nation, segment, CAST(n AS BIGINT) AS n, level FROM keep0
UNION ALL SELECT * FROM keep1
UNION ALL SELECT * FROM keep2
""",
    tags=("curation", "privacy", "k-anonymity"),
)
def q_k_anonymity_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY enforcement over quasi-identifiers (nation ×
    market segment, k=5) with a generalization LADDER — the privacy gate
    a training-data release pipeline runs before shipping user-derived
    rows: equivalence classes already ≥k publish at level 0; smaller
    classes generalize the segment away ('*') and re-test per nation
    (level 1); what still falls short collapses to the fully-suppressed
    ('*','*') bucket (level 2). Every published class in the output has
    n ≥ k except the final catch-all, which is reported rather than
    silently dropped — an auditor can verify the ladder from the row
    set alone.

    Exact: class sizes are integers and the ladder is deterministic
    set algebra; the oracle replays all three levels. 100 TB shape:
    level-0 is one partial-aggregated groupBy on the quasi-identifier
    key; each ladder step re-aggregates only the FAILING classes'
    group-grain rows (bounded by the QI domain, not the table).
    """
    c = load_table(spark, sf_dir, "customer")
    g0 = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(F.count("*").alias("n"))
    keep0 = g0.where(F.col("n") >= 5).select(
        F.col("nation").cast("string").alias("nation"),
        "segment",
        "n",
        F.lit(0).cast("long").alias("level"),
    )
    g1 = (
        g0.where(F.col("n") < 5)
        .groupBy("nation")
        .agg(F.sum("n").alias("n"))
    )
    keep1 = g1.where(F.col("n") >= 5).select(
        F.col("nation").cast("string").alias("nation"),
        F.lit("*").alias("segment"),
        "n",
        F.lit(1).cast("long").alias("level"),
    )
    keep2 = (
        g1.where(F.col("n") < 5)
        .agg(F.sum("n").alias("n"))
        .where(F.col("n") > 0)
        .select(
            F.lit("*").alias("nation"),
            F.lit("*").alias("segment"),
            F.col("n").cast("long").alias("n"),
            F.lit(2).cast("long").alias("level"),
        )
    )
    return keep0.unionByName(keep1).unionByName(keep2)
