"""Training-data pipeline operators: deterministic splits/sampling/shuffles,
benchmark decontamination, normalization, PII redaction, vocabulary build,
salient-term extraction, percentile quality filtering.

These are the corpus-curation steps an LLM data pipeline runs between raw
documents and training batches. Determinism is the design center: "random"
choices are md5-hash decisions (both engines produce identical md5 hex and
compare hex strings identically), so every sampling operator carries an
EXACT DuckDB oracle AND reproduces bit-identically on re-run — the property
that makes a 100 TB curation run auditable and resumable.

Scale notes: every operator is built-ins only (no Python in the row path);
the sampling/split operators are embarrassingly parallel per-row
expressions; the per-stratum and per-doc rankers are single window
functions over the stratum key; decontamination shuffles on the n-gram key
(bounded by distinct-gram count, the same shape as the dedup band join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from als_pyspark_spark.caching import deferred
from als_pyspark_spark.functions.text import STOPWORDS, tokens, word_ngrams
from als_pyspark_spark.registry import query
from als_pyspark_spark.sources.tables import load_table

# 'cd' = 205/256 ≈ 80.1% of uniformly-distributed 2-hex-digit prefixes.
_TRAIN_THRESHOLD = "cd"
_DECONTAM_N = 5
_BALANCED_K = 10  # binds at every SF (sources carry 25+ docs each)
_CHUNK = 32  # tokens per training chunk
_STRIDE = 24  # chunk stride (8-token overlap)
_PACK_BUDGET = 512  # tokens per packed training sequence


def _doc_hash(col: str = "doc_id") -> F.Column:
    """Deterministic per-row coin: md5 of the id rendered as a string.
    Identical hex (and identical lexicographic order) in DuckDB."""
    return F.md5(F.col(col).cast("string"))


@query(
    "q_split_train_test",
    oracle=f"""
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_THRESHOLD}'
            THEN 'train' ELSE 'test' END AS split
FROM documents
""",
    tags=("pipeline", "split", "sampling"),
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/20 train/test split: the first two hex digits of
    md5(doc_id) against a fixed threshold. Pure per-row expression — no
    shuffle, no RNG state, stable under re-partitioning and re-runs."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(
            F.substring(_doc_hash(), 1, 2) < _TRAIN_THRESHOLD, F.lit("train")
        )
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@query(
    "q_sample_stratified",
    oracle="""
SELECT doc_id, source
FROM documents
QUALIFY ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        <= CEIL(COUNT(*) OVER (PARTITION BY source) * 0.1)
""",
    tags=("pipeline", "sampling", "stratified"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional 10% stratified sample: within each source stratum,
    rank rows by md5(doc_id) and keep the first ceil(0.1·|stratum|).
    Exactly reproducible, exactly proportional per stratum — unlike
    TABLESAMPLE, which is neither. One window over the stratum key."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(_doc_hash().asc(), F.col("doc_id").asc())
    wc = Window.partitionBy("source")
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("rk"),
            F.ceil(F.count("*").over(wc) * 0.1).alias("cap"),
        )
        .where(F.col("rk") <= F.col("cap"))
        .select("doc_id", "source")
    )


@query(
    "q_sample_balanced",
    oracle=f"""
SELECT doc_id, source
FROM documents
QUALIFY ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) <= {_BALANCED_K}
""",
    tags=("pipeline", "sampling", "balanced"),
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced downsample: exactly K docs per source (md5 order), the
    standard mitigation when one source dominates the corpus mix."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(_doc_hash().asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _BALANCED_K)
        .select("doc_id", "source")
    )


@query(
    "q_shuffle_order",
    oracle="""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT)
           AS shuffle_pos
FROM documents
""",
    tags=("pipeline", "shuffle", "ordering"),
)
def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: position = rank in
    md5(doc_id) order, computed WITHOUT a global window (a partitionBy-less
    window moves the whole corpus to one partition — the classic scale
    killer). Instead, the scalable zipWithIndex recipe:

    1. bucket = first 3 hex digits of the md5 (4096 near-uniform buckets;
       bucket prefix order == hash order, so cross-bucket ranks compose)
    2. local rank: row_number per bucket — a 4096-way parallel window
    3. bucket offsets: per-bucket counts (tiny, ≤4096 rows) cumulated via a
       broadcast band self-join (sum of counts of strictly-lower buckets)
    4. shuffle_pos = offset + local rank

    The corpus only ever shuffles once, hash-partitioned on the bucket key;
    everything global happens on the constant-size bucket table."""
    d = load_table(spark, sf_dir, "documents")
    h = _doc_hash()
    rows = d.select("doc_id", h.alias("h"), F.substring(h, 1, 3).alias("bucket"))
    w = Window.partitionBy("bucket").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    local = rows.select("doc_id", "bucket", F.row_number().over(w).alias("local_rk"))
    counts = rows.groupBy("bucket").agg(F.count("*").alias("n"))
    lower = counts.select(F.col("bucket").alias("lb"), F.col("n").alias("ln"))
    offsets = (
        counts.join(F.broadcast(lower), F.col("lb") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(F.coalesce(F.sum("ln"), F.lit(0)).alias("offset"))
    )
    return local.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        (F.col("offset") + F.col("local_rk")).cast("long").alias("shuffle_pos"),
    )


@query(
    "q_decontaminate",
    oracle=f"""
WITH grams AS (
    SELECT doc_id,
           list_distinct(
               list_transform(
                   generate_series(1, GREATEST(len(string_split(text, ' ')) - {_DECONTAM_N - 1}, 0)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                        || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3]
                        || ' ' || string_split(text, ' ')[i+4]
               )
           ) AS gs
    FROM documents
),
bench AS (
    SELECT DISTINCT UNNEST(gs) AS g FROM grams WHERE doc_id % 97 = 0
),
train AS (
    SELECT doc_id, UNNEST(gs) AS g FROM grams WHERE doc_id % 97 <> 0
)
SELECT t.doc_id AS doc_id, COUNT(*) AS n_shared_grams
FROM train t JOIN bench b ON t.g = b.g
GROUP BY t.doc_id
""",
    tags=("pipeline", "decontamination", "ngram"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any distinct
    word 5-gram with the held-out benchmark set (doc_id % 97 == 0 stands in
    for the eval suite). The n-gram overlap check every serious LLM corpus
    runs against its eval benchmarks before training.

    Scale shape: distinct grams explode once per side, then an equi-join on
    the gram string — shuffle bounded by distinct-gram volume, identical to
    the dedup band-join. The benchmark side is tiny (≈1% of docs) and
    broadcast; counting shared grams per doc is one partial+final agg.

    The gram table is PERSISTED, for two measured reasons (sf1):
    it feeds both sides of the bench/train split, and — the dominant one —
    exploding an array built by an expensive inline HOF pipeline re-pays
    that pipeline ~per OUTPUT row (Generate evaluation, 18×: 11.6s inline
    vs 0.74s materialize + 0.47s explode; a shuffle barrier does NOT help
    because the optimizer reorders the projection across it). Query total
    11.6 → 1.7s warm. Like every cache, it registers with
    ``caching.deferred`` and the runner releases it once the caller is
    done with the result."""
    d = load_table(spark, sf_dir, "documents")
    # repartition BEFORE the gram projection: shingling is the CPU-heavy
    # step and the corpus parquet may be a single row group (1 task) — same
    # discipline as the LSH signature pipeline (dedup/queries.py)
    n_part = spark.sparkContext.defaultParallelism
    grams = deferred(
        d.repartition(n_part, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(word_ngrams(tokens(F.col("text")), _DECONTAM_N)).alias(
                "gs"
            ),
        )
        .persist()
    )
    bench = (
        grams.where(F.col("doc_id") % 97 == 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    train = grams.where(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.explode("gs").alias("g")
    )
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


@query(
    "q_text_normalize",
    oracle="""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm_text
FROM documents
WHERE doc_id < 100
""",
    tags=("pipeline", "text", "normalize"),
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization: lowercase, strip non-alphanumerics, collapse
    whitespace — the canonical form fed to tokenizers and hashers. (Spark
    regexp_replace is replace-all by default; DuckDB needs the 'g' flag —
    an easy silent-divergence trap, pinned here by the oracle.)"""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return d.select("doc_id", norm.alias("norm_text"))


@query(
    "q_pii_redact",
    oracle="""
SELECT doc_id,
       regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                          '<EMAIL>', 'g'),
           '[0-9]{6,}', '<NUM>', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
            AS BIGINT) AS n_emails
FROM documents
WHERE doc_id < 100
""",
    tags=("pipeline", "pii", "redaction"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: mask email addresses and long digit runs (ids, phone
    numbers) before training. Regex-only — the fast path; entity-model
    redaction would ride the same mapInPandas plumbing as multimodal."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), "[0-9]{6,}", "<NUM>"
    )
    n_emails = F.size(F.regexp_extract_all("text", F.lit(email), F.lit(0))).cast("long")
    return d.select("doc_id", redacted.alias("redacted"), n_emails.alias("n_emails"))


@query(
    "q_vocab_top",
    oracle="""
WITH tok AS (
    SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
),
counts AS (
    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS vocab_id,
       token, n
FROM counts
ORDER BY vocab_id
LIMIT 500
""",
    tags=("pipeline", "vocab", "text"),
)
def q_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ordered vocabulary build: token → stable integer id, the
    precursor to any tokenizer training. Deterministic tie-break on the
    token string. The top-500 survivors are selected FIRST with
    orderBy+limit — Spark plans that as TakeOrderedAndProject (per-partition
    top-k, then a k-row merge on the driver; scale-safe at any token count).
    Only the 500-row survivor set sees a global window for id assignment —
    constant-size, never the full distinct-token table (billions of rows at
    100 TB)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(500)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        F.row_number().over(w).cast("long").alias("vocab_id"), "token", "n"
    )


@query(
    "q_doc_salient_terms",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
    FROM documents WHERE doc_id < 50
),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf
    FROM tok
    WHERE token NOT IN {STOPWORDS!r}
    GROUP BY doc_id, token
),
df AS (
    SELECT token, COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents) all_tok
    GROUP BY token
)
SELECT doc_id, token, tf, df
FROM tf JOIN df USING (token)
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, token ASC) <= 3
""",
    tags=("pipeline", "tfidf", "text"),
)
def q_doc_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms: top-3 non-stopword tokens by
    (term-frequency DESC, document-frequency ASC) — the tf-idf ranking
    with integer keys instead of a float score, so the ordering (and the
    oracle hash) is exact. Corpus df computes once and broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    all_tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    df = all_tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    tf = (
        all_tok.where(F.col("doc_id") < 50)
        .where(~F.col("token").isin(*STOPWORDS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("token")
    )
    return (
        tf.join(F.broadcast(df), "token")
        .select("doc_id", "token", "tf", "df", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 3)
        .drop("rk")
    )


@query(
    "q_chunk_documents",
    oracle=f"""
WITH toked AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
ch AS (
    SELECT doc_id,
           k AS chunk_id,
           list_slice(toks, k * {_STRIDE} + 1,
                      LEAST(k * {_STRIDE} + {_CHUNK}, len(toks))) AS chunk
    FROM toked,
         UNNEST(generate_series(
             0,
             CAST((GREATEST(len(toks) - {_CHUNK}, 0) + {_STRIDE - 1}) // {_STRIDE} AS BIGINT)
         )) AS g(k)
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(chunk) AS BIGINT) AS n_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM ch
""",
    tags=("pipeline", "chunking", "training"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking: each document becomes overlapping
    32-token chunks at stride 24 — the sequence-prep step that
    turns documents into model-sized training examples while the overlap
    preserves cross-boundary context.

    Scale shape: per-row transform + posexplode — embarrassingly parallel,
    output volume = corpus × (1 + overlap fraction). The token array is
    materialized behind a repartition barrier first, so per-chunk slice
    lambdas reference a cheap attribute, not the re-evaluated split tree
    (the word_ngrams lesson), and the chunking runs on every core even for
    a single-row-group parquet."""
    d = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    toked = d.repartition(n_part, "doc_id").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    m = F.size("toks")
    last_chunk = F.floor(
        (F.greatest(m - F.lit(_CHUNK), F.lit(0)) + F.lit(_STRIDE - 1)) / F.lit(_STRIDE)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), last_chunk),
        lambda k: F.slice(F.col("toks"), k * _STRIDE + 1, _CHUNK),
    )
    return (
        toked.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size("chunk").cast("long").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


@query(
    "q_pack_sequences",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           len(string_split(text, ' ')) AS n_tok
    FROM documents
),
s AS (
    SELECT doc_id,
           substr(h, 1, 2) AS shard,
           n_tok,
           SUM(n_tok) OVER (PARTITION BY substr(h, 1, 2)
                            ORDER BY h ASC, doc_id ASC) AS cum
    FROM t
)
SELECT doc_id,
       shard,
       CAST(cum - n_tok AS BIGINT) AS start_offset,
       CAST((cum - n_tok) // {_PACK_BUDGET} AS BIGINT) AS bin_id
FROM s
""",
    tags=("pipeline", "packing", "training"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing: documents stream in deterministic
    md5 order within each of 256 shards; each doc's start offset in the
    shard's token stream and the 512-token bin it starts in are
    computed from a running token count. This is how LLM pretraining
    actually packs tokens — concatenate the shard stream, cut every budget
    tokens — expressed as one window cumsum.

    Scale shape: the only shuffle is the 256-way shard window (each shard
    ~1/256 of the corpus, processed independently); offsets are pure
    integer arithmetic, so the operator is exactly reproducible and carries
    an exact oracle."""
    d = load_table(spark, sf_dir, "documents")
    h = _doc_hash()
    t = d.select(
        "doc_id",
        h.alias("h"),
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    ).withColumn("shard", F.substring("h", 1, 2))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum", F.sum("n_tok").over(w))
        .select(
            "doc_id",
            "shard",
            (F.col("cum") - F.col("n_tok")).cast("long").alias("start_offset"),
            F.expr(f"CAST((cum - n_tok) div {_PACK_BUDGET} AS BIGINT)").alias("bin_id"),
        )
    )


@query(
    "q_length_filter_percentile",
    oracle="""
WITH c AS (SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY n_chars),
cum AS (SELECT n_chars, SUM(cnt) OVER (ORDER BY n_chars) AS cum FROM c),
t AS (SELECT COUNT(*) AS tot FROM documents),
b AS (
    SELECT MIN(CASE WHEN cum >= (tot + 19) // 20 THEN n_chars END) AS lo,
           MIN(CASE WHEN cum >= (19 * tot + 19) // 20 THEN n_chars END) AS hi
    FROM cum, t
)
SELECT doc_id, n_chars FROM documents, b
WHERE n_chars >= lo AND n_chars <= hi
""",
    tags=("pipeline", "quality", "percentile"),
)
def q_length_filter_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile length gate: drop the shortest and longest 5% of docs —
    the distribution-relative quality filter (absolute thresholds rot as
    the corpus mix shifts).

    The bounds are DISCRETE-rank percentiles in pure integer arithmetic —
    lo = smallest value whose cumulative count ≥ ceil(n/20) — identical on
    both engines by construction. (Interpolating percentile/quantile_cont
    are independent float implementations; a ulp difference at a bound that
    lands exactly on an integer n_chars flips row inclusion.)

    Scale shape: cumulative counts live on the distinct-value table (one
    row per distinct length — bounded by the length range, not the corpus),
    via a broadcast band self-join; the corpus itself is touched exactly
    once by the final broadcast-bounds filter."""
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
            F.when(F.col("cum") >= F.expr("(tot + 19) div 20"), F.col("n_chars"))
        ).alias("lo"),
        F.min(
            F.when(F.col("cum") >= F.expr("(19 * tot + 19) div 20"), F.col("n_chars"))
        ).alias("hi"),
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .where((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "n_chars")
    )


@query(
    "q_vocab_encode_docs",
    oracle="""
WITH tok AS (
    SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
),
counts AS (
    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
),
vocab AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
               AS vocab_id,
           token
    FROM counts ORDER BY n DESC, token ASC LIMIT 500
),
doc_toks AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents WHERE doc_id < 50
)
SELECT d.doc_id,
       CAST(d.pos - 1 AS BIGINT) AS pos,
       COALESCE(v.vocab_id, 0) AS token_id
FROM doc_toks d LEFT JOIN vocab v USING (token)
""",
    tags=("pipeline", "vocab", "tokenize"),
)
def q_vocab_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary APPLICATION — the encode step that turns text into
    training token ids: build the frequency vocabulary (same recipe as
    q_vocab_top), then map every token position of the target docs through
    it, OOV → id 0. This is the tokenize-with-vocab pass every pretraining
    pipeline runs after vocab construction.

    Scale shape: the vocabulary is a bounded table (500 rows here; ≤ a few
    hundred thousand for real BPE vocabs) — it BROADCASTS onto the corpus
    explode, so encoding is one map-side hash lookup per token with zero
    extra shuffles of the corpus itself."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(500)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    vocab = top.select(
        F.row_number().over(w).cast("long").alias("vocab_id"), "token"
    )
    doc_toks = (
        d.where(F.col("doc_id") < 50)
        .select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "token"))
    )
    return (
        doc_toks.join(F.broadcast(vocab), "token", "left")
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.coalesce(F.col("vocab_id"), F.lit(0)).alias("token_id"),
        )
    )


@query(
    "q_user_event_sequences",
    oracle="""
SELECT user_id,
       string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq,
       CAST(COUNT(*) AS BIGINT) AS seq_len
FROM events
GROUP BY user_id
""",
    tags=("pipeline", "sequences", "behavioral"),
)
def q_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence construction: each user's event-type history as
    one ordered sequence string — the session-to-training-example step for
    recommendation/behavior models (the sequence twin of the ratings
    derivation the ALS flagship consumes).

    Deterministic by (ts, event_id) ordering; built with sort_array over
    collected (ts, event_id, type) structs, so the aggregation is one
    shuffle and the ordering is established inside each group without a
    window pass."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                " ",
            ).alias("seq"),
            F.count("*").alias("seq_len"),
        )
    )


@query(
    "q_leakage_safe_split",
    oracle=f"""
WITH labeled AS (
    SELECT doc_id, text,
           CASE WHEN substr(md5(text), 1, 2) < '{_TRAIN_THRESHOLD}'
                THEN 'train' ELSE 'test' END AS split
    FROM documents
),
leak AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS leaked_groups
    FROM (SELECT text FROM labeled GROUP BY text
          HAVING COUNT(DISTINCT split) > 1)
)
SELECT l.split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT l.text) AS n_texts,
       MAX(k.leaked_groups) AS cross_split_dup_groups
FROM labeled l CROSS JOIN leak k
GROUP BY l.split
""",
    tags=("pipeline", "split", "leakage"),
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: the split key is md5 of the
    CONTENT, not the row id — so byte-identical documents (the exact-dup
    groups a crawl inevitably carries) always land in the same split, and
    a held-out set can never contain a training document's copy.
    q_split_train_test is the row-id-keyed baseline; this is the form an
    evaluation pipeline must use. Each output row carries the split
    census plus a computed (not assumed) leak witness: the number of
    text groups spanning both splits — structurally 0 here, verified by
    the oracle, and the column a production run would alert on.

    100 TB shape: one shuffle on the content hash for the census; the
    leak check is the same hash-grouped pass (a real pipeline folds both
    into the dedup stage it already runs). Splitting near-dup CLUSTERS
    jointly (not just exact copies) composes this with
    q_dedup_clusters' canonical ids as the hash key.
    """
    d = load_table(spark, sf_dir, "documents")
    labeled = d.select(
        "doc_id",
        "text",
        F.when(
            F.substring(F.md5("text"), 1, 2) < _TRAIN_THRESHOLD, F.lit("train")
        )
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    leak = (
        labeled.groupBy("text")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .agg(F.count("*").alias("leaked_groups"))
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("text").alias("n_texts"),
        )
        .crossJoin(F.broadcast(leak))
        .select(
            "split",
            "n_docs",
            "n_texts",
            F.col("leaked_groups").alias("cross_split_dup_groups"),
        )
    )


@query(
    "q_weighted_sampling",
    oracle="""
WITH scored AS (
    SELECT source,
           len(string_split(text, ' ')) AS n_tokens,
           LEAST(1000000, len(string_split(text, ' ')) * 20000) AS weight_ppm,
           ('0x' || substr(MD5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % 1000000 AS u_ppm
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN u_ppm < weight_ppm THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(SUM(CASE WHEN u_ppm < weight_ppm THEN n_tokens ELSE 0 END) AS BIGINT)
           AS kept_tokens,
       CAST(SUM(weight_ppm) AS BIGINT) AS expected_ppm_mass
FROM scored
GROUP BY source
""",
    tags=("pipeline", "sampling", "weighted"),
)
def q_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (quality-proportional) document sampling:
    each document is kept with probability proportional to its token
    count (capped at 1) — the data-mixing primitive behind
    quality-weighted corpus construction, where better/longer documents
    should be over-represented without a separate duplication pass.

    The Bernoulli draw is the repo's seeded-hash idiom: u = md5(salt ‖
    doc_id) mod 1e6 compared against the weight in ppm — reproducible
    across runs AND engines (md5 replays byte-identically in DuckDB), so
    the kept set is exact, not statistical. The ``expected_ppm_mass``
    column emits Σweight as the in-row expectation witness the kept
    counts can be sanity-checked against.

    100 TB shape: per-row hash + comparison fused into the scan, one
    partial+final rollup — the same zero-shuffle profile as
    q_split_train_test; changing the mixture just changes the weight
    expression.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text"))).cast("long")
    weight = F.least(F.lit(1000000).cast("long"), n_tokens * 20000)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("wsample|"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    scored = d.select(
        "source",
        n_tokens.alias("n_tokens"),
        weight.alias("weight_ppm"),
        u.alias("u_ppm"),
    )
    kept = F.col("u_ppm") < F.col("weight_ppm")
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
        F.sum("weight_ppm").alias("expected_ppm_mass"),
    )


@query(
    "q_sample_weighted_reservoir",
    oracle="""
WITH scored AS (
    SELECT source, doc_id,
           LEAST(8, 1 + len(string_split(text, ' ')) // 16) AS weight
    FROM documents
), keyed AS (
    SELECT source, doc_id, weight,
           list_max(list_transform(generate_series(1, weight),
               j -> ('0x' || substr(md5('wres|' || CAST(doc_id AS VARCHAR)
                                    || '|' || CAST(j AS VARCHAR)), 1, 15))
                    ::BIGINT)) AS sample_key
    FROM scored
), ranked AS (
    SELECT source, doc_id, weight, sample_key,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY sample_key DESC, doc_id ASC) AS smp_rank
    FROM keyed
)
SELECT source, smp_rank, doc_id, weight, sample_key
FROM ranked WHERE smp_rank <= 10
""",
    tags=("pipeline", "sampling", "weighted", "reservoir"),
)
def q_sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT fixed-size weighted sampling without replacement: the top-10
    documents per source drawn with probability proportional to an
    integer quality weight — the Efraimidis–Spirakis (A-ES, 2006)
    reservoir, the data-mixing primitive for "exactly k exemplars per
    domain, quality-weighted". Complements q_weighted_sampling, whose
    Bernoulli draw yields a RANDOM-SIZE sample.

    A-ES orders items by u_i^(1/w_i) (u_i iid uniform) and takes the top
    k. That key needs pow/log — float transcendentals that are NOT
    bit-stable across engines — so this uses the max-of-w-draws identity
    instead: for integer w, P(max(u_1..u_w) ≤ t) = t^w = P(u^(1/w) ≤ t),
    i.e. the MAX of w independent md5-derived 60-bit hash draws has
    exactly the A-ES key's distribution, in pure integer arithmetic both
    engines replay byte-identically. Weights are capped at 8, so the key
    is an in-row array_max over ≤8 md5 calls — no explode, no shuffle.

    Per-group top-k runs TWO-PHASE for skew safety (a corpus with 4
    sources would otherwise funnel everything through 4 reducer tasks):
    top-10 within (source, doc_id mod 16) salted subgroups first, then
    top-10 of the ≤160 survivors per source — exact because the global
    top-10 of a group is contained in the union of its salted top-10s.
    The output carries the integer sample_key itself, so the oracle
    hash-checks the full selection order, not just membership.
    """
    d = load_table(spark, sf_dir, "documents")
    from als_pyspark_spark.functions.hashing import md5_hash60

    n_tokens = F.size(tokens(F.col("text")))
    w = F.least(F.lit(8), F.lit(1) + F.floor(n_tokens / F.lit(16)).cast("int"))
    key = F.array_max(
        F.transform(
            F.sequence(F.lit(1), w),
            lambda j: md5_hash60(
                F.concat(
                    F.lit("wres|"),
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    j.cast("string"),
                )
            ),
        )
    )
    scored = d.select(
        "source",
        "doc_id",
        w.cast("long").alias("weight"),
        key.alias("sample_key"),
        F.pmod(F.col("doc_id"), F.lit(16)).alias("salt"),
    )
    w_salted = Window.partitionBy("source", "salt").orderBy(
        F.desc("sample_key"), F.asc("doc_id")
    )
    survivors = (
        scored.withColumn("rn", F.row_number().over(w_salted))
        .where(F.col("rn") <= 10)
        .drop("rn", "salt")
    )
    w_final = Window.partitionBy("source").orderBy(
        F.desc("sample_key"), F.asc("doc_id")
    )
    return (
        survivors.withColumn("smp_rank", F.row_number().over(w_final))
        .where(F.col("smp_rank") <= 10)
        .select("source", "smp_rank", "doc_id", "weight", "sample_key")
    )


_SHARDS = 8  # consistent-hash ring size before the resize
_VNODES = 16  # virtual nodes per shard


def _ring(n_shards: int) -> list[int]:
    """The deterministic consistent-hash ring, packed (point, shard) longs:
    44-bit md5 point · 16 + shard id. Constant-size (n_shards · _VNODES
    entries), data-independent, and byte-identically reproducible in
    Python, Spark and DuckDB from the same md5 construction."""
    import hashlib

    return sorted(
        int(hashlib.md5(f"ring|{s}|{v}".encode()).hexdigest()[:11], 16) * 16 + s
        for s in range(n_shards)
        for v in range(_VNODES)
    )


@query(
    "q_consistent_shard_assignment",
    oracle=f"""
WITH r8 AS (
    SELECT list_sort(flatten(list_transform(generate_series(0, {_SHARDS - 1}), s ->
        list_transform(generate_series(0, {_VNODES - 1}), v ->
            ('0x' || substr(md5('ring|' || CAST(s AS VARCHAR) || '|'
                             || CAST(v AS VARCHAR)), 1, 11))::BIGINT * 16 + s))))
        AS ring
), r9 AS (
    SELECT list_sort(flatten(list_transform(generate_series(0, {_SHARDS}), s ->
        list_transform(generate_series(0, {_VNODES - 1}), v ->
            ('0x' || substr(md5('ring|' || CAST(s AS VARCHAR) || '|'
                             || CAST(v AS VARCHAR)), 1, 11))::BIGINT * 16 + s))))
        AS ring
), assigned AS (
    SELECT
        COALESCE(list_min(list_filter(r8.ring, p -> p >= h.h16)),
                 list_min(r8.ring)) % 16 AS shard_before,
        COALESCE(list_min(list_filter(r9.ring, p -> p >= h.h16)),
                 list_min(r9.ring)) % 16 AS shard_after
    FROM (SELECT ('0x' || substr(md5('doc|' || CAST(doc_id AS VARCHAR)), 1, 11))
                 ::BIGINT * 16 AS h16
          FROM documents) h, r8, r9
)
SELECT CAST(shard_before AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN shard_after = {_SHARDS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved_to_new,
       CAST(SUM(CASE WHEN shard_after <> shard_before
                      AND shard_after <> {_SHARDS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_reassigned_existing
FROM assigned GROUP BY shard_before
""",
    tags=("pipeline", "sharding", "consistent-hash"),
)
def q_consistent_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash shard assignment (Karger et al. 1997) of the
    document corpus onto an 8-shard × 16-vnode ring, plus the RESIZE
    DELTA when a 9th shard is added — how a 100 TB corpus is laid out so
    growing the fleet re-shuffles ~1/(N+1) of the data instead of
    rehashing everything (a mod-N assignment would move (N-1)/N of every
    shard).

    Ring points and document hashes pack into single longs (44-bit md5
    point · 16 + shard id, so point order and packed order agree and
    ``% 16`` recovers the shard); both rings are CONSTANT arrays —
    128/144 entries, data-independent — so assignment is an in-row
    ``array_min(filter(ring, p ≥ 16·h))`` successor probe with wraparound
    coalesce: zero shuffle except the final per-shard rollup. A ring-point
    hash collision would merge two vnodes IDENTICALLY in every engine
    (the packed longs still order the same way), so the oracle cannot
    split.

    ``n_reassigned_existing`` is the STRUCTURAL WITNESS: consistent
    hashing guarantees a resize moves documents only TO the new shard
    (new points only ever capture arcs from their predecessors), so the
    column is identically 0 — computed independently by both engines and
    asserted in tests, not assumed.
    """
    d = load_table(spark, sf_dir, "documents")
    ring8 = F.array(*[F.lit(p) for p in _ring(_SHARDS)])
    ring9 = F.array(*[F.lit(p) for p in _ring(_SHARDS + 1)])
    h16 = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("doc|"), F.col("doc_id").cast("string"))), 1, 11
            ),
            16,
            10,
        ).cast("long")
        * 16
    )

    def assign(ring: F.Column, h: F.Column) -> F.Column:
        succ = F.coalesce(
            F.array_min(F.filter(ring, lambda p: p >= h)), F.array_min(ring)
        )
        return succ % 16

    # materialize h16 as a column FIRST: the filter lambda's predicate
    # embeds its argument subtree, so an inline expression would rerun
    # md5+conv once per ring element per row (144× per probe, measured
    # 15.6s → 1s at sf1); an attribute reference is read once per row
    hashed = d.select(h16.alias("h16"))
    assigned = hashed.select(
        assign(ring8, F.col("h16")).alias("shard_before"),
        assign(ring9, F.col("h16")).alias("shard_after"),
    )
    return assigned.groupBy(F.col("shard_before").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("shard_after") == _SHARDS, 1).otherwise(0)
        ).alias("n_moved_to_new"),
        F.sum(
            F.when(
                (F.col("shard_after") != F.col("shard_before"))
                & (F.col("shard_after") != _SHARDS),
                1,
            ).otherwise(0)
        ).alias("n_reassigned_existing"),
    )


@query(
    "q_kfold_assignment",
    oracle="""
WITH f AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 5 AS fold
    FROM documents
)
SELECT CAST(fold AS BIGINT) AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
FROM f
GROUP BY fold
""",
    tags=("pipeline", "split", "kfold", "cross-validation"),
)
def q_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic K-FOLD cross-validation assignment (k=5): fold id =
    md5(doc_id) mod k — the companion to q_split_train_test for model
    selection. Hash-based (not row-number-based) assignment is the form
    that survives distribution: it needs no global ordering, is stable
    under re-partitioning/re-runs/engine changes, and each entity lands
    in EXACTLY one fold by construction (the leakage property k-fold
    requires; the per-fold id-sum column witnesses the exact membership
    partition, not just the sizes).

    100 TB shape: pure per-row expression, no shuffle before the
    per-fold rollup; training fold f's input is a pushed-down
    ``fold <> f`` filter, never a materialized copy per fold.
    """
    d = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 5
    )
    return (
        d.select("doc_id", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("doc_id").alias("sum_doc_ids"),
        )
    )


@query(
    "q_feature_hashing",
    oracle="""
WITH h AS (
    SELECT CAST(('0x' || substr(md5('nat|' || CAST(c_nationkey AS VARCHAR)), 1, 8))
               AS BIGINT) % 8 AS bucket,
           CASE WHEN CAST(('0x' || substr(md5('sgn|' || CAST(c_nationkey AS VARCHAR)), 1, 8))
                         AS BIGINT) % 2 = 0
                THEN 1 ELSE -1 END AS sgn,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(sgn * cents) AS BIGINT) AS signed_cents,
       CAST(SUM(sgn) AS BIGINT) AS signed_count
FROM h
GROUP BY bucket
""",
    tags=("pipeline", "feature-hashing", "ml"),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FEATURE-HASHING trick (hashing vectorizer): categorical
    values map to a fixed 8-bucket feature space via md5, with the
    signed-hash variant (an independent hash picks ±1) that keeps
    collision noise zero-mean — how a linear-model trainer ingests
    unbounded-cardinality categoricals without a fitted vocabulary.
    Per-bucket signed balance-cents aggregates are the hashed feature
    sums a distributed gradient step consumes.

    Against q_vocab_encode_docs (fitted-vocabulary encoding): hashing
    needs NO fit pass, no broadcast dictionary, and no OOV path — the
    trade is collisions, bounded by the sign trick and bucket count.
    Exact: both hashes and the integer-cents arithmetic replay
    bit-identically in the oracle.

    100 TB shape: fit-free per-row expressions straight into one
    partial-aggregated rollup — the cheapest possible featurization
    (no shuffle except the 8-row final combine).
    """
    c = load_table(spark, sf_dir, "customer")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("nat|"), F.col("c_nationkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 8
    )
    sgn = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sgn|"), F.col("c_nationkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        c.select(
            bucket.alias("bucket"),
            sgn.alias("sgn"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("sgn") * F.col("cents")).alias("signed_cents"),
            F.sum("sgn").alias("signed_count"),
        )
    )


# --- Broadcast linear quality scorer (the fastText-classifier shape) ------
#
# A production quality filter is usually a linear model over hashed bag-of-
# words features: score(doc) = Σ_t W[h(t) mod D]. The weight vector is the
# model; it is tiny (D buckets) and travels to every executor as a literal /
# broadcast, so scoring is a pure per-row map — the exact shape fastText
# and the usual "quality classifier" stage of LLM corpus curation run at
# 100 TB. Weights here are seeded pseudo-random INTEGERS so the score is
# integer arithmetic and the DuckDB oracle is exact.
_QS_BUCKETS = 512


def _qs_weights() -> list[int]:
    """Deterministic integer weight vector in [-8, 8], seeded — the stand-in
    for trained classifier weights (the Spark-side plumbing, not the model,
    is what this operator exercises)."""
    import numpy as np

    rng = np.random.default_rng(20240915)
    return [int(w) for w in rng.integers(-8, 9, size=_QS_BUCKETS)]


@query(
    "q_quality_linear_scorer",
    oracle=f"""
WITH w AS (
    SELECT {_qs_weights()!r}::BIGINT[] AS wv
)
SELECT doc_id,
       CAST(list_aggregate(
           list_transform(
               string_split(text, ' '),
               t -> wv[CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                       % {_QS_BUCKETS} + 1]
           ), 'sum') AS BIGINT) AS qscore,
       CASE WHEN list_aggregate(
           list_transform(
               string_split(text, ' '),
               t -> wv[CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                       % {_QS_BUCKETS} + 1]
           ), 'sum') > 0 THEN 'keep' ELSE 'drop' END AS verdict
FROM documents, w
""",
    tags=("pipeline", "quality", "classifier", "hashed-features"),
)
def q_quality_linear_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality scorer over hashed bag-of-words features — the
    fastText-classifier stage of corpus curation: score(doc) =
    Σ_tokens W[md5hash60(token) mod 512], keep when positive.

    Spark shape: the weight vector is a 512-int LITERAL array (Catalyst
    constant-folds CreateArray-of-literals into one Literal, i.e. the
    broadcast-to-every-task form of a small model — no join at all), and
    the score is one F.aggregate over the token array: per-document map
    work, ZERO shuffles, inside WholeStageCodegen. At 100 TB a real
    trained W ships the same way (literal for ≤ thousands of buckets,
    broadcast-joined dimension table beyond); scoring cost is one md5 +
    one array index per token, embarrassingly parallel.

    EXACT oracle: md5 is byte-identical across engines (the house sketch
    discipline), the bucket index is nonneg-60-bit % 512 in both, and the
    weights are integers — the score is pure int64 arithmetic, far from
    overflow (|W| ≤ 8, docs ≤ thousands of tokens).
    """
    from als_pyspark_spark.functions.hashing import md5_hash60

    weights = F.array(*[F.lit(w).cast("long") for w in _qs_weights()])
    toks = tokens(F.col("text"))
    score = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(weights, (md5_hash60(t) % _QS_BUCKETS + 1).cast("int")),
    )
    d = load_table(spark, sf_dir, "documents")
    # Alias the aggregate ONCE and derive the verdict from the alias:
    # single evaluation of the token HOF is structural, not dependent on
    # the optimizer spotting the common subexpression.
    scored = d.select("doc_id", score.alias("qscore"))
    return scored.select(
        "doc_id",
        "qscore",
        F.when(F.col("qscore") > 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    )


def _contrastive_oracle() -> str:
    """Composed from the MinHash tier's own oracle (the operational
    near-dup set) so the positive definition cannot drift from the dedup
    stack it samples from."""
    # Side-effect registration: the MinHash tier registers on import of
    # its home module. Without this, importing pipeline_queries standalone
    # (targeted test runs, tools) would raise KeyError unless something
    # else happened to import dedup.queries first — the module must be
    # self-sufficiently importable.
    import als_pyspark_spark.dedup.queries  # noqa: F401

    from als_pyspark_spark.registry import QUERIES

    mh = QUERIES["q_dedup_minhash_lsh"].oracle
    return f"""
WITH mh AS (SELECT doc_a, doc_b, jaccard FROM ({mh})),
pos AS (
    SELECT doc_a AS anchor, doc_b AS positive, jaccard
    FROM mh WHERE jaccard < 1.0
), idx AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS pos
    FROM documents
), n AS (SELECT COUNT(*) AS n FROM documents),
cand AS (
    SELECT p.anchor, p.positive, p.jaccard, js.j,
           1 + ('0x' || substr(md5('neg|' || CAST(p.anchor AS VARCHAR) || '|'
                || CAST(p.positive AS VARCHAR) || '|'
                || CAST(js.j AS VARCHAR)), 1, 15))::BIGINT % n.n AS target
    FROM pos p, (SELECT UNNEST(generate_series(1, 2)) AS j) js, n
), withneg AS (
    SELECT c.anchor, c.positive, c.jaccard, c.j AS neg_j, i.doc_id AS negative
    FROM cand c JOIN idx i ON i.pos = c.target
    WHERE i.doc_id <> c.anchor AND i.doc_id <> c.positive
)
SELECT w.anchor, w.positive, CAST(w.neg_j AS BIGINT) AS neg_j,
       w.negative, w.jaccard
FROM withneg w
LEFT JOIN mh d ON d.doc_a = LEAST(w.anchor, w.negative)
              AND d.doc_b = GREATEST(w.anchor, w.negative)
WHERE d.doc_a IS NULL
"""


@query(
    "q_contrastive_pairs",
    oracle=_contrastive_oracle(),
    tags=("pipeline", "contrastive", "sampling", "training-pairs"),
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining for embedding-model training:
    positives are the dedup stack's OWN near-dup pairs (MinHash tier,
    0.5 ≤ J < 1 — informative near-duplicates, exact clones excluded as
    trivial), and each pair draws 2 deterministic hash negatives from the
    whole corpus, rejecting (without resampling, so the construction
    stays pure relational algebra) any draw that hits the anchor, the
    positive, or a known near-dup of the anchor.

    Negative addressing composes two existing primitives: the seeded
    md5 draw (u mod N) and q_shuffle_order's scalable zipWithIndex rank
    (bucketed local ranks + broadcast offsets — no global window), which
    provides the deterministic bijection position → doc_id that both
    engines replay exactly. The rejection anti-join runs against the
    same MinHash pair set the positives came from, and the oracle SQL is
    COMPOSED from that query's oracle at import time — positives,
    negatives and rejections cannot drift from the audited dedup stack.

    100 TB shape: pair volume is bounded by the near-dup set (never
    corpus²); the index join is keyed on the draw target; the corpus
    shuffles once for the index build. All arithmetic integer/md5 →
    exact oracle.
    """
    from als_pyspark_spark.dedup.queries import q_dedup_minhash_lsh
    from als_pyspark_spark.functions.hashing import md5_hash60

    mh = q_dedup_minhash_lsh(spark, sf_dir)
    pos = mh.where(F.col("jaccard") < 1.0).select(
        F.col("doc_a").alias("anchor"),
        F.col("doc_b").alias("positive"),
        "jaccard",
    )
    idx = q_shuffle_order(spark, sf_dir).select(
        F.col("doc_id").alias("negative"), F.col("shuffle_pos").alias("pos")
    )
    nrow = load_table(spark, sf_dir, "documents").agg(F.count("*").alias("n"))
    cand = (
        pos.select(
            "*", F.explode(F.array(F.lit(1), F.lit(2))).alias("neg_j")
        )
        .crossJoin(F.broadcast(nrow))
        .withColumn(
            "target",
            1
            + md5_hash60(
                F.concat(
                    F.lit("neg|"),
                    F.col("anchor").cast("string"),
                    F.lit("|"),
                    F.col("positive").cast("string"),
                    F.lit("|"),
                    F.col("neg_j").cast("string"),
                )
            )
            % F.col("n"),
        )
    )
    withneg = (
        cand.join(idx, F.col("pos") == F.col("target"))
        .where(
            (F.col("negative") != F.col("anchor"))
            & (F.col("negative") != F.col("positive"))
        )
        .select("anchor", "positive", F.col("neg_j").cast("long").alias("neg_j"),
                "negative", "jaccard")
    )
    rejected = mh.select("doc_a", "doc_b")
    return withneg.join(
        rejected,
        (F.least(F.col("anchor"), F.col("negative")) == F.col("doc_a"))
        & (F.greatest(F.col("anchor"), F.col("negative")) == F.col("doc_b")),
        "left_anti",
    )


# ---------------------------------------------------------------------------
# End-to-end composed pipeline: every stage above is verified
# alone; this verifies them COMPOSED as one DataFrame DAG.


def _e2e_oracle() -> str:
    """Compose the end-to-end oracle from the stage queries' own oracle
    SQL where a stage reads the raw corpus (quality gate verbatim; the
    near-dup pair stage re-pointed at the exact-dedup survivors via a
    single asserted FROM-substitution — the q_dedup_tier_recall
    composition discipline), and from the same module constants
    (_DECONTAM_N, _CHUNK, _STRIDE, _PACK_BUDGET) everywhere else, so the
    composition cannot drift from the stages it composes."""
    # registration side effects: this module stays standalone-importable,
    # so pull in the stage modules explicitly rather than assuming
    # registry load order
    import als_pyspark_spark.dedup.queries  # noqa: F401
    import als_pyspark_spark.functions.curation_queries  # noqa: F401
    from als_pyspark_spark.registry import QUERIES

    gate = QUERIES["q_quality_gate"].oracle
    jac = QUERIES["q_dedup_ngram_jaccard"].oracle
    assert jac.count("FROM documents") == 1, "near-dup oracle shape changed"
    jac_kept = jac.replace("FROM documents", "FROM kept_e")
    g5 = " || ' ' || ".join(
        f"string_split(text, ' ')[i+{j}]" if j else "string_split(text, ' ')[i]"
        for j in range(_DECONTAM_N)
    )
    grams5 = f"""list_distinct(list_transform(
        generate_series(1, GREATEST(len(string_split(text, ' ')) - {_DECONTAM_N - 1}, 0)),
        i -> {g5}))"""
    return f"""
WITH gate AS MATERIALIZED ({gate}),
base AS MATERIALIZED (SELECT doc_id, source, text FROM documents),
kept_g AS (SELECT b.* FROM base b JOIN gate g USING (doc_id) WHERE g.keep),
kept_e AS MATERIALIZED (
    SELECT MIN(doc_id) AS doc_id, ARG_MIN(source, doc_id) AS source,
           text, COUNT(*) AS nc
    FROM kept_g GROUP BY text
),
pairs AS ({jac_kept}),
drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
kept_n AS MATERIALIZED (
    SELECT e.doc_id, e.source, e.text FROM kept_e e
    LEFT JOIN drops d USING (doc_id) WHERE d.doc_id IS NULL
),
bench AS (
    SELECT DISTINCT UNNEST({grams5}) AS g FROM base WHERE doc_id % 97 = 0
),
contam AS (
    SELECT DISTINCT t.doc_id
    FROM (SELECT doc_id, UNNEST({grams5}) AS g
          FROM kept_n WHERE doc_id % 97 <> 0) t
    JOIN bench b ON t.g = b.g
),
kept_c AS MATERIALIZED (
    SELECT n.doc_id, n.source, len(string_split(n.text, ' ')) AS m
    FROM kept_n n LEFT JOIN contam c USING (doc_id)
    WHERE n.doc_id % 97 <> 0 AND c.doc_id IS NULL
),
chunks AS MATERIALIZED (
    SELECT doc_id, source, k AS chunk_id,
           LEAST({_CHUNK}, m - k * {_STRIDE}) AS n_tok
    FROM kept_c,
         UNNEST(generate_series(0,
             CAST((GREATEST(m - {_CHUNK}, 0) + {_STRIDE - 1}) // {_STRIDE} AS BIGINT))) AS g(k)
),
packed AS (
    SELECT source, shard, n_tok,
           SUM(n_tok) OVER (PARTITION BY source, shard
                            ORDER BY h, doc_id, chunk_id) AS cum
    FROM (SELECT source, doc_id, chunk_id, n_tok,
                 md5(CAST(doc_id AS VARCHAR)) AS h,
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard
          FROM chunks)
),
s_in AS (SELECT source, COUNT(*) AS docs_in FROM base GROUP BY source),
s_g AS (SELECT source, SUM(nc) AS kept_gate, COUNT(*) AS kept_exact
        FROM kept_e GROUP BY source),
s_n AS (SELECT source, COUNT(*) AS kept_near FROM kept_n GROUP BY source),
s_c AS (SELECT source, COUNT(*) AS kept_clean FROM kept_c GROUP BY source),
s_ch AS (SELECT source, COUNT(*) AS n_chunks, SUM(n_tok) AS n_tokens
         FROM chunks GROUP BY source),
s_b AS (SELECT source,
               COUNT(DISTINCT shard || ':' ||
                     CAST((cum - n_tok) // {_PACK_BUDGET} AS VARCHAR)) AS n_bins
        FROM packed GROUP BY source),
tot AS (SELECT SUM(n_tok) AS total_tokens FROM chunks)
SELECT i.source,
       CAST(i.docs_in AS BIGINT) AS docs_in,
       CAST(COALESCE(g.kept_gate, 0) AS BIGINT) AS kept_gate,
       CAST(COALESCE(g.kept_exact, 0) AS BIGINT) AS kept_exact,
       CAST(COALESCE(n.kept_near, 0) AS BIGINT) AS kept_near,
       CAST(COALESCE(c.kept_clean, 0) AS BIGINT) AS kept_clean,
       CAST(COALESCE(ch.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(ch.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(b.n_bins, 0) AS BIGINT) AS n_bins,
       CASE WHEN t.total_tokens > 0
            THEN CAST(COALESCE(ch.n_tokens, 0) AS DOUBLE) / t.total_tokens
            ELSE 0.0 END AS token_share
FROM s_in i
LEFT JOIN s_g g USING (source)
LEFT JOIN s_n n USING (source)
LEFT JOIN s_c c USING (source)
LEFT JOIN s_ch ch USING (source)
LEFT JOIN s_b b USING (source),
tot t
"""


@query(
    "q_pipeline_e2e",
    oracle=_e2e_oracle(),
    tags=("pipeline", "e2e", "composition", "dedup", "quality"),
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline as ONE composed DataFrame DAG:
    quality gate -> exact dedup -> near dedup (winnow-fp-blocked exact
    Jaccard >= 0.5, drop the larger doc of each pair) -> benchmark
    decontamination (any shared distinct word 5-gram with the doc_id%97
    held-out suite, which is itself excluded from training) -> sliding-
    window chunking -> per-(source, shard) sequence packing -> per-source
    mixture report: stage-by-stage survivor counts, chunk/token totals,
    started-bin counts and the final token share. Every stage reuses the
    corresponding standalone query's expressions (gate_reason, fingerprint,
    word_ngrams, _doc_hash) and constants, and the oracle is COMPOSED from
    the stage oracles' SQL (_e2e_oracle), so composed and standalone
    semantics cannot drift.

    Scale shape / stage fusion: the corpus projection is persisted ONCE
    and read three times (gate chain, benchmark grams, input counts) —
    not one scan per stage; the gate + exact-dedup collapse is a single
    groupBy(text); the near-dup self-join reads one persisted shingle
    table on both sides (exactly q_dedup_ngram_jaccard's shape); the
    decontamination benchmark side is tiny and broadcast; chunk stats and
    packing need only token COUNTS, so chunk sizes are derived
    arithmetically (least(CHUNK, m - k*STRIDE)) without materializing
    chunk text, and the packing window runs per (source, shard) — ~256
    independent cumsums per source, never a global sort. Gate survivor
    counts ride the dedup aggregate (sum of per-text copy counts), not a
    second corpus pass. The report is |sources| rows; every persisted
    intermediate is a deferred cache, released once the caller is done
    with the report. At 100 TB the same DAG
    stages survivors to parquet between super-stages instead of caching
    text twice, but the operator composition is unchanged.
    """
    from als_pyspark_spark.dedup.queries import _SHINGLE_N
    from als_pyspark_spark.functions.curation_queries import gate_reason
    from als_pyspark_spark.functions.text import fingerprint, word_ngrams

    d = load_table(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    base = deferred(
        d.repartition(n_part, "doc_id").select("doc_id", "source", "text").persist()
    )
    # stage 1+2 fused: gate filter, then exact-dedup collapse in one agg;
    # the per-text copy count carries the gate-survivor total along
    kept_e = (
        base.where(gate_reason(tokens(F.col("text"))) == "ok")
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("source", "doc_id").alias("source"),
            F.count("*").alias("nc"),
        )
    )
    toks = tokens(F.col("text"))
    shingled = deferred(
        kept_e.select(
            "doc_id",
            "source",
            "text",
            "nc",
            F.array_distinct(word_ngrams(toks, _SHINGLE_N)).alias("grams"),
            fingerprint(toks, _SHINGLE_N).alias("fp"),
        ).persist()
    )
    a, b = shingled.alias("a"), shingled.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    # integer form of jaccard >= 0.5: 2·|∩| >= |a|+|b|-|∩| (exactly
    # equivalent to the stage oracle's float division at tau = 0.5)
    drops = (
        a.join(b, F.col("a.fp") == F.col("b.fp"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            2 * inter >= F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    kept_n = deferred(
        shingled.select("doc_id", "source", "text")
        .join(drops, "doc_id", "anti")
        .persist()
    )
    bench = (
        base.where(F.col("doc_id") % 97 == 0)
        .select(
            F.explode(
                F.array_distinct(word_ngrams(tokens(F.col("text")), _DECONTAM_N))
            ).alias("g")
        )
        .distinct()
    )
    contam = (
        kept_n.where(F.col("doc_id") % 97 != 0)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(word_ngrams(tokens(F.col("text")), _DECONTAM_N))
            ).alias("g"),
        )
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    kept_c = (
        kept_n.where(F.col("doc_id") % 97 != 0)
        .join(contam, "doc_id", "anti")
        .select("doc_id", "source", F.size(tokens(F.col("text"))).alias("m"))
    )
    m = F.col("m")
    last_chunk = F.floor(
        (F.greatest(m - F.lit(_CHUNK), F.lit(0)) + F.lit(_STRIDE - 1)) / F.lit(_STRIDE)
    ).cast("int")
    chunks = deferred(
        kept_c.select(
            "doc_id",
            "source",
            "m",
            F.posexplode(F.sequence(F.lit(0), last_chunk)).alias("chunk_id", "k"),
        )
        .select(
            "doc_id",
            "source",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.least(F.lit(_CHUNK), m - F.col("k") * _STRIDE).cast("long").alias("n_tok"),
        )
        .persist()
    )
    h = _doc_hash()
    packed = chunks.select(
        "source", "doc_id", "chunk_id", "n_tok", h.alias("h")
    ).withColumn("shard", F.substring("h", 1, 2))
    w = (
        Window.partitionBy("source", "shard")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc(), F.col("chunk_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bins = (
        packed.withColumn("cum", F.sum("n_tok").over(w))
        .select(
            "source",
            F.concat_ws(
                ":",
                "shard",
                F.expr(f"CAST((cum - n_tok) div {_PACK_BUDGET} AS BIGINT)"),
            ).alias("bin_key"),
        )
        .groupBy("source")
        .agg(F.countDistinct("bin_key").alias("n_bins"))
    )
    s_in = base.groupBy("source").agg(F.count("*").alias("docs_in"))
    s_g = shingled.groupBy("source").agg(
        F.sum("nc").alias("kept_gate"), F.count("*").alias("kept_exact")
    )
    s_n = kept_n.groupBy("source").agg(F.count("*").alias("kept_near"))
    s_c = chunks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("kept_clean"),
        F.count("*").alias("n_chunks"),
        F.sum("n_tok").alias("n_tokens"),
    )
    tot = chunks.agg(F.sum("n_tok").alias("total_tokens"))
    return (
        s_in.join(s_g, "source", "left")
        .join(s_n, "source", "left")
        .join(s_c, "source", "left")
        .join(bins, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "docs_in",
            F.coalesce("kept_gate", F.lit(0)).alias("kept_gate"),
            F.coalesce("kept_exact", F.lit(0)).alias("kept_exact"),
            F.coalesce("kept_near", F.lit(0)).alias("kept_near"),
            F.coalesce("kept_clean", F.lit(0)).alias("kept_clean"),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_bins", F.lit(0)).alias("n_bins"),
            F.when(
                F.col("total_tokens") > 0,
                F.coalesce("n_tokens", F.lit(0)).cast("double")
                / F.col("total_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("token_share"),
        )
    )
