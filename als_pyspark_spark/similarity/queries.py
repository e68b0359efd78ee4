"""Similarity search over the embeddings table (ARRAY<FLOAT>, 64-dim).

Three tiers, as an ANN stack needs:

1. brute-force cosine top-k  — exact baseline; broadcast the (small) query
   set against the corpus, JVM-side dot products, per-query window top-k.
2. random-hyperplane LSH     — sign-bit bucket per plane-block; candidates
   only within matching buckets. The 100 TB path: probe cost ∝ bucket size.
3. embedding near-dup        — cosine ≥ threshold pairs via LSH blocking.

Scale notes: the brute-force tier is O(|queries| × |corpus|) — correct only
because |queries| is small and broadcast (no shuffle of the corpus). The LSH
tier is the scale path; recall vs tier 1 is asserted in tests. Hyperplanes
are deterministic literals (seeded numpy on the driver — a few KiB, shipped
in the plan, not a collect).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from als_pyspark_spark.caching import deferred, local_frame
from als_pyspark_spark.functions.arrays import cosine, l2_norm
from als_pyspark_spark.registry import query
from als_pyspark_spark.session import python_stage_tasks
from als_pyspark_spark.sources.tables import load_table, table_python_tasks

_DIM = 64
_N_QUERIES = 5
_TOP_K = 10
# Hyperplane-LSH (r planes per block, b OR'd blocks) is a recall/cost dial:
# P[candidate] = 1-(1-p^r)^b with p = 1-θ/π. Two operating points:
# - ANN top-k on this corpus: true neighbors sit at cos≈0.3 (p≈0.60), so
#   precision-heavy blocks miss them; 4×12 gives expected recall ≈0.8.
# - near-dup (cos≥0.9, p≈0.86): 8-bit blocks keep buckets tiny (n/256)
#   while 1-(1-0.86^8)^4 ≈ 0.74 of true dups still collide.
_ANN_PLANES, _ANN_BLOCKS = 4, 12
_DUP_PLANES, _DUP_BLOCKS = 8, 4


def _hyperplanes(n_blocks: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_blocks, n_planes, _DIM))


def _sql_double_list(vec: np.ndarray) -> str:
    """A numpy vector as a DuckDB DOUBLE[] literal. repr(float) round-trips
    the exact IEEE double, and both engines parse decimal literals to the
    nearest double, so the plan literal and the SQL literal are bit-equal."""
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]"


def _sql_bucket_list(n_planes: int, n_blocks: int) -> str:
    """DuckDB twin of `_with_buckets`: a BIGINT[] of one sign-bit bucket id
    per hyperplane block, offset by block so buckets never collide across
    blocks (the Spark side encodes the block index into the bucket string)."""
    planes = _hyperplanes(n_blocks, n_planes)
    exprs = []
    for i in range(n_blocks):
        bits = " + ".join(
            f"{1 << p} * (CASE WHEN list_inner_product(e, "
            f"{_sql_double_list(planes[i][p])}) > 0 THEN 1 ELSE 0 END)"
            for p in range(n_planes)
        )
        exprs.append(f"{i * (1 << n_planes)} + {bits}")
    return "[" + ",\n     ".join(exprs) + "]"


@query(
    "q_ann_bruteforce_top10",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}
), scored AS (
    SELECT q.query_id,
           e.vec_id AS neighbor_id,
           list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
    FROM q JOIN embeddings e ON e.vec_id != q.query_id
), ranked AS (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
    FROM scored
)
SELECT query_id, neighbor_id FROM ranked WHERE rk <= {_TOP_K}
""",
    tags=("similarity", "ann", "bruteforce"),
)
def q_ann_bruteforce_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 5 vectors (ids only — float scores
    are engine-precision-specific, the neighbor SET is not)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("embedding")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_K)
        .select("query_id", "neighbor_id")
    )


def _bucket_udf(planes: np.ndarray):
    """Vectorized Arrow-batched sign-bit bucketing: per input row, the
    array of 'blockIdx:bucket' keys — one per hyperplane block.

    This is the dense-linear-algebra step of the LSH stack (n_blocks ×
    n_planes dot products per row), which is exactly the case the repo's
    UDF policy reserves pandas UDFs for: Catalyst HOFs interpret the fold
    per element with an array allocation per lambda, and the plane matrix
    as a plan literal costs real ANALYSIS time per execution. Measured at
    sf1 (20k rows × 48 planes): HOF pipeline 1.31s execute +
    0.79s analyze vs 0.60s + 0.03s here — and the planes ship inside the
    serialized function (a few KiB), not the plan.

    ORACLE BIT-PARITY: the accumulation is an explicit left-to-right
    fold over dimensions (``acc += M[:, d] * plane[d]`` per d), the same
    IEEE-double sequence Spark's ``aggregate(zip_with(...))`` fold and
    DuckDB's ``list_inner_product`` produce, so the sign bits — and
    therefore every bucket key — are bit-identical to the exact DuckDB
    oracles that replay this bucketing (verified: 0 differing bucket rows
    over the full sf1 corpus vs the previous HOF implementation). A numpy
    matmul would use pairwise summation and break that parity for
    near-zero dots.
    """
    n_blocks, n_planes, _ = planes.shape
    flat = planes.reshape(n_blocks * n_planes, -1)

    @F.pandas_udf("array<string>")
    def buckets(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        m = np.vstack(emb.to_numpy()).astype(np.float64)
        acc = np.zeros((m.shape[0], flat.shape[0]), dtype=np.float64)
        for d in range(flat.shape[1]):  # left-to-right: oracle bit-parity
            acc += m[:, d : d + 1] * flat[:, d]
        bits = (acc > 0).astype(np.int64)
        vals = np.zeros((m.shape[0], n_blocks), dtype=np.int64)
        for k in range(n_blocks):
            for p in range(n_planes):
                vals[:, k] += bits[:, k * n_planes + p] << p
        return pd.Series(
            [[f"{k}:{row[k]}" for k in range(n_blocks)] for row in vals]
        )

    return buckets


def _with_buckets(e: DataFrame, n_planes: int, n_blocks: int, spread: bool = False) -> DataFrame:
    """``e`` exploded to one row per (vector, LSH block bucket) by
    :func:`_bucket_udf`. spread=True (the corpus side) first repartitions
    by ``vec_id`` to the context's parallelism, not to the row rule's
    count (``session.python_stage_tasks``): the persisted bucket table
    keeps the width it is built with and the JVM joins that read it
    inherit that width, so one task there measured near-dup 0.67 → 1.72 s
    at sf0.1 on local[4]. A handful of query vectors doesn't warrant a
    shuffle."""
    planes = _hyperplanes(n_blocks, n_planes)
    if spread:
        e = e.repartition(python_stage_tasks(e.sparkSession, None), "vec_id")
    return e.withColumn(
        "bucket", F.explode(_bucket_udf(planes)(F.col("embedding")))
    )


@query(
    "q_ann_lsh_top10",
    oracle=f"""
WITH bk AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), hb AS (
    SELECT vec_id, e, {_sql_bucket_list(_ANN_PLANES, _ANN_BLOCKS)} AS buckets
    FROM bk
), q AS (
    SELECT vec_id AS query_id, e AS qe, buckets AS qb
    FROM hb WHERE vec_id < {_N_QUERIES}
), cand AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.qe, c.e) AS cos
    FROM q JOIN hb c
      ON c.vec_id != q.query_id AND list_has_any(q.qb, c.buckets)
)
SELECT query_id, neighbor_id
FROM cand
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) <= {_TOP_K}
""",
    tags=("similarity", "ann", "lsh"),
)
def q_ann_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-10: candidates share a random-hyperplane bucket
    in ≥1 of 4 blocks; exact cosine re-rank within candidates.

    EXACT oracle: the hyperplanes are seeded driver-side literals, so the
    DuckDB twin embeds the same 12×4×64 doubles and replays the same
    sign-bit bucketing (`list_has_any` = the exploded bucket equi-join) and
    cosine re-rank. Ids-only output — a rank flip would need two candidate
    cosines (or a plane dot product) equal to ~1 ulp across engines,
    measure-zero on isotropic float data. Recall vs q_ann_bruteforce_top10
    additionally asserted in tests.

    The persisted bucket table is a deferred cache: it is released once
    the caller is done with the result, not kept for the session.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # Bucket ONCE and derive the query side by filter: the bucketing plan
    # is the expensive thing to analyze/codegen (a 3072-double literal
    # inside a HOF pipeline), and the query vectors are corpus rows, so a
    # second _with_buckets pass would re-analyze and re-run the identical
    # expression for no new information.
    corpus = deferred(
        _with_buckets(e, _ANN_PLANES, _ANN_BLOCKS, spread=True).persist()
    )
    queries = corpus.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "bucket"
    )
    cand = (
        F.broadcast(queries)
        .join(corpus, "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("embedding")).alias("cos"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    top = (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_K)
        .select("query_id", "neighbor_id")
    )
    return top


@query(
    "q_embedding_norm_stats",
    oracle="""
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(ROUND(AVG(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum'))), 4) AS DOUBLE) AS avg_norm
FROM embeddings
GROUP BY label
""",
    tags=("similarity", "stats"),
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics (zip_with/aggregate array math —
    reference N8's np.dot re-expressed JVM-side)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", l2_norm(F.col("embedding")).alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("norm"), 4).cast("double").alias("avg_norm"),
        )
    )


_IVF_K = 16  # coarse centroids
_IVF_NPROBE = 8  # clusters probed per query
_IVF_FIT_N = 200 * _IVF_K  # quantizer sample size — fixed, NOT corpus-relative
_IVF_LLOYD_ITERS = 8


def _fit_coarse_quantizer(sample: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Seeded Lloyd's k-means on a driver-resident sample (vectorized numpy).

    The quantizer's training set is a FIXED-SIZE sample (a few MB at any
    corpus scale), so fitting it on the driver is the 100 TB-correct call:
    zero distributed passes, versus ~10 Spark jobs for an MLlib fit whose
    centroid quality is identical at this sample size. Empty clusters are
    re-seeded deterministically from the sample.

    k is clamped to the sample size so a tiny corpus degrades to
    fewer coarse cells (ultimately one) instead of raising; an empty
    corpus fails with a clear message."""
    if len(sample) == 0:
        raise ValueError(
            "IVF coarse quantizer: embeddings table is empty — nothing to fit"
        )
    k = min(k, len(sample))
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=k, replace=False)].copy()
    for _ in range(iters):
        # (n,k) squared distances via ||x||² - 2x·c + ||c||²; argmin rows
        d2 = (
            (sample * sample).sum(axis=1, keepdims=True)
            - 2.0 * sample @ cents.T
            + (cents * cents).sum(axis=1)
        )
        assign = d2.argmin(axis=1)
        # vectorized M-step: the per-cluster Python mask loop
        # cost ~3.6s across the 8 PQ codebook fits (k=256 × iters × masks
        # over the sample); scatter-add + bincount is the same mean.
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, sample)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        empty = counts == 0
        counts[empty] = 1.0
        cents = sums / counts[:, None]
        if empty.any():
            cents[empty] = sample[rng.randint(len(sample), size=int(empty.sum()))]
    return cents


def _embedding_matrix(batch, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow batch's ``embedding`` list
    column, refusing null or ragged rows BEFORE the reshape:
    ``ListArray.flatten()`` silently DROPS a null row's slot and
    concatenates ragged rows, so a corrupt embedding column either died
    in a confusing reshape error or — when the lengths happened to divide
    evenly — shifted every subsequent row one slot over and misassigned
    clusters with no diagnostic. The expected ``dim`` is known from the
    fit sample/codebooks, so the guard is two O(1) checks per batch."""
    import pyarrow.compute as pc

    col = batch.column("embedding")
    n = batch.num_rows
    if col.null_count:
        raise ValueError(
            f"embedding batch has {col.null_count} NULL rows out of {n}; "
            "IVF corpus passes require a dense embedding column"
        )
    # Per-row length check, not just total-length: two ragged rows whose
    # combined length happens to divide by dim would reshape "cleanly"
    # into shifted garbage — the exact no-diagnostic case. min==max==dim
    # is one vectorized Arrow kernel over the offsets, O(n) with no
    # Python loop.
    lens = pc.list_value_length(col)
    lo, hi = pc.min_max(lens).values()
    if n and (lo.as_py() != dim or hi.as_py() != dim):
        raise ValueError(
            f"ragged embedding batch: row lengths span "
            f"[{lo.as_py()}, {hi.as_py()}], expected uniform {dim} "
            f"(fit-sample dimensionality)"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(n, dim)


def _assign_batches(cents: np.ndarray, q_units: np.ndarray):
    """Vectorized Arrow-batched IVF corpus pass (``mapInArrow``): per row,
    the nearest-centroid cluster id (ties toward the lower id, matching
    the previous first-match semantics) and the row's cosine against each
    of the |q| query units — the brute-force scores the recall witness
    needs, fused into the pass that already has the vectors in a numpy
    matrix (q×dim extra flops per row, ~free, versus a second scoring
    pass over the corpus). Raw Arrow in AND out: the input list column
    flattens zero-copy into the (n, dim) matrix, and the output scores
    build as one ListArray over a flat buffer — no per-row Python
    objects in either direction (measured: the pandas_udf struct form
    paid ~1.1s/20k rows just materializing list cells). Same rationale
    as :func:`_bucket_udf`: dense linear algebra, which HOF
    interpretation and a k×dim plan literal price badly. Rows-only query
    — no cross-engine bit-parity to preserve, so plain vectorized numpy
    forms throughout."""
    c64 = cents.astype(np.float64)
    qt = q_units.astype(np.float64).T  # (dim, q)
    n_q = qt.shape[1]

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            m = _embedding_matrix(b, c64.shape[1])
            d2 = (
                (m * m).sum(axis=1, keepdims=True)
                - 2.0 * (m @ c64.T)
                + (c64 * c64).sum(axis=1)
            )
            cl = d2.argmin(axis=1).astype(np.int32)
            norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
            np.divide(m, norms, out=m, where=norms > 0)
            scores = m @ qt  # (n, q) witness cosines
            offsets = pa.array(np.arange(0, (n + 1) * n_q, n_q, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("vec_id"),
                    pa.array(cl),
                    pa.ListArray.from_arrays(offsets, pa.array(scores.ravel())),
                ],
                ["vec_id", "cluster", "scores"],
            )

    return assign


@query("q_ann_ivf_top10", oracle=None, tags=("similarity", "ann", "ivf"))
def q_ann_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10: coarse quantizer fit on a bounded seeded sample →
    inverted lists by cluster id → probe the nprobe nearest centroids per
    query → exact cosine re-rank within the probed lists.

    The scale path beside hyperplane LSH: at 100 TB the corpus is
    partitioned by cluster id (the inverted index), each query touches
    nprobe/k of the data, and the centroids ship inside the serialized
    assignment function (k×dim floats). Driver-side data is bounded by
    construction at every corpus size: the fixed-size fit sample
    (``_IVF_FIT_N`` rows, taken as the first rows in xxhash64(vec_id)
    order — one scale-safe TakeOrderedAndProject pass, deterministic, no
    count() needed), the k centroids, and the _N_QUERIES query vectors
    (collected once to route probes with |q|×k numpy distances — a
    constant, never corpus-proportional). Corpus assignment,
    unit-normalization and the cosine to every query vector are ONE
    vectorized Arrow batch pass (:func:`_assign_batches`); the candidate
    and witness stages both rank those fused scores.

    Rows-only check (the learned quantizer makes the neighbor set
    implementation-specific) — but the ROWS THEMSELVES witness the
    quality floor: each carries the query's recall@10 against an exact
    brute-force pass computed in the same job, plus a within_bound flag
    (mean recall over the query set ≥ 0.5, the same floor the local test
    pins). The witness columns cost one extra O(q·n) scored pass over the
    bounded query set — the labeled recall baseline; at 100 TB you would
    drop the witness and sample-audit recall offline instead.

    The persisted tables are deferred caches, released once the caller
    is done with the result (same as the LSH/rerank pair).

    The persisted tables are the ones read more than once: the cluster
    assignment (candidate lists + witness) and the ≤ q·k-row top-k
    (output + recall join). The nprobe nearest centroids per query are
    computed DRIVER-side with numpy over the already-driver-resident
    centroids and the _N_QUERIES collected query vectors, replacing a
    crossJoin + HOF distance + window chain of Spark jobs (measured at
    sf1: 7.7s → ~1.6s warm, plans still broadcast-only).
    """
    e = load_table(spark, sf_dir, "embeddings")
    fit_rows = (
        e.select("embedding")
        .orderBy(F.xxhash64("vec_id"))
        .limit(_IVF_FIT_N)
        .collect()
    )
    sample = np.array([r.embedding for r in fit_rows], dtype=np.float64)
    cents = _fit_coarse_quantizer(sample, _IVF_K, _IVF_LLOYD_ITERS, seed=42)

    # Probe routing on the driver: |q| × k squared distances (numpy), ties
    # toward the lower cluster id via stable argsort — 40 rows shipped
    # back as a broadcast literal table carrying each query's unit vector.
    q_rows = sorted(
        e.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    if not q_rows:
        raise ValueError("IVF: no query vectors (vec_id < %d)" % _N_QUERIES)
    probe_rows = []
    q_units = []
    for r in q_rows:
        v = np.array(r.embedding, dtype=np.float64)
        norm = float(np.sqrt((v * v).sum()))
        q_units.append(v / norm if norm > 0 else v)
        d2 = ((cents - v) ** 2).sum(axis=1)
        for c in np.argsort(d2, kind="stable")[: min(_IVF_NPROBE, len(cents))]:
            probe_rows.append((int(r.vec_id), int(c)))
    probes = local_frame(spark, probe_rows, "query_id long, cluster int")

    assigned = deferred(
        e.select("vec_id", "embedding")
        .repartition(table_python_tasks(spark, sf_dir, "embeddings"), "vec_id")
        .mapInArrow(
            _assign_batches(cents, np.array(q_units)),
            "vec_id long, cluster int, scores array<double>",
        )
        .persist()
    )

    # One (neighbor, query) pair stream serves BOTH stages: the scores
    # were fused into the corpus pass, so the candidate stage reuses them
    # through the probed-(query, cluster) broadcast semi-filter instead of
    # re-scoring, and the witness ranks the same stream unfiltered. In the
    # witness-free production form (what you would deploy at 100 TB after
    # dropping the in-row recall columns), the corpus pass emits cluster
    # only and scoring happens inside the probed-cluster join — cost
    # ∝ nprobe/k of the corpus; the registered form pays full scoring
    # once BY DESIGN (it IS the witness's brute-force baseline).
    qids_lit = F.array(*[F.lit(int(r.vec_id)).cast("long") for r in q_rows])
    pairs = (
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            "cluster",
            F.posexplode("scores").alias("qi", "cos"),
        )
        .select(
            F.element_at(qids_lit, F.col("qi") + 1).alias("query_id"),
            "neighbor_id",
            "cluster",
            "cos",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    # Two window passes — one over the probed subset (the IVF top-k),
    # one over the full stream (the brute-force witness). ONE merged pass
    # (row_number + a running count of probed rows over the same total
    # order) gives identical output but measured 0.60× at sf0.1 (~1.6s
    # slower): it carries extra columns and functions through the
    # full-stream sort, while the probed-side window sorts only ~nprobe/k
    # of the stream and the two jobs read the persisted corpus pass
    # independently.
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    # ≤ _N_QUERIES × _TOP_K rows, read twice (output + recall witness):
    # persisting it stops the whole candidate scan from running twice.
    ivf = deferred(
        pairs.join(F.broadcast(probes), ["query_id", "cluster"])
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos_rounded"))
        .persist()
    )

    # In-row recall witness: brute-force top-10 over the same query set
    # (bounded: |q| = _N_QUERIES), same tie-break as the IVF re-rank —
    # the same pair stream, unfiltered.
    truth = (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_K)
        .select("query_id", F.col("neighbor_id").alias("true_id"))
    )
    hits = (
        ivf.join(
            F.broadcast(truth),  # ≤ q·k rows — stats don't know, so say so
            (ivf.query_id == truth.query_id) & (ivf.neighbor_id == truth.true_id),
            "left",
        )
        .groupBy(ivf.query_id)
        .agg((F.count("true_id") / F.lit(_TOP_K)).alias("recall10"))
    )
    all_q = Window.partitionBy()
    witnessed = hits.select(
        "query_id",
        "recall10",
        (F.avg("recall10").over(all_q) >= 0.5).alias("within_bound"),
    )
    return ivf.join(F.broadcast(witnessed), "query_id").select(
        "query_id", "neighbor_id", "cos_rounded", "recall10", "within_bound"
    )


_PQ_M = 8  # product-quantizer subspaces (64 dims → 8 × 8-dim)
_PQ_KSUB = 256  # centroids per subspace → 1 byte/code, 8 bytes/vector
_PQ_ITERS = 6
# ADC shortlist size refined by exact re-rank. 1024: on this isotropic
# corpus the shortlist — not the probe count — was the binding recall constraint at
# sf1 (sim recall@10 0.82→0.92 at L=256→1024; real witness 0.66→0.76 at
# sf1 / 0.86 at sf0.1, runtime unchanged), and the refine stage's cost is
# L·|q| bounded rows, so the bump is ~free.
_PQ_SHORTLIST = 1024
# Probe count for the PQ tier — its own knob, ADJUDICATED BY
# DECOMPOSITION: instrumenting recall@10 at sf1 as
# coverage (truth ∩ probed cells) × shortlist survival (truth surviving
# the ADC cut, GIVEN covered) showed survival = 1.00 and coverage = the
# entire loss (0.72-0.92 across 8 fit-sample seeds at nprobe 8/16). So
# the hypothesis "quantization error binds" is measured FALSE —
# and every codebook-side candidate was a measured no-op at fixed scan:
# per-list residual codebooks, 5-10× larger PQ fit samples, 2× Lloyd
# iterations, best-of-5 restarts, spherical k-means routing, and 2-way
# multi-assignment all moved mean recall < ±0.02 (OPQ rotation is a
# no-op a fortiori: nothing downstream of a rotation can raise a
# survival rate already at 1.0). On an ISOTROPIC corpus coverage is
# scan-fraction-bound — there is no cluster structure to rescue — so the
# recall target must BUY scan: nprobe 12/16 (expected scan 0.75) gives
# coverage mean 0.94-0.96, min 0.90 over 8 seeds × 3 tiers, clearing the
# 0.85 witness floor with ≥0.05 margin. The 100 TB reading: this high a
# scan fraction is a property of structureless random data, not of the
# architecture — a real embedding corpus clusters, K scales to
# thousands of cells, and nprobe/K falls back to percent-level scan at
# the same recall; the knob is per-corpus and this fixture's honest
# operating point prices the no-structure worst case explicitly.
_PQ_NPROBE = 12
# In-row witness floor (within_bound): 0.85 at the nprobe-12 operating
# point, a margin ≥ 0.05 at the measured min-over-seeds coverage of 0.90.
_PQ_RECALL_FLOOR = 0.85


def _fit_pq_codebooks(
    units: np.ndarray, cents: np.ndarray, m_sub: int, ksub: int, iters: int, seed: int
) -> np.ndarray:
    """Residual product-quantizer codebooks: assign the (unit-normalized)
    sample to its nearest coarse centroid, split the residuals into m_sub
    equal subspaces, and run the same seeded Lloyd fit per subspace.
    Returns (m_sub, ksub', dsub); ksub' clamps to the sample size on tiny
    corpora (same degradation rule as the coarse quantizer)."""
    d2 = (
        (units * units).sum(axis=1, keepdims=True)
        - 2.0 * (units @ cents.T)
        + (cents * cents).sum(axis=1)
    )
    res = units - cents[d2.argmin(axis=1)]
    dsub = units.shape[1] // m_sub
    return np.stack(
        [
            _fit_coarse_quantizer(
                res[:, m * dsub : (m + 1) * dsub], ksub, iters, seed + m
            )
            for m in range(m_sub)
        ]
    )


def _pq_encode_batches(
    cents: np.ndarray,
    books: np.ndarray,
    q_units: np.ndarray,
    q_ids: np.ndarray,
    wit_k: int,
):
    """Vectorized Arrow-batched IVF-PQ corpus pass (``mapInArrow``): per
    row, the nearest-coarse-centroid cluster id over the UNIT vector, the
    m_sub residual PQ codes (argmin per subspace codebook — the 8-byte
    compressed representation that is the entire point of PQ at 100 TB:
    the inverted lists hold codes, not vectors), the fused recall-
    witness cosines against the |q| query units, AND the
    per-BATCH witness top-k candidates as a pruned (qi, cos) list per
    row — same zero-copy Arrow discipline and rationale as
    :func:`_assign_batches`.

    The ``wit`` column is what lets the recall witness skip the
    (corpus × |q|)-row explode + full per-query window sort it used to
    pay: a row is tagged for query qi iff its cosine is ≥ the batch's
    ``wit_k``-th largest for qi (self rows masked; THRESHOLD selection,
    not argpartition indices, so cos ties are all kept — a superset of
    any tie-break). The global top-k of a total order is contained in
    the union of per-batch top-k's, so ranking only the tagged rows
    downstream reproduces the exact brute-force top-k, tie-break
    included. Tagged volume: ≤ batches · |q| · (k + ties) rows instead
    of corpus · |q|."""
    c64 = cents.astype(np.float64)
    qt = q_units.astype(np.float64).T
    n_q = qt.shape[1]
    m_sub, ksub, dsub = books.shape
    qid_arr = q_ids.astype(np.int64)

    def encode(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            m = _embedding_matrix(b, c64.shape[1])
            norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
            np.divide(m, norms, out=m, where=norms > 0)
            d2 = (
                (m * m).sum(axis=1, keepdims=True)
                - 2.0 * (m @ c64.T)
                + (c64 * c64).sum(axis=1)
            )
            cl = d2.argmin(axis=1)
            res = m - c64[cl]
            codes = np.empty((n, m_sub), dtype=np.int32)
            for j in range(m_sub):
                sub = res[:, j * dsub : (j + 1) * dsub]
                bk = books[j]
                sd2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ bk.T)
                    + (bk * bk).sum(axis=1)
                )
                codes[:, j] = sd2.argmin(axis=1)
            scores = m @ qt
            # per-batch witness candidates: for each query, rows whose
            # cosine clears the batch's k-th largest (self rows masked
            # with -inf so they never tag; ties at the threshold ALL
            # kept — exactness needs a superset, not a tie-break)
            ids = b.column("vec_id").to_numpy(zero_copy_only=False)
            masked = scores.copy()
            for qi in range(n_q):
                masked[ids == qid_arr[qi], qi] = -np.inf
            kk = min(wit_k, n)
            # k-th largest per column; np.partition is O(n) per query
            thr = np.partition(masked, n - kk, axis=0)[n - kk, :]
            # isfinite guard: on a batch smaller than k the threshold can
            # itself be the -inf self mask, and -inf >= -inf would tag
            # the self row
            tag = (masked >= thr) & np.isfinite(masked)
            counts = tag.sum(axis=1).astype(np.int32)
            rows_i, qis = np.nonzero(tag)
            wit_offsets = pa.array(
                np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
            )
            wit_structs = pa.StructArray.from_arrays(
                [
                    pa.array(qis.astype(np.int32)),
                    pa.array(masked[rows_i, qis]),
                ],
                ["qi", "cos"],
            )
            off_codes = pa.array(np.arange(0, (n + 1) * m_sub, m_sub, dtype=np.int32))
            off_scores = pa.array(np.arange(0, (n + 1) * n_q, n_q, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("vec_id"),
                    pa.array(cl.astype(np.int32)),
                    pa.ListArray.from_arrays(off_codes, pa.array(codes.ravel())),
                    pa.ListArray.from_arrays(off_scores, pa.array(scores.ravel())),
                    pa.ListArray.from_arrays(wit_offsets, wit_structs),
                ],
                ["vec_id", "cluster", "codes", "scores", "wit"],
            )

    return encode


@query("q_ann_ivfpq_top10", oracle=None, tags=("similarity", "ann", "ivf", "pq"))
def q_ann_ivfpq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-10 — the memory-compressed scale tier of the ANN
    stack (the FAISS IVFPQ + refine architecture): coarse inverted lists
    over unit vectors (cosine = inner product on the unit sphere),
    residuals product-quantized to ``_PQ_M`` one-byte codes, query-time
    scoring by asymmetric distance computation (ADC): approx cos(q, x) =
    q·c_cluster + Σ_m LUT_q[m][code_m], where each query's LUT holds its
    subspace dot products against the codebooks — then an exact re-rank
    of the ≤ ``_PQ_SHORTLIST``-row ADC shortlist (on an isotropic corpus
    ADC noise exceeds the top-10's cosine margins, so raw-ADC ordering is
    honest only down to the shortlist tier; measured mean recall@10 0.18
    raw vs 0.66+ refined at sf1).

    Why this exists beside q_ann_ivf_top10: at 100 TB the inverted lists
    cannot hold raw vectors — PQ stores 8 BYTES per 64-dim vector (32×
    compression) and ADC never reconstructs; the shuffle/storage story is
    codes, the flops story is |q| × M × ksub LUT builds on the driver
    plus one table lookup per (candidate, subspace). Driver-side data is
    bounded by construction: the fit sample, k + M×ksub centroids, the
    _N_QUERIES query vectors, and the per-query LUTs (M×ksub doubles).

    Rows-only check (learned quantizers make the neighbor set
    implementation-specific), with the same fused in-row recall witness
    as IVF: recall@10 per query against the exact brute-force ranking
    computed in the same corpus pass, and a within_bound flag (mean
    recall ≥ ``_PQ_RECALL_FLOOR`` = 0.85; the local test pins the same
    floor). The floor sits at 0.85 because the recall
    loss was DECOMPOSED, not guessed: ADC-shortlist survival of covered
    true neighbors measured 1.00, so the entire loss was coarse-cell
    coverage, fixed by the tier's own probe knob ``_PQ_NPROBE`` = 12 —
    see that constant's adjudication comment for the measurements that
    ruled out every codebook-side alternative (OPQ/per-list/bigger
    fits/restarts/spherical/multi-assign). The registered,
    witnessed form pays full witness scoring once BY DESIGN; the
    witness-free production form scores only probed clusters via the
    LUTs.

    The assigned codes and the ≤50-row top-k are deferred caches,
    released once the caller is done with the result.
    """
    e = load_table(spark, sf_dir, "embeddings")
    fit_rows = (
        e.select("embedding")
        .orderBy(F.xxhash64("vec_id"))
        .limit(_IVF_FIT_N)
        .collect()
    )
    sample = np.array([r.embedding for r in fit_rows], dtype=np.float64)
    norms = np.sqrt((sample * sample).sum(axis=1, keepdims=True))
    np.divide(sample, norms, out=sample, where=norms > 0)
    cents = _fit_coarse_quantizer(sample, _IVF_K, _IVF_LLOYD_ITERS, seed=42)
    books = _fit_pq_codebooks(sample, cents, _PQ_M, _PQ_KSUB, _PQ_ITERS, seed=1042)
    ksub = books.shape[1]
    dsub = books.shape[2]

    q_rows = sorted(
        e.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    if not q_rows:
        raise ValueError("IVF-PQ: no query vectors (vec_id < %d)" % _N_QUERIES)
    probe_rows = []
    lut_rows = []
    q_units = []
    for qi, r in enumerate(q_rows):
        v = np.array(r.embedding, dtype=np.float64)
        norm = float(np.sqrt((v * v).sum()))
        u = v / norm if norm > 0 else v
        q_units.append(u)
        d2 = ((cents - u) ** 2).sum(axis=1)
        for c in np.argsort(d2, kind="stable")[: min(_PQ_NPROBE, len(cents))]:
            # carry q·c (ADC's coarse term) and the query's index into the
            # fused witness-score array (the refine stage reads it)
            probe_rows.append((int(r.vec_id), qi, int(c), float(u @ cents[c])))
        lut = np.concatenate(
            [books[m] @ u[m * dsub : (m + 1) * dsub] for m in range(_PQ_M)]
        )
        lut_rows.append((int(r.vec_id), [float(x) for x in lut]))
    probes = local_frame(
        spark, probe_rows, "query_id long, qi int, cluster int, qdotc double"
    )
    luts = local_frame(spark, lut_rows, "query_id long, lut array<double>")

    assigned = deferred(
        e.select("vec_id", "embedding")
        .repartition(table_python_tasks(spark, sf_dir, "embeddings"), "vec_id")
        .mapInArrow(
            _pq_encode_batches(
                cents,
                books,
                np.array(q_units),
                np.array([int(r.vec_id) for r in q_rows]),
                _TOP_K,
            ),
            "vec_id long, cluster int, codes array<int>, "
            "scores array<double>, wit array<struct<qi:int,cos:double>>",
        )
        .persist()
    )

    # Stage 1 — ADC shortlist: probed-cluster broadcast join + per-query
    # LUT broadcast join; the score is M table lookups unrolled into
    # straight codegen (no HOF) — the per-candidate cost PQ is designed
    # around. Stage 2 — refine: exact cosine re-rank of the ≤ L-row
    # shortlist (the FAISS IndexRefine pattern; ADC noise on an isotropic
    # corpus is larger than the top-10's cosine margins, so the shortlist
    # is PQ's honest product and the final order comes from a bounded
    # exact re-check — at 100 TB the refine re-fetches raw vectors for
    # L·|q| rows only; here the exact scores already ride on the code
    # table from the fused witness pass).
    adc = F.col("qdotc")
    for m in range(_PQ_M):
        adc = adc + F.element_at(
            "lut", F.element_at("codes", m + 1) + m * ksub + 1
        )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    shortlist = (
        assigned.join(F.broadcast(probes), "cluster")
        .join(F.broadcast(luts), "query_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adc"),
            F.element_at("scores", F.col("qi") + 1).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w_adc))
        .where(F.col("rk") <= _PQ_SHORTLIST)
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    pq_top = deferred(
        shortlist.withColumn("rk2", F.row_number().over(w_cos))
        .where(F.col("rk2") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("adc", 4).alias("adc_rounded"))
        .persist()
    )

    # fused witness: exact cosine top-10 from the same corpus pass. The
    # explode runs over the PRUNED per-batch candidate list
    # the encode pass tagged (``wit``: ≤ batches · |q| · (k + ties) rows),
    # not the full (corpus × |q|) score matrix — the global top-k of a
    # total order is contained in the union of per-batch top-k's, so the
    # final window over the tagged rows reproduces the identical
    # brute-force ranking, tie-break (cos DESC, neighbor_id ASC) included,
    # without shuffling and sorting corpus-sized pair streams.
    qids_lit = F.array(*[F.lit(int(r.vec_id)).cast("long") for r in q_rows])
    wt = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    truth = (
        assigned.select(
            F.col("vec_id").alias("neighbor_id"), F.explode("wit").alias("w")
        )
        .select(
            F.element_at(qids_lit, F.col("w.qi") + 1).alias("query_id"),
            "neighbor_id",
            F.col("w.cos").alias("cos"),
        )
        .withColumn("rk", F.row_number().over(wt))
        .where(F.col("rk") <= _TOP_K)
        .select("query_id", F.col("neighbor_id").alias("true_id"))
    )
    hits = (
        pq_top.join(
            F.broadcast(truth),
            (pq_top.query_id == truth.query_id)
            & (pq_top.neighbor_id == truth.true_id),
            "left",
        )
        .groupBy(pq_top.query_id)
        .agg((F.count("true_id") / F.lit(_TOP_K)).alias("recall10"))
    )
    all_q = Window.partitionBy()
    witnessed = hits.select(
        "query_id",
        "recall10",
        (F.avg("recall10").over(all_q) >= _PQ_RECALL_FLOOR).alias("within_bound"),
    )
    return pq_top.join(F.broadcast(witnessed), "query_id").select(
        "query_id", "neighbor_id", "adc_rounded", "recall10", "within_bound"
    )


# Planted near-dups: scaled copies of the first _PLANT vectors, ids offset
# by _PLANT_OFFSET. A scaled copy is direction-identical, so (a) cosine with
# its source is 1.0 and (b) every sign-bit hyperplane bucket matches in every
# block — LSH recall on planted pairs is exactly 1, which is what lets this
# query carry an EXACT oracle (the ε-angle perturbation case, where recall is
# probabilistic, is covered by the planted-pair recall test in
# tests/test_similarity.py).
_PLANT = 20
_PLANT_OFFSET = 1_000_000


@query(
    "q_embedding_neardup_pairs",
    oracle=f"""
SELECT vec_id AS vec_a, vec_id + {_PLANT_OFFSET} AS vec_b
FROM embeddings WHERE vec_id < {_PLANT}
""",
    tags=("similarity", "dedup", "lsh"),
)
def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.9), LSH-blocked — the
    embedding flavor of dedup for a training-data pipeline.

    Input = corpus ∪ deterministic planted duplicates (1.5×-scaled copies of
    the first 20 vectors). The oracle is the closed-form planted-pair set:
    exact because (a) scaled copies collide in every LSH block (sign bits are
    scale-invariant) so none is missed, and (b) the background corpus is
    isotropic 64-dim — no background pair reaches cos ≥ 0.9 (a background
    pair appearing would hash-mismatch LOUDLY, which is the point: the
    oracle also pins the no-false-positive side).

    Scale shape: candidates come only from LSH bucket equi-joins (8-bit
    blocks → expected bucket size n/256), never an all-pairs product."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.where(F.col("vec_id") < _PLANT).select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    # spread the bucket computation and persist: the bucketed table feeds
    # BOTH sides of the self-join — without persist Spark recomputes every
    # hyperplane dot product twice
    # deliberate session-lifetime cache (both self-join sides read the
    # bucketed table; pair output is corpus-proportional, so collected()
    # would bottleneck on the driver) — same trade as the dedup pair
    # family, see dedup/queries.py module docstring's cache-lifetime note
    b = _with_buckets(e.unionByName(planted), _DUP_PLANES, _DUP_BLOCKS, spread=True).persist()
    a = b.alias("a")
    c = b.alias("b")
    # threshold BEFORE the dedup shuffle (shuffle fewer bytes): a pair
    # spread across several blocks computes the same cosine in each, so
    # distinct-on-ids after the cos ≥ 0.9 filter
    # returns exactly the rows distinct-then-filter did — but the
    # exchange now carries only the qualifying pairs (planted dups),
    # not every bucket collision with its cosine.
    return (
        a.join(c, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"),
        )
        .where(F.col("cos") >= 0.9)
        .select("vec_a", "vec_b")
        .distinct()
    )


_N_SEED_CENTROIDS = 8


@query(
    "q_semantic_cluster_assign",
    oracle=f"""
WITH c AS (
    SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {_N_SEED_CENTROIDS}
),
d AS (
    SELECT e.vec_id,
           c.cid,
           list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.ce AS DOUBLE[])) AS dist
    FROM embeddings e, c
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster
FROM d
QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) = 1
""",
    tags=("similarity", "clustering"),
)
def q_semantic_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-seed-centroid assignment: every embedding is labeled with
    the closest of 8 fixed seed vectors (the first 8 corpus embeddings) —
    one assignment step of k-means / the routing step of a semantic-
    sharding pipeline, as a pure broadcast-join + per-row argmin.

    Ids-only output: distances are float, but an argmin flip would need two
    seed centroids equidistant from a corpus vector to ~1e-15 relative —
    measure-zero for isotropic 64-dim data — and ties break on centroid id
    on both engines, so the assignment is exact.

    Scale shape: the centroid table broadcasts (k×dim doubles); assignment
    is embarrassingly parallel; the per-vector argmin is a window over
    k=8 rows keyed by vec_id (high-cardinality partition key — no hot
    partition). At 100 TB this is the routing pass that builds the IVF
    inverted lists (q_ann_ivf_top10 is the probe-side counterpart)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = e.where(F.col("vec_id") < _N_SEED_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    dist2 = F.aggregate(
        F.zip_with(
            "embedding", "ce", lambda a, b: (a.cast("double") - b.cast("double")) ** 2
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cluster"))
    return (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", F.col("cid").cast("long").alias("cluster"), dist2.alias("dist2"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "cluster")
    )


@query(
    "q_embedding_quantize_int8",
    oracle="""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), scaled AS (
    SELECT vec_id,
           list_max(list_transform(emb, x -> abs(x))) AS maxabs,
           emb
    FROM v
), q AS (
    SELECT vec_id, maxabs,
           list_transform(emb, x -> CASE WHEN maxabs = 0 THEN 0
               ELSE CAST(FLOOR((x * 127.0) / maxabs) AS INTEGER) END) AS quant
    FROM scaled
)
SELECT vec_id, maxabs AS scale,
       array_to_string(quant, ',') AS quant,
       CAST(list_aggregate(quant, 'sum') AS BIGINT) AS quant_sum,
       CAST(list_aggregate(list_transform(quant, x -> CASE WHEN x < -127 OR x > 127
                THEN 1 ELSE 0 END), 'sum') AS BIGINT) AS n_out_of_range
FROM q
""",
    tags=("similarity", "quantization", "embeddings"),
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage
    compression every large-scale vector pipeline applies before ANN
    serving (4× smaller than float32, 8× smaller than float64).

    Per vector: scale = max |x_i| (an exact float PICK), quantized value =
    ``FLOOR((x · 127.0) / scale)`` — multiplication-then-division in a
    fixed expression shape, so both engines execute the identical IEEE
    double sequence and FLOOR lands on the same integer; the zero-vector
    guard avoids the 0/0 NaN on both sides. The out-of-range witness
    column proves every code fits int8 in-row.

    100 TB shape: purely per-row JVM expressions (transform/array_max/
    aggregate HOFs) — no shuffle, no UDF, pipeline-parallel with the scan;
    the int8 codes then feed the IVF/LSH paths at a quarter of the I/O.
    """
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    scaled = e.select(
        "vec_id",
        F.array_max(F.transform(emb, lambda x: F.abs(x))).alias("maxabs"),
        emb.alias("emb"),
    )
    quant = F.transform(
        F.col("emb"),
        lambda x: F.when(F.col("maxabs") == 0, F.lit(0)).otherwise(
            F.floor((x * F.lit(127.0)) / F.col("maxabs")).cast("int")
        ),
    )
    q = scaled.select("vec_id", F.col("maxabs").alias("scale"), quant.alias("quant"))
    return q.select(
        "vec_id",
        "scale",
        # Serialized to one comma-joined STRING on both sides — the
        # driver's pandas canonicalizer cannot hash list cells, so output
        # schemas are scalar-only (test_registry.py output-schema lint).
        F.concat_ws(
            ",", F.transform("quant", lambda x: x.cast("string"))
        ).alias("quant"),
        F.aggregate(
            "quant", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("quant_sum"),
        F.aggregate(
            F.transform(
                "quant",
                lambda x: F.when((x < -127) | (x > 127), 1).otherwise(0),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long"),
        ).alias("n_out_of_range"),
    )


# Two-stage retrieval: cheap ANN candidate generation, then an expensive
# pairwise "cross" re-scorer applied ONLY to the shortlist — the
# retrieve-then-rerank architecture every production semantic-search stack
# uses (bi-encoder ANN recall stage → cross-encoder precision stage). The
# rerank score here is a weighted-Jaccard interaction over the two vectors'
# coordinates: sum(min(|a_i|,|b_i|)) / sum(max(|a_i|,|b_i|)) — genuinely
# non-factorizable (it needs both vectors elementwise, exactly the property
# that makes a cross-encoder un-indexable and forces the two-stage shape).
_RERANK_CAND = 40
_RERANK_K = 5


@query(
    "q_rerank_two_stage_topk",
    oracle=f"""
WITH bk AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), hb AS (
    SELECT vec_id, e, {_sql_bucket_list(_ANN_PLANES, _ANN_BLOCKS)} AS buckets
    FROM bk
), q AS (
    SELECT vec_id AS query_id, e AS qe, buckets AS qb
    FROM hb WHERE vec_id < {_N_QUERIES}
), cand AS (
    SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.qe, c.e) AS cos
    FROM q JOIN hb c
      ON c.vec_id != q.query_id AND list_has_any(q.qb, c.buckets)
), shortlist AS (
    SELECT query_id, neighbor_id FROM cand
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) <= {_RERANK_CAND}
), rescored AS (
    SELECT s.query_id, s.neighbor_id,
           list_aggregate(list_transform(list_zip(q.qe, n.e),
               p -> least(abs(p[1]), abs(p[2]))), 'sum')
         / list_aggregate(list_transform(list_zip(q.qe, n.e),
               p -> greatest(abs(p[1]), abs(p[2]))), 'sum') AS xscore
    FROM shortlist s
    JOIN q ON q.query_id = s.query_id
    JOIN bk n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rerank_pos
FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY xscore DESC, neighbor_id ASC) AS rk
    FROM rescored
)
WHERE rk <= {_RERANK_K}
""",
    tags=("similarity", "ann", "rerank", "two-stage"),
)
def q_rerank_two_stage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank top-k: stage 1 shortlists 40
    candidates per query by LSH-bucketed cosine (the q_ann_lsh_top10
    recall stage); stage 2 re-fetches ONLY the shortlist's vectors and
    applies the expensive cross score (weighted Jaccard of coordinate
    magnitudes), returning the top-5 with their rerank position.

    EXACT oracle: hyperplanes are seeded literals, both engines run the
    identical double arithmetic elementwise and sum left-to-right
    (zip_with/aggregate ↔ list_zip/list_aggregate); ids-only output plus
    an integer rank — a flip would need two rerank scores equal to ~1 ulp
    across engines, measure-zero on isotropic float data (the
    q_ann_lsh_top10 adjudication).

    100 TB shape: stage 1 is the bucketed candidate join (cost ∝ bucket
    sizes, never all-pairs); stage 2 touches |queries| × 40
    rows — INDEPENDENT of corpus size, which is the whole point of
    two-stage retrieval: the expensive scorer's cost is capped by the
    shortlist, and the neighbor-vector re-fetch is a keyed join against
    the (bucketed) embedding table, broadcast on the shortlist side.

    The stage-1 bucket cache is deferred, released once the caller is
    done with the result.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = deferred(
        _with_buckets(e, _ANN_PLANES, _ANN_BLOCKS, spread=True).persist()
    )
    queries = corpus.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "bucket"
    )
    cand = (
        F.broadcast(queries)
        .join(corpus, "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("embedding")).alias("cos"),
        )
        .distinct()
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    shortlist = (
        cand.withColumn("rk", F.row_number().over(w1))
        .where(F.col("rk") <= _RERANK_CAND)
        .select("query_id", "neighbor_id")
    )
    qvec = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qe")
    )
    nvec = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("ne"),
    )
    # stage 2: re-fetch vectors for the shortlist only, then the cross score
    paired = (
        F.broadcast(shortlist)
        .join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
    )
    mins = F.zip_with("qe", "ne", lambda a, b: F.least(F.abs(a), F.abs(b)))
    maxs = F.zip_with("qe", "ne", lambda a, b: F.greatest(F.abs(a), F.abs(b)))
    sum_d = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)
    rescored = paired.select(
        "query_id",
        "neighbor_id",
        (sum_d(mins) / sum_d(maxs)).alias("xscore"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("xscore"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= _RERANK_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rk").cast("long").alias("rerank_pos"),
        )
    )


# Semantic dedup: embedding-threshold clustering. Planted construction
# mirrors q_embedding_neardup_pairs but with TWO scaled copies per source
# vector (1.5× and 2.25×), so each planted component is a 3-clique —
# the connected-components resolution over the cos≥0.9 edge graph is
# exercised beyond trivial pairs, with a closed-form oracle.
_SEM_PLANT = 12
_SEM_OFF_B = 1_000_000
_SEM_OFF_C = 2_000_000


@query(
    "q_semantic_dedup_clusters",
    oracle=f"""
SELECT vec_id AS member_id, vec_id AS cluster_rep, CAST(3 AS BIGINT) AS cluster_size
FROM embeddings WHERE vec_id < {_SEM_PLANT}
UNION ALL
SELECT vec_id + {_SEM_OFF_B} AS member_id, vec_id AS cluster_rep, CAST(3 AS BIGINT) AS cluster_size
FROM embeddings WHERE vec_id < {_SEM_PLANT}
UNION ALL
SELECT vec_id + {_SEM_OFF_C} AS member_id, vec_id AS cluster_rep, CAST(3 AS BIGINT) AS cluster_size
FROM embeddings WHERE vec_id < {_SEM_PLANT}
""",
    tags=("similarity", "dedup", "clustering", "iterative"),
)
def q_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup via embedding-threshold clustering: cos ≥ 0.9 pairs
    from LSH-bucketed candidate joins become an edge graph; connected
    components (shared min-label propagation, operators/graph.py) resolve
    transitive near-dup groups; each member reports its cluster
    representative (min vec_id) and cluster size — the semantic flavor of
    q_dedup_clusters, the step that turns pairwise embedding similarity
    into drop-lists for a training corpus.

    Input = corpus ∪ TWO deterministic scaled copies (1.5×, 2.25×) of the
    first 12 vectors. The oracle is the closed-form planted
    3-clique set: exact because scaled copies are direction-identical —
    every hyperplane sign bit matches, so LSH recall on planted edges is
    exactly 1 — and the isotropic background produces no cos ≥ 0.9 pair
    (one appearing would hash-mismatch loudly, pinning the
    no-false-positive side like q_embedding_neardup_pairs). Singleton
    components are dropped (a cluster of one is not a dup group).

    100 TB shape: edges come only from 8-bit LSH bucket equi-joins
    (expected bucket size n/256, never all-pairs); the CC loop is one
    keyed join + groupBy per round over the EDGE list with per-round
    persist/unpersist; cluster stats are one groupBy over the label
    table.
    """
    from als_pyspark_spark.operators.graph import min_label_components

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = e.where(F.col("vec_id") < _SEM_PLANT)
    plant = lambda off, s: base.select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(s)).alias("embedding"),
    )
    union = e.unionByName(plant(_SEM_OFF_B, 1.5)).unionByName(
        plant(_SEM_OFF_C, 2.25)
    )
    b = _with_buckets(union, _DUP_PLANES, _DUP_BLOCKS, spread=True).persist()
    a, c = b.alias("a"), b.alias("b")
    # threshold BEFORE the dedup shuffle: the distinct would ship every
    # bucket collision + cosine; filtering first ships only the qualifying
    # edges — identical edge set (a pair spread across blocks computes the
    # same cosine everywhere).
    pairs = (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"),
        )
        .where(F.col("cos") >= 0.9)
        .select("src", "dst")
        .distinct()
    )
    labels = min_label_components(pairs)
    b.unpersist()
    # cluster size as a window over the SAME key the stats aggregate
    # used — one exchange on label instead of groupBy + join-back
    # (operations keyed the same way share one exchange)
    return (
        labels.withColumn(
            "cluster_size", F.count("*").over(Window.partitionBy("label"))
        )
        .where(F.col("cluster_size") > 1)
        .select(
            F.col("node").alias("member_id"),
            F.col("label").alias("cluster_rep"),
            F.col("cluster_size"),
        )
    )


_PCA_K = 8  # projected dimensions (64 → 8)


@query(
    "q_embedding_pca_project",
    oracle=None,
    tags=("similarity", "pca", "linear-algebra", "witness"),
)
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding corpus + projection to the top
    ``_PCA_K`` principal components — the dimension-reduction stage an
    embedding pipeline runs before ANN indexing (and the corpus-level
    analogue of the reference's A4 Gramian ``treeAggregate``: ALS.py's
    ``compute_YtY`` accumulates a factor Gramian the same one-pass way).

    Spark-first shape, two corpus passes and NOTHING quadratic:

    1. MOMENTS: one ``mapInArrow`` pass emits per-batch partial moments
       (count, Σx, upper-triangular ΣxxT — d(d+1)/2 doubles). The
       driver reduces the ≤ #tasks partial rows (bounded by
       construction: ~17 KB per task at d=64, independent of corpus
       size — the treeAggregate pattern with Arrow batches as leaves),
       assembles the covariance C = ΣxxT/n − μμT, and eigendecomposes
       the 64×64 matrix locally. Eigenvector signs are pinned
       (largest-|entry| coordinate made positive) so reruns are stable.
    2. PROJECT: a second ``mapInArrow`` pass ships W (k×d, a few KB)
       inside the serialized function and emits per vector its k
       projected coordinates plus the energy split ‖WT(x−μ)‖² vs
       ‖x−μ‖² for the witness.

    Rows-only check (eigendecomposition is not SQL-expressible), with a
    SELF-WITNESS stronger than a recall floor: by the spectral theorem
    Σᵢ‖WT(xᵢ−μ)‖² / Σᵢ‖xᵢ−μ‖² must equal Σ_top-k λ / Σλ exactly, and
    the two sides are computed INDEPENDENTLY (distributed projection
    sums vs driver eigenvalues), so ``within_bound`` certifies the whole
    pipeline — moments, eig, sign pinning, projection — to float
    precision in every row. The global-sum window is fine at test SF;
    a 100 TB run folds the two sums into pass 2's aggregate instead.
    """
    e = load_table(spark, sf_dir, "embeddings")
    spread = e.select("vec_id", "embedding").repartition(
        table_python_tasks(spark, sf_dir, "embeddings"), "vec_id"
    )
    iu0, iu1 = np.triu_indices(_DIM)

    def moments(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            m = _embedding_matrix(b, _DIM)
            g = m.T @ m
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([b.num_rows], type=pa.int64()),
                    pa.array([m.sum(axis=0).tolist()]),
                    pa.array([g[iu0, iu1].tolist()]),
                ],
                ["cnt", "s", "g"],
            )

    parts = spread.mapInArrow(
        moments, "cnt long, s array<double>, g array<double>"
    ).collect()  # ≤ one small row per task — bounded by construction
    if not parts:
        raise ValueError("PCA: embeddings table is empty — nothing to fit")
    n = sum(r.cnt for r in parts)
    s = np.sum([r.s for r in parts], axis=0)
    gt = np.zeros((_DIM, _DIM))
    gt[iu0, iu1] = np.sum([r.g for r in parts], axis=0)
    gt = gt + np.triu(gt, 1).T
    mu = s / n
    cov = gt / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    evals, evecs = evals[::-1], evecs[:, ::-1]
    k = min(_PCA_K, _DIM)
    w = evecs[:, :k].copy()
    # sign pinning: the largest-|entry| coordinate of each PC is positive
    for j in range(k):
        if w[np.abs(w[:, j]).argmax(), j] < 0:
            w[:, j] = -w[:, j]
    lam_frac = float(evals[:k].sum() / evals.sum())

    def project(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            m = _embedding_matrix(b, _DIM) - mu
            proj = m @ w  # (n, k)
            num = (proj * proj).sum(axis=1)
            den = (m * m).sum(axis=1)
            arrs = [b.column("vec_id")]
            names = ["vec_id"]
            for j in range(min(4, k)):
                arrs.append(pa.array(np.round(proj[:, j], 6)))
                names.append(f"pc{j + 1}")
            arrs += [pa.array(num), pa.array(den)]
            names += ["energy_num", "energy_den"]
            yield pa.RecordBatch.from_arrays(arrs, names)

    schema = "vec_id long, " + ", ".join(
        f"pc{j + 1} double" for j in range(min(4, k))
    ) + ", energy_num double, energy_den double"
    projected = spread.mapInArrow(project, schema)
    all_rows = Window.partitionBy()
    frac = F.sum("energy_num").over(all_rows) / F.sum("energy_den").over(all_rows)
    return projected.select(
        "vec_id",
        *[F.col(f"pc{j + 1}") for j in range(min(4, k))],
        F.round(F.col("energy_num") / F.col("energy_den"), 6).alias("energy_frac"),
        (F.abs(frac - F.lit(lam_frac)) < 1e-6).alias("within_bound"),
    )
