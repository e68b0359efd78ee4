"""ANN quality: LSH recall vs brute force; norm math sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from als_pyspark_spark.functions.arrays import cosine, dot, l2_norm
from als_pyspark_spark.registry import load_all_queries

QUERIES = load_all_queries()


def test_array_math(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 2.0], [2.0, 4.0, 4.0])], "id long, a array<double>, b array<double>"
    )
    row = df.select(
        dot("a", "b").alias("d"),
        l2_norm(F.col("a")).alias("na"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert row.d == 18.0
    assert row.na == 3.0
    assert abs(row.c - 1.0) < 1e-12  # parallel vectors


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    exact = QUERIES["q_ann_bruteforce_top10"].build(spark, sf_dir).collect()
    approx = QUERIES["q_ann_lsh_top10"].build(spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
    ]
    avg_recall = sum(recalls) / len(recalls)
    assert avg_recall >= 0.5, f"LSH avg recall {avg_recall:.2f} (per-query {recalls})"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    exact = QUERIES["q_ann_bruteforce_top10"].build(spark, sf_dir).collect()
    approx = QUERIES["q_ann_ivf_top10"].build(spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg_recall = sum(recalls) / len(recalls)
    # nprobe/k = 8/16 bounds the work at half the corpus; on isotropic
    # synthetic data recall tracks the probed fraction plus direction
    # correlation — 0.5 is the floor, clustered real data does far better.
    assert avg_recall >= 0.5, f"IVF avg recall {avg_recall:.2f} (per-query {recalls})"


def test_ivfpq_recall_vs_bruteforce_and_witness(spark, sf_dir):
    """IVF-PQ + refine: the exact re-rank of the ADC shortlist must keep
    recall at the IVF floor (the shortlist tier absorbs the ADC noise an
    isotropic corpus maximizes), the in-row witness must agree with an
    external recomputation, and codes/ranks must be well-formed."""
    exact = QUERIES["q_ann_bruteforce_top10"].build(spark, sf_dir).collect()
    approx = QUERIES["q_ann_ivfpq_top10"].build(spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    wit: dict[int, float] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
        wit[r.query_id] = r.recall10
        assert r.query_id != r.neighbor_id
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg_recall = sum(recalls) / len(recalls)
    # floor raised 0.5 → 0.85 with the nprobe-12 operating point
    # (round-12 coverage decomposition; margin ≥ 0.05 at the measured
    # min-over-seeds coverage of 0.90 across sf0.01/0.1/1)
    assert avg_recall >= 0.85, f"IVF-PQ avg recall {avg_recall:.2f} ({recalls})"
    # the fused witness measures recall against the same exact ranking the
    # brute-force query computes — the two must agree per query
    for q in truth:
        assert abs(wit[q] - len(truth[q] & got.get(q, set())) / len(truth[q])) < 1e-9


def test_bruteforce_excludes_self(spark, sf_dir):
    for r in QUERIES["q_ann_bruteforce_top10"].build(spark, sf_dir).collect():
        assert r.query_id != r.neighbor_id


def test_embedding_neardup_recall_floor(spark, sf_dir, tmp_path):
    """Recall floor for the LSH-blocked embedding near-dup tier.

    The synthetic embeddings are isotropic — no natural pairs reach
    cos >= 0.9 — so we plant near-duplicates (small additive noise,
    cos ~0.97+) in a scratch sf_dir and demand the blocked query
    recovers most of the brute-force truth set."""
    import numpy as np
    import pandas as pd

    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    rng = np.random.default_rng(7)
    planted = pdf.head(50).copy()
    base_id = int(pdf.vec_id.max()) + 1
    planted["vec_id"] = np.arange(base_id, base_id + len(planted), dtype=np.int64)
    planted["embedding"] = [
        (np.asarray(v, dtype=np.float32) + rng.normal(0, 0.02, len(v)).astype(np.float32))
        for v in planted["embedding"]
    ]
    scratch = tmp_path / "neardup_sf"
    scratch.mkdir()
    pd.concat([pdf, planted]).to_parquet(scratch / "embeddings.parquet", index=False)

    e = spark.read.parquet(str(scratch / "embeddings.parquet"))
    a, b = e.alias("a"), e.alias("b")
    truth = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"),
        )
        .where(F.col("cos") >= 0.9)
        .collect()
    }
    assert len(truth) >= 40, f"fixture should plant >=40 near-dup pairs, got {len(truth)}"

    from als_pyspark_spark.similarity.queries import _PLANT, _PLANT_OFFSET

    all_got = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["q_embedding_neardup_pairs"].build(spark, str(scratch)).collect()
    }
    # the query unions in its own scaled-copy plants (ids >= _PLANT_OFFSET);
    # split those out from the noise-planted background pairs under test
    got = {(a, b) for a, b in all_got if b < _PLANT_OFFSET}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"near-dup LSH recall {recall:.2f} over {len(truth)} planted pairs"
    # and no false positives: everything reported really is >= 0.9
    assert got <= truth, got - truth
    # the query's own scaled-copy plants are direction-identical -> LSH
    # recall on them is exactly 1, every single one must be present
    own = {(a, b) for a, b in all_got if b >= _PLANT_OFFSET and a + _PLANT_OFFSET == b}
    assert own == {(i, i + _PLANT_OFFSET) for i in range(_PLANT)}, own


def test_cluster_assign_seed_vectors_assign_to_themselves(spark, sf_dir):
    from als_pyspark_spark.similarity.queries import _N_SEED_CENTROIDS

    got = {
        r.vec_id: r.cluster
        for r in QUERIES["q_semantic_cluster_assign"].build(spark, sf_dir).collect()
    }
    # each seed centroid is distance 0 from itself
    for i in range(_N_SEED_CENTROIDS):
        assert got[i] == i, (i, got[i])
    # every vector got exactly one assignment in range
    assert all(0 <= c < _N_SEED_CENTROIDS for c in got.values())


def test_bucket_array_matches_numpy_reference(spark):
    """The HOF bucket pipeline must compute exactly the sign-bit buckets a
    straight numpy implementation does (same seeded hyperplanes). Pins the
    fold (bit packing, block routing) against a neutral referee — a
    regression here silently degrades recall rather than failing."""
    import numpy as np

    from als_pyspark_spark.similarity.queries import (
        _ANN_BLOCKS,
        _ANN_PLANES,
        _DIM,
        _hyperplanes,
        _with_buckets,
    )

    rng = np.random.default_rng(21)
    vecs = rng.standard_normal((20, _DIM)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    got: dict[int, set] = {}
    for r in _with_buckets(df, _ANN_PLANES, _ANN_BLOCKS).collect():
        got.setdefault(r.vec_id, set()).add(r.bucket)

    planes = _hyperplanes(_ANN_BLOCKS, _ANN_PLANES)
    for i, v in enumerate(vecs):
        v64 = v.astype(np.float64)
        dots = planes @ v64  # (blocks, planes)
        assert float(np.abs(dots).min()) > 1e-9, "degenerate fixture"
        want = {
            f"{b}:{sum(1 << p for p in range(_ANN_PLANES) if dots[b, p] > 0)}"
            for b in range(_ANN_BLOCKS)
        }
        assert got[i] == want, f"vec {i}: {got[i]} != {want}"


def test_embedding_matrix_guards_null_and_ragged_batches():
    """Round-11 ADVICE: ListArray.flatten() silently drops a null row's
    slot and concatenates ragged rows — when lengths happened to divide
    evenly that misassigned clusters with NO diagnostic. The guard must
    name the problem before any reshape."""
    import numpy as np
    import pyarrow as pa
    import pytest as _pytest

    from als_pyspark_spark.similarity.queries import _embedding_matrix

    def batch(rows):
        return pa.RecordBatch.from_arrays(
            [pa.array(range(len(rows))), pa.array(rows, type=pa.list_(pa.float32()))],
            ["vec_id", "embedding"],
        )

    good = batch([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])
    m = _embedding_matrix(good, 2)
    assert m.shape == (3, 2) and m.dtype == np.float64
    assert m[2, 1] == 6.0

    with _pytest.raises(ValueError, match="NULL rows"):
        _embedding_matrix(batch([[1.0, 2.0], None, [5.0, 6.0]]), 2)

    with _pytest.raises(ValueError, match="ragged"):
        _embedding_matrix(batch([[1.0], [2.0, 3.0, 4.0]]), 3)
    # ragged AND total-length-divisible by the expected dim: rows of 1+3
    # values against dim 2 flatten to 4 == 2*2 — the old code reshaped
    # this into shifted garbage with no diagnostic; the per-row length
    # check is what catches it
    with _pytest.raises(ValueError, match="ragged"):
        _embedding_matrix(batch([[1.0], [2.0, 3.0, 4.0]]), 2)


def test_pca_projection_witness_and_planted_direction(spark, tmp_path):
    """The PCA self-witness is the spectral identity (projection energy
    ratio == top-k eigenvalue ratio, computed independently); on a
    corpus with one PLANTED high-variance direction, PC1 must recover it
    (|corr| with the planted axis ~ 1) and reruns must be bit-identical
    (sign pinning + rounding)."""
    import numpy as np

    from als_pyspark_spark.registry import load_all_queries

    rng = np.random.default_rng(5)
    n, d = 400, 64
    axis = np.zeros(d)
    axis[7] = 1.0
    x = rng.standard_normal((n, d)) * 0.1 + rng.standard_normal((n, 1)) * 5.0 * axis
    spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    q = load_all_queries()["q_embedding_pca_project"]
    rows = sorted(q.build(spark, str(tmp_path)).collect(), key=lambda r: r.vec_id)
    assert len(rows) == n
    assert all(r.within_bound for r in rows)
    assert all(-1e-9 <= r.energy_frac <= 1.0 + 1e-9 for r in rows)
    # PC1 recovers the planted axis: projected coord ~ the axis coefficient
    pc1 = np.array([r.pc1 for r in rows])
    coef = x[:, 7] - x[:, 7].mean()
    corr = abs(np.corrcoef(pc1, coef)[0, 1])
    assert corr > 0.99, corr
    # planted direction dominates the energy
    mean_frac = float(np.mean([r.energy_frac for r in rows]))
    assert mean_frac > 0.8, mean_frac  # mean of per-row ratios sits below the global energy ratio
    # rerun determinism (sign pinning)
    rows2 = sorted(q.build(spark, str(tmp_path)).collect(), key=lambda r: r.vec_id)
    assert [(r.pc1, r.pc2, r.pc3, r.pc4) for r in rows] == [
        (r.pc1, r.pc2, r.pc3, r.pc4) for r in rows2
    ]


def test_pq_encode_skips_zero_row_batches():
    """A zero-row Arrow batch (an empty partition after the repartition)
    must pass through the IVF-PQ encode pass without reaching the
    witness threshold's np.partition, and must not disturb the batches
    around it."""
    import numpy as np
    import pyarrow as pa

    from als_pyspark_spark.similarity.queries import _pq_encode_batches

    rng = np.random.default_rng(0)
    dim, m_sub, ksub = 4, 2, 2
    cents = rng.normal(size=(3, dim))
    books = rng.normal(size=(m_sub, ksub, dim // m_sub))
    q_units = rng.normal(size=(2, dim))
    encode = _pq_encode_batches(cents, books, q_units, np.array([0, 1]), 10)

    def batch(n):
        rows = rng.normal(size=(n, dim)).tolist()
        return pa.RecordBatch.from_arrays(
            [pa.array(range(n), pa.int64()), pa.array(rows, pa.list_(pa.float32()))],
            ["vec_id", "embedding"],
        )

    assert list(encode(iter([batch(0)]))) == []
    out = list(encode(iter([batch(0), batch(3), batch(0)])))
    assert [b.num_rows for b in out] == [3]
    # every non-self row of a 3-row batch clears the top-10 threshold
    assert [len(w) for w in out[0].column("wit").to_pylist()] == [1, 1, 2]
