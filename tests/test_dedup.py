"""Property tests for the dedup family (the oracle gate covers exact/
jaccard; these cover LSH recall and signature invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from als_pyspark_spark.functions.hashing import hamming64, minhash_signature, simhash64
from als_pyspark_spark.registry import load_all_queries

QUERIES = load_all_queries()


@pytest.fixture(scope="module")
def docs(spark):
    # small synthetic corpus with planted near-dups
    base = "spark join order batch stream window hash scan merge part table row"
    rows = [
        (1, base),
        (2, base + " extra"),  # near-dup of 1
        (3, base.replace("join", "group")),  # near-dup of 1
        (4, "totally different content about language models and tokens here"),
        (5, base),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_identical_docs_identical_signature(docs):
    from als_pyspark_spark.functions.text import tokens, word_ngrams

    sig = docs.select(
        "doc_id",
        minhash_signature(
            F.array_distinct(word_ngrams(tokens(F.col("text")), 3)), 16
        ).alias("sig"),
    )
    rows = {r.doc_id: tuple(r.sig) for r in sig.collect()}
    assert rows[1] == rows[5]  # exact dup → identical signature
    assert rows[1] != rows[4]  # different doc → different signature
    # near-dup shares most minhash slots
    shared = sum(a == b for a, b in zip(rows[1], rows[2]))
    assert shared >= 8, f"near-dup only shares {shared}/16 minhash slots"


def test_simhash_hamming_properties(docs):
    from als_pyspark_spark.functions.text import tokens

    sh = docs.select("doc_id", simhash64(tokens(F.col("text"))).alias("sh"))
    rows = {r.doc_id: r.sh for r in sh.collect()}
    assert rows[1] == rows[5]
    pairs = docs.alias("a").join(docs.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
    ham = {
        (r["ad"], r["bd"]): r["h"]
        for r in pairs.select(
            F.col("a.doc_id").alias("ad"),
            F.col("b.doc_id").alias("bd"),
            hamming64(
                simhash64(F.split("a.text", " ")), simhash64(F.split("b.text", " "))
            ).alias("h"),
        ).collect()
    }
    assert ham[(1, 5)] == 0
    assert ham[(1, 2)] < ham[(1, 4)], "near-dup must be closer than unrelated"


def test_minhash_lsh_recall_vs_blocked_jaccard(spark, sf_dir):
    """LSH candidates must recover the fingerprint-blocked true pairs
    (jaccard ≥ 0.5) with decent recall on the real corpus."""
    truth = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_ngram_jaccard"].build(spark, sf_dir).collect()
    }
    found = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_minhash_lsh"].build(spark, sf_dir).collect()
    }
    if truth:
        recall = len(truth & found) / len(truth)
        assert recall >= 0.7, f"LSH recall {recall:.2f} over {len(truth)} true pairs"
    # every LSH pair is jaccard-verified by construction
    for pair in QUERIES["q_dedup_minhash_lsh"].build(spark, sf_dir).collect():
        assert pair.jaccard >= 0.5


def test_containment_dominates_jaccard_on_shared_pairs(spark, sf_dir):
    """|A∩B|/min >= |A∩B|/union always; and a planted strict-subset doc
    must reach containment 1.0 while its Jaccard stays below threshold."""
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["q_dedup_ngram_jaccard"].build(spark, sf_dir).collect()
    }
    con = {
        (r.doc_a, r.doc_b): r.containment
        for r in QUERIES["q_dedup_ngram_containment"].build(spark, sf_dir).collect()
    }
    for pair, j in jac.items():
        if pair in con:
            assert con[pair] >= j - 1e-12, (pair, con[pair], j)


def test_bloom_filter_fp_fires_and_no_false_negatives(spark, sf_dir):
    """Drive the Bloom machinery at m=256 (saturated for any fixture) so
    false positives actually fire, and prove the no-false-negative
    invariant: every document whose text exists in the historical corpus
    is ALWAYS probe-positive. The registered query runs at m=2^17 where
    fp is deterministically 0; this pins the fp-handling path."""
    from pyspark.sql import functions as F

    from als_pyspark_spark.dedup.queries import _bloom_positions, _new_batch
    from als_pyspark_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    new_docs = _new_batch(d)
    m = 256
    hist_pos = _bloom_positions(d, m=m).select("pos").distinct()
    probed = (
        _bloom_positions(new_docs, "doc_id", m=m)
        .join(F.broadcast(hist_pos.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("pos").alias("n_pos"),
            F.countDistinct(F.when(F.col("hit") == 1, F.col("pos"))).alias("n_hit"),
        )
    )
    cand = {r.doc_id for r in probed.where("n_hit = n_pos").collect()}

    truth = {
        r.doc_id
        for r in new_docs.join(
            d.select(F.md5("text").alias("th")).distinct(),
            F.md5(new_docs.text) == F.col("th"),
            "leftsemi",
        ).collect()
    }
    assert truth <= cand, "Bloom false negative — structurally impossible"
    fp = cand - truth
    assert fp, "m=256 should saturate the filter enough to produce fp"


def test_min_label_components_multihop_chain(spark):
    """The shared CC helper (operators/graph.py min_label_components) must
    resolve MULTI-HOP components — a 4-node path (diameter 3), a separate
    2-clique, and an isolated pair — not just the 3-cliques the semantic
    dedup plant produces. Labels must be the component minimum for every
    member, and nodes without edges must not appear."""
    from als_pyspark_spark.operators.graph import min_label_components

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (100, 200), (7, 5)],
        "src long, dst long",
    )
    got = {r.node: r.label for r in min_label_components(pairs).collect()}
    assert got == {
        10: 10, 20: 10, 30: 10, 40: 10,
        100: 100, 200: 100,
        5: 5, 7: 5,
    }


def test_min_label_components_empty_pairs(spark):
    """An empty pair list is settled at round 1 (its improved count is
    NULL): the result is an empty ``(node, label)`` table, not an error."""
    from als_pyspark_spark.operators.graph import min_label_components

    got = min_label_components(spark.createDataFrame([], "src long, dst long"))
    assert got.columns == ["node", "label"]
    assert got.collect() == []


def test_min_label_components_unconverged_raises_and_releases(spark, monkeypatch):
    """A diameter-3 chain still improves in round 2, so ``max_rounds=2``
    raises instead of returning wrong labels, and once the consumer
    releases the query's deferred caches (as ``runner.built`` does on
    exit) no DataFrame the loop persisted (inputs or rounds) stays
    cached."""
    from pyspark import StorageLevel

    from als_pyspark_spark.caching import release_deferred
    from als_pyspark_spark.operators.graph import min_label_components

    cls, persisted = type(spark.range(1)), []

    def recording(self, *args, _original=cls.persist, **kwargs):
        persisted.append(self)
        return _original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", recording)
    pairs = spark.createDataFrame([(10, 20), (20, 30), (30, 40)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge within 2 rounds"):
        min_label_components(pairs, max_rounds=2)
    monkeypatch.undo()
    release_deferred()
    none = StorageLevel(False, False, False, False, 1)
    assert len(persisted) == 4  # pairs, edges, two rounds
    assert all(p.storageLevel == none for p in persisted)


def test_intra_doc_spans_known_counts(spark, tmp_path):
    """Hand-computable fixture for the sorted-run arithmetic: a doc whose
    5-grams repeat in known multiplicities. tokens = A B C D E A B C D E
    A B C D E → 11 gram positions; gram 'A B C D E' occurs at positions
    0, 5, 10 (3×); every other gram ('B C D E A', 'C D E A B', …) occurs
    2×. So n_grams=11, every position is covered by a repeated gram
    (n_repeated_positions=11), distinct repeated grams = 5."""
    text = " ".join(["a b c d e"] * 3)
    short = "one two three four"  # < 5 tokens → filtered out entirely
    spark.createDataFrame(
        [(1, text, "en", "s", len(text)), (2, short, "en", "s", len(short))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r.doc_id: r.asDict()
        for r in QUERIES["q_dedup_intra_doc_spans"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert set(rows) == {1}
    assert rows[1]["n_grams"] == 11
    assert rows[1]["n_repeated_positions"] == 11
    assert rows[1]["n_distinct_repeated"] == 5


def test_intra_doc_spans_invariants(spark, sf_dir):
    """On real data: positions in repeated runs are bounded by total
    positions, and each distinct repeated gram accounts for ≥2 of them."""
    rows = QUERIES["q_dedup_intra_doc_spans"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_repeated_positions <= r.n_grams
        assert r.n_repeated_positions >= 2 * r.n_distinct_repeated


def test_chunk_level_dedup_counts_cross_doc_duplicates(spark, tmp_path):
    """Two docs sharing their first 32-token chunk, one unique doc, one
    short doc (< 32 tokens, no full chunk): the shared chunk counts as
    duplicated in BOTH carriers, the unique chunks in neither."""
    shared = " ".join(f"w{i}" for i in range(32))
    uniq_a = " ".join(f"a{i}" for i in range(32))
    uniq_b = " ".join(f"b{i}" for i in range(32))
    rows = [
        (1, shared + " " + uniq_a),  # chunks: shared, uniq_a
        (2, shared + " " + uniq_b),  # chunks: shared, uniq_b
        (3, " ".join(f"c{i}" for i in range(40))),  # 1 full chunk, unique
        (4, "too short for any chunk"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks)
        for r in QUERIES["q_dedup_chunk_level"].build(spark, str(tmp_path)).collect()
    }
    assert got == {1: (2, 1), 2: (2, 1), 3: (1, 0)}


def test_substring_spans_unaligned_and_multi_span(spark, tmp_path):
    """The exact-substring tier must catch UNALIGNED verbatim runs (the
    case aligned chunking misses): docs 1 and 2 share a 20-token run at
    different offsets → one maximal span of 20 tokens each; doc 4 carries
    two separated copies of a 16-token run shared with doc 5 → two spans;
    a unique doc produces no row at all."""
    s20 = " ".join(f"s{i}" for i in range(20))
    s16 = " ".join(f"t{i}" for i in range(16))
    pad = lambda pref, n: " ".join(f"{pref}{i}" for i in range(n))
    rows = [
        (1, pad("a", 10) + " " + s20 + " " + pad("b", 8)),
        (2, pad("c", 13) + " " + s20 + " " + pad("d", 5)),
        (3, pad("e", 40)),
        (4, s16 + " " + pad("f", 5) + " " + s16),
        (5, s16),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_spans, r.dup_tokens)
        for r in QUERIES["q_dedup_substring_spans"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert got == {1: (1, 20), 2: (1, 20), 4: (2, 32), 5: (1, 16)}


def test_scrub_spans_removes_exactly_the_covered_tokens(spark, tmp_path):
    """Scrub = the apply side of the span stats: the shared 20-token run
    disappears from both carriers (keeping their unique pre/suffixes in
    order), a unique doc passes through byte-identical, and the doc that
    IS exactly a shared 16-token run scrubs to empty string."""
    s20 = " ".join(f"s{i}" for i in range(20))
    s16 = " ".join(f"t{i}" for i in range(16))
    pad = lambda pref, n: " ".join(f"{pref}{i}" for i in range(n))
    rows = [
        (1, pad("a", 10) + " " + s20 + " " + pad("b", 8)),
        (2, pad("c", 13) + " " + s20 + " " + pad("d", 5)),
        (3, pad("e", 40)),
        (5, s16),
        (6, s16),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned)
        for r in QUERIES["q_dedup_scrub_spans"].build(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (38, 20, pad("a", 10) + " " + pad("b", 8)),
        2: (38, 20, pad("c", 13) + " " + pad("d", 5)),
        3: (40, 0, pad("e", 40)),
        5: (16, 16, ""),
        6: (16, 16, ""),
    }


def test_substring_spans_planted_corpus_wide_boilerplate(spark, tmp_path):
    """Round-10's docstring promised the cross-doc count survives a
    corpus-wide boilerplate key; round 11 made that structural (two-phase
    aggregate: distinct (hh, doc_id) pairs, map-side-combined count per
    hash, AQE-skew-eligible join back) — this pins the SEMANTICS under
    the plant: every doc shares one 16-token banner, so every doc gets
    exactly one 16-token span; a longer shared run still merges into one
    maximal span; the unique tails never produce spans."""
    banner = " ".join(f"bn{i}" for i in range(16))
    pad = lambda pref, n: " ".join(f"{pref}{i}" for i in range(n))
    n_docs = 60
    rows = [(i, banner + " " + pad(f"u{i}_", 24)) for i in range(n_docs)]
    # one pair additionally shares a 20-token run (banner + 4 tokens) to
    # prove merging still works while the hot key is present
    s20 = banner + " " + " ".join(f"x{i}" for i in range(4))
    rows[1] = (1, s20 + " " + pad("q", 10))
    rows[2] = (2, s20 + " " + pad("r", 10))
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_spans, r.dup_tokens)
        for r in QUERIES["q_dedup_substring_spans"]
        .build(spark, str(tmp_path))
        .collect()
    }
    expect = {i: (1, 16) for i in range(n_docs)}
    expect[1] = (1, 20)
    expect[2] = (1, 20)
    assert got == expect


def test_jaccard_prefix_join_is_exact_complete(spark, tmp_path):
    """The prefix-filter tier's whole point: EVERY pair with Jaccard ≥ τ
    is produced (the winnowing tier can miss pairs whose min-fingerprint
    grams differ; MinHash is probabilistic). Verified against a Python
    brute-force over all pairs, and as a superset of the winnowing tier
    on the same fixture."""
    import itertools

    rng_words = [f"w{i}" for i in range(30)]
    # overlapping word windows so gram sets intersect heavily between
    # neighbors, plus exact and near duplicates
    rows = [(i, " ".join(rng_words[i : i + 12])) for i in range(12)]
    rows += [(100, rows[3][1]), (101, rows[3][1] + " zz0 zz1")]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["q_dedup_jaccard_prefix_join"]
        .build(spark, str(tmp_path))
        .collect()
    }

    def grams(text):
        t = text.split(" ")
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    gs = {i: grams(t) for i, t in rows if len(grams(t))}
    want = {}
    for a, b in itertools.combinations(sorted(gs), 2):
        j = len(gs[a] & gs[b]) / len(gs[a] | gs[b])
        if j >= 0.5:
            want[(a, b)] = j
    assert set(got) == set(want), (set(got) ^ set(want))
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12

    # superset of the single-fingerprint-blocked tier at the same τ
    winnow = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_ngram_jaccard"].build(spark, str(tmp_path)).collect()
    }
    assert winnow <= set(got)


def test_label_propagation_python_replay(spark, tmp_path):
    """Synchronous LPA with the deterministic most-frequent-then-smallest
    tie-break must equal a pure-Python replay on a two-clique graph with
    a bridge, and the two cliques must resolve to separate communities."""
    from collections import Counter

    from als_pyspark_spark.operators.graph import _LPA_ROUNDS
    from als_pyspark_spark.registry import load_all_queries

    # suppliers 1-2 × parts {1,2,3}: biclique A; suppliers 5-6 ×
    # {11,12,13}: biclique B; supplier 9 bridges parts 3 and 11
    li = []
    for sk in (1, 2):
        for pk in (1, 2, 3):
            li.append((sk, pk))
    for sk in (5, 6):
        for pk in (11, 12, 13):
            li.append((sk, pk))
    li += [(9, 3), (9, 11)]
    spark.createDataFrame(
        li, "l_suppkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    got = {
        r.community: r.n_members
        for r in load_all_queries()["q_label_propagation_communities"]
        .build(spark, str(tmp_path))
        .collect()
    }

    # pure-Python synchronous replay on the parity-packed bipartite graph
    edges = {(2 * sk, 2 * pk + 1) for sk, pk in li}
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lbl = {n: n for n in adj}
    for _ in range(_LPA_ROUNDS):
        nxt = {}
        for n in adj:
            freq = Counter(lbl[m] for m in adj[n])
            best = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        lbl = nxt
    want = dict(Counter(lbl.values()))
    assert got == want
    # the two cliques resolve to separate communities
    assert len(got) >= 2


def test_kcore_peeling_python_replay(spark, tmp_path):
    """K-core peel on a 3x3 biclique (stable 3-core) plus a 2x3 biclique
    (parts have degree 2 < 3, so round 1 dissolves it entirely) must
    match a pure-Python synchronous replay round for round."""
    from als_pyspark_spark.operators.graph import _KCORE_K, _KCORE_ROUNDS
    from als_pyspark_spark.registry import load_all_queries

    li = [(sk, pk) for sk in (1, 2, 3) for pk in (1, 2, 3)]
    li += [(10, pk) for pk in (11, 12, 13)]
    li += [(11, pk) for pk in (11, 12, 13)]
    spark.createDataFrame(
        li, "l_suppkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    got = {
        r.peel_round: (r.n_nodes, r.n_directed_edges)
        for r in load_all_queries()["q_kcore_peeling"]
        .build(spark, str(tmp_path))
        .collect()
    }

    edges = {(2 * sk, 2 * pk + 1) for sk, pk in li}
    cur = edges | {(b, a) for a, b in edges}
    want = {}
    for r in range(1, _KCORE_ROUNDS + 1):
        deg: dict[int, int] = {}
        for u, _ in cur:
            deg[u] = deg.get(u, 0) + 1
        keep = {u for u, c in deg.items() if c >= _KCORE_K}
        cur = {(u, v) for u, v in cur if u in keep and v in keep}
        want[r] = (len({u for u, _ in cur}), len(cur))
    assert got == want
    # the 3x3 biclique survives (6 nodes), the 2x3 one dissolves
    assert got[_KCORE_ROUNDS] == (6, 18)


def test_adaptive_collapse_paths_identical(spark, sf_dir):
    """Round-12 adaptive clone-class collapse: the class-level and
    doc-level plans are two PHYSICAL strategies for the same operator —
    their outputs must be row-for-row identical (pairs AND verify
    values) on the same fixture, for all three pairwise tiers."""
    from als_pyspark_spark.dedup.queries import (
        _minhash_plan,
        _prefix_join_plan,
        _simhash_plan,
    )

    for plan, val in (
        (_prefix_join_plan, "jaccard"),
        (_minhash_plan, "jaccard"),
        (_simhash_plan, "hamming"),
    ):
        a = {
            (r.doc_a, r.doc_b): r[val]
            for r in plan(spark, sf_dir, True).collect()
        }
        b = {
            (r.doc_a, r.doc_b): r[val]
            for r in plan(spark, sf_dir, False).collect()
        }
        assert a == b, (plan.__name__, set(a) ^ set(b))


def test_adaptive_collapse_decision(spark, tmp_path):
    """The decision statistic: clone-dense fixture → collapse; the
    clone-free standard fixture → doc-level."""
    from als_pyspark_spark.dedup import queries as dq

    rows = [(i, f"doc body number {i % 4} repeated text") for i in range(40)]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    assert dq._collapse_clones(spark, str(tmp_path))  # 4/40 distinct
    assert not dq._collapse_clones(spark, "/root/testdata/sf0.001")


def test_minhash_incremental_witnesses(spark, sf_dir):
    """The incremental near-dup probe's two structural claims:

    - recrawl docs (doc_id %5 == 0, byte-identical to their historical
      self) must self-match exactly: n_hist_matches >= 1 and
      best_jaccard == 1.0 for every recrawl row with enough tokens to
      shingle;
    - the count's grain is DISTINCT HISTORICAL documents — recomputed
      doc-level (no clone-class collapse, count(distinct hist)) it must
      equal the query's class-level sum, so no pair (and in particular
      no batch-internal pair, which the doc-level recount structurally
      cannot contain) is double-counted."""
    from pyspark.sql import functions as F

    from als_pyspark_spark.dedup.queries import (
        _INCR_TAU,
        _NUM_HASHES,
        _SHINGLE_N,
        _new_batch,
        q_dedup_minhash_incremental,
    )
    from als_pyspark_spark.functions.text import tokens, word_ngrams
    from als_pyspark_spark.sources.tables import load_table

    out = q_dedup_minhash_incremental(spark, sf_dir)
    out.persist()

    # recrawl self-match: every %5==0 doc with >= _SHINGLE_N tokens
    d = load_table(spark, sf_dir, "documents")
    eligible = d.where(
        (F.col("doc_id") % 5 == 0)
        & (F.size(tokens(F.col("text"))) >= _SHINGLE_N)
    ).select("doc_id")
    bad = out.join(eligible, "doc_id").where(
        (F.col("n_hist_matches") < 1) | (F.col("best_jaccard") != 1.0)
    )
    assert bad.isEmpty()

    # doc-level recount through the SAME banding pipeline, but with NO
    # clone-class collapse and counting DISTINCT historical doc ids —
    # equality certifies both the collapse (class sizes sum to the doc
    # count) and the no-double-counting grain (a pair colliding in
    # several bands counts once; batch-internal pairs structurally cannot
    # appear because the historical side is the documents table alone)
    from als_pyspark_spark.dedup.queries import _BANDS, _ROWS_PER_BAND
    from als_pyspark_spark.functions.hashing import lsh_bands, minhash_signature

    grams = F.array_distinct(word_ngrams(tokens(F.col("text")), _SHINGLE_N))
    hsig = (
        d.select(F.col("doc_id").alias("hdoc"), grams.alias("hg"))
        .where(F.size("hg") > 0)
        .withColumn("sig", minhash_signature(F.col("hg"), _NUM_HASHES))
    )
    bsig = (
        _new_batch(d)
        .select("doc_id", grams.alias("bg"))
        .where(F.size("bg") > 0)
        .withColumn("sig", minhash_signature(F.col("bg"), _NUM_HASHES))
    )
    hband = hsig.select(
        "hdoc", F.explode(lsh_bands(F.col("sig"), _BANDS, _ROWS_PER_BAND)).alias("band")
    )
    bband = bsig.select(
        "doc_id", F.explode(lsh_bands(F.col("sig"), _BANDS, _ROWS_PER_BAND)).alias("band")
    )
    cand = bband.join(hband, "band").select("doc_id", "hdoc").distinct()
    inter = F.size(F.array_intersect("bg", "hg"))
    union = F.size("bg") + F.size("hg") - inter
    recount = (
        cand.join(bsig.select("doc_id", "bg"), "doc_id")
        .join(hsig.select("hdoc", "hg"), "hdoc")
        .select("doc_id", "hdoc", (inter.cast("double") / union).alias("j"))
        .where(F.col("j") >= _INCR_TAU)
        .groupBy("doc_id")
        .agg(F.countDistinct("hdoc").alias("want"))
    )
    mism = out.join(recount, "doc_id", "left").where(
        F.coalesce(F.col("want"), F.lit(0)) != F.col("n_hist_matches")
    )
    assert mism.isEmpty()
    out.unpersist()
