"""Semantic properties of the curation operators (the oracle gate
proves Spark≡DuckDB; these prove the operators mean what they claim — and
that their plans keep the scale-critical shape)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from als_pyspark_spark.plans.inspect import plan_of
from als_pyspark_spark.registry import load_all_queries
from als_pyspark_spark.runner import built
from als_pyspark_spark.sources.tables import load_table

QUERIES = load_all_queries()


def test_repetition_metrics_match_python_counts(spark, sf_dir):
    """top_tok_n from the sorted-run fold equals a literal Counter."""
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").limit(50).collect()
    }
    got = {
        r.doc_id: (r.n_toks, r.n_distinct, r.top_tok_n)
        for r in QUERIES["q_repetition_metrics"].build(spark, sf_dir).collect()
    }
    for doc_id, text in docs.items():
        toks = text.split(" ")
        c = Counter(toks)
        assert got[doc_id] == (len(toks), len(c), max(c.values())), doc_id


def test_repetition_metrics_add_no_shuffle(spark, sf_dir):
    """The whole point vs the explode→groupBy twin: zero exchanges."""
    plan = plan_of(QUERIES["q_repetition_metrics"].build(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_boilerplate_ngrams_nonvacuous_and_bounded(spark, sf_dir):
    rows = QUERIES["q_boilerplate_ngrams"].build(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    # every reported gram really occurs in >= threshold distinct docs
    d = load_table(spark, sf_dir, "documents")
    gram = rows[0].gram
    n = (
        d.where(F.col("text").contains(gram))
        .select("doc_id")
        .distinct()
        .count()
    )
    assert n >= rows[0].n_docs  # contains() may over-match; never under


def test_boilerplate_uses_take_ordered(spark, sf_dir):
    with built(spark, QUERIES["q_boilerplate_ngrams"], sf_dir) as top:
        plan = plan_of(top)
    assert "TakeOrderedAndProject" in plan, plan


def test_quality_gate_reasons_partition_and_agree_with_metrics(spark, sf_dir):
    gate = {
        r.doc_id: (r.reason, r.keep)
        for r in QUERIES["q_quality_gate"].build(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    assert len(gate) == d.count()
    for reason, keep in gate.values():
        assert keep == (reason == "ok")
    # too_short docs really are short
    m = {
        r.doc_id: r.n_toks
        for r in QUERIES["q_repetition_metrics"].build(spark, sf_dir).collect()
    }
    for doc_id, (reason, _) in gate.items():
        if reason == "too_short":
            assert m[doc_id] < 20
        if reason == "too_long":
            assert m[doc_id] > 400


def test_curriculum_stages_are_quartiles(spark, sf_dir):
    rows = QUERIES["q_curriculum_stages"].build(spark, sf_dir).collect()
    n = len(rows)
    by_stage = Counter(r.stage for r in rows)
    assert set(by_stage) <= {1, 2, 3, 4}
    # discrete quartiles: each stage holds ~25% (ties can shift boundaries
    # by the multiplicity of a single n_chars value)
    for s in (1, 2, 3, 4):
        assert by_stage[s] > 0, by_stage
    assert sum(by_stage.values()) == n
    # monotone: every stage-1 doc is <= every stage-4 doc in n_chars
    max1 = max(r.n_chars for r in rows if r.stage == 1)
    min4 = min(r.n_chars for r in rows if r.stage == 4)
    assert max1 <= min4


def test_curriculum_has_no_global_window(spark, sf_dir):
    """Scale guard: quartile staging must NOT plan a single-partition
    window (the ntile trap) — thresholds ride broadcasts."""
    plan = plan_of(QUERIES["q_curriculum_stages"].build(spark, sf_dir))
    assert "Window" not in plan, plan


def test_token_length_histogram_shares_sum_to_one(spark, sf_dir):
    rows = QUERIES["q_token_length_histogram"].build(spark, sf_dir).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    assert sum(r.n_docs for r in rows) == load_table(
        spark, sf_dir, "documents"
    ).count()


def test_mixture_rebalance_invariants(spark, sf_dir):
    rows = QUERIES["q_mixture_rebalance"].build(spark, sf_dir).collect()
    assert {r.source for r in rows} == {"src0", "src1", "src2", "src3"}
    for r in rows:
        assert 0.0 < r.sample_rate <= 1.0
        assert r.n_keep <= r.n_docs
        # a source under its target keeps everything
        if r.sample_rate == 1.0:
            assert r.n_keep == r.n_docs


def test_ngram_novelty_doc_zero_is_fully_novel(spark, sf_dir):
    """doc_id 0 is the corpus's first document, so every one of its grams
    first occurs there: novelty == 1.0. And novelty is a valid fraction
    everywhere with n_novel <= n_grams."""
    rows = QUERIES["q_ngram_novelty"].build(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id[0].novelty == 1.0
    for r in rows:
        assert 0 <= r.n_novel <= r.n_grams
        assert abs(r.novelty - r.n_novel / r.n_grams) < 1e-12


def test_hll_sketch_estimates_within_bound(spark, sf_dir):
    """HLL estimates (default lgK=12: ~2.5% typical error) must land
    within 5% of the exact distinct counts, per type and merged."""
    est = {
        r.event_type: r.est_users
        for r in QUERIES["q_hll_sketch_union"].build(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact["<all>"] = e.select("user_id").distinct().count()
    assert set(est) == set(exact)
    for k, v in exact.items():
        assert abs(est[k] - v) / v <= 0.05, (k, est[k], v)


def test_vocab_encode_oov_is_zero_and_ids_bounded(spark, sf_dir):
    rows = QUERIES["q_vocab_encode_docs"].build(spark, sf_dir).collect()
    assert rows
    ids = {r.token_id for r in rows}
    assert all(0 <= i <= 500 for i in ids)
    # every encoded doc reproduces its token count
    n_by_doc = {}
    for r in rows:
        n_by_doc[r.doc_id] = max(n_by_doc.get(r.doc_id, 0), r.pos + 1)
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 50)
        .collect()
    )
    for d in docs:
        assert n_by_doc[d.doc_id] == len(d.text.split(" "))


def test_event_sequences_ordered_by_time(spark, sf_dir):
    rows = QUERIES["q_user_event_sequences"].build(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    one = rows[0]
    want = [
        r.event_type
        for r in e.where(F.col("user_id") == one.user_id)
        .orderBy("ts", "event_id")
        .collect()
    ]
    assert one.seq.split(" ") == want
    assert one.seq_len == len(want)
