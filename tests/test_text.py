"""BPE tokenizer-family invariants.

Two coupling pins the round-13 verdict asked for, plus an independent
sequential-reference identity gate for the chunked (in-plan merge
resolution) trainer:

- the Spark side tokenizes with ``tokens()`` while the BPE oracles
  hardcode DuckDB ``string_split(text, ' ')`` — pin ``tokens()`` to
  exact single-space-split semantics on crafted inputs so a future
  ``tokens()`` change fails HERE instead of silently diverging the pair;
- the encode oracle must compose the train oracle's CTE chain VERBATIM
  (the q_pipeline_e2e substitution discipline) so train and encode
  cannot drift.
"""

from __future__ import annotations

from collections import Counter

import duckdb

from als_pyspark_spark.functions.text import tokens


def test_bpe_tokenizer_is_single_space_split(spark):
    """tokens() must mean EXACTLY split-on-one-space — tabs are not
    separators, runs of spaces yield empty tokens, leading/trailing
    spaces yield leading/trailing empties — because the BPE oracles
    hardcode string_split(text, ' ') on the DuckDB side."""
    cases = [
        ("a b", ["a", "b"]),
        ("a  b", ["a", "", "b"]),
        ("a\tb c", ["a\tb", "c"]),
        (" a b ", ["", "a", "b", ""]),
        ("", [""]),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = {r["text"]: r["toks"] for r in df.select("text", tokens("text").alias("toks")).collect()}
    for text, want in cases:
        assert got[text] == want, (text, got[text], want)


def test_bpe_oracles_compose_from_shared_ctes():
    """The encode oracle contains the train oracle's CTE chain verbatim
    (one source string, two readers), and both sides' corpus tokenization
    is the hardcoded single-space split the Spark-side pin above covers."""
    from als_pyspark_spark.functions.text_queries import _bpe_train_ctes
    from als_pyspark_spark.registry import QUERIES

    import als_pyspark_spark.functions.text_queries  # noqa: F401

    ctes = _bpe_train_ctes()
    train = QUERIES["q_bpe_train_merges"].oracle
    encode = QUERIES["q_bpe_encode_corpus"].oracle
    assert ctes in train, "train oracle no longer embeds the shared CTE chain"
    assert ctes in encode, "encode oracle no longer embeds the shared CTE chain"
    assert "string_split(text, ' ')" in ctes


def _sequential_bpe_reference(sf_dir: str, max_merges: int, min_pair: int):
    """Pure-Python Sennrich trainer over the fixture's word table: exact
    pair counts (all adjacencies), argmax by (count desc, pair lex asc),
    greedy left-to-right non-overlapping merge. The independent reference
    the chunked in-plan trainer must reproduce EXACTLY."""
    rows = duckdb.connect().execute(
        f"""SELECT tok, COUNT(*) FROM (
            SELECT UNNEST(string_split(text, ' ')) AS tok
            FROM '{sf_dir}/documents.parquet')
        WHERE len(tok) >= 2 GROUP BY tok"""
    ).fetchall()
    words = [(tuple(t), c) for t, c in rows]

    def greedy(syms, left, right):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    merges = []
    for rnd in range(1, max_merges + 1):
        pc = Counter()
        for syms, wc in words:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc
        if not pc:
            break
        (left, right), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair:
            break
        words = [(greedy(s, left, right), c) for s, c in words]
        vocab = len({sym for s, _ in words for sym in s})
        toks = sum(len(s) * c for s, c in words)
        merges.append((rnd, left, right, left + right, n, vocab, toks))
    return merges


def test_bpe_trainer_matches_sequential_reference(spark, sf_dir):
    """The trainer (Spark corpus collapse + driver-side merge loop since
    round 14) must learn a merge table IDENTICAL to this file's
    independent reference — a separate Sennrich loop whose word table
    comes from DuckDB, not Spark (rounds, pairs, counts, after-stats)."""
    from als_pyspark_spark.functions.text_queries import (
        _BPE_MERGES,
        _BPE_MIN_PAIR,
        _bpe_train,
    )

    got = _bpe_train(spark, sf_dir)
    want = _sequential_bpe_reference(sf_dir, _BPE_MERGES, _BPE_MIN_PAIR)
    assert got == want
    # pair counts are monotone non-increasing (the oracle's early-stop
    # soundness argument)
    counts = [r[4] for r in got]
    assert counts == sorted(counts, reverse=True)


def test_bpe_trainer_driver_budget_guard(spark, sf_dir, monkeypatch):
    """The round-15 driver-collect guard: a distinct-word table over the
    configured row budget must raise a clear error BEFORE collecting to
    the driver (pointing at the archived in-plan trainer), never OOM."""
    import pytest

    from als_pyspark_spark.functions import text_queries

    monkeypatch.setattr(text_queries, "_BPE_DRIVER_ROW_BUDGET", 1)
    with pytest.raises(ValueError, match="driver collect budget"):
        text_queries._bpe_train(spark, sf_dir)


def test_bpe_encode_per_doc_bounds(spark, sf_dir):
    """Per document: every token encodes to at least 1 symbol and at most
    its character count, so n_words <= n_bpe_tokens <= n_chars."""
    from als_pyspark_spark.registry import QUERIES

    import als_pyspark_spark.functions.text_queries  # noqa: F401

    df = QUERIES["q_bpe_encode_corpus"].build(spark, sf_dir)
    bad = df.where(
        (df.n_bpe_tokens < df.n_words) | (df.n_bpe_tokens > df.n_chars)
    )
    assert bad.isEmpty()
