"""Unigram-LM tokenizer (llm/tokenizer.py, Kudo 2018): the EM training
contract (LL monotonicity at fixed vocabulary, sequential-reference
agreement, prune/coverage invariants) and the Viterbi tie-break's
exactness against brute-force enumeration. The engine-vs-DuckDB oracle
parity of tokenizer_unigram_segment is covered by the registry sweep
(tests/test_oracle.py)."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from etl_covid19_brasil_spark.io import load_table

    return load_table(spark, SF, "documents")


def _enumerate_best(word: str, table: dict, max_len: int):
    """All segmentations by brute force; best by the operator's total
    order (nll, ntok, space-joined seg string)."""
    best = None
    stack = [(0, 0, 0, "")]
    while stack:
        pos, nll, ntok, seg = stack.pop()
        if pos == len(word):
            t = (nll, ntok, seg)
            if best is None or t < best:
                best = t
            continue
        for length in range(1, min(max_len, len(word) - pos) + 1):
            p = word[pos : pos + length]
            if p in table:
                stack.append(
                    (
                        pos + length,
                        nll + table[p],
                        ntok + 1,
                        p if not seg else seg + " " + p,
                    )
                )
    return best


def test_viterbi_dp_equals_enumeration():
    """The linear DP with the (nll, ntok, seg) tie-break must equal
    exhaustive enumeration on every word over a piece table rigged for
    TIES (all costs equal): the tie-break, not the score, decides."""
    from etl_covid19_brasil_spark.llm.tokenizer import _viterbi_word

    pieces = ["a", "b", "c", "ab", "bc", "abc", "cab", "bca"]
    flat = {p: 1000 for p in pieces}  # every piece same cost: all ties
    words = ["".join(t) for n in range(1, 7) for t in itertools.product("abc", repeat=n)]
    for w in words:
        got = _viterbi_word(w, flat, 3)
        want = _enumerate_best(w, flat, 3)
        assert got == want, (w, got, want)
    # and with distinct costs (the generic case)
    costs = {p: 1000 * (i + 1) + 7 * len(p) for i, p in enumerate(pieces)}
    for w in words:
        assert _viterbi_word(w, costs, 3) == _enumerate_best(w, costs, 3), w


@pytest.mark.slow  # 4 distributed EM iterations, measured ~73 s
def test_em_log_likelihood_is_monotone_at_fixed_vocab(spark):
    """The EM guarantee: corpus log-likelihood never decreases across
    iterations while the vocabulary is fixed (no pruning)."""
    from etl_covid19_brasil_spark.llm.tokenizer import unigram_em_train

    fit = unigram_em_train(_docs(spark), n_iters=4, vocab_target=None)
    assert len(fit.log_likelihood) == 4
    for a, b in zip(fit.log_likelihood, fit.log_likelihood[1:]):
        assert b >= a - 1e-6, fit.log_likelihood


def test_em_matches_sequential_reference(spark):
    """One distributed EM iteration must agree with a sequential numpy
    reference over the same word counts and seed probabilities — same
    expected counts (to float tolerance: the only difference is
    partial-sum order) and same corpus LL."""
    from etl_covid19_brasil_spark.llm.tokenizer import (
        _lattice_e_step,
        _word_counts,
        unigram_em_train,
        unigram_piece_table,
    )

    docs = _docs(spark)
    _, wc = _word_counts(docs, "text", "doc_id")
    wc_pdf = wc.toPandas()
    seed = unigram_piece_table(docs).toPandas()
    total = float(seed["freq"].sum())
    probs = {p: f / total for p, f in zip(seed["piece"], seed["freq"])}
    max_len = max(len(p) for p in probs)

    # sequential reference: one E-step + LL
    ref_exp: dict = {}
    ref_ll = 0.0
    for w, c in zip(wc_pdf["word"], wc_pdf["c"]):
        z, exp = _lattice_e_step(w, probs, max_len)
        assert z > 0.0
        ref_ll += float(c) * float(np.log(z))
        for p, e in exp.items():
            ref_exp[p] = ref_exp.get(p, 0.0) + float(c) * e

    fit = unigram_em_train(docs, n_iters=1, vocab_target=None)
    assert fit.log_likelihood[0] == pytest.approx(ref_ll, rel=1e-9)
    ref_tot = sum(ref_exp.values())
    ref_probs = pd.Series(
        {p: e / ref_tot for p, e in ref_exp.items()}
    ).sort_index()
    got_probs = fit.pieces.set_index("piece")["prob"].sort_index()
    assert list(got_probs.index) == list(ref_probs.index)
    np.testing.assert_allclose(got_probs.values, ref_probs.values, rtol=1e-9)


@pytest.mark.slow  # 6 distributed EM iterations, measured ~20 s
def test_em_prune_keeps_chars_and_hits_target(spark):
    """Pruning must never drop a single-character piece (coverage
    invariant — every word stays segmentable) and must reach the
    requested vocabulary target given enough iterations."""
    from etl_covid19_brasil_spark.llm.tokenizer import (
        unigram_em_train,
        unigram_piece_table,
    )

    docs = _docs(spark)
    seed = unigram_piece_table(docs).toPandas()
    chars = set(seed.loc[seed["piece"].str.len() == 1, "piece"])
    fit = unigram_em_train(docs, n_iters=6, vocab_target=60, prune_frac=0.3)
    kept = set(fit.pieces["piece"])
    assert chars <= kept
    assert len(kept) <= 60 + len(chars)  # chars are immune to the target
    assert (fit.pieces["prob"] > 0).all()
    assert fit.pieces["prob"].sum() == pytest.approx(1.0)


def test_segment_covers_every_doc_and_is_char_consistent(spark):
    """Every document with at least one token must appear exactly once,
    and n_pieces is bounded by the char count (pieces >= 1 char) and
    >= n_words (a piece never crosses a word boundary)."""
    import pyspark.sql.functions as F

    from etl_covid19_brasil_spark.llm.tokenizer import unigram_viterbi_segment

    docs = _docs(spark)
    seg = unigram_viterbi_segment(docs).toPandas()
    assert seg["doc_id"].is_unique
    n_docs_with_tokens = (
        docs.select(
            F.length(
                F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "))
            ).alias("L")
        )
        .filter(F.col("L") > 0)
        .count()
    )
    assert len(seg) == n_docs_with_tokens
    assert (seg["n_pieces"] >= seg["n_words"]).all()
    assert (seg["nll_u6_total"] > 0).all()


def test_sample_segmentations_are_valid_and_reproducible(spark):
    """Every sampled segmentation must concatenate back to its word
    (checked via the per-doc piece-count bounds), and the distributed
    sample must be byte-reproducible: the per-word RNG is keyed on
    (word, seed), never on partitioning."""
    from etl_covid19_brasil_spark.llm.tokenizer import unigram_sample_segment

    docs = _docs(spark)
    a = unigram_sample_segment(docs, alpha=0.5, seed=3).toPandas()
    b = unigram_sample_segment(docs, alpha=0.5, seed=3).toPandas()
    key = ["doc_id"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )
    assert (a["n_pieces"] >= a["n_words"]).all()
    # a different seed must actually move some segmentation
    c = unigram_sample_segment(docs, alpha=0.5, seed=4).toPandas()
    merged = a.merge(c, on="doc_id", suffixes=("_a", "_c"))
    assert (merged["n_pieces_a"] != merged["n_pieces_c"]).any()


def test_sample_distribution_matches_lattice_posterior():
    """The sampler must draw from the exact alpha-powered lattice
    posterior: on a rigged two-segmentation word, empirical frequencies
    over many seeds match the enumerated probabilities (alpha=1), and
    alpha=0 is uniform over segmentations."""
    from etl_covid19_brasil_spark.llm.tokenizer import (
        _lattice_sample,
        _word_rng,
    )

    probs = {"a": 0.3, "b": 0.1, "ab": 0.6}
    # segmentations of "ab": [ab] with p 0.6, [a, b] with p 0.03
    want_ab = 0.6 / (0.6 + 0.03)
    n = 4000
    hits = sum(
        _lattice_sample("ab", probs, 2, 1.0, _word_rng("ab", s)) == ["ab"]
        for s in range(n)
    )
    assert abs(hits / n - want_ab) < 0.02, hits / n
    hits0 = sum(
        _lattice_sample("ab", probs, 2, 0.0, _word_rng("ab", s)) == ["ab"]
        for s in range(n)
    )
    assert abs(hits0 / n - 0.5) < 0.02, hits0 / n


def test_unigram_train_frame_is_arrow_backed_without_arrow_conf(spark):
    """tokenizer_unigram_train builds its result from an Arrow table, so
    a session that leaves ``spark.sql.execution.arrow.pyspark.enabled``
    off still plans a LocalTableScan, not a pickled-row ExistingRDD whose
    every job spawns Python workers — and returns the same rows."""
    from etl_covid19_brasil_spark.queries.llm import tokenizer_unigram_train

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    want = tokenizer_unigram_train(spark, SF).collect()
    spark.conf.set(key, "false")
    try:
        df = tokenizer_unigram_train(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = df.collect()
    finally:
        spark.conf.set(key, old)
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan
    assert got == want


def test_unigram_piece_table_is_arrow_backed_without_arrow_conf(spark):
    """unigram_piece_table builds its bounded result from an Arrow table,
    so a session with ``spark.sql.execution.arrow.pyspark.enabled`` off
    still plans a LocalTableScan — for the empty inventory too — rather
    than a pickled-row ExistingRDD whose every job spawns Python workers."""
    from etl_covid19_brasil_spark.llm.tokenizer import unigram_piece_table

    docs = _docs(spark)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        tables = [unigram_piece_table(d) for d in (docs, docs.limit(0))]
        plans = [t._jdf.queryExecution().executedPlan().toString() for t in tables]
    finally:
        spark.conf.set(key, old)
    for plan in plans:
        assert "ExistingRDD" not in plan, plan
        assert "LocalTableScan" in plan, plan
