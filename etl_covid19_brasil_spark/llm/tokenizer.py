"""Unigram language-model tokenizer (SentencePiece-style, Kudo 2018
"Subword Regularization") — the second tokenizer family next to the BPE
pair (queries/llm.py:bpe_train_merges/bpe_apply_merges, SURVEY §2.10).

BPE is greedy-constructive (merge the most frequent pair, repeat); the
unigram LM is probabilistic-reductive: start from a LARGE candidate
piece inventory, fit piece probabilities with EM over all segmentations
of the corpus, and prune low-utility pieces until the target vocabulary
remains. Segmentation under the fitted model is Viterbi (the max-prob
segmentation of each word).

Scale shape (the part that matters at 100 TB):

- **Unique-word collapse.** Every kernel runs per UNIQUE word weighted
  by its corpus count, never per token occurrence — the Zipf collapse
  every serious tokenizer trainer uses (corpus tokens >> unique words;
  one ``groupBy(word).count()`` shuffle buys a ~1e3-1e6x reduction in
  kernel work). Per-word lattices are bounded by word length, so one
  Arrow batch of unique words is constant-memory.
- **Bounded trained state.** The piece inventory is capped (chars +
  top-K multi-char substrings), so the piece table BROADCASTS both
  ways — into the E-step/Viterbi kernels and back out of the M-step —
  exactly the kmeans-centroid pattern (llm/ann.py): train state lives
  on the driver, data never leaves executors.
- **One skinny shuffle per EM iteration**: the E-step emits
  (piece, expected_count) partials — vocabulary-bounded rows, never
  word- or corpus-sized — and one hash aggregate sums them. The
  M-step (normalize + prune) is O(vocab) on the driver.

Determinism contract: Viterbi runs on INTEGER micro-nat piece costs
(the fn_math ``floor(x*1e6 + 0.5)`` policy, proven hash-green in
text_unigram_logprob) with a total tie-break (min NLL, then min piece
count, then lexicographically smallest space-joined segmentation — the
space separator sorts below every [a-z0-9] byte, and two distinct
segmentations of one word are never prefix-related, so the tie-break
has optimal substructure and the linear DP is exact). The DuckDB oracle
enumerates ALL segmentations by recursive CTE and picks the same
minimum — feasible at gate SF, while the engine side stays O(len x
max_piece_len) per unique word at any scale. EM expected counts are
float64 (rows-only by construction — partial-sum order varies with
partitioning); the sequential-reference differential and the EM
monotonicity invariant are pinned in tests/test_tokenizer.py.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _word_counts(docs: DataFrame, text_col: str, doc_col: str) -> DataFrame:
    """(word, c) unique-word counts — the Zipf collapse every kernel
    rides. Tokenization matches the corpus-wide ``_tokens()`` contract
    (lowercase, [a-z0-9] only, whitespace split)."""
    toks = docs.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " ")
                ),
                " +",
            )
        ).alias("word"),
    ).filter(F.col("word") != "")
    return toks, toks.groupBy("word").agg(F.count(F.lit(1)).alias("c"))


def unigram_piece_table(
    docs: DataFrame,
    max_piece_len: int = 4,
    top_multi: int = 200,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Seed piece inventory: every single character (guaranteeing every
    word segments) plus the ``top_multi`` most frequent multi-character
    substrings of length <= ``max_piece_len``, each scored with an
    integer micro-nat NLL from its corpus substring frequency.

    The substring explosion runs over UNIQUE words (JVM-side
    ``transform``/``sequence`` expressions — no Python), weighted by
    word count; one hash aggregate sums piece frequencies; the top-K
    pick is a vocabulary-bounded TakeOrdered. Output is bounded
    (<= top_multi + alphabet), so callers broadcast it."""
    _, wc = _word_counts(docs, text_col, doc_col)
    return _piece_table_from_wc(wc, max_piece_len, top_multi)


def _piece_table_from_wc(
    wc: DataFrame, max_piece_len: int, top_multi: int
) -> DataFrame:
    """:func:`unigram_piece_table` over an existing (word, c) frame —
    callers that already hold (and cache) the unique-word counts reuse
    them instead of re-tokenizing the corpus (r17, unigram_em_train).

    r17 (guide §5 "the driver should do almost no data work" read in
    reverse — BOUNDED state belongs on the driver): the heavy part, the
    substring explode + piece-frequency aggregate and the top-K prune,
    stays distributed; everything after the prune operates on
    <= top_multi + alphabet rows, and every consumer of this table
    collects it immediately (the bounded-trained-state contract in the
    module docstring). The old tail ran the total-frequency aggregate
    and the NLL projection as a crossJoin(broadcast(agg)) PLAN — the
    bounded rows crossed the cluster twice and the doubled `kept`
    subtree cost ~11 extra scheduler jobs per invocation (measured:
    the seed phase of a 3-iteration unigram_em_train was 13 of its 16
    jobs). The tail now runs on the collected rows (identical integer
    freq sums; the same floor(log(tot/freq)*1e6 + 0.5) micro-nat
    policy) and returns a LocalTableScan-backed frame, so consumers'
    own collect costs zero further jobs. Equality with the old plan is
    re-verified exactly (piece/freq/nll_u6 frame compare at sf0.001,
    sf0.01 and sf0.1) and the segment oracle stays hash-green."""
    import math

    subs = (
        wc.select(
            "c",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(word)), s -> "
                    f"transform(sequence(1, least({int(max_piece_len)}, "
                    f"length(word) - s + 1)), l -> substring(word, s, l))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("freq"))
    )
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") >= 2)
        .orderBy(F.desc("freq"), F.asc("piece"))
        .limit(int(top_multi))
    )
    kept = chars.unionByName(multi).toPandas()  # <= top_multi + alphabet
    tot = float(int(kept["freq"].sum()))  # exact long sum, then the same
    # double division + log + floor(x*1e6 + 0.5) the JVM projection ran
    kept["nll_u6"] = [
        int(math.floor(math.log(tot / float(f)) * 1000000 + 0.5))
        for f in kept["freq"]
    ]
    # An Arrow table lands as a LocalRelation (LocalTableScan) under any
    # session conf and at any size, zero included; a pandas frame or a
    # row list becomes pickled rows (Scan ExistingRDD) when Arrow is off.
    return wc.sparkSession.createDataFrame(
        pa.Table.from_pandas(kept, preserve_index=False),
        "piece string, freq long, nll_u6 long",
    )


def _viterbi_word(word: str, table: dict, max_len: int):
    """Exact min-NLL segmentation of one word under integer piece costs,
    with the total (nll, n_pieces, seg-string) tie-break. Linear DP —
    the tie-break has optimal substructure because the space separator
    sorts below every token byte and two distinct segmentations of one
    prefix are never prefix-related as strings."""
    n = len(word)
    best = [None] * (n + 1)
    best[0] = (0, 0, "")
    for j in range(1, n + 1):
        cand = None
        for length in range(1, min(max_len, j) + 1):
            i = j - length
            b = best[i]
            if b is None:
                continue
            nll = table.get(word[i:j])
            if nll is None:
                continue
            seg = word[i:j] if i == 0 else b[2] + " " + word[i:j]
            t = (b[0] + nll, b[1] + 1, seg)
            if cand is None or t < cand:
                cand = t
        best[j] = cand
    return best[n]


def unigram_viterbi_segment(
    docs: DataFrame,
    pieces: "DataFrame | None" = None,
    max_piece_len: int = 4,
    top_multi: int = 200,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Viterbi-segment every document under the unigram piece model —
    the serving half of the tokenizer (SentencePiece ``encode``):
    per-doc word count, total piece count, and total integer micro-nat
    NLL of the min-cost segmentation.

    Plan: one unique-word shuffle, the bounded piece table broadcast
    into a linear-DP Arrow kernel over UNIQUE words, a join back to the
    token stream on ``word`` (Heaps'-law sized — AQE broadcasts it
    while it fits, the same hint-free discipline as
    text_unigram_logprob), and one integer aggregate per doc. All
    output arithmetic is integer, so the aggregation is associative
    and the result hash-stable across partitionings — DuckDB-oracled
    against full segmentation ENUMERATION (recursive CTE) with the
    identical tie-break."""
    # r16 optimization round: collapse the token stream to
    # (doc_id, word, c) ONCE — the unique-word frame the DP kernel
    # rides re-aggregates those keyed rows (an identical subtree AQE
    # stage reuse serves from one exchange), and the join back to the
    # corpus runs over per-doc DISTINCT words weighted by c instead of
    # every occurrence: one tokenize pass instead of two, and a
    # smaller join input (guide §2.3/§2.4). Integer weights keep the
    # per-doc sums bit-identical (oracle re-verified).
    toks, _ = _word_counts(docs, text_col, doc_col)
    tc = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    wc = tc.groupBy("word").agg(F.sum("c").alias("c"))
    if pieces is None:
        # r17: derive the default piece table from THIS wc instead of
        # re-tokenizing the corpus through unigram_piece_table's own
        # _word_counts — identical integer counts, one tokenize pass
        # fewer at build time
        pieces = _piece_table_from_wc(wc, max_piece_len, top_multi)
    pdf = pieces.select("piece", "nll_u6").toPandas()  # bounded by contract
    table = dict(zip(pdf["piece"], pdf["nll_u6"].astype(int)))
    max_len = max((len(p) for p in table), default=1)
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast((table, max_len))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tab, ml = bc.value
        for b in batches:
            if not len(b):
                continue
            rows = []
            for w in b["word"]:
                r = _viterbi_word(w, tab, ml)
                rows.append((w, r[1], r[0]))
            yield pd.DataFrame(rows, columns=["word", "n_pieces", "nll_u6"])

    from etl_covid19_brasil_spark.llm.similarity import _spread

    seg = _spread(wc.select("word")).mapInPandas(
        kernel, schema="word string, n_pieces long, nll_u6 long"
    )
    return (
        tc.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_pieces")).cast("long").alias("n_pieces"),
            F.sum(F.col("c") * F.col("nll_u6")).cast("long").alias("nll_u6_total"),
        )
    )


class UnigramFit(NamedTuple):
    pieces: pd.DataFrame  # (piece, prob) after the final M-step/prune
    log_likelihood: list  # corpus LL (nats) after each EM iteration


def _lattice_e_step(word: str, probs: dict, max_len: int):
    """Forward-backward over the segmentation lattice of one word:
    returns (Z, {piece: expected_count}) where Z is the total
    probability of all segmentations. Standard unigram-LM E-step
    (Kudo 2018 §3.2), float64."""
    n = len(word)
    alpha = np.zeros(n + 1)
    alpha[0] = 1.0
    for j in range(1, n + 1):
        s = 0.0
        for length in range(1, min(max_len, j) + 1):
            p = probs.get(word[j - length : j])
            if p is not None:
                s += alpha[j - length] * p
        alpha[j] = s
    beta = np.zeros(n + 1)
    beta[n] = 1.0
    for i in range(n - 1, -1, -1):
        s = 0.0
        for length in range(1, min(max_len, n - i) + 1):
            p = probs.get(word[i : i + length])
            if p is not None:
                s += p * beta[i + length]
        beta[i] = s
    z = alpha[n]
    exp: dict = {}
    if z <= 0.0:
        return 0.0, exp
    for i in range(n):
        for length in range(1, min(max_len, n - i) + 1):
            piece = word[i : i + length]
            p = probs.get(piece)
            if p is None:
                continue
            exp[piece] = exp.get(piece, 0.0) + alpha[i] * p * beta[i + length] / z
    return z, exp


def unigram_em_train(
    docs: DataFrame,
    n_iters: int = 3,
    vocab_target: "int | None" = None,
    prune_frac: float = 0.2,
    max_piece_len: int = 4,
    top_multi: int = 200,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> UnigramFit:
    """Fit the unigram tokenizer by distributed EM — SentencePiece
    ``--model_type=unigram`` training re-expressed on DataFrames.

    Each iteration: the bounded piece-probability table broadcasts into
    a forward-backward Arrow kernel over UNIQUE words (expected piece
    counts weighted by word count — Kudo 2018 §3.2); the kernel emits
    vocabulary-bounded (piece, expected_count) partials; ONE hash
    aggregate sums them; the M-step normalizes on the driver and, when
    ``vocab_target`` is set, prunes the lowest-expectation
    ``prune_frac`` of multi-char pieces per iteration (never single
    chars — coverage is invariant) until the target remains. Corpus
    log-likelihood Σ c(w)·ln Z(w) is computed from the same pass; EM
    guarantees it non-decreasing while the vocabulary is fixed (pinned
    in tests/test_tokenizer.py, alongside a sequential-reference
    differential). Float expected counts make this rows-only by
    construction — partial-sum order varies with partitioning.

    r17 optimization round (VERDICT r16 item 5 — cut driver
    round-trips, guide §4): each EM iteration is now exactly ONE Spark
    job. The E-step kernel accumulates its (piece, e) partials across
    every batch of its task and yields ONCE per task — vocabulary-
    bounded rows per task — and the collect is a map-only ``toPandas``
    over the cached spread layout; the final piece-keyed sum (the
    M-step's input) runs on the driver over <= n_tasks x vocab rows
    instead of through a hash-aggregate exchange. The unique-word frame
    is spread ONCE and cached in that layout (iterations re-read the
    blocks), and the SEED piece table now derives from the same cached
    frame (:func:`_piece_table_from_wc`) instead of re-tokenizing the
    corpus. Measured jobs per 3-iteration train (job-group probe,
    scripts/job_count_probe.py): 17 -> 11, with the per-iteration cost
    — the part that scales with n_iters — down 3 -> 1 job; the
    remainder is the seed's distributed substring prune and the cache
    materialization. The corpus LL sequence came out byte-identical to
    the old implementation on the gate corpus. Partial-sum order
    changes (task-major instead of hash-fetch order), which this
    operator's contract already declares immaterial — and the
    driver-side sum over partition-ordered partials is actually MORE
    deterministic than the exchange it replaces."""
    from etl_covid19_brasil_spark.llm.similarity import _spread

    spark = docs.sparkSession
    _, wc = _word_counts(docs, text_col, doc_col)
    wc = _spread(wc).cache()
    seed = _piece_table_from_wc(wc, max_piece_len, top_multi).toPandas()
    total = float(seed["freq"].sum())
    probs = {p: f / total for p, f in zip(seed["piece"], seed["freq"])}
    max_len = max(len(p) for p in probs)
    lls: list = []
    try:
        for it in range(int(n_iters)):
            bc = spark.sparkContext.broadcast((probs, max_len))

            def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                pr, ml = bc.value
                acc: dict = {}
                ll = 0.0
                for b in batches:
                    for w, c in zip(b["word"], b["c"]):
                        z, exp = _lattice_e_step(w, pr, ml)
                        if z > 0.0:
                            ll += float(c) * float(np.log(z))
                            for piece, e in exp.items():
                                acc[piece] = acc.get(piece, 0.0) + float(c) * e
                out = pd.DataFrame({"piece": list(acc), "e": list(acc.values())})
                out.loc[len(out)] = ["\x00ll", ll]  # LL rides the same pass
                yield out

            parts = wc.mapInPandas(
                kernel, schema="piece string, e double"
            ).toPandas()  # <= n_tasks x vocab rows by contract
            agg = parts.groupby("piece", sort=False, as_index=False)["e"].sum()
            ll_row = agg["piece"] == "\x00ll"
            lls.append(float(agg.loc[ll_row, "e"].sum()))
            agg = agg[~ll_row]
            exp = dict(zip(agg["piece"], agg["e"]))
            # prune multi-char pieces toward the target (chars immune)
            if vocab_target is not None and len(exp) > vocab_target:
                multi = sorted(
                    ((e, p) for p, e in exp.items() if len(p) > 1)
                )
                n_drop = min(
                    max(int(len(multi) * prune_frac), 1),
                    len(exp) - int(vocab_target),
                    len(multi),
                )
                for _, p in multi[:n_drop]:
                    del exp[p]
            tot = sum(exp.values())
            probs = {p: e / tot for p, e in exp.items() if e > 0.0}
    finally:
        wc.unpersist()
    out = pd.DataFrame(
        sorted(probs.items()), columns=["piece", "prob"]
    )
    return UnigramFit(out, lls)


def _lattice_sample(word: str, probs: dict, max_len: int, alpha: float, rng):
    """Sample one segmentation with P(seg) proportional to
    prod p(piece)^alpha — forward-filtered backward sampling over the
    word lattice (the subword-regularization sampler, Kudo 2018 §3.3,
    here exact over the full lattice rather than an n-best
    approximation). Returns the piece list, or None when the word has
    no segmentation under the piece table (impossible when every
    character is a piece)."""
    n = len(word)
    a = np.zeros(n + 1)
    a[0] = 1.0
    for j in range(1, n + 1):
        s = 0.0
        for length in range(1, min(max_len, j) + 1):
            p = probs.get(word[j - length : j])
            if p is not None:
                s += a[j - length] * (p**alpha)
        a[j] = s
    if a[n] <= 0.0:
        return None
    out = []
    j = n
    while j > 0:
        opts, weights = [], []
        for length in range(1, min(max_len, j) + 1):
            p = probs.get(word[j - length : j])
            if p is not None and a[j - length] > 0.0:
                opts.append(length)
                weights.append(a[j - length] * (p**alpha))
        w = np.asarray(weights)
        pick = opts[int(rng.choice(len(opts), p=w / w.sum()))]
        out.append(word[j - pick : j])
        j -= pick
    out.reverse()
    return out


def _word_rng(word: str, seed: int):
    """Deterministic per-word RNG: the stream depends only on (word,
    seed), never on partitioning or row order — so the distributed
    sample is byte-reproducible across runs and cluster layouts (the
    same engine-portable-hash discipline as the md5 token vectors)."""
    import hashlib

    h = hashlib.md5(f"{word}\x00{seed}".encode()).hexdigest()
    return np.random.default_rng(int(h[:16], 16))


def unigram_sample_segment(
    docs: DataFrame,
    pieces: "DataFrame | None" = None,
    alpha: float = 0.5,
    seed: int = 0,
    max_piece_len: int = 4,
    top_multi: int = 200,
    text_col: str = "text",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Subword-REGULARIZATION segmentation (SentencePiece
    ``encode(..., enable_sampling=True)``): every word segmented by a
    SAMPLE from P(seg) proportional to prod p(piece)^alpha instead of
    the Viterbi argmax — the stochastic tokenization that regularizes
    LM training by exposing it to segmentation variety (Kudo 2018's
    actual contribution; ``alpha`` is the temperature: 1 = the exact
    lattice posterior, 0 = uniform over segmentations, large =
    approaches Viterbi).

    Same plan as :func:`unigram_viterbi_segment` (unique-word collapse,
    bounded piece table broadcast, integer aggregates per doc); piece
    probabilities come from the corpus frequency table (or a fitted
    ``pieces`` frame with a ``prob`` column from
    :func:`unigram_em_train`). Sampling is DETERMINISTIC given
    ``seed``: each word draws from its own (word, seed)-keyed RNG, so
    the result is byte-reproducible across partitionings and runs
    (pinned in tests/test_tokenizer.py alongside the validity and
    distribution-correctness invariants) — no SQL oracle can sample a
    lattice, so the registered query is rows-only by construction."""
    # r16 optimization round: same single-tokenize-pass collapse as
    # unigram_viterbi_segment (see the note there).
    toks, _ = _word_counts(docs, text_col, doc_col)
    tc = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    wc = tc.groupBy("word").agg(F.sum("c").alias("c"))
    if pieces is None:
        # r17: from THIS wc — see unigram_viterbi_segment
        pieces = _piece_table_from_wc(wc, max_piece_len, top_multi)
    pdf = pieces.toPandas()  # bounded by contract
    if "prob" in pdf.columns:
        probs = dict(zip(pdf["piece"], pdf["prob"].astype(float)))
    else:
        total = float(pdf["freq"].sum())
        probs = {p: f / total for p, f in zip(pdf["piece"], pdf["freq"])}
    max_len = max((len(p) for p in probs), default=1)
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast((probs, max_len, float(alpha), int(seed)))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pr, ml, al, sd = bc.value
        for b in batches:
            if not len(b):
                continue
            rows = []
            for w in b["word"]:
                seg = _lattice_sample(w, pr, ml, al, _word_rng(w, sd))
                rows.append((w, len(seg), " ".join(seg)))
            yield pd.DataFrame(rows, columns=["word", "n_pieces", "seg"])

    from etl_covid19_brasil_spark.llm.similarity import _spread

    seg = _spread(wc.select("word")).mapInPandas(
        kernel, schema="word string, n_pieces long, seg string"
    )
    return (
        tc.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_pieces")).cast("long").alias("n_pieces"),
        )
    )
