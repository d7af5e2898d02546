"""Late-interaction (ColBERT MaxSim) retrieval — scan and prefiltered
forms sharing one exact scoring core.

``rank_maxsim_topk`` (r14) ships the SCAN form: every candidate token
meets every query token (a broadcast of the 16 x <=8-token query side
over the corpus token stream — linear in the corpus, the right plan at
the declared serving shape). Its docstring promised the standard
ColBERT growth path for when the corpus or query side grows: a
token-bucket PREFILTER that generates candidate (query_doc, doc) pairs
from an LSH collision join over the token vectors, then scores ONLY the
candidates exactly (VERDICT r14 item 7). This module lands both behind
one routing function:

- scoring is ONE implementation (:func:`_maxsim_score`) — hash-derived
  integer token embeddings, exact int64 dots as one Arrow matmul per
  batch against the broadcast query matrix (r16 — the per-pair column
  expressions measured ~6x slower outside effective codegen),
  in-kernel per-(doc, q-token-slot) partial maxes, one doc-sized
  merge aggregate, WindowGroupLimit top-k — so the prefiltered form
  differs from the scan ONLY in which pairs reach it;
- candidate generation replays the engine's LSH discipline
  (:func:`~.ann._planes` sign buckets, multi-table OR) over the token
  vectors: token rows shuffle as skinny (table, code) buckets, a hash
  join meets query and candidate tokens per bucket, and the top
  ``cand_k`` docs per query by COLLISION COUNT (see
  :func:`maxsim_candidates` — bare bucket membership prunes nothing on
  shared-vocabulary corpora) are the ONLY pairs the scorer sees. Docs
  outside that candidate set are never scored — that is the
  approximation (recall floor pinned in tests/test_maxsim.py; the
  scan form remains the exact reference and the DuckDB-oracled query).

Scale shape of the prefiltered form: bucket join volume is
sum_buckets |q_tokens_in_bucket| x |corpus_tokens_in_bucket| — with
P sign planes the expected bucket holds |tokens|/2^P rows, so the
candidate stream shrinks geometrically in P where the scan's is
|q_tokens| x |corpus_tokens| flat (the 8x probe in SCALECHECK_r15
measures the reduction). The pair list is bounded by construction
(n_query_docs x cand_k rows), so it rides the scoring kernel's
broadcast as an allowed-set mask (r16) and the exact-scoring stage is
linear in the CANDIDATE set, not the corpus.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from etl_covid19_brasil_spark.llm.ann import _planes

# Above this estimated token-stream size the default route engages the
# prefilter (the scan's candidate stream is |q_tokens| x |tokens|); the
# gate/bench corpora sit far below it, so registered defaults keep the
# exact scan and its oracle.
MAXSIM_SCAN_MAX_TOKENS = 1_000_000

# Token-vector geometry (fixed by the r14 oracle contract): 8 integer
# components in [-3, 3], each the ascii of an md5 hex digit mod 7 - 3.
MAXSIM_DIM = 8


def token_vec(token: Column, dim: int = MAXSIM_DIM) -> Column:
    """Hash-derived integer token embedding (engine-portable md5 — the
    embedding_random_projection pattern; exact int64 dots)."""
    return F.array(
        *[
            (
                F.ascii(
                    F.substring(F.md5(F.concat_ws("#", token, F.lit(str(j)))), 1, 1)
                )
                % 7
                - 3
            ).cast("long")
            for j in range(1, dim + 1)
        ]
    )


def _maxsim_score(
    pairs: DataFrame,
    comp: DataFrame,
    qcomp: DataFrame,
    k: int,
    max_doc_tokens: int = 8,
) -> DataFrame:
    """Exact MaxSim top-``k``: the bounded query side (n_query_docs x
    <= max_doc_tokens token vectors) broadcasts as a NUMPY MATRIX into
    an Arrow kernel over the corpus token stream — the query-side
    broadcast scan of ``ann_search`` (llm/similarity.py:
    ``_broadcast_scan``) applied to
    late-interaction scoring (r16).

    Each batch computes EVERY (corpus token, query token) dot as one
    int64 matmul and reduces per-doc / per-(query, slot) maxes INSIDE
    the kernel, emitting one skinny row per doc per batch (doc_id +
    n_qdocs x max_doc_tokens nullable slot-max columns). One hash
    aggregate merges the partial maxes across batches — the only
    exchange, doc-count-sized regardless of token count — then each
    query doc's present slots sum into its MaxSim score (`+`, not a
    null-skipping sum: a pair whose every slot is NULL — the self-pair,
    or a doc outside the prefilter candidate set — propagates NULL and
    drops, reproducing the r14 shape's pair exclusions exactly), and
    the per-query top-k ships as the usual WindowGroupLimit pair.

    Why a kernel and not column expressions: this scoring is the
    engine's measured case of "built-ins until they can't" — the
    row-per-pair zip_with dot AND the r16 pivoted 8-slot unrolled
    arithmetic both evaluated outside effective codegen above the
    cross join (measured ~2 s PER SLOT on 640k candidate rows at the
    sf0.1 bench shape — ~26 s total, vs ~6 s for the same plan with
    constant dots; the matmul form computes the identical dots in
    milliseconds). All arithmetic stays exact: int64 dots, integer
    maxes, long sums — bit-identical to the r14 plan, which the DuckDB
    oracle pins.

    ``pairs`` (prefiltered form): bounded by construction at
    n_query_docs x cand_k rows, so it collects and rides the same
    broadcast as an allowed-set mask — docs outside a query's candidate
    set stay at the sentinel and are never scored."""
    spark = comp.sparkSession
    out_schema = (
        "query_doc long, doc_id long, maxsim long, rank int"
    )
    q_pdf = qcomp.orderBy("query_doc", "q_token").toPandas()  # bounded
    if q_pdf.empty:
        return spark.createDataFrame([], schema=out_schema)
    qdoc_ids = np.sort(q_pdf["query_doc"].unique()).astype(np.int64)
    qdoc_pos = {int(q): i for i, q in enumerate(qdoc_ids)}
    n_cols = len(qdoc_ids) * max_doc_tokens
    slot_of_row = np.empty(len(q_pdf), dtype=np.int64)
    seen: dict = {}
    for r, qd in enumerate(q_pdf["query_doc"]):
        s = seen.get(qd, 0)
        if s >= max_doc_tokens:
            # guard the tokens_preselected contract (ADVICE r16): a
            # caller that skipped the first-max_doc_tokens selection but
            # passed more tokens would silently bleed this doc's slots
            # into the NEXT query doc's columns, corrupting both scores.
            # The query frame is bounded, so the check is free.
            raise ValueError(
                f"query doc {qd} carries more than max_doc_tokens="
                f"{max_doc_tokens} tokens; select the first "
                f"{max_doc_tokens} distinct tokens per doc (or drop "
                "tokens_preselected=True) before scoring"
            )
        seen[qd] = s + 1
        slot_of_row[r] = qdoc_pos[int(qd)] * max_doc_tokens + s
    q_mat = np.stack(q_pdf["q_vec"].to_numpy()).astype(np.int64)
    allowed = None
    if pairs is not None:
        # bounded: n_query_docs x cand_k rows by construction
        p_pdf = pairs.toPandas()
        allowed = {
            int(qd): np.asarray(sorted(g["doc_id"]), dtype=np.int64)
            for qd, g in p_pdf.groupby("query_doc")
        }
    SENT = np.iinfo(np.int64).min
    bc = spark.sparkContext.broadcast(
        (qdoc_ids, q_mat, slot_of_row, n_cols, allowed)
    )

    def kernel(batches) -> "pd.DataFrame":
        import pandas as pd

        q_ids, qm, slots, nc, allow = bc.value
        for b in batches:
            if not len(b):
                continue
            docs = b["doc_id"].to_numpy(dtype=np.int64)
            v = np.stack(b["vec"].to_numpy()).astype(np.int64)
            dots = v @ qm.T  # (B, n_qtok_total) exact int64
            full = np.full((len(b), nc), SENT, dtype=np.int64)
            full[:, slots] = dots
            S = nc // len(q_ids)  # slots per query doc (= max_doc_tokens)
            for j, qd in enumerate(q_ids):
                sl = slice(j * S, (j + 1) * S)
                mask = docs == qd
                if allow is not None:
                    mask |= ~np.isin(docs, allow.get(int(qd), np.empty(0, dtype=np.int64)))
                if mask.any():
                    full[mask, sl] = SENT
            out = pd.DataFrame(full, columns=[f"c{i}" for i in range(nc)])
            out.insert(0, "doc_id", docs)
            g = out.groupby("doc_id", sort=False).max().reset_index()
            # r17 (VERDICT r16 item 8): the SENT -> NULL conversion used
            # to run one boolean `.loc` assignment per slot column —
            # n_qdocs x max_doc_tokens Python-level pandas ops per
            # batch, the measured super-linear term in the n_qdocs
            # sweep (scripts/maxsim_qdocs_probe.py). One numpy mask
            # over the whole block + nullable-array wrapping is
            # bit-identical and O(cells) in C.
            vals = g.iloc[:, 1:].to_numpy(dtype=np.int64)
            mask = vals == SENT
            data = {"doc_id": g["doc_id"].to_numpy(dtype=np.int64)}
            for i, c in enumerate(g.columns[1:]):
                data[c] = pd.arrays.IntegerArray(vals[:, i], mask[:, i])
            yield pd.DataFrame(data)

    part_schema = "doc_id long, " + ", ".join(
        f"c{i} long" for i in range(n_cols)
    )
    partial = comp.select("doc_id", "vec").mapInPandas(kernel, schema=part_schema)
    merged = partial.groupBy("doc_id").agg(
        *[F.max(f"c{i}").alias(f"c{i}") for i in range(n_cols)]
    )
    n_slots = {int(qd): int(n) for qd, n in seen.items()}
    structs = []
    for j, qd in enumerate(qdoc_ids):
        score = None
        for s in range(n_slots[int(qd)]):
            c = F.col(f"c{j * max_doc_tokens + s}")
            score = c if score is None else score + c
        structs.append(
            F.struct(
                F.lit(int(qd)).cast("long").alias("query_doc"),
                score.alias("maxsim"),
            )
        )
    scores = (
        merged.select("doc_id", F.explode(F.array(*structs)).alias("s"))
        .select(F.col("s.query_doc").alias("query_doc"), "doc_id", F.col("s.maxsim").alias("maxsim"))
        .filter(F.col("maxsim").isNotNull())
    )
    w = Window.partitionBy("query_doc").orderBy(F.col("maxsim").desc(), F.col("doc_id").asc())
    return scores.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _bucket_cols(vec: Column, planes) -> Column:
    """Array of per-table sign-bucket codes for an integer token vector
    — pure JVM expressions (the float plane weights fold to literals),
    one code per LSH table."""
    codes = []
    for t in range(planes.shape[0]):
        code = F.lit(0)
        for p in range(planes.shape[1]):
            proj = F.lit(0.0)
            for i in range(planes.shape[2]):
                proj = proj + vec[i].cast("double") * F.lit(float(planes[t, p, i]))
            code = code + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
        codes.append(code)
    return F.array(*codes)


def maxsim_candidates(
    comp: DataFrame,
    qcomp: DataFrame,
    n_tables: int = 2,
    n_planes: int = 8,
    cand_k: int = 64,
) -> DataFrame:
    """LSH token-bucket candidate generation: the ``cand_k`` docs per
    query doc with the MOST token-bucket collisions (then doc_id asc —
    deterministic). Skinny shuffle — (table, code, doc_id) triples,
    never vectors; the query side is tiny and broadcast.

    Why a CAP and not bare collision membership: on shared-vocabulary
    corpora (every real text corpus) common tokens collide universally
    — measured at the gate corpus, bare membership kept 7979 of 7984
    possible pairs, i.e. pruned nothing. Collision COUNT is the
    standard ColBERT candidate signal (identical tokens collide in
    every table and contribute the maximal per-token dot, so heavy
    colliders are exactly the high-MaxSim docs), and the per-query cap
    makes the exact-scoring stage's size STRUCTURAL:
    n_query_docs x cand_k pairs regardless of corpus size. The window
    is a WindowGroupLimit over skinny (query_doc, doc_id, hits) rows.

    ``cand_k`` knee, measured (VERDICT r15 item 5, SCALECHECK_r16): on
    the gate corpus recall vs the scan is 0.887 at the default 64
    (floor 0.8 pinned). On an ADVERSARIAL shared-vocabulary corpus
    (Zipf-1.1 draws from one 1500-word vocabulary, 8 tokens/doc) the
    same default measures 0.40 at 8x and 0.25 at 32x, rising roughly
    linearly in cand_k (128 -> 0.55/0.45); idf-weighting the collisions
    was measured worth only +0.03 and is not taken. The collapse is a
    property of THIS engine's oracle-exact token embeddings, not of the
    prefilter shape: token vectors are md5-derived, so unrelated tokens
    draw high dots by CHANCE and that score mass is invisible to any
    token-identity signal — real ColBERT embeddings are semantically
    smooth, buckets group genuinely similar vectors, and the collision
    signal tracks the score by construction. Operational guidance the
    sweep supports: on corpora where query-relevant mass rides shared
    tokens (real text), the default holds; where scores are
    near-random across docs, scale cand_k with the corpus (the cap is
    absolute, so fixed cand_k covers a shrinking fraction) or pin the
    exact scan."""
    planes = _planes(n_tables, n_planes, MAXSIM_DIM)
    cand_b = comp.select(
        "doc_id", F.posexplode(_bucket_cols(F.col("vec"), planes)).alias("tbl", "code")
    )
    q_b = qcomp.select(
        "query_doc",
        F.posexplode(_bucket_cols(F.col("q_vec"), planes)).alias("tbl", "code"),
    ).distinct()
    hits = (
        cand_b.join(F.broadcast(q_b), ["tbl", "code"])
        .filter(F.col("doc_id") != F.col("query_doc"))
        .groupBy("query_doc", "doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("query_doc").orderBy(
        F.col("hits").desc(), F.col("doc_id").asc()
    )
    return (
        hits.withColumn("cr", F.row_number().over(w))
        .filter(F.col("cr") <= cand_k)
        .select("query_doc", "doc_id")
    )


def maxsim_topk(
    toks: DataFrame,
    k: int = 5,
    n_query_docs: int = 16,
    max_doc_tokens: int = 8,
    prefilter: "bool | None" = None,
    n_tables: int = 2,
    n_planes: int = 8,
    cand_k: int = 64,
    est_tokens: int | None = None,
    query_docs: "DataFrame | None" = None,
    tokens_preselected: bool = False,
) -> DataFrame:
    """MaxSim top-``k`` docs per query doc over a (doc_id, token) frame.

    ``prefilter=None`` routes on the estimated token-stream size (the
    dispatcher discipline): the exact scan below
    :data:`MAXSIM_SCAN_MAX_TOKENS` — where one corpus pass amortized
    over the bounded query side is the measured-right plan — and the
    LSH token-bucket prefilter above it. Explicit True/False pins the
    form (the registered queries pin scan for the oracle and prefilter
    for the growth-path row). Output schema is identical either way:
    (query_doc, doc_id, maxsim, rank).

    ``query_docs``: the DOCUMENT-table frame (any frame with a
    ``doc_id`` column) the first ``n_query_docs`` query ids are drawn
    from. Pass the document table itself so the selection matches the
    oracle's ``SELECT doc_id FROM documents ORDER BY doc_id LIMIT n``
    even when a doc among the first n has NULL/empty text — such a doc
    yields no token rows, and drawing from the exploded token stream
    would silently promote the (n+1)-th doc into the query set (ADVICE
    r15). A tokenless query doc simply produces no result rows, same as
    the oracle. ``None`` keeps the token-stream draw for callers that
    only have the token frame."""
    from etl_covid19_brasil_spark.llm.similarity import _estimate_rows

    # r16 optimization round: the first-max_doc_tokens-distinct-tokens
    # selection used to be distinct() + a per-doc row_number window —
    # a (doc_id, token) shuffle, a doc_id shuffle AND a sort. One hash
    # aggregate computes the same set: collect_set dedupes per doc,
    # array_sort orders lexicographically, slice keeps the first
    # max_doc_tokens — a single doc_id-keyed exchange, no sort
    # (guide §2.4 remove-shuffles-outright; same-session A/B at sf0.1:
    # scan form 2.65 -> 1.76 s min, bit-identical output). NULL tokens
    # cannot occur here (every caller feeds a split()-derived stream).
    # Callers that still hold the per-doc TOKEN ARRAY should do the
    # same selection map-side (explode(slice(array_sort(array_distinct(
    # tokens)), 1, max_doc_tokens))) — zero shuffle, measured 0.30 s vs
    # 1.14 s for the aggregate form at sf0.1 — and pass
    # ``tokens_preselected=True`` to skip this aggregate entirely.
    if not tokens_preselected:
        toks = (
            toks.groupBy("doc_id")
            .agg(
                F.slice(
                    F.array_sort(F.collect_set("token")), 1, max_doc_tokens
                ).alias("__ts")
            )
            .select("doc_id", F.explode("__ts").alias("token"))
        )
    comp = toks.withColumn("vec", token_vec(F.col("token")))
    qd_src = toks if query_docs is None else query_docs
    qd = qd_src.select("doc_id").distinct().orderBy("doc_id").limit(n_query_docs)
    qcomp = comp.join(qd, "doc_id").select(
        F.col("doc_id").alias("query_doc"),
        F.col("token").alias("q_token"),
        F.col("vec").alias("q_vec"),
    )
    if prefilter is None:
        n = est_tokens if est_tokens is not None else _estimate_rows(toks)
        prefilter = n > MAXSIM_SCAN_MAX_TOKENS
    pairs = (
        maxsim_candidates(
            comp, qcomp, n_tables=n_tables, n_planes=n_planes, cand_k=cand_k
        )
        if prefilter
        else None
    )
    return _maxsim_score(pairs, comp, qcomp, k, max_doc_tokens=max_doc_tokens)
