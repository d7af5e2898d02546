"""Approximate nearest neighbors (SURVEY.md §2.10 similarity-search scale
paths): random-hyperplane LSH and IVF coarse quantization.

Brute-force cosine top-k (queries/llm.py:similarity_topk) is O(n^2) — fine
as the correctness baseline, hopeless at 100 TB. Both schemes here bound
the pair space with an equi-join on a bucket key:

- ``lsh_topk``: bucket = sign pattern of ``n_planes`` random-hyperplane
  projections (per table); ``n_tables`` independent tables trade compute
  for recall (P(collide) = (1 - theta/pi)^n_planes per table), and
  multi-probe querying additionally checks every bucket one flipped
  sign bit away, lifting per-table pair-inclusion to P(hamming<=1).
  Defaults (4 planes x 5 tables, multi-probe) target weakly-similar
  neighbors (cosine ~0.5, theta ~60 deg): ~0.59 per table with probing
  vs ~0.20 without — measured recall ~0.97 on the test embeddings at
  ~1.5x the cost of the old no-probe 8-table config that measured ~0.69
  (tests/test_ann_recall.py); 8 planes would prune harder but collapses
  recall at this similarity level.
- ``ivf_topk``: bucket = nearest coarse centroid; queries probe their
  ``n_probe`` nearest cells.

Cost shape: signatures/assignments are map-side Arrow-batched kernels
(hyperplanes/centroids ride a broadcast — literal plane arrays in the plan
were ~4s of analyzer/codegen cost at 32 planes); ONE hash shuffle groups
each (table, bucket) / cell; a per-group kernel ranks members with the
same dimension-ordered dot as the brute-force tier (a candidate-pair
equi-join with per-pair interpreted JVM folds was ~15-25x slower at
4-plane bucket sizes); a final window merges local top-k lists.
Probabilistic by construction -> rows-only in the correctness gate;
recall floors pinned in tests/test_ann_recall.py.

One implementation per tier, shared with the two-frame forms in
llm/search.py: ONE banding emitter (:func:`_band`), ONE cell-assign
emitter for IVF and IVF-PQ (:func:`_cells`), ONE ADC kernel
(:func:`_adc_kernel`), one masked lexsort top-k tail under every
kernel (``similarity._lexsort_topk``) and ONE global-pool +
exact-rerank tail (:func:`_rerank_exact`). Emitters take a role: the
self-join entry points here pass their one frame as "both" (each
vector queries and indexes), the two-frame entry points union an
"index"-role and a "query"-role frame — see the role rule above
:data:`_COL_TYPES`.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from etl_covid19_brasil_spark.io import scan_parquet
from etl_covid19_brasil_spark.llm import similarity as _sim
from etl_covid19_brasil_spark.llm.similarity import (
    _by_query_chunks,
    _estimate_rows,
    _global_topk,
    _lexsort_topk,
    _normalize,
    _ordered_dot,
    _pack_labels,
    _spread,
)


# Cap on the OUTPUT rows of one yielded fan-out batch. The banding /
# probe kernels multiply every input row by a fan-out factor (LSH:
# tables x (probes + salt replicas); IVF/IVF-PQ: n_probe), each output
# row carrying the full float64 vector — so yielding one input batch's
# whole fan-out as a single pandas frame allocates fan-out-proportional
# Arrow DIRECT memory per task. At the r12 64x probe (T=15, fan 8) one
# yield was ~650 MB/task and 32 concurrent tasks blew netty's 8 GB
# direct-memory cap (OutOfDirectMemoryError — SCALECHECK_r12). 64k
# output rows x ~550 B x 32 tasks ~ 1.2 GB total keeps the stage
# comfortably inside any sane executor. Row-sliced yields are
# bit-identical: only the Arrow record-batch framing changes.
_FANOUT_OUT_ROWS = 65536


def _fanout_slices(pdf: pd.DataFrame, per_row_out: int):
    """Yield row-slices of ``pdf`` so each slice's fan-out output stays
    under :data:`_FANOUT_OUT_ROWS` rows (see the constant's note)."""
    step = max(1, _FANOUT_OUT_ROWS // max(1, per_row_out))
    for s in range(0, len(pdf), step):
        yield pdf.iloc[s : s + step]


def _planes(n_tables: int, n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


# ---------------------------------------------------------------------------
# Shared emitters, kernels and tails. Every ANN tier is one group meet: a
# map-side EMITTER writes each vector into the groups it meets in, ONE
# hash shuffle groups them, a per-group KERNEL ranks, a window merges.
#
# Role rule. An emitter takes a role: "both" (one frame whose every
# vector is query and index — the self-join entry points lsh_topk,
# ivf_topk, ivfpq_topk) or "index" / "query" (the two-frame entry points
# in llm/search.py union an index-role frame with a query-role frame).
# Query rows (qrole=1) land in the vector's own query salt; index rows
# (is_index=1) land in every salt of their home group, since applyInPandas
# groups are indivisible and hot groups split their QUERY side across
# salts. With a vector payload the "both" role's home row does both jobs,
# so only the other salts get index replicas (qrole=0); an index-role
# frame, and any codes payload (codes cannot query), writes one index
# row per salt. Either way each (query, index) pair meets exactly once
# per group key, and every exchange carries the rows it always carried.
# ---------------------------------------------------------------------------

_COL_TYPES = {
    "cell": "int",
    "vid": "long",
    "vec": "array<double>",
    "codes": "array<int>",
    "tbl": "int",
    "bucket": "int",
    "is_index": "int",
    "qs": "int",
    "qrole": "int",
}
_BAND_COLS = ("vid", "vec", "tbl", "bucket", "is_index", "qs", "qrole")
_ADC_BAND_COLS = ("vid", "vec", "codes", "tbl", "bucket", "is_index", "qs", "qrole")
_CELL_COLS = ("cell", "vid", "vec", "is_index", "qs", "qrole")
_LOCAL_SCHEMA = "query_id long, neighbor_id long, cosine double"
_SCORE_SCHEMA = "query_id long, neighbor_id long, score double"


def _ddl(cols: tuple, vec_type: str = "double") -> str:
    types = {**_COL_TYPES, "vec": f"array<{vec_type}>"}
    return ", ".join(f"{c} {types[c]}" for c in cols)


def _vec_type(*frames: DataFrame, vec_col: str) -> str:
    """Element type a raw-vector payload of ``frames`` can ship in:
    ``float`` when every frame's ``vec_col`` is ``array<float>``, else
    ``double`` (what one union of them needs)."""
    floats = all(
        isinstance(f.schema[vec_col].dataType.elementType, FloatType) for f in frames
    )
    return "float" if floats else "double"


def _plane_count(n: int) -> int:
    """Planes per LSH table holding the EXPECTED bucket size at
    ~:data:`_TARGET_BUCKET_ROWS` as the corpus grows:
    ``max(4, ceil(log2(n / 256)))`` (rationale in :func:`lsh_topk`)."""
    return max(4, math.ceil(math.log2(max(2, n / _TARGET_BUCKET_ROWS))))


def _query_salts(query_rows: int, groups: int = 1) -> int:
    """Query salts holding each kernel group's expected query side near
    :data:`_TARGET_CELL_QUERY_ROWS` when ``query_rows`` spread over
    ``groups``: ``ceil(query_rows / (groups x target))``, floor 1."""
    return max(1, -(-query_rows // max(1, groups * _TARGET_CELL_QUERY_ROWS)))


def _index_salts(doubled: bool, own: np.ndarray, s_n: int) -> np.ndarray:
    """(n, salts) query salts of each vector's index rows: the OTHER
    salts when its home row already indexes its own (``doubled``),
    every salt otherwise."""
    if doubled:
        return (own[:, None] + np.arange(1, s_n, dtype=np.int32)[None, :]) % s_n
    return np.broadcast_to(np.arange(s_n, dtype=np.int32), (len(own), s_n))


def _pq_codes(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """argmin-L2 byte code of every row of ``x`` in each subspace book."""
    mm, _, sub = books.shape
    codes = np.empty((len(x), mm), dtype=np.int32)
    for j in range(mm):
        xs = x[:, j * sub : (j + 1) * sub]
        d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d2, axis=1)
    return codes


def _payload(mat: np.ndarray, reps: int, codes: "np.ndarray | None") -> dict:
    """``vec`` and ``codes`` columns of ``mat``'s rows, each repeated
    ``reps`` times: the vector (null codes), or — given ``codes`` —
    the codes (null vector). Vectors ride as a list of ndarrays: Arrow
    consumes each directly, where Python float lists boxed n*t*d values
    and dominated the banding stage."""
    nulls = [None] * (len(mat) * reps)
    if codes is None:
        return {"vec": list(np.repeat(mat, reps, axis=0)), "codes": nulls}
    return {"vec": nulls, "codes": list(np.repeat(codes, reps, axis=0))}


def _cat(parts: list):
    """Concatenate one column's per-block pieces (arrays or lists)."""
    if len(parts) == 1:
        return parts[0]
    if isinstance(parts[0], np.ndarray):
        return np.concatenate(parts)
    return [v for p in parts for v in p]


def _band(
    role: str,
    bc_planes,
    s_n: int,
    n_flips: int,
    id_col: str,
    vec_col: str,
    bc_books=None,
    vec_type: str = "double",
):
    """The LSH banding emitter (:data:`_BAND_COLS` layout). Per (vector,
    table), a querying role writes the signature bucket plus the
    ``n_flips`` least-confident d=1 flips (smallest |projection| — the
    classic multi-probe refinement; capping the fan at 4 keeps banding
    fan-out independent of the auto-scaled plane count, and at P=4 it
    IS the exhaustive d=1 fan) in the vector's own salt ``id % s_n``;
    an index role writes the signature bucket into its index salts.

    Payload: the raw vector as ``array<vec_type>`` — ``float`` keeps an
    ``array<float>`` source's precision (:func:`_vec_type`), which
    halves the vector bytes of the banding shuffle and changes no score:
    the bucket kernel normalizes in float64, and float32 -> float64 is
    exact. With ``bc_books`` the ADC layout (:data:`_ADC_BAND_COLS`,
    index or query role only): vectors are normalized first (books
    train on unit vectors; sign buckets are scale-invariant), so they
    ship as double, and index rows ship PQ codes instead of vectors."""
    doubled = role == "both"
    fan = 0 if role == "index" else 1 + n_flips
    rows = fan + (0 if role == "query" else s_n - doubled)
    # per-slot flags, identical for every (vector, table)
    is_index = (np.arange(rows) >= fan).astype(np.int32)
    is_index[0] |= doubled  # the "both" signature row also indexes
    qrole = (np.arange(rows) < fan).astype(np.int32)
    cols = _BAND_COLS if bc_books is None else _ADC_BAND_COLS

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc_planes.value  # (T, P, D)
        t_n, p_n = pl.shape[0], pl.shape[1]
        weights = (1 << np.arange(p_n)).astype(np.int64)
        for pdf in (s for w in batches for s in _fanout_slices(w, t_n * rows)):
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            src = np.stack(pdf[vec_col].to_numpy())
            mat = src.astype(np.float64)
            if bc_books is not None:
                mat = _normalize(mat)
            proj = (mat @ pl.reshape(t_n * p_n, -1).T).reshape(len(ids), t_n, p_n)
            sig = ((proj > 0) * weights).sum(axis=2).astype(np.int32)[:, :, None]
            own = (ids % s_n).astype(np.int32)
            # (n, T, rows) buckets and (n, rows) salts: query slots, then
            # index slots
            buckets = [sig.repeat(rows - fan, axis=2)]
            salts = [_index_salts(doubled, own, s_n)[:, : rows - fan]]
            if fan:
                least = np.argsort(np.abs(proj), axis=2)[:, :, :n_flips]
                flips = sig ^ (1 << least).astype(np.int32)
                buckets.insert(0, np.concatenate([sig, flips], axis=2))
                salts.insert(0, np.repeat(own[:, None], fan, axis=1))
            codes = None
            if bc_books is not None and role == "index":
                codes = _pq_codes(mat, bc_books.value)
            out = {
                "vid": np.repeat(ids, t_n * rows),
                **_payload(src if vec_type == "float" else mat, t_n * rows, codes),
                "tbl": np.tile(np.repeat(np.arange(t_n, dtype=np.int32), rows), len(ids)),
                "bucket": np.concatenate(buckets, axis=2).reshape(-1),
                "is_index": np.tile(is_index, len(ids) * t_n),
                "qs": np.repeat(
                    np.concatenate(salts, axis=1)[:, None, :], t_n, axis=1
                ).reshape(-1),
                "qrole": np.tile(qrole, len(ids) * t_n),
            }
            yield pd.DataFrame({c: out[c] for c in cols})

    return emit, _ddl(cols, vec_type)


def _cells(
    role: str,
    bc_cents,
    n_probe: int,
    s_n: int,
    id_col: str,
    vec_col: str,
    cols: tuple = _CELL_COLS,
    bc_books=None,
    residual: bool = False,
    id_shift: int = 0,
):
    """The IVF / IVF-PQ cell-assign emitter (``cols`` picks the output
    columns and their order). A querying role writes one row per probed
    cell — the ``n_probe`` nearest centroids — in the vector's own salt
    ``(id >> id_shift) % s_n`` (``id_shift`` unpacks label-packed ids,
    so skewed labels cannot collapse the salts); an index role writes
    the vector's HOME cell into its index salts. Home is the first
    probe when the role probes anyway, the argmax otherwise. Vectors
    are L2-normalized (cells score cosine).

    Payload: the vector, or with ``bc_books`` PQ codes — of the vector,
    or (``residual``) of its residual to the home centroid — on index
    rows and null codes on query rows. Block order per yield: a vector
    payload appends the index replicas after the query rows; a codes
    payload writes the index rows first."""
    doubled = role == "both" and bc_books is None
    q_out = 0 if role == "index" else n_probe
    i_out = 0 if role == "query" else s_n - doubled

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc_cents.value
        for pdf in (s for w in batches for s in _fanout_slices(w, q_out + i_out)):
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            n = len(ids)
            mat = _normalize(np.stack(pdf[vec_col].to_numpy()))
            own = ((ids >> id_shift) % s_n).astype(np.int32)
            blocks = []
            if q_out:
                cells = _sliced_cell_rows(
                    lambda s: np.argsort(-s, axis=1)[:, :n_probe], mat, cents
                ).astype(np.int32)  # (n, n_probe)
                home = cells[:, 0]
                blocks.append(
                    {
                        "cell": cells.reshape(-1),
                        "vid": np.repeat(ids, n_probe),
                        **_payload(mat, n_probe, None),
                        "is_index": np.tile(
                            (np.arange(n_probe) == 0) & doubled, n
                        ).astype(np.int32),
                        "qs": np.repeat(own, n_probe),
                        "qrole": np.ones(n * n_probe, dtype=np.int32),
                    }
                )
            else:
                home = _sliced_cell_rows(
                    lambda s: np.argmax(s, axis=1), mat, cents
                ).astype(np.int32)
            if i_out:
                codes = None
                if bc_books is not None:
                    x = mat - cents[home] if residual else mat
                    codes = _pq_codes(x, bc_books.value)
                index_rows = {
                    "cell": np.repeat(home, i_out),
                    "vid": np.repeat(ids, i_out),
                    **_payload(mat, i_out, codes),
                    "is_index": np.ones(n * i_out, dtype=np.int32),
                    "qs": _index_salts(doubled, own, s_n).reshape(-1),
                    "qrole": np.zeros(n * i_out, dtype=np.int32),
                }
                blocks = blocks + [index_rows] if doubled else [index_rows] + blocks
            yield pd.DataFrame({c: _cat([b[c] for b in blocks]) for c in cols})

    return emit, _ddl(cols)


def _emit(frame: DataFrame, emitter, id_col: str, vec_col: str) -> DataFrame:
    """Run an ``(emit, schema)`` emitter over ``frame``'s (id, vector)
    rows. The map input is _spread: an emitter inherits the source
    partitioning, and a cached or few-file corpus would otherwise
    serialize the whole assign + fan-out into 1-2 tasks (r16 — observed
    live: one Python worker CPU-pinned for minutes while 31 cores
    idled). The emitter's schema, not the source's, types the output:
    a float source's LSH band keeps ``array<float>`` vectors, the other
    emitters ship ``array<double>`` (see :func:`_band`)."""
    emit, schema = emitter
    return _spread(frame.select(id_col, vec_col)).mapInPandas(emit, schema=schema)


def _empty_local(score: str = "cosine", label: bool = False) -> pd.DataFrame:
    cols = {"query_id": "int64", "neighbor_id": "int64", score: "float64"}
    if label:
        cols["neighbor_label"] = "int32"
    return pd.DataFrame({c: [] for c in cols}).astype(cols)


def _meet(pdf: pd.DataFrame, queries, payload: str, block, empty, *args):
    """Run ``block`` over one kernel group: the query rows (mask
    ``queries``) against its index rows (``is_index=1``, ``payload``
    column), query-chunked so the (|Q|, |I|) score allocation stays
    under SIMS_BUDGET_BYTES. Group membership is expected-constant but
    unbounded on degenerate data (identical signatures funnel into one
    bucket — the r9 64x-probe OOM class); chunking is bit-identical
    because per-query top-k is row-independent."""
    idx, qry = pdf[pdf["is_index"] == 1], pdf[queries]
    if idx.empty or qry.empty:
        return empty
    return _by_query_chunks(
        block,
        qry["vid"].to_numpy(dtype=np.int64),
        np.stack(qry["vec"].to_numpy()),
        idx["vid"].to_numpy(dtype=np.int64),
        np.stack(idx[payload].to_numpy()),
        *args,
    )


def _bucket_topk_kernel(k: int):
    """LSH bucket kernel: each querying row's local top-k over the
    bucket's index rows. Dots use the dimension-ordered accumulation so
    a pair colliding in several buckets yields the SAME double
    everywhere (BLAS matmul may vary summation order with matrix shape)
    — required for the downstream dedup + global ranking to be
    deterministic."""

    def block(q_ids, q_mat, i_ids, i_mat) -> pd.DataFrame:
        sims = _ordered_dot(_normalize(q_mat)[:, None, :], _normalize(i_mat)[None, :, :])
        return _lexsort_topk(q_ids, i_ids, sims, k)

    empty = _empty_local()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _meet(pdf, pdf["qrole"] == 1, "vec", block, empty)

    return kernel


def _cell_topk_kernel(k: int, packed_labels: bool = False):
    """IVF cell kernel: exact cosine of pre-normalized vectors as one
    matmul, local top-k per query; ``packed_labels`` masks same-label
    neighbors (see :func:`~.similarity._lexsort_topk`)."""

    def block(q_ids, q_mat, i_ids, i_mat) -> pd.DataFrame:
        sims = q_mat @ i_mat.T  # pre-normalized -> cosine
        return _lexsort_topk(q_ids, i_ids, sims, k, packed_labels=packed_labels)

    empty = _empty_local(label=packed_labels)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _meet(pdf, pdf["qrole"] == 1, "vec", block, empty)

    return kernel


def _adc_kernel(bc_books, depth: int, bc_cents=None):
    """The ADC group kernel (IVF-PQ cells, ADC-banded LSH buckets):
    index rows carry PQ codes, query rows (``is_index=0``) vectors;
    each query keeps its ``depth`` best :func:`_adc_scores`. With
    ``bc_cents`` (residual codes, grouped by ``cell``) the LUT gather
    yields dot(q, x) - dot(q, centroid); the dropped term is constant
    per (query, cell) but NOT across cells, and the global rerank pool
    ranks across cells, so it is restored — one ordered fold per query,
    deterministic at any chunking — and scores are dot(q,
    PQ-reconstruction) in every layout."""

    def block(q_ids, q_mat, i_ids, i_codes, cent) -> pd.DataFrame:
        scores = _adc_scores(q_mat, i_codes, bc_books.value)
        if cent is not None:
            scores = scores + _ordered_dot(q_mat, cent[None, :])[:, None]
        return _lexsort_topk(q_ids, i_ids, scores, depth, score="score")

    empty = _empty_local("score")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        cent = None if bc_cents is None else bc_cents.value[int(pdf["cell"].iloc[0])]
        return _meet(pdf, pdf["is_index"] == 0, "codes", block, empty, cent)

    return kernel


def _rerank_exact(
    local: DataFrame,
    queries: DataFrame,
    index: DataFrame,
    k: int,
    pool_rows: int,
    id_col: str,
    vec_col: str,
    dedup: bool = False,
) -> DataFrame:
    """The global-pool + exact-rerank tail of every ADC tier: keep each
    query's best ``pool_rows`` ADC candidates ACROSS its groups before
    touching any exact vector — the faiss global-heap step, a
    row_number filter Spark 4 rewrites to a partial WindowGroupLimit,
    so the pool's shuffle carries skinny (query_id, neighbor_id, score)
    triples — then join only the survivors back to their exact vectors
    (two hash joins) for the exact-cosine final top-k.

    ``dedup``: on the banded tier a pair colliding in several tables
    carries the SAME ADC score (one code row per vector); duplicates
    are dropped before the pool so they don't crowd out distinct
    candidates. One repartition on query_id serves both the dedup
    aggregate (a subset partitioning colocates every (query, neighbor)
    group) and the pool window, so both run partition-local above a
    SINGLE exchange (r17; guide §2.4). Per-query pool input is bounded,
    so the query-keyed exchange cannot skew. Cell tiers meet each pair
    in exactly one cell and need no dedup."""
    if dedup:
        local = local.repartition("query_id").dropDuplicates(["query_id", "neighbor_id"])
    pool_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        local.withColumn("__pr", F.row_number().over(pool_w))
        .filter(F.col("__pr") <= pool_rows)
        .select("query_id", "neighbor_id")
    )

    @F.pandas_udf("double")
    def _exact_cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if a.empty:
            return pd.Series([], dtype="float64")
        am = _normalize(np.stack(a.to_numpy()))
        bm = _normalize(np.stack(b.to_numpy()))
        return pd.Series(_ordered_dot(am, bm))

    nbr = index.select(F.col(id_col).alias("__nid"), F.col(vec_col).alias("__nvec"))
    qry = queries.select(F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qvec"))
    exact = (
        cand.join(nbr, cand["neighbor_id"] == nbr["__nid"])
        .join(qry, cand["query_id"] == qry["__qid"])
        .select(
            "query_id",
            "neighbor_id",
            _exact_cos("__qvec", "__nvec").alias("cosine"),
        )
    )
    return _global_topk(exact, k, dedup=False)


# Target expected bucket membership when auto-sizing the plane count:
# per-bucket kernel work is O(|bucket|^2), so holding |bucket| constant
# as the corpus grows keeps TOTAL kernel work linear in n.
_TARGET_BUCKET_ROWS = 256


def _sample_matrix(
    embeddings: DataFrame, id_col: str, vec_col: str, cap: int = 4096
) -> "np.ndarray | None":
    """The shared content-deterministic shape sample (the ``cap``
    smallest ``xxhash64(id)`` values — the pq_train seeding pattern,
    never partition-layout-dependent) as a float64 matrix, or None on
    an empty source. One bounded TakeOrdered + toPandas job; lsh_topk
    pulls it ONCE and feeds both the collapsed-table probe and the
    angle-derived table count (r13) so adding the second consumer
    added zero construction-time jobs."""
    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(cap)
        .toPandas()
    )
    if pdf.empty:
        return None
    return np.stack(pdf[vec_col].to_numpy()).astype(np.float64)


def _drop_collapsed_tables(
    embeddings: DataFrame,
    planes: np.ndarray,
    id_col: str,
    vec_col: str,
    sample_mat: "np.ndarray | None" = None,
) -> np.ndarray:
    """Degenerate-shape early-exit (VERDICT r10 item 5): a table whose
    sign buckets collapse to ONE bucket on a random sample indexes the
    whole corpus in a single bucket — every additional collapsed table
    repeats byte-identical quadratic kernel work for ZERO recall gain
    (identical candidate sets). The r10 table derivation paid exactly
    that on the all-one-bucket skew corpus: T=11 cost 2.53x r9's T=5
    wall-clock. Keep the FIRST collapsed table (its single bucket
    already pairs everything) plus every non-collapsed table.

    Detection is a driver-side probe over <= 4096 sampled vectors
    against the already-generated planes — one tiny TakeOrdered job,
    engaged only above the small-corpus plane floor (callers gate on
    n_planes > 4), so gate/bench-scale plans run zero extra jobs. The
    sample is CONTENT-deterministic (the 4096 smallest id hashes — the
    pq_train seeding pattern), never partition-layout-dependent: a
    Bernoulli sample + unordered limit would let the kept-table set,
    and thus lsh_topk's candidate sets, vary run-to-run with
    parallelism. A conservative strict ``distinct == 1`` test: a table
    showing >= 2 buckets among the sampled vectors is never dropped, so
    normal corpora keep every derived table and the 8x recall floor is
    unaffected (tests/test_ann_recall.py). The guarantee is sample-
    probabilistic, not absolute (ADVICE r11): a table whose minority
    buckets hold mass below ~1/4096 of the corpus can still sample as
    single-bucket and be dropped — acceptable because such a table
    contributes at most that sliver of candidate pairs beyond the kept
    collapsed table, and the kept-table set stays deterministic for a
    given corpus content.
    """
    if sample_mat is None:
        sample_mat = _sample_matrix(embeddings, id_col, vec_col)
    if sample_mat is None:
        return planes
    mat = sample_mat
    t_n, p_n = planes.shape[0], planes.shape[1]
    proj = mat @ planes.reshape(t_n * p_n, -1).T
    buckets = (
        ((proj > 0).reshape(len(mat), t_n, p_n))
        * (1 << np.arange(p_n)).astype(np.int64)
    ).sum(axis=2)  # (sample, T) signature buckets
    keep, kept_collapsed = [], False
    for t in range(t_n):
        if len(np.unique(buckets[:, t])) > 1:
            keep.append(t)
        elif not kept_collapsed:
            keep.append(t)
            kept_collapsed = True
    return planes if len(keep) == t_n else planes[keep]


def auto_n_tables(n_planes: int) -> int:
    """Table count spending compute where the plane derivation spent
    recall: 5 at the small-corpus plane floor (every pinned CI
    measurement), +3 tables per extra plane (r14; was +2). The r13
    verdict asked whether the flat-corpus recall decay (0.841 at 32x)
    was TABLE-bounded or PLANE-bounded; the 32x flat sweep
    (SCALECHECK_r14 §3, scripts/lsh_flat32_sweep.py) answered
    table-bounded with cheap headroom: at the derived P=8, the old cap
    T=13 measured 0.851 while T=17 measured 0.905 at +10% wall-clock
    (T=21 reached 0.944 but at 2.7x the cost — past the knee), and
    P=9 at ITS cap collapsed to 0.762 (more planes prune harder —
    the plane count is not the recovery lever). Linear in corpus size
    because bucket sizes stay ~constant.

    Since r13 this is the CAP (the cluster-free worst case):
    :func:`derive_n_tables` measures, on the shared shape sample, how
    many of these tables the corpus's actual neighbor angles need, and
    clustered corpora come out near the floor — see VERDICT r12 item 5
    (LSH held recall 1.000 at 64x clustered but spent 3.7x IVF-flat's
    wall-clock doing it; the table count was angle-blind). The bump
    therefore costs clustered corpora nothing (their derived count is
    target-bound, not cap-bound) and buys flat corpora the measured
    recall the old cap left on the table; gate/bench regimes sit at
    the P=4 floor where the cap is 5 under either coefficient."""
    return 5 + 3 * max(0, n_planes - 4)


# The smallest table count any derivation returns — the small-corpus
# operating point every pinned CI floor was measured at.
_TABLE_FLOOR = 5
# Sampled in-sample top-5 pair inclusion the derived table count must
# reach. Inclusion of a candidate pair IS recall for LSH (candidates are
# exact-cosine ranked), and in-sample neighbors are FARTHER than the
# full corpus's true neighbors (a 4096-row sample of a big corpus thins
# every neighborhood), so sampled inclusion underestimates true recall:
# a table count passing this gate on the sample holds at least it on
# the corpus. 0.98 sits above every pinned recall floor.
_TABLE_TARGET_INCLUSION = 0.98


def _sample_top_pairs(unit: np.ndarray, k: int = 5):
    """In-sample top-``k`` cosine neighbor pairs ``(pair_i, pair_j)``
    over a normalized sample matrix, row-sliced under the sims budget.
    Shared by :func:`derive_n_tables` (which tables do these pairs
    need) and the neighbor-cell-rank probe derivation in
    :func:`pick_probe_strategy` (which probe count reaches them) — the
    two measured-route consumers of the one shape sample. In-sample
    top-k pairs are FARTHER than the corpus's true top-k (sampling
    thins neighborhoods), so every derivation built on them
    underestimates how easy the corpus is and errs toward more
    tables/probes: compute, never recall."""
    n = len(unit)
    k = min(k, n - 1)

    rows_per = max(1, _sim.SIMS_BUDGET_BYTES // (8 * n))
    tops = []
    for s in range(0, n, rows_per):
        sims = _ordered_dot(unit[s : s + rows_per, None, :], unit[None, :, :])
        sims[np.arange(sims.shape[0]), np.arange(s, s + sims.shape[0])] = -np.inf
        tops.append(np.argsort(-sims, axis=1)[:, :k])
    top = np.concatenate(tops, axis=0)  # (n, k)
    return np.repeat(np.arange(n), k), top.reshape(-1)


class TableRoute(NamedTuple):
    n_tables: int  # the chosen count, in [_TABLE_FLOOR, cap]
    sampled_inclusion: float  # in-sample top-5 pair inclusion at n_tables
    cap: int  # auto_n_tables(n_planes) — the cluster-free fallback


def derive_n_tables(
    sample_mat: np.ndarray,
    n_planes: int,
    dim: int,
    cap: int | None = None,
    multi_probe: bool = True,
    target: float = _TABLE_TARGET_INCLUSION,
) -> TableRoute:
    """Measure how many LSH tables THIS corpus's neighbor angles need
    (VERDICT r12 item 5) — the :func:`pick_probe_strategy` pattern
    applied to the table count: :func:`auto_n_tables` is angle-blind
    (it tracks the plane count's per-table recall loss at the flat
    cosine~0.5 regime the probes measure), so a tightly clustered
    corpus — whose neighbors collide at near-certainty per table —
    pays the full cluster-free table budget for recall it would get at
    the floor (measured r12: recall 1.000 at 64x clustered, but 466 s
    vs IVF-flat's 126 s at the identical corpus).

    Entirely driver-side numpy over the shared ``<=4096``-row shape
    sample (:func:`_sample_matrix` — content-deterministic, one bounded
    job shared with :func:`_drop_collapsed_tables`, so the derivation
    adds ZERO Spark jobs): take each sampled vector's top-5 in-sample
    cosine neighbors, replay the ACTUAL banding semantics per candidate
    table (sign signature + the d=1 multi-probe flips of the
    ``min(P, 4)`` least-confident bits, exactly :func:`_band`'s fan)
    against the ACTUAL plane tensor (``_planes`` is prefix-stable:
    table t of a T-table generation equals table t of any longer one,
    verified by test), and return the smallest count in
    [:data:`_TABLE_FLOOR`, cap] whose cumulative pair inclusion reaches
    ``target``. No independence assumption — the curve is evaluated on
    the very tables the operator will use.

    Mis-route direction (the dispatch-family invariant the r12 property
    test pins for probes): in-sample top-5 neighbors are FARTHER than
    true top-5 neighbors — sampling thins neighborhoods — so measured
    inclusion UNDERESTIMATES true-pair inclusion and the chosen count
    errs toward MORE tables; the cluster-free corpora the cap was
    calibrated on never reach ``target`` early and keep the cap
    unchanged (the 8x flat probe's T=9 stays T=9). Only compute is ever
    at stake, never recall.
    """
    if cap is None:
        cap = auto_n_tables(n_planes)
    if cap <= _TABLE_FLOOR or sample_mat is None or len(sample_mat) < 8:
        return TableRoute(max(cap, _TABLE_FLOOR), float("nan"), cap)

    n = len(sample_mat)
    unit = _normalize(sample_mat.astype(np.float64))
    pair_i, pair_j = _sample_top_pairs(unit)
    # replay banding on the actual plane tensor: signatures + flip masks
    planes = _planes(cap, n_planes, dim)
    proj = (sample_mat @ planes.reshape(cap * n_planes, -1).T).reshape(
        n, cap, n_planes
    )
    bits = proj > 0
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    codes = (bits * weights).sum(axis=2)  # (n, cap)
    n_flips = min(n_planes, 4) if multi_probe else 0
    if n_flips:
        least = np.argsort(np.abs(proj), axis=2)[:, :, :n_flips]
        flipmask = np.bitwise_or.reduce(1 << least, axis=2)  # (n, cap)
    else:
        flipmask = np.zeros_like(codes)
    # pair (i, j) meets FOR QUERY i's top-k iff same bucket, or one
    # sign bit apart with that bit in i's OWN probe fan — the shipped
    # kernel probes from the query side only (query i retrieves index
    # j only when the flip bit is in i's fan; j's probe row in i's
    # bucket emits the (j, i) pair, which feeds query j's list, not
    # query i's). An earlier union-of-fans evaluation (either
    # endpoint's fan counts) inflated measured inclusion and derived a
    # table count UNDERSHOOTING its own target on clustered corpora —
    # reproduced at P=9: union inclusion 0.983 at T=7 while the
    # directed inclusion at T=7 was 0.970, needing T=9 (ADVICE r13).
    # pair_i is the query of each sampled pair by construction
    # (_sample_top_pairs emits (query, its top-k neighbor)).
    xor = codes[pair_i] ^ codes[pair_j]  # (pairs, cap)
    one_bit = (xor != 0) & ((xor & (xor - 1)) == 0)
    meet = (xor == 0) | (one_bit & ((xor & flipmask[pair_i]) != 0))
    coverage = np.logical_or.accumulate(meet, axis=1).mean(axis=0)  # (cap,)
    enough = np.nonzero(coverage[_TABLE_FLOOR - 1 :] >= target)[0]
    if len(enough) == 0:
        return TableRoute(cap, float(coverage[-1]), cap)
    t = _TABLE_FLOOR + int(enough[0])
    return TableRoute(t, float(coverage[t - 1]), cap)


def lsh_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int | None = None,
    n_tables: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = True,
    q_salts: int | None = None,
    drop_collapsed_tables: bool = True,
) -> DataFrame:
    """Approximate top-k cosine neighbors per vector via hyperplane LSH
    with multi-probe querying.

    Construction-time job note (ADVICE r11): when the derived (or
    passed) ``n_planes`` exceeds the small-corpus floor of 4, ONE
    bounded eager Spark job — a <=4096-row content-deterministic
    TakeOrdered + toPandas (:func:`_sample_matrix`) — runs before the
    lazy plan is built, mirroring the dispatcher pattern
    ``pick_window_strategy`` documents; the sample is SHARED by the
    degenerate-corpus early-exit (:func:`_drop_collapsed_tables`) and
    the angle-derived table count (:func:`derive_n_tables`, r13), so
    the two consumers cost one job total. Gate- and bench-scale corpora
    (P=4) run zero extra jobs. Pass an explicit ``n_tables`` AND
    ``drop_collapsed_tables=False`` to skip the sample entirely and
    keep lsh_topk a pure-lazy builder (expert configs that already know
    their corpus shape, or plan-pinning callers).

    ``q_salts`` splits each (table, bucket) group's QUERY side across
    that many sub-groups (index rows replicate into every sub-group,
    flagged ``qrole=0`` so they don't re-query): sign buckets of real
    data are skewed (measured 4x the mean at 64k vectors), per-bucket
    kernel work is quadratic in membership, and applyInPandas groups
    are indivisible units AQE cannot split — salting is the
    skew-mitigation for UDF groups, the same trick join_skew_salted
    pins for joins. Each (query, index) pair still meets exactly once.
    Default (None): 4 once the plane count leaves the small-corpus
    floor (where hot buckets start to dominate task time), 1 below it
    (a small corpus finishes before skew matters; salting there only
    adds group count and replica shuffle).

    ``n_planes=None`` (default) derives the plane count from the corpus
    size — ``max(4, ceil(log2(n / 256)))`` — so the EXPECTED bucket
    size stays ~constant as the corpus grows. With a fixed plane count
    the per-bucket kernel (O(|bucket|^2)) turns quadratic in n: the 8x
    scale probe measured 20x runtime before this derivation, ~8x after.
    More planes per table lowers per-table recall (P(collide)^P); the
    d=1 multi-probe fan compensates partially but its flip budget is
    capped at 4 bits, so inclusion still declines as planes grow.
    ``n_tables=None`` (default) therefore caps the TABLE count with
    the plane count — ``5 + 3 * (P - 4)`` since r14 (the 32x flat sweep
    measured the old 2-per-plane cap table-bounded: T=13 → 0.851 vs
    T=17 → 0.905 at +10% wall-clock, see :func:`auto_n_tables`) —
    lifting overall recall 1-(1-p)^T as per-table p falls: the r10 8x
    recall probe measured 0.778 at the old fixed T=5 (P=6) vs 0.933
    with the then-derived T=9 under the r10-era 2-per-plane cap,
    while the sf0.01/sf0.1 regimes (P=4) keep T=5, leaving every pinned
    CI floor and bench number untouched. Since r13 that cap is the
    cluster-free WORST CASE, not the spend: :func:`derive_n_tables`
    replays the banding semantics over the shared shape sample and
    keeps only as many tables as the corpus's measured neighbor angles
    need (tight clusters collide at near-certainty per table and come
    out at the floor of 5; flat corpora never reach the inclusion
    target early and keep the cap — the compute-not-recall mis-route
    direction, same as the probe dispatch). Cost is a constant factor per
    corpus size (banding fan-out x T; bucket sizes stay ~constant), so
    total work remains linear in n — unlike raising the probe FRACTION,
    which would reintroduce the quadratic the r6 probe killed. Honest
    asymptote: per-table p falls geometrically in P, so HOLDING recall
    on cluster-free vectors needs exponentially many tables — no
    sublinear scheme avoids that bound; linear table growth buys a slow
    decay (vs collapse at fixed T) and clustered real-world corpora
    don't pay it at all (neighbors share buckets far above the random-
    data rate). SCALECHECK_r10 records the measured curve.

    Every vector lands in its signature bucket as an index candidate
    (``is_index=1``); with ``multi_probe`` each vector ALSO queries the
    ``n_planes`` buckets at Hamming distance 1 (one sign bit flipped).
    Flipping the least-confident bit is the classic multi-probe LSH
    refinement; flipping all P bits is its exhaustive d=1 variant, which
    stays cheap at small P and lifts per-table pair-inclusion for
    cosine~0.5 neighbors from (2/3)^4 ~ 0.20 to P(hamming<=1) ~ 0.59 —
    recall that took 3x the tables without probing. Cost: the banding
    fan-out grows from T to T*(1+P) rows per vector, but probe rows are
    query-only, so per-bucket kernel work grows linearly (|Q|x|I|), not
    quadratically.

    Execution: the banded rows carry the corpus's own vector precision
    (``array<float>`` for a float corpus — see :func:`_band`), and the
    bucket kernel runs over ONE hash exchange on (tbl, bucket, qs) to
    ``spark.sql.shuffle.partitions`` tasks that AQE leaves uncoalesced;
    coalesced by bytes, the 500-vector benchmark corpus ran all of its
    80 bucket groups as one Python task. (The IVF, PQ and two-frame
    search meets keep the plain ``groupBy`` exchange: there the same
    repartition timed within noise, or slower on ``ivf_topk`` and
    ``ivfpq_topk``.)

    Output: (query_id, neighbor_id, cosine, rank) — same shape as the
    brute-force similarity_topk so callers can swap tiers.
    """
    if n_planes is None:
        n_planes = _plane_count(_estimate_rows(embeddings))
    derive_tables = n_tables is None
    if n_tables is None:
        n_tables = auto_n_tables(n_planes)
    if q_salts is None:
        q_salts = 4 if n_planes > 4 else 1
    # ONE shared shape sample (see _sample_matrix) feeds both the
    # angle-derived table count (r13) and the collapsed-table early-exit
    # — pulled only above the plane floor, where auto_n_tables spends
    # real compute; at the P=4 gate/bench floor both consumers are
    # no-ops and lsh_topk stays a zero-extra-job lazy builder
    sample_mat = None
    if n_planes > 4 and (derive_tables or drop_collapsed_tables):
        sample_mat = _sample_matrix(embeddings, id_col, vec_col)
    if derive_tables and n_planes > 4:
        n_tables = derive_n_tables(
            sample_mat, n_planes, dim, cap=n_tables, multi_probe=multi_probe
        ).n_tables
    planes = _planes(n_tables, n_planes, dim)
    # above the plane floor (where the table derivation spends real
    # compute), drop duplicate fully-collapsed tables — the degenerate-
    # corpus early-exit; see _drop_collapsed_tables and the
    # construction-time-job note in the docstring
    if drop_collapsed_tables and n_planes > 4 and planes.shape[0] > 1:
        planes = _drop_collapsed_tables(
            embeddings, planes, id_col, vec_col, sample_mat
        )
    bc = embeddings.sparkSession.sparkContext.broadcast(planes)
    n_flips = min(n_planes, 4) if multi_probe else 0
    emitter = _band(
        "both", bc, max(1, q_salts), n_flips, id_col, vec_col,
        vec_type=_vec_type(embeddings, vec_col=vec_col),
    )
    banded = _emit(embeddings, emitter, id_col, vec_col)
    # AQE coalesces a groupBy exchange by bytes, not by kernel work: the
    # ~1 MB banded shuffle of a 500-vector corpus became ONE task running
    # all 80 bucket groups on one Python worker. A repartition(n, keys)
    # exchange is never coalesced, and the groupBy reuses it.
    n = int(embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    local = (
        banded.repartition(n, "tbl", "bucket", "qs")
        .groupBy("tbl", "bucket", "qs")
        .applyInPandas(_bucket_topk_kernel(k), schema=_LOCAL_SCHEMA)
    )
    return _global_topk(local, k)


_TARGET_CELL_ROWS = 512
# Query rows one (cell, salt) kernel group should carry before the IVF
# query side is salted across sub-groups (r13). auto_n_cells holds the
# INDEX side at ~_TARGET_CELL_ROWS, but the QUERY side of a cell is
# ~n_probe x that: the fraction-held route at the flat 32x probe put
# ~40k vector-carrying query rows in every group — applyInPandas
# groups are indivisible units AQE cannot split, and 32 concurrent
# tasks x ~460 MB of Arrow group input overran netty's direct-memory
# cap (which tracks the default 8g heap). 8192 query rows x 64-dim
# float64 ~ 4 MB vectors per group keeps any probe count inside
# default executors; the n_probe=10 operating point derives 1 salt, so
# gate/bench plans are unchanged.
_TARGET_CELL_QUERY_ROWS = 8192


def _sliced_cell_rows(op, mat, cents):
    """Apply ``op`` (a row-independent reduction like argsort-top-p or
    argmax) to the (rows, n_cells) centroid-similarity matrix, computed
    in row slices so the allocation stays under
    similarity.SIMS_BUDGET_BYTES. ``auto_n_cells`` grows the centroid
    count LINEARLY with the corpus, so an unsliced Arrow-batch x cells
    similarity is unbounded at scale — the same allocation class the r9
    64x probe OOM'd on in the exact-tier kernels. Bit-identical: ``op``
    sees exactly the rows it would have seen unsliced, and each call
    site passes its original reduction (argsort vs argmax tie-breaking
    is preserved per site)."""

    rows_per = max(1, _sim.SIMS_BUDGET_BYTES // (8 * max(1, len(cents))))
    outs = [
        op(_ordered_dot(mat[s : s + rows_per, None, :], cents[None, :, :]))
        for s in range(0, len(mat), rows_per)
    ]
    return outs[0] if len(outs) == 1 else np.concatenate(outs, axis=0)


def auto_n_cells(n_est: int) -> int:
    """IVF cell count holding the EXPECTED cell size at ~_TARGET_CELL_ROWS
    as the corpus grows (floor 16 — the small-corpus regime every pinned
    recall measurement uses).

    With a FIXED cell count, per-cell membership grows linearly in n and
    the per-cell query×index kernel grows quadratically — the r7 32x
    probe measured 73x runtime at 32x data for 16 fixed cells; the same
    failure mode as fixed-plane LSH in r6. Constant-size cells make
    per-query probed work (n_probe × cell size) independent of n, so
    total query work is linear. The recall trade: probing a fixed
    NUMBER of constant-size cells covers a shrinking FRACTION of a
    growing corpus — on clustered real data that is exactly how IVF is
    meant to operate (neighbors concentrate in few cells; faiss sizing
    guidance); on cluster-free random data recall necessarily decays
    with n, and n_probe is the caller's recall-for-compute knob.
    """
    return max(16, math.ceil(n_est / _TARGET_CELL_ROWS))


# The sf0.01-measured IVF operating point every pinned recall floor was
# taken at: 10 probes of 16 cells (recall 0.84 untrained / 0.89 trained).
_PROBE_NUM, _PROBE_DEN = 10, 16


def auto_n_probe(n_cells: int) -> int:
    """Probe count holding the probed FRACTION at the measured sf0.01
    operating point (10/16 = 62.5%) as the cell count grows — the IVF
    twin of :func:`auto_n_tables` (VERDICT r10 item 3: default
    ``n_probe=10`` recall decayed 0.84 → 0.68 at 8× while the probe-held
    config measured 0.912/0.868).

    Honest cost accounting (the same disclosure the lsh_topk docstring
    carries): ``auto_n_cells`` holds cell SIZE constant, so holding the
    probed fraction means per-query probed work grows LINEARLY with the
    corpus — total query work is quadratic in n, the asymptote the r7
    probe killed for fixed cells. That is the information bound on
    cluster-free vectors, not an implementation defect: synthetic
    near-random embeddings spread true neighbors uniformly over cells,
    so covering a fixed fraction is the only way to hold recall. A
    clustered real-world corpus concentrates neighbors in few cells and
    should pass a FIXED ``n_probe`` explicitly (the standard IVF
    operating regime, linear total work); the derived default makes the
    out-of-the-box config recall-safe rather than silently decaying.
    Floors at the 16-cell gate regime are unchanged (derives to 10).

    Since r12 the ``n_probe=None`` default no longer reaches this
    function unconditionally: :func:`pick_probe_strategy` measures the
    corpus's cell-occupancy shape and engages the fraction-held count
    (with a logged cost warning) only on flat occupancy, keeping fixed
    probes — linear total work — on clustered corpora.
    """
    return max(_PROBE_NUM, math.ceil(n_cells * _PROBE_NUM / _PROBE_DEN))


# Shape-aware probe dispatch (VERDICT r11 item 3). The shape probe
# samples at most this many vectors (the pq_train / _drop_collapsed_tables
# sampling pattern) and routes FIXED probes when either signal says the
# cells are meaningful: the _PROBE_NUM most occupied cells holding at
# least _CONCENTRATED_TOP_MASS of the sampled mass (few dominant cells),
# or mean cos(x, assigned centroid) >= _TIGHT_CELL_COS (tight cells —
# the signal that survives a TRAINED quantizer, which equalizes
# occupancy by construction; calibrated r12: 0.27-0.28 on the flat 8x
# corpus vs 0.75-0.85 on the clustered one, trained or untrained).
_OCCUPANCY_SAMPLE_CAP = 4096
_CONCENTRATED_TOP_MASS = 0.5
_TIGHT_CELL_COS = 0.5
# rerank-pool BASE on tight cells — multiplied by n_probe since the
# r13 global pool (pool width = rerank * k across all probed cells;
# ivfpq_topk docstring). Engaged only when the caller pins the PQ path
# with an explicit by_residual/rerank: 16 * n_probe=10 at the 8x
# clustered sweep measured recall 0.989 (global pool 800; the r12
# per-cell scheme at the same 800-candidate volume measured 0.856 —
# cross-cell pooling spends the same join budget better).
_TIGHT_RERANK = 16


class ProbeRoute(NamedTuple):
    route: str  # "fixed" | "fraction"
    n_probe: int
    top_mass: float  # sampled mass in the _PROBE_NUM fullest cells
    tight_cos: float  # mean cos(x, assigned centroid) over the sample


# Fraction of sampled top-5 neighbor pairs the rank-derived fixed probe
# count must reach (the pair's neighbor cell ranks inside the query's
# probed set). 0.95 tracks the clustered operating envelope every pin
# was taken at.
_PROBE_RANK_COVERAGE = 0.95


def _rank_derived_probes(
    unit: np.ndarray,
    centroids: np.ndarray,
    nearest: np.ndarray,
    fixed: int,
    auto: int,
) -> int:
    """How many probes do THIS corpus's neighbors actually need —
    measured, not assumed (r13, closing VERDICT r12 item 2 at 64x).

    The fixed route used to hard-code the sf0.01 operating point
    (n_probe=10) on every clustered corpus. That holds while neighbors'
    cells rank inside the query's 10 nearest — true at 32 cells — but
    as auto_n_cells grows the cell count with the corpus, each tight
    cluster SPANS more cells (an 8-anchor 64x corpus puts ~31 trained
    cells under each anchor) and the true neighbors' cells slide down
    the query's centroid ranking: the 64x clustered control measured
    the tier-routed exact default at 0.6734 — pure probe coverage, the
    quantizer already out of the loop.

    So measure it on the shared shape sample (zero extra Spark jobs):
    for each in-sample top-5 pair (i, j), the rank of j's assigned cell
    in i's centroid-similarity ordering — probing ``rank+1`` cells
    reaches that neighbor. Return the :data:`_PROBE_RANK_COVERAGE`
    quantile of that distribution, clamped to [``fixed``, ``auto``]:
    never below the pinned operating floor, never above the
    fraction-held count (beyond which the fraction route is the honest
    regime anyway). Small clustered corpora derive the floor (every
    pinned 8x number is unchanged); dense ones derive what their
    measured geometry needs. Conservative direction as always:
    in-sample neighbors are farther than true neighbors, so their cells
    rank WORSE and the derived count errs toward more probes — linear
    extra exact-kernel work, never recall.
    """

    pair_i, pair_j = _sample_top_pairs(unit)
    if len(pair_i) == 0:
        return fixed
    n, n_cells = len(unit), len(centroids)
    ranks = np.zeros(len(pair_i), dtype=np.int64)
    rows_per = max(1, _sim.SIMS_BUDGET_BYTES // (8 * max(1, n_cells)))
    for s in range(0, n, rows_per):
        sims = _ordered_dot(unit[s : s + rows_per, None, :], centroids[None, :, :])
        m = (pair_i >= s) & (pair_i < s + sims.shape[0])
        if not m.any():
            continue
        qi = pair_i[m] - s
        target = sims[qi, nearest[pair_j[m]]]
        # rank = number of cells strictly more similar than the
        # neighbor's cell; probing rank+1 cells includes it
        ranks[m] = (sims[qi] > target[:, None]).sum(axis=1)
    # method="higher": the default linear interpolation truncates a
    # fractional quantile DOWNWARD through int() (12.7 -> 12), a small
    # bias against the conservative direction this docstring promises;
    # taking the next order statistic up keeps the derived count at or
    # above the true 95th-percentile rank (ADVICE r13).
    p = int(np.quantile(ranks, _PROBE_RANK_COVERAGE, method="higher")) + 1
    return int(np.clip(p, fixed, auto))


def pick_probe_strategy(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = _OCCUPANCY_SAMPLE_CAP,
    force_sample: bool = False,
) -> ProbeRoute:
    """Route the default ``n_probe`` from the corpus's measured cell
    SHAPE — the :func:`pick_window_strategy` pattern applied to IVF
    probing (VERDICT r11 item 3). Returns a :class:`ProbeRoute`;
    ``route`` is ``"fixed"`` (meaningful cells — the standard
    clustered-corpus IVF regime, linear total work; the COUNT floors at
    the measured sf0.01 operating point and rises to what the sampled
    neighbor cell ranks require — see :func:`_rank_derived_probes`,
    r13) or ``"fraction"`` (cluster-free — :func:`auto_n_probe`'s
    fraction-held count, the only recall-holding config on such
    vectors, linear per-query work).

    Two complementary diagnostics, either sufficient for "fixed":

    - OCCUPANCY concentration (``top_mass``): a handful of dominant
      cells means each query's true neighbors concentrate where its
      nearest probes go. Uniform occupancy over C cells puts
      ~_PROBE_NUM/C in the top cells, so the gate is
      ``max(0.5, 2 * _PROBE_NUM / C)`` — at least twice the uniform
      baseline. In the 16 < C <= 2*_PROBE_NUM band a flat corpus alone
      already reaches 0.5, and twice-uniform exceeds 1.0 there — i.e.
      the gate deliberately DISABLES the occupancy signal where it
      cannot be distinguished from uniform, leaving tightness as the
      sole fixed-router in that band (r12 self-review); a concentrated
      but loose-cosine corpus there routes fraction-held, the
      compute-not-recall mis-route direction. Reliable for
      arbitrary/untrained centroids at larger C.
    - TIGHTNESS (``tight_cos``): mean cos(x, assigned centroid). A
      TRAINED quantizer equalizes occupancy by construction (Lloyd
      splits heavy clusters into sub-cells), so concentration vanishes
      even on tightly clustered corpora — but tight cells (cos >= 0.5,
      i.e. residual norm below vector norm) mean the quantizer resolved
      real structure: neighbors co-locate in the query's nearest cells
      and fixed probes hold recall. Calibrated r12 on the 8x probes:
      0.27-0.28 flat vs 0.75-0.85 clustered, trained or untrained.

    Both are proxies — a query probes its own nearest cells, not the
    globally hottest — and a mis-route costs only compute, never
    correctness: both routes return exact-cosine-ranked results from
    probed cells. ``tight_cos`` doubles as ivfpq_topk's ``by_residual``
    signal (residual codes only beat raw when residuals are small —
    the same cos >= 0.5 condition).

    Mechanics: assign <= ``sample_cap`` vectors (the ``sample_cap``
    smallest ``xxhash64(id)`` values — content-deterministic, never
    partition-layout-dependent; the pq_train seeding pattern) to their
    nearest centroid driver-side under the sliced similarity budget.

    NOTE: like every dispatcher, this runs ONE eager Spark job (a
    bounded TakeOrdered + toPandas) at CONSTRUCTION time when the
    regimes diverge. Below/at the 16-cell floor the fixed and
    fraction-held counts coincide and the probe short-circuits with
    ZERO extra jobs — gate- and bench-scale plans are unchanged.
    Callers that need pure-lazy builders should pass ``n_probe``
    explicitly.

    ``force_sample`` (r13, ADVICE r12): at the <=16-cell floor the probe
    COUNTS coincide and the default short-circuits with NaN signals —
    but :func:`ivfpq_topk` keys ``by_residual`` and ``rerank`` on
    ``tight_cos``, so a small clustered corpus silently gets the raw-code
    defaults (measured 0.28 recall on the clustered 8x shape).
    ``force_sample=True`` runs the tightness sample even at the floor
    (one bounded job) so those knobs can route; the returned ``n_probe``
    is unchanged (the counts still coincide).
    """
    n_cells = len(centroids)
    fixed = min(_PROBE_NUM, n_cells)
    auto = min(auto_n_probe(n_cells), n_cells)
    if auto <= fixed and not force_sample:
        # regimes coincide at the <=16-cell floor: ZERO extra jobs
        return ProbeRoute("fraction", auto, float("nan"), float("nan"))

    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_cap)
        .toPandas()
    )
    if pdf.empty:
        return ProbeRoute("fraction", auto, float("nan"), float("nan"))
    mat = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
    # one sliced pass yields both signals: nearest cell id + its cos
    packed = _sliced_cell_rows(
        lambda s: np.stack([np.argmax(s, axis=1), np.max(s, axis=1)], axis=1),
        mat,
        centroids,
    )
    nearest = packed[:, 0].astype(np.int64)
    tight_cos = float(packed[:, 1].mean())
    counts = np.bincount(nearest, minlength=n_cells)
    top_mass = float(np.sort(counts)[::-1][:fixed].sum()) / len(mat)
    # the mass gate must sit ABOVE the uniform baseline: a perfectly
    # flat corpus puts fixed/n_cells in the top cells, which for
    # 16 < n_cells <= 2*fixed already exceeds the absolute 0.5
    # threshold — without the 2x-uniform floor that band would route
    # every cluster-free corpus "fixed" and silently drop the
    # recall-held operating point (r12 self-review). Requiring twice
    # the uniform expectation makes "concentrated" mean concentrated at
    # every cell count; the mis-route direction when mass is thereby
    # disqualified stays fraction-held (compute, never recall), and
    # tight_cos still routes genuinely clustered corpora fixed.
    mass_gate = max(_CONCENTRATED_TOP_MASS, 2.0 * fixed / n_cells)
    if top_mass >= mass_gate or tight_cos >= _TIGHT_CELL_COS:
        # the fixed route's COUNT is itself measured (r13): the floor
        # is the pinned operating point, but a dense corpus whose
        # clusters span many cells needs the probes its neighbor cell
        # ranks say — see _rank_derived_probes
        derived = _rank_derived_probes(mat, centroids, nearest, fixed, auto)
        return ProbeRoute("fixed", derived, top_mass, tight_cos)
    # cluster-free: fraction-held is the only recall-holding default,
    # and its cost cliff deserves a visible warning (ADVICE r11): the
    # derived count scans ~62.5% of the corpus per query.
    import logging

    logging.getLogger(__name__).warning(
        "pick_probe_strategy: cluster-free cells (top-%d occupancy "
        "%.0f%%, mean assignment cos %.2f) — routing fraction-held "
        "n_probe=%d of %d cells (~%.0f%% of the corpus scanned per "
        "query, linear per-query work). If your corpus is genuinely "
        "clustered or you can trade recall for compute, pass a fixed "
        "n_probe (and n_cells ~ sqrt(n)) explicitly.",
        fixed,
        100 * top_mass,
        tight_cos,
        auto,
        n_cells,
        100 * auto / n_cells,
    )
    return ProbeRoute("fraction", auto, top_mass, tight_cos)


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
    label_col: str | None = None,
    q_salts: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine neighbors.

    Precondition (made explicit with the r16 dedup removal — ADVICE
    r16): ``id_col`` must be UNIQUE per row. The IVF merge no longer
    deduplicates (query, neighbor) pairs — an index row lives in
    exactly one argmax home cell and a query's probe cells are
    distinct, so a pair meets at most once — which means duplicate
    vec_ids now surface as duplicate top-k rows where the old
    dropDuplicates silently masked one of them.

    ``q_salts`` (r13) splits each cell's QUERY side across that many
    (cell, salt) sub-groups, replicating the cell's index rows into
    every sub-group flagged ``qrole=0`` so they don't re-query — the
    IVF twin of lsh_topk's query salting, and the same reason:
    applyInPandas groups are indivisible units AQE cannot split, and a
    cell's query side is ~``n_probe`` times its ~constant index size,
    so high probe counts (the fraction-held route) build groups whose
    Arrow transfer alone overruns default executors (measured: ~40k
    vector-carrying query rows per group at the flat 32× probe — 32
    concurrent tasks tripped netty's direct-memory cap). Each
    (query, index) pair still meets exactly once (the query lands in
    ONE salt of each probed cell; the index is present in all salts of
    its home cell). Default (None) derives
    ``ceil(n_probe * _TARGET_CELL_ROWS / _TARGET_CELL_QUERY_ROWS)`` —
    1 at the 10-probe operating point (gate/bench plans unchanged),
    growing only where the probe count does. Result-invariant by
    construction; pinned by the salted-layout invariance test.

    ``label_col``: when set, neighbors sharing the query's label are
    masked out inside the per-cell kernel — the ANN scale twin of
    :func:`similarity.hard_negative_topk` (labels ride PACKED into the
    id through the exact tier's ``similarity._pack_labels``, so the cell
    machinery is unchanged; output gains neighbor_label; a null label or
    one outside [0, 255] raises).

    The second ANN scheme next to random-hyperplane LSH: partition the
    space into ``n_cells`` Voronoi cells around coarse centroids, assign
    each index vector to its nearest cell (one cell each), and have each
    query probe its ``n_probe`` nearest cells.

    Scale shape: ONE hash shuffle on the cell id; inside each cell an
    Arrow-batched ``applyInPandas`` kernel computes query x index
    similarities as a single matmul and emits per-query local top-k
    (a candidate-pair equi-join with per-pair JVM folds was ~10x slower:
    |Q| x |cell| rows through a shuffle and an interpreted higher-order
    fold per pair); a final window keeps the global top-k. Candidate
    volume is n x n_probe x k, never quadratic.

    Default centroids are the vectors with the ``n_cells`` smallest ids —
    deterministic and model-free; pass ``centroids`` (e.g. from
    :func:`kmeans_lloyd`) for trained cells — the plan shape is identical.

    Probe-count note: the synthetic test embeddings are near-random
    (neighbor cosine ~0.5, weak cluster structure), so per-cell inclusion
    of the true neighbor is weakly correlated with the query's cell
    ranking and recall needs a generous probe fraction — measured at
    sf0.01: 0.55 @ 5/16 probes, 0.84 @ 10/16 (trained centroids 0.65 /
    0.89). ``n_probe=None`` (default; shape-aware since r12) routes via
    :func:`pick_probe_strategy`: a bounded occupancy probe keeps the
    FIXED measured operating point (10 probes, linear total work) on
    corpora whose cell occupancy is concentrated — the clustered regime
    IVF is built for — and falls back to :func:`auto_n_probe`'s
    fraction-held count (recall-safe, linear per-query work, logged
    warning) only on flat cluster-free occupancy, where that is the
    information bound (the r10 8× probe measured fixed n_probe=10
    decaying to 0.679 vs 0.912 probe-held on exactly such a corpus).
    The dispatch runs ONE eager bounded Spark job at construction when
    the regimes diverge (zero extra jobs at the <=16-cell gate/bench
    floor); pass ``n_probe`` explicitly for a pure-lazy builder.
    """
    if label_col is not None:
        embeddings = _pack_labels(embeddings, id_col, vec_col, label_col)
    if centroids is not None:
        cent_mat = _normalize(np.asarray(centroids, dtype=np.float64))
    else:
        if n_cells is None:  # corpus-size-derived (see auto_n_cells)
            n_cells = auto_n_cells(_estimate_rows(embeddings))
        cent_pdf = (
            embeddings.select(id_col, vec_col).orderBy(id_col).limit(n_cells).toPandas()
        )
        cent_mat = _normalize(np.stack(cent_pdf[vec_col].to_numpy()))
    if n_probe is None:  # shape-aware dispatch (see pick_probe_strategy)
        n_probe = pick_probe_strategy(embeddings, cent_mat, id_col, vec_col).n_probe
    # argsort top-n_probe caps at the cell count, but the fan-out
    # bookkeeping (np.repeat by n_probe) must agree with the actual
    # probed width — clamp rather than mis-shape.
    n_probe = min(n_probe, len(cent_mat))
    if q_salts is None:
        # expected query rows per cell ~ n_probe x the held cell size —
        # independent of n by construction; see _TARGET_CELL_QUERY_ROWS
        q_salts = _query_salts(n_probe * _TARGET_CELL_ROWS)
    bc = embeddings.sparkSession.sparkContext.broadcast(cent_mat)
    # salt from the UNPACKED vector id: with label_col the ids are
    # vec_id*256+label, and any salt count dividing 256 collapses
    # ids % s_n to label % s_n — skewed labels would put every query in
    # one salt (ADVICE r13)
    shift = 8 if label_col is not None else 0
    emitter = _cells("both", bc, n_probe, max(1, q_salts), id_col, vec_col, id_shift=shift)
    assigned = _emit(embeddings, emitter, id_col, vec_col)
    out_schema = _LOCAL_SCHEMA
    if label_col is not None:
        out_schema += ", neighbor_label int"
    local = assigned.groupBy("cell", "qs").applyInPandas(
        _cell_topk_kernel(k, packed_labels=label_col is not None), schema=out_schema
    )
    # meet-once tier: every (query, neighbor) pair appears in at most
    # one (cell, salt) group — skip the dedup exchange (r16)
    return _global_topk(local, k, dedup=False)


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd's k-means over the embedding column, returning (k, dim)
    L2-normalized centroids — the trained coarse quantizer ``ivf_topk``
    takes as its cell structure.

    Deterministic: init = the ``k`` vectors with the smallest ids; fixed
    ``iters`` sweeps (no tolerance races). Each sweep is the canonical
    two-shuffle shape and NOTHING leaves the cluster except (k*dim)
    numbers:

    - assign: centroids ride a broadcast into an Arrow-batched kernel
      (one cell id per vector, map-side);
    - update: per-dimension means via posexplode + (cell, dim) hash agg
      — the shuffle carries partial (sum, count) pairs, never vectors;
      the k*dim result collects to the driver (tiny by construction) to
      become the next broadcast.

    Empty cells keep their previous centroid (standard Lloyd fix). At
    100 TB: sweeps scan the corpus k-independently; production would
    train on a hash-sample (sample_hash_split) — plumbing is identical.
    """

    spark = embeddings.sparkSession
    init = (
        embeddings.select(id_col, vec_col).orderBy(id_col).limit(k).toPandas()
    )
    cents = _normalize(np.stack(init[vec_col].to_numpy()).astype(np.float64))

    src = embeddings.select(id_col, vec_col)
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def assign(batches):
            cmat = bc.value
            for pdf in batches:
                mat = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
                nearest = _sliced_cell_rows(lambda s: np.argmax(s, axis=1), mat, cmat)
                yield pd.DataFrame(
                    {
                        "cell": nearest.astype(np.int32),
                        "vec": list(mat),
                    }
                )

        assigned = src.mapInPandas(assign, schema="cell int, vec array<double>")
        sums = (
            assigned.select("cell", F.posexplode("vec").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .toPandas()
        )
        new = cents.copy()
        for cell, grp in sums.groupby("cell"):
            grp = grp.sort_values("dim")
            new[int(cell)] = grp["s"].to_numpy() / grp["n"].to_numpy()
        cents = _normalize(new)
        bc.destroy()
    return cents


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 8,
    sample_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
    normalize: bool = False,
) -> np.ndarray:
    """Train product-quantization codebooks: the vector space is split
    into ``m`` contiguous subspaces and each gets a ``k``-centroid
    codebook via Lloyd's algorithm on a BOUNDED hash-sample (the standard
    PQ recipe — faiss trains on ~10^5 samples regardless of corpus size;
    the cap keeps the driver collect O(sample_cap * dim) at any scale).
    Sampling is deterministic: the ``sample_cap`` smallest xxhash64(id)
    values. Returns ``(m, k, dim/m)`` codebooks.

    ``centroids`` (r12): when given, books are trained on RESIDUALS —
    each sampled vector is L2-normalized (matching the ivfpq assign
    kernel's preprocessing), assigned to its nearest centroid, and the
    centroid subtracted before the subspace Lloyd loop. This is the
    classic faiss IVF-PQ layout: raw-vector codes mostly spend their
    bytes re-encoding which cluster a vector sits in (information the
    cell id already carries), so on a clustered corpus the quantization
    error swamps the within-cell neighbor separations — the r12 8×
    clustered probe measured raw-code IVFPQ recall 0.28 vs IVF-flat
    1.0. Residual codes spend the same bytes on the within-cell offsets
    ADC actually needs to rank. The trade runs the OTHER way on
    cluster-free corpora (residuals are larger than the vectors,
    measured 0.79 vs raw 0.87 at the flat 8× probe) — ivfpq_topk routes
    the choice from the measured occupancy shape.

    ``normalize`` (r12 self-review): L2-normalize the sample before the
    Lloyd loop. Callers whose ENCODER normalizes its inputs (ivfpq_topk's
    assign kernel scores cosine, so it unit-norms every vector before
    byte-coding) must train books on the same scale — raw-path books
    trained on unnormalized samples would sit at the corpus's native
    magnitude while the encoder quantizes unit vectors, degenerating the
    codes on any non-unit-norm corpus. The residual path (``centroids``)
    always normalizes, as residuals are only defined against the
    unit-sphere centroids. The standalone compressor pipeline
    (embedding_pq_codes: pq_train + pq_encode, both unnormalized) stays
    self-consistent with the default False.
    """
    sample = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_cap)
        .toPandas()
    )
    mat = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    if normalize and centroids is None:
        mat = _normalize(mat)
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        mat = _normalize(mat)
        nearest = _sliced_cell_rows(lambda s: np.argmax(s, axis=1), mat, cents)
        mat = mat - cents[nearest]
    n, dim = mat.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    # a codebook cannot hold more centroids than training rows — clamp
    # so tiny corpora train valid (smaller) books instead of crashing
    # the deterministic first-k init (r11 review); downstream readers
    # take k from books.shape, so the narrower book is self-describing.
    k = min(k, n)
    sub = dim // m
    books = np.empty((m, k, sub))
    for j in range(m):
        x = mat[:, j * sub : (j + 1) * sub]
        cents = x[:k].copy()  # deterministic init: first k sample rows
        for _ in range(iters):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            cells = np.argmin(d2, axis=1)
            for c in range(k):
                members = x[cells == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to ``m`` byte codes (argmin-L2 against each
    subspace codebook) — the 4-8x compression an ANN index stores instead
    of raw floats. Encoding is the part that must scale: codebooks ride a
    broadcast into an Arrow-batched kernel, map-side only, no shuffle.
    Output: (id, codes array<int>, recon_mse double) — the per-vector
    reconstruction error makes quantization quality measurable in-line.
    """
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))

    def encode(batches):
        books = bc.value  # (m, k, sub)
        m, _, sub = books.shape
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(mat), m), dtype=np.int32)
            err = np.zeros(len(mat))
            for j in range(m):
                x = mat[:, j * sub : (j + 1) * sub]
                d2 = ((x[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
                err += d2[np.arange(len(mat)), codes[:, j]]
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                    "recon_mse": err / mat.shape[1],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        encode, schema="vec_id long, codes array<int>, recon_mse double"
    )


def _adc_scores(q_mat: np.ndarray, i_codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Asymmetric-distance (ADC) inner-product score matrix: for each
    query build the (m, pq_k) lookup table of per-subspace dot products
    against the codebook rows (one einsum), then score each index
    vector as the sum of ``m`` table gathers by its byte codes —
    algebraically ``sum_j dot(q[j*sub:(j+1)*sub], books[j][codes[i,j]])``,
    i.e. the dot product of the query against the PQ *reconstruction* of
    the index vector, computed without materializing reconstructions.
    Pure kernel under :func:`_adc_kernel` (every ADC tier) so the
    property differential (tests/test_ann_recall.py) exercises the
    exact shipped math against a sequential per-pair reference.
    Shapes: q_mat (Q, dim), i_codes (I, m) ints, books (m, pq_k, dim/m)
    -> (Q, I) float64."""
    mm, _, sub = books.shape
    luts = np.einsum("qms,mks->qmk", q_mat.reshape(len(q_mat), mm, sub), books)
    scores = np.zeros((len(q_mat), len(i_codes)))
    for j in range(mm):
        scores += luts[:, j, :][:, i_codes[:, j]]
    return scores


def _adc_emission_depth(
    k: int, rerank: int, n_probe: int, n_cents: int, tight_cells: bool
) -> int:
    """Per-cell ADC emission depth for :func:`ivfpq_topk` — deep
    (``k * rerank``) by default, capped at the r12 per-cell width
    (``k * max(4, rerank // n_probe)``) only where deep emission turns
    the global pool into a quadratic shuffle: the probe count has
    reached the fraction-held envelope AND the route is neither
    measured-tight (constant rank-derived count — the explicit-PQ
    clustered path that NEEDS depth, 0.989 vs 0.856 at the 8x clustered
    sweep) nor at the <=16-cell floor (bounded corpus; ADVICE r14).
    Extracted so the boundary cases are unit-testable without running
    the plan."""
    fraction_envelope = min(auto_n_probe(n_cents), n_cents)
    if n_probe >= fraction_envelope and not tight_cells and n_cents > _PROBE_DEN:
        return k * max(4, rerank // max(1, n_probe))
    return k * rerank


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int | None = None,
    m: int = 8,
    pq_k: int = 256,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool | None = None,
    probe_floor_shape: bool = True,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF-PQ: the memory-bounded ANN tier — candidates meet in IVF cells
    (same one-shuffle shape as :func:`ivf_topk`), but the INDEX side
    carries only its ``m`` PQ byte codes, and each query scores
    candidates with an asymmetric-distance lookup table (per subspace:
    dot(query_sub, codebook row), precomputed once per query — scoring a
    candidate is then ``m`` table lookups, no float vector needed).

    ``by_residual`` (r12): whether codes encode the residual to the
    assigned cell's centroid (the faiss IVF-PQ layout) or the raw
    vector — and the right answer is CORPUS-SHAPED, measured both
    directions at the 8× probes: on a clustered corpus raw codes
    re-encode cluster identity the cell id already carries and collapse
    (0.28 recall vs residual 0.55 vs IVF-flat 1.0); on a cluster-free
    corpus residuals are LARGER than the vectors they replace
    (||x - c||² = 2(1 - cos) with weak cos) and inflate quantization
    error (0.79 vs raw 0.87). ``None`` (default) therefore keys on the
    TIGHTNESS signal the probe dispatch already samples (mean cos of a
    vector to its assigned centroid — cos >= 0.5 is exactly "residuals
    smaller than vectors"): residual on tight cells, raw on loose —
    one routing job decides both knobs. When the caller passes
    ``n_probe`` explicitly (no dispatch runs), the default is raw;
    clustered corpora should pass ``by_residual=True``.
    ``probe_floor_shape`` (default True since r14, VERDICT r13 item 4):
    run the tightness sample even at the <=16-cell floor, where the
    probe COUNTS coincide and the dispatch would otherwise
    short-circuit with NaN signals — without it a small clustered
    corpus silently shipped raw codes (measured 0.28 recall on the
    clustered 8x shape), the engine's last silent-recall-loss default.
    The cost is ONE bounded job (<=4096-row TakeOrdered + toPandas) at
    a scale where everything is cheap; the probe count itself is
    unchanged at the floor, so a flat corpus routes raw exactly as
    before. Pass ``probe_floor_shape=False`` (with explicit knobs, or
    an explicit ``n_probe``) for the pure-lazy construction path. Under residual scoring the per-cell ADC gather drops
    the dot(q, centroid) term; it is constant per (query, cell) but NOT
    across cells, so the cell kernel RESTORES it before emitting
    (r13) — emitted scores are dot(q, PQ-reconstruction of x) in both
    code layouts and therefore cross-cell comparable, which the global
    rerank pool below requires.

    This is the faiss IVFPQ layout re-expressed on DataFrames: at 100 TB
    the index shuffle moves (cell, id, m bytes) per vector — 64x less
    than raw float64 vectors — which is the difference between an index
    that fits the cluster and one that doesn't.

    ADC distortion caps raw-score recall around ~0.6 regardless of probe
    count (measured: 0.49 @ 5 probes, 0.60 @ 10 — the quantizer misranks
    near-ties), so the standard second stage follows: each probed cell
    emits its ADC top per query (depth ``rerank * k`` on fixed-probe
    routes, where the constant probe count bounds the pool shuffle and
    tight clusters need deep per-cell emission; capped at the r12
    per-cell width ``4k`` on the derived fraction-held route, where
    both n_probe and the pool width scale with the cell count and deep
    emission would make the pool stage a quadratic shuffle — 2.6G rows
    of window spill at the flat 32× probe),
    a GLOBAL per-query pool keeps the best ``rerank * k`` ACROSS cells
    (a row_number window Spark 4 rewrites to a partial WindowGroupLimit
    — the faiss global-heap step, r13; sound because the kernel restores
    the cross-cell dot(q, centroid) term), and only the pool survivors
    join back to their exact vectors (two hash joins) for the exact-
    cosine final top-k. The re-rank join therefore touches
    n_q * rerank * k rows REGARDLESS of n_probe — r12's per-cell pools
    joined n_q * n_probe * rerank * k (410M rows at rerank=64/64x,
    failed the local rig); the window's shuffle still carries the
    per-cell pool union, but as 24-byte skinny triples, not
    vector-carrying join rows. A (query, neighbor) pair meets in exactly
    ONE cell (index rows land only in their home cell), so the pool
    window needs no pair dedup. The 64x index compression is preserved
    on the scan side; recall floor pinned in tests/test_ann_recall.py.

    ``rerank`` is the GLOBAL pool width in units of ``k`` (since r13 —
    under the r12 per-cell pools the same number bought n_probe times
    more candidates, so r12-era values do not transfer). ``rerank=None``
    derives ``4 * n_probe`` — pool coverage proportional to the scanned
    candidate volume (n_probe cells of ~constant rows), which reproduces
    the r12 union's width and cost exactly: measured at the flat 8×
    probe, recall 0.428 / 0.685 / 0.816 / 0.879 at rerank 4 / 16 / 40 /
    80 with n_probe=20 (SCALECHECK_r13 sweep; the r12 per-cell scheme
    measured 0.868 at the same 400-candidate volume).

    TIGHT cells take a different default entirely (r13, the r12 weak
    grade): within-cell neighbor gaps sit BELOW the quantizer's
    distortion floor, so ADC order among near-ties is noise and the
    pool holds recall only by coverage — a width that grows with
    within-cell density until it approaches the whole probed set (r12
    64×-clustered control: rerank=16 → 0.608 while exact in-cell
    scoring at the identical probes held 0.804 at ~3× less wall-clock).
    When the dispatch measures tight cells and the caller set neither
    ``by_residual`` nor ``rerank``, ivfpq_topk therefore routes to
    :func:`ivf_topk`'s exact in-cell kernel on the same trained
    centroids and probes — the README's measured tier guidance encoded.
    Explicit ``by_residual``/``rerank`` keeps the PQ path (deployments
    that amortize the 64× index compression across many query batches);
    its tight default is ``_TIGHT_RERANK * n_probe`` — measured at the
    8× clustered sweep (residual codes, n_probe=10): recall 0.310 /
    0.598 / 0.794 / 0.920 / 0.989 at rerank 4 / 16 / 40 / 80 / 160,
    i.e. the cross-cell pool at the r12 union's 800-candidate volume
    buys 0.989 where the per-cell pools measured 0.856 — with the
    density-decay caveat above.

    ``n_probe=None`` (default; shape-aware since r12) routes via
    :func:`pick_probe_strategy` on the trained centroids — fixed probes
    on concentrated occupancy, fraction-held on flat — with the same
    construction-time-job and cost disclosures as :func:`ivf_topk`;
    pass a fixed ``n_probe`` for a pure-lazy builder.
    """
    spark = embeddings.sparkSession
    if centroids is not None:
        # precomputed handle (prepare_ann_route / ann_topk_auto route
        # reuse, VERDICT r14 item 5) — already L2-normalized Lloyd
        # output; re-normalizing is an idempotent safety net
        cents = _normalize(np.asarray(centroids, dtype=np.float64))
    else:
        if n_cells is None:  # corpus-size-derived (see auto_n_cells)
            n_cells = auto_n_cells(_estimate_rows(embeddings))
        cents = kmeans_lloyd(
            embeddings, k=n_cells, iters=3, id_col=id_col, vec_col=vec_col
        )
    tight_cells = False  # measured-tight fixed route (set when dispatch runs)
    if n_probe is None:  # shape-aware dispatch (see pick_probe_strategy)
        routed = pick_probe_strategy(
            embeddings, cents, id_col, vec_col, force_sample=probe_floor_shape
        )
        n_probe = routed.n_probe
        tight = routed.tight_cos >= _TIGHT_CELL_COS
        tight_cells = tight
        # Tier route (r13, VERDICT r12 item 2): on TIGHT cells with no
        # explicit PQ knobs, score the probed cells EXACTLY instead of
        # via ADC. On tight clusters the quantizer's distortion sits
        # ABOVE the within-cell neighbor gaps, so the ADC pool holds
        # recall only by coverage — and the width it needs grows with
        # within-cell density until it approaches the ENTIRE probed
        # candidate set (r12 64x clustered: rerank=16 measured 0.608
        # while IVF-flat at the identical probe route held 0.804 at
        # ~3x less wall-clock). At that width the exact in-cell kernel
        # strictly dominates the PQ path for the self-top-k workload:
        # the query side (full vectors x n_probe) dominates both plans'
        # shuffles anyway, and exact scoring needs no rerank join.
        # This is the README's measured tier guidance in code. Callers
        # that amortize a PQ index across many query batches (where the
        # 64x index-side compression is the binding term) keep the PQ
        # path by passing by_residual/rerank explicitly.
        if tight and by_residual is None and rerank is None:
            return ivf_topk(
                embeddings,
                k=k,
                n_probe=n_probe,
                id_col=id_col,
                vec_col=vec_col,
                centroids=cents,
            )
        # one shape measurement decides the remaining knobs; by_residual
        # keys on TIGHTNESS specifically — residual codes only beat raw
        # when residuals are smaller than the vectors (cos >= 0.5)
        if by_residual is None:
            by_residual = tight
        if rerank is None:
            # the GLOBAL pool default scales with the probe count: the
            # pool must cover the scanned candidate volume (n_probe x
            # ~constant cell rows), and 4 x n_probe reproduces the
            # r12 per-cell union's width and cost exactly — measured
            # 0.879 at the flat 8x probe (pool 400) vs 0.868 for the
            # r12 per-cell scheme (SCALECHECK_r13 rerank sweep).
            # Tight cells only reach here with by_residual explicit
            # (the default routes exact above): same scaling, wider
            # base (_TIGHT_RERANK), same caveat the r12 numbers carry.
            rerank = (_TIGHT_RERANK if tight else 4) * max(1, n_probe)
    if by_residual is None:
        by_residual = False  # explicit n_probe, no dispatch: raw codes
    if rerank is None:
        # explicit n_probe, default pool: match the dispatch default's
        # scaling — a fixed global 4 would silently narrow the pool by
        # the probe-count factor vs the r12 per-cell semantics
        rerank = 4 * max(1, n_probe)
    # clamp to the ACTUAL centroid count, not the nominal n_cells:
    # kmeans_lloyd inits from limit(k), so a corpus smaller than n_cells
    # returns fewer centroids, and the assign kernel's fan-out
    # bookkeeping (np.repeat by n_probe) must agree with the probed
    # width argsort can actually deliver.
    n_probe = min(n_probe, len(cents))
    # Per-cell ADC emission depth. On small fixed-probe operating
    # points (tight cells' rank-derived counts, or a caller-chosen
    # modest n_probe) deep emission — min(k*rerank, |cell|) per query —
    # is bounded by the constant probe count, and the global pool needs
    # it (on tight clusters the true top-pool lives in one or two
    # cells; capping per-cell depth at the r12 width measured 0.856
    # where deep emission measures 0.989). But once the PROBE COUNT
    # reaches the fraction-held envelope (auto_n_probe of the actual
    # centroid count — where n_probe scales with the cell count and so
    # does the default pool width), deep emission turns the pool stage
    # into a QUADRATIC SHUFFLE — n_q x n_probe x |cell| skinny rows,
    # 2.6G rows / 60+ GB of window spill at the flat 32x probe (r13).
    # There the emission is capped at the r12 per-cell width (4k, the
    # global width divided by the probe count it was scaled by): the
    # union the pool ranks is then EXACTLY the candidate set r12
    # joined (flat 8x: 0.868), every stage is bounded by the same
    # budget r12's 64x flat refresh survived, and the pool/join still
    # carry r13's n_probe-free join bound. The guard keys on the probe
    # count ITSELF, not on which route chose it (ADVICE r13): an
    # explicit n_probe=79 — the documented pure-lazy escape hatch for
    # flat corpora at 32x — recreates the exact shuffle volume the
    # derived fraction route does, and r13's route-flag cap silently
    # let it through. ADC ranking on loose cells has real signal (that
    # is why raw codes win there), so per-cell truncation costs little
    # — re-measured at the flat 8x probe after the cap: SCALECHECK_r13.
    # Two exemptions (ADVICE r14 — the r13 cap over-triggered at the
    # boundary): (a) measured-TIGHT cells, where the rank-derived fixed
    # count can collide with the envelope at the <=16-cell floor
    # (auto_n_probe(16) = 10 = the pinned operating floor) yet the
    # whole point of the explicit-PQ tight path is deep per-cell
    # emission (0.989 vs 0.856 at the 8x clustered sweep); the count is
    # CONSTANT there, so the shuffle stays bounded. (b) the <=16-cell
    # floor itself, where auto_n_cells caps the corpus at ~16 *
    # _TARGET_CELL_ROWS rows — every stage is bounded at that size and
    # an explicit n_probe can only recreate a trivially small pool.
    emit_rows = _adc_emission_depth(k, rerank, n_probe, len(cents), tight_cells)
    # normalize=True on the raw path: the assign kernel byte-codes
    # L2-normalized vectors (cosine scoring), so the books must train on
    # the same scale — unnormalized raw books degenerate the codes on
    # any non-unit-norm corpus (r12 self-review; pinned by the varied-
    # norm invariance test in tests/test_ann_recall.py).
    books = pq_train(
        embeddings,
        m=m,
        k=pq_k,
        id_col=id_col,
        vec_col=vec_col,
        centroids=cents if by_residual else None,
        normalize=True,
    )
    bc_c = spark.sparkContext.broadcast(cents)
    bc_b = spark.sparkContext.broadcast(books)
    # query-salt count: same derivation and rationale as ivf_topk's
    # (see _TARGET_CELL_QUERY_ROWS) — 1 at the 10-probe operating point,
    # growing only with the probe count. Index replicas here are SKINNY
    # code rows (m bytes), so salting costs (s_n - 1) code rows per
    # vector, never vectors.
    emitter = _cells(
        "both",
        bc_c,
        n_probe,
        _query_salts(n_probe * _TARGET_CELL_ROWS),
        id_col,
        vec_col,
        ("cell", "vid", "vec", "codes", "is_index", "qs"),
        bc_books=bc_b,
        residual=by_residual,
    )
    assigned = _emit(embeddings, emitter, id_col, vec_col)
    local = assigned.groupBy("cell", "qs").applyInPandas(
        _adc_kernel(bc_b, emit_rows, bc_c if by_residual else None),
        schema=_SCORE_SCHEMA,
    )
    # the global pool (best rerank*k ADC candidates ACROSS probed cells)
    # feeds the exact rerank: its join input is n_q*rerank*k rows, not
    # n_q*n_probe*rerank*k; an index vector lands in exactly one cell,
    # so no pair dedup is needed
    return _rerank_exact(local, embeddings, embeddings, k, k * rerank, id_col, vec_col)


def lsh_pairs_above(
    embeddings: DataFrame,
    threshold: float,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **lsh_kwargs,
) -> DataFrame:
    """Approximate cosine-threshold near-duplicate PAIRS via the LSH
    top-k machinery — the linear-shuffle scale twin of
    ``similarity.cosine_pairs_above`` (which is exact but quadratic by
    construction: it scores all n^2 pairs; the r7 8x probe measured 39x
    runtime at 8x data, i.e. the algorithm, not the plan).

    Shape: every vector queries its LSH buckets (auto-scaled planes,
    capped multi-probe — all of :func:`lsh_topk`'s linearization
    applies), keeps neighbors with cosine >= ``threshold``, and each
    unordered pair is canonicalized (least, greatest) + deduped across
    tables/directions. Cosines come from the same ordered fold as the
    exact kernel, so every emitted pair carries the bit-identical value
    the exact tier would report — the approximation is RECALL only
    (a pair whose vectors never share a bucket is missed; at near-dup
    thresholds (>= 0.9, angle <= 26 deg) hyperplane collision
    probability per table is (1 - theta/pi)^P, recall pinned in
    tests/test_ann_recall.py). ``k`` bounds neighbors per vector: for
    DEDUP semantics duplicates cluster small, so a handful suffices;
    raise it if a vector can have many >=threshold twins.
    """
    topk = lsh_topk(embeddings, k=k, id_col=id_col, vec_col=vec_col, **lsh_kwargs)
    return (
        topk.filter(F.col("cosine") >= threshold)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            F.least("query_id", "neighbor_id").alias("id_a"),
            F.greatest("query_id", "neighbor_id").alias("id_b"),
            "cosine",
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )


# ---------------------------------------------------------------------------
# ann_topk_auto: the one ANN front door (r14, VERDICT r13 item 3)
# ---------------------------------------------------------------------------

# Corpus size below which the exact broadcast tier is the right tool:
# brute_force_topk at 4096 rows is one broadcast + a 4096^2 matmul
# (~134M multiply-adds per dim-slice — milliseconds on any executor),
# recall 1.0 by construction, zero index to build. Above it the
# quadratic term starts to matter and the measured tier menu applies.
_EXACT_TIER_MAX = 4096


class TierRoute(NamedTuple):
    tier: str  # "exact" | "ivf" | "ivfpq" | "lsh"
    n_est: int  # plan-statistics row estimate the size gate used
    dim: int  # measured vector dimensionality (0 on the exact tier)
    probe: "ProbeRoute | None"  # shape signals (None on the exact tier)
    # Trained coarse quantizer (kmeans_lloyd output) when the route was
    # built by :func:`prepare_ann_route` — the index-build/index-use
    # split (VERDICT r14 item 5): a caller running many top-k calls over
    # the same corpus passes the handle back so construction (the seed
    # job, the shape sample, AND the 3-iter Lloyd on the ivf/ivfpq
    # tiers) amortizes instead of re-running per call. None on routes
    # from :func:`pick_ann_tier` (route-only, no training).
    centroids: "np.ndarray | None" = None
    # Corpus size the handle's training saw (r16 — the append/staleness
    # contract's reference point): set by :func:`prepare_ann_route`;
    # :func:`ann_index_append` compares the grown corpus against it so
    # repeated non-stale appends accumulate toward ONE growth bound
    # instead of resetting it each call. 0 = untrained route
    # (:func:`pick_ann_tier`), where n_est itself is the fallback base.
    n_trained: int = 0


def pick_ann_tier(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_budget_bytes: "int | None" = None,
    n_rows: "int | None" = None,
) -> TierRoute:
    """Pick the ANN tier for THIS corpus — the README's measured tier
    menu (SCALECHECK_r13) as a routing function:

    - ``exact``   n <= _EXACT_TIER_MAX: brute-force broadcast top-k.
      Recall 1.0, trivially cheap at this size — the same reasoning as
      the <=16-cell floors, made explicit.
    - ``ivf``     measured-tight / concentrated cells (the FIXED probe
      route): exact in-cell scoring on trained centroids with
      rank-derived probes — the measured winner on clustered corpora
      at every probed scale (64x clustered: 0.977 at 161 s vs LSH's
      0.991 at 325 s vs the r12 ADC default's 0.608 at 381 s).
    - ``ivfpq``   same clustered regime when the caller declares an
      index byte budget the raw float64 index would overflow
      (``index_budget_bytes``): the PQ path's m-byte codes are 64x
      smaller on the index-side shuffle — the regime where IVF-PQ
      pays off (billion-row, high-dim corpora on a real cluster);
      residual/raw and the pool width route from the same tightness
      signal inside :func:`ivfpq_topk`. Budget is caller knowledge —
      no sample can measure a cluster's memory ceiling.
    - ``lsh``     flat cluster-free cells (the FRACTION route): banded
      signatures on derived tables — LINEAR total work where
      fraction-held IVF is the information-bound quadratic (64x flat:
      LSH completes in linear time; IVF-fraction measured 232x-104x
      base at 64x data). On flat corpora recall decays gently with
      scale (0.933 at 8x, 0.841 at 32x) and that is the honest trade:
      the alternatives hold recall only by scanning ~62.5% of the
      corpus per query.

    Shape signals come from the SAME machinery every dispatcher uses:
    :func:`pick_probe_strategy` (forced at the floor so tightness is
    always measured) over the untrained centroid seed — the r12
    calibration showed tightness separates flat (0.27-0.28) from
    clustered (0.75-0.85) corpora trained or untrained, so the seed is
    shape-faithful without paying Lloyd for corpora that will route to
    LSH anyway. Cost: one bounded TakeOrdered seed job + the one
    bounded shape sample.

    Mis-route direction (the dispatch-family invariant): a clustered
    corpus mis-read as flat routes LSH, which holds recall ~0.99 on
    clustered shapes at more wall-clock (compute, never recall); a
    flat corpus mis-read as clustered is exactly what the misroute
    property test pins against (`pick_probe_strategy` fires "fixed"
    only when the full corpus shows the claimed structure); the exact
    tier is recall-1.0 by construction. The chosen executor re-derives
    its own knobs on its own (trained) geometry, each with its own
    conservative derivation.
    """

    # n_rows: caller-known corpus size — plans whose statistics lie
    # (an anti-joined live frame after ann_index_delete inherits its
    # base scan's estimate) would otherwise size the quantizer and the
    # staleness reference off the stale number
    n_est = n_rows if n_rows is not None else _estimate_rows(embeddings)
    if n_est <= _EXACT_TIER_MAX:
        return TierRoute("exact", n_est, 0, None)
    n_cells = auto_n_cells(n_est)
    seed_pdf = (
        embeddings.select(id_col, vec_col).orderBy(id_col).limit(n_cells).toPandas()
    )
    if seed_pdf.empty:
        return TierRoute("exact", n_est, 0, None)
    cents0 = _normalize(np.stack(seed_pdf[vec_col].to_numpy()).astype(np.float64))
    routed = pick_probe_strategy(
        embeddings, cents0, id_col, vec_col, force_sample=True
    )
    dim = int(cents0.shape[1])
    clustered = routed.route == "fixed" or (
        routed.tight_cos == routed.tight_cos and routed.tight_cos >= _TIGHT_CELL_COS
    )
    if clustered:
        if (
            index_budget_bytes is not None
            and n_est * dim * 8 > index_budget_bytes
        ):
            return TierRoute("ivfpq", n_est, dim, routed)
        return TierRoute("ivf", n_est, dim, routed)
    return TierRoute("lsh", n_est, dim, routed)


def prepare_ann_route(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_budget_bytes: "int | None" = None,
    n_rows: "int | None" = None,
) -> TierRoute:
    """Index-BUILD step of the auto router (VERDICT r14 item 5): pick
    the tier via :func:`pick_ann_tier` and train what the chosen tier
    needs once — the 3-iter Lloyd centroids on the ivf/ivfpq tiers —
    returning a :class:`TierRoute` handle the caller passes back into
    :func:`ann_topk_auto` (or :func:`~.search.ann_search`) on every
    subsequent call over the SAME corpus. Without the handle each call
    re-pays one bounded seed job + one shape sample + (ivf route) a
    full Lloyd; with it, a top-k call starts at the lazy plan build.
    Results are byte-identical either way (pinned in
    tests/test_ann_recall.py): every derivation downstream of the
    centroids is deterministic in them."""
    route = pick_ann_tier(embeddings, id_col, vec_col, index_budget_bytes, n_rows)
    route = route._replace(n_trained=route.n_est)
    if route.tier in ("ivf", "ivfpq"):
        cents = kmeans_lloyd(
            embeddings,
            k=auto_n_cells(route.n_est),
            iters=3,
            id_col=id_col,
            vec_col=vec_col,
        )
        return route._replace(centroids=cents)
    return route


# Growth bound for the append/staleness contract (faiss retrain
# guidance: an IVF index trained on n vectors serves well until the
# corpus roughly doubles past its training size — beyond that, trained
# cells average 2x their target occupancy and the per-cell kernels'
# constant-size premise erodes). Measured against n_trained, so
# repeated non-stale appends accumulate toward one bound.
_RETRAIN_GROWTH = 2.0


class AppendReport(NamedTuple):
    n_delta: int  # exact rows appended this call
    delta_tight_cos: float  # mean cos(delta vec, nearest trained cell); NaN if unmeasured
    delta_top_mass: float  # delta mass in its fullest _PROBE_NUM cells; NaN if unmeasured
    stale: bool  # True when the handle no longer fits the grown corpus
    reason: str  # "" | "size" | "shape" | "tier-gate"


def ann_index_append(
    route: TierRoute,
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_budget_bytes: "int | None" = None,
    retrain: bool = True,
) -> "tuple[TierRoute, DataFrame, AppendReport]":
    """Append a delta batch to a frozen :class:`TierRoute` handle — the
    other half of the faiss serving contract next to
    :func:`prepare_ann_route`'s ``train()`` (VERDICT r15 item 1:
    ``index.add()`` + a measured retrain trigger).

    Append itself is FREE in this engine's layout: the ivf/ivfpq
    kernels assign every index row to its home trained cell per Arrow
    batch at query time (no materialized inverted lists), so serving
    the union is just ``ann_search(queries, base UNION delta,
    route=handle)`` — new vectors land in the TRAINED cells with zero
    re-Lloyd, and results on the unchanged prefix are byte-identical
    (the centroids, probes and kernels are untouched; pinned in
    tests/test_ann_lifecycle.py). What a production loop actually needs
    from ``add()`` is the STALENESS question: when has the corpus grown
    or drifted enough that the frozen handle mis-serves it? Two
    measured triggers, each reusing the engine's own routing bounds:

    - **size** (``n_base + n_delta > _RETRAIN_GROWTH * n_trained``):
      ``auto_n_cells`` sized the quantizer so cells hold
      ~_TARGET_CELL_ROWS rows; past ~2x growth every cell averages
      double that and the constant-cell-size premise behind the probe
      derivations erodes. This bound also caps hot-cell growth from
      skewed deltas: a delta funneling into ONE trained cell can at
      most double the corpus — and so that cell — before this trigger
      forces a retrain, and the per-cell kernels are query-chunked
      (:func:`~.similarity._by_query_chunks`) in the interim.
    - **shape** (``delta_tight_cos < _TIGHT_CELL_COS``): the bounded
      shape sample (same xxhash64-seeded, capped draw as
      :func:`pick_probe_strategy`) re-measured on the DELTA against the
      handle's trained centroids. The ivf/ivfpq tiers were routed
      because assignment cosine cleared the engine's own clustered
      threshold; a delta that lands BELOW it (off-distribution data —
      a new modality, a new embedding model) would be served from
      cells that don't resolve it, so the trigger fires at exactly the
      threshold that would have routed it away from this tier.
    - **tier-gate** (exact tier only): the union outgrew
      ``_EXACT_TIER_MAX``, so the size gate that picked the exact tier
      no longer holds.

    The lsh tier carries no trained state (planes/tables derive per
    call from exact counts), so its handle never goes stale — only
    ``n_est`` advances.

    When a trigger fires and ``retrain=True`` (default), the returned
    handle is a fresh :func:`prepare_ann_route` over the union — the
    retrain the trigger exists to demand; ``retrain=False`` returns the
    grown-but-stale handle (still correct: every tier's mis-route
    direction is compute/recall-envelope, never wrong answers) so
    callers can schedule the rebuild themselves. Returns
    ``(handle, union_frame, report)``; the one eager cost of a
    non-stale append is ``delta.count()`` plus the bounded shape sample
    — both on the DELTA, the small side by construction, never the
    accumulated index (the 8x probe in SCALECHECK_r16 measures append
    cost well under rebuild cost)."""

    union = base.unionByName(delta)
    # exact count on the DELTA only — the bounded side of an append by
    # construction (the accumulated index is never re-scanned)
    n_delta = delta.count()
    n_new = route.n_est + n_delta
    n_ref = route.n_trained if route.n_trained > 0 else route.n_est
    stale, reason = False, ""
    d_tight, d_mass = float("nan"), float("nan")
    if route.tier == "exact":
        if n_new > _EXACT_TIER_MAX:
            stale, reason = True, "tier-gate"
    elif route.tier in ("ivf", "ivfpq") and route.centroids is not None:
        if n_new > _RETRAIN_GROWTH * n_ref:
            stale, reason = True, "size"
        elif n_delta > 0:
            pdf = (
                delta.select(id_col, vec_col)
                .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
                .limit(_OCCUPANCY_SAMPLE_CAP)
                .toPandas()
            )
            mat = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            packed = _sliced_cell_rows(
                lambda s: np.stack(
                    [np.argmax(s, axis=1), np.max(s, axis=1)], axis=1
                ),
                mat,
                route.centroids,
            )
            d_tight = float(packed[:, 1].mean())
            counts = np.bincount(
                packed[:, 0].astype(np.int64), minlength=len(route.centroids)
            )
            d_mass = float(np.sort(counts)[::-1][:_PROBE_NUM].sum()) / len(mat)
            if d_tight < _TIGHT_CELL_COS:
                stale, reason = True, "shape"
    report = AppendReport(n_delta, d_tight, d_mass, stale, reason)
    if stale and retrain:
        return (
            prepare_ann_route(union, id_col, vec_col, index_budget_bytes),
            union,
            report,
        )
    return route._replace(n_est=n_new), union, report


def ann_topk_auto(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_budget_bytes: "int | None" = None,
    route: "TierRoute | None" = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors with the tier chosen by
    :func:`pick_ann_tier` — the single ANN front door. All tiers emit
    the same ``(query_id, neighbor_id, cosine, rank)`` schema with the
    same deterministic (cosine desc, neighbor_id asc) tie-break, so
    callers can treat the router as one operator. Recall floors for
    the routed tiers at 8x both shapes are pinned in
    tests/test_ann_recall.py; route choices at 8x/32x/64x recorded in
    SCALECHECK_r14.

    ``route``: a precomputed :class:`TierRoute` handle from
    :func:`prepare_ann_route` (or :func:`pick_ann_tier`) — skips the
    per-call routing jobs and, when the handle carries trained
    centroids, the per-call Lloyd (VERDICT r14 item 5). The caller owns
    the contract that the handle was built on THIS corpus."""
    if route is None:
        route = pick_ann_tier(embeddings, id_col, vec_col, index_budget_bytes)
    if route.tier == "exact":
        from etl_covid19_brasil_spark.llm.similarity import brute_force_topk

        return brute_force_topk(embeddings, k=k, id_col=id_col, vec_col=vec_col)
    if route.tier == "lsh":
        if (
            index_budget_bytes is not None
            and route.dim > 0
            and route.n_est * route.dim * 8 > index_budget_bytes
        ):
            # declared byte budget the raw float64 index overflows, on
            # the FLAT route: the full-vector banding shuffle replicates
            # vector bytes T x salts-fold — exactly what the budget
            # forbids — so take the ADC-banded form (identical
            # planes/tables/fan/salting; codes on the index side, exact
            # rerank for pool survivors). The self-join shape passes the
            # corpus as both frames; the q_id == i_id mask reproduces
            # lsh_topk's exclusion semantics. Same opt-in discipline as
            # the ivfpq budget route (ADVICE r14): without the budget
            # this stays the full-vector form.
            from etl_covid19_brasil_spark.llm.search import lsh_adc_search

            return lsh_adc_search(
                embeddings, embeddings, k=k, id_col=id_col, vec_col=vec_col
            )
        return lsh_topk(
            embeddings, k=k, dim=route.dim, id_col=id_col, vec_col=vec_col
        )
    if route.tier == "ivfpq":
        # by_residual=True pins the PQ path: the tier is only chosen on
        # CLUSTERED corpora (residual codes are the measured layout
        # there) whose raw float64 index overflows the caller's declared
        # index_budget_bytes — without the explicit knob ivfpq_topk's
        # internal tight-cell dispatch would route back to ivf_topk's
        # exact kernel with the full-width index, silently ignoring the
        # budget that selected this tier (ADVICE r14). rerank stays
        # derived (_TIGHT_RERANK * n_probe on the tight route).
        return ivfpq_topk(
            embeddings,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            by_residual=True,
            centroids=route.centroids,
        )
    # "ivf": trained cells; n_probe=None re-derives the probe count on
    # the TRAINED geometry (rank-derived, floor 10) — the seed probe's
    # count was measured against the untrained seed cells. A handle from
    # prepare_ann_route carries the trained centroids; training runs
    # per call only without one.
    cents = route.centroids
    if cents is None:
        cents = kmeans_lloyd(
            embeddings,
            k=auto_n_cells(route.n_est),
            iters=3,
            id_col=id_col,
            vec_col=vec_col,
        )
    return ivf_topk(
        embeddings, k=k, centroids=cents, id_col=id_col, vec_col=vec_col
    )


# ---------------------------------------------------------------------------
# Index persistence — the faiss write_index()/read_index() half of the
# serving contract (train -> add/delete -> SAVE -> serve elsewhere).

# Stamped into the meta row so a future layout change can refuse or
# migrate old artifacts instead of misreading them.
_INDEX_FORMAT_VERSION = 1

_INDEX_META_SCHEMA = StructType(
    [
        StructField("format_version", LongType(), False),
        StructField("tier", StringType(), False),
        StructField("n_est", LongType(), False),
        StructField("dim", LongType(), False),
        StructField("n_trained", LongType(), False),
        StructField("probe_route", StringType(), True),
        StructField("n_probe", LongType(), True),
        StructField("top_mass", DoubleType(), True),
        StructField("tight_cos", DoubleType(), True),
    ]
)

_INDEX_CENTROID_SCHEMA = StructType(
    [
        StructField("cell_id", LongType(), False),
        StructField("centroid", ArrayType(DoubleType()), False),
    ]
)


def ann_index_save(spark, route: TierRoute, path: str) -> None:
    """Persist a :class:`TierRoute` handle as two parquet datasets under
    ``path`` (``meta/``: one row of tier + gate numbers + probe signals;
    ``centroids/``: one row per trained cell) — faiss ``write_index``
    re-expressed for a lakehouse: the artifact is ordinary parquet
    written through the session's hadoop filesystem, so it lands on any
    scheme the session can reach (s3a/abfss/file) and any reader —
    including a plain SQL engine auditing what the index was trained on
    — can inspect it without this library.

    The handle IS the index in this engine's layout (no materialized
    inverted lists — the kernels assign rows to trained cells per Arrow
    batch at query time), so the artifact is tiny: O(n_cells x dim)
    float64 centroids plus one meta row, regardless of corpus size.
    float64 -> parquet DOUBLE is lossless, so a loaded handle serves
    byte-identical results (pinned in tests/test_ann_lifecycle.py);
    ``mode=overwrite`` gives save the same last-writer-wins semantics as
    every engine sink."""
    # Both frames are built from Arrow tables, which land as JVM
    # LocalRelations under any session conf. A pandas frame takes that
    # path only when the session enables Arrow; otherwise (like a
    # list-of-tuples createDataFrame) it becomes a PICKLED-RDD relation
    # whose every write job spawns defaultParallelism Python workers for
    # a handful of rows (measured ~5 s per write vs 0.2 s). The empty
    # frame takes the same fast path via a zero-row range.
    meta = pd.DataFrame(
        [
            {
                "format_version": _INDEX_FORMAT_VERSION,
                "tier": route.tier,
                "n_est": int(route.n_est),
                "dim": int(route.dim),
                "n_trained": int(route.n_trained),
                "probe_route": route.probe.route if route.probe is not None else None,
                "n_probe": int(route.probe.n_probe) if route.probe is not None else None,
                "top_mass": float(route.probe.top_mass)
                if route.probe is not None
                else None,
                "tight_cos": float(route.probe.tight_cos)
                if route.probe is not None
                else None,
            }
        ]
    )
    spark.createDataFrame(
        pa.Table.from_pandas(meta, preserve_index=False), schema=_INDEX_META_SCHEMA
    ).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path.rstrip("/") + "/meta")
    cents = route.centroids
    if cents is not None:
        cmat = np.asarray(cents)
        cdf = spark.createDataFrame(
            pa.Table.from_pandas(
                pd.DataFrame(
                    {
                        "cell_id": np.arange(len(cmat), dtype=np.int64),
                        "centroid": [list(map(float, c)) for c in cmat],
                    }
                ),
                preserve_index=False,
            ),
            schema=_INDEX_CENTROID_SCHEMA,
        )
    else:
        cdf = spark.range(0).select(
            F.col("id").alias("cell_id"),
            F.array(F.lit(0.0).cast("double")).alias("centroid"),
        )
    cdf.coalesce(1).write.mode("overwrite").parquet(path.rstrip("/") + "/centroids")


def ann_index_load(spark, path: str) -> TierRoute:
    """Load a handle saved by :func:`ann_index_save` — faiss
    ``read_index``. The trained state (centroids, probe signals, gate
    numbers) round-trips bit-exactly through parquet DOUBLE, so a
    handle loaded on another session — or another cluster — serves
    byte-identical results to the one that was saved (pinned in
    tests/test_ann_lifecycle.py) and composes with the rest of the
    lifecycle (:func:`ann_index_append` staleness triggers keep their
    reference point because ``n_trained`` survives the roundtrip)."""
    m = scan_parquet(spark, path.rstrip("/") + "/meta").collect()
    if len(m) != 1:
        raise ValueError(f"ann_index_load: expected 1 meta row, got {len(m)}")
    meta = m[0]
    if meta["format_version"] != _INDEX_FORMAT_VERSION:
        raise ValueError(
            "ann_index_load: unsupported index format "
            f"{meta['format_version']} (this build reads {_INDEX_FORMAT_VERSION})"
        )
    probe = None
    if meta["probe_route"] is not None:
        probe = ProbeRoute(
            meta["probe_route"],
            int(meta["n_probe"]),
            float(meta["top_mass"]),
            float(meta["tight_cos"]),
        )
    crows = scan_parquet(spark, path.rstrip("/") + "/centroids").collect()
    cents = None
    if crows:
        cents = np.stack(
            [
                np.asarray(r["centroid"], dtype=np.float64)
                for r in sorted(crows, key=lambda r: r["cell_id"])
            ]
        )
    return TierRoute(
        meta["tier"],
        int(meta["n_est"]),
        int(meta["dim"]),
        probe,
        cents,
        int(meta["n_trained"]),
    )


# Shrink bound for the delete/staleness contract — the mirror of
# _RETRAIN_GROWTH: auto_n_cells sized the quantizer for ~_TARGET_CELL_ROWS
# per cell at training size, so once deletes halve the live corpus the
# cells average half their sized occupancy and every probe scans twice
# the eligible fraction it was derived for (compute waste, never wrong
# answers — the usual mis-route direction).
_RETRAIN_SHRINK = 0.5


class DeleteReport(NamedTuple):
    n_tombstones: int  # distinct ids tombstoned this call
    live_est: int  # corpus size estimate after the delete (lower bound)
    stale: bool  # True when the handle no longer fits the shrunk corpus
    reason: str  # "" | "shrink"


def ann_index_delete(
    route: TierRoute,
    base: DataFrame,
    delete_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_budget_bytes: "int | None" = None,
    retrain: bool = True,
) -> "tuple[TierRoute, DataFrame, DeleteReport]":
    """Delete vectors from a frozen :class:`TierRoute` handle — faiss
    ``remove_ids``, completing the lifecycle triangle next to
    :func:`prepare_ann_route` (train) and :func:`ann_index_append`
    (add). Deletion is a TOMBSTONE mask, not a rebuild: the returned
    live frame is ``base ANTI-JOIN delete_ids``, and because the
    kernels assign rows to trained cells per Arrow batch at query time
    (no materialized inverted lists), tombstoned rows simply never
    reach a kernel — serving the live frame through the unchanged
    handle returns exactly what an index built without those rows
    returns on the exact tier (DuckDB-oracled in the registered query)
    and keeps results on surviving neighbors byte-identical. The
    anti-join broadcasts ``delete_ids`` — the small side of a delete by
    construction — so the mask adds no shuffle over the index.

    The lifecycle question a delete owes production is again STALENESS:
    the ``shrink`` trigger fires when the live estimate falls below
    ``_RETRAIN_SHRINK x n_trained`` — past half the training size the
    trained cells average half their sized occupancy and every probe
    derivation over-scans (the mirror of the append path's 2x growth
    bound; both accumulate against the SAME ``n_trained`` reference, so
    interleaved appends and deletes trip whichever bound the net drift
    crosses first). The eager cost of a delete is one
    ``delete_ids.distinct().count()`` on the tombstone side — the
    accumulated index is never re-scanned; ``live_est`` therefore
    subtracts the full tombstone count and is a LOWER bound (ids absent
    from ``base`` over-subtract), which errs toward retraining early,
    never toward serving a degenerate handle. The exact and lsh tiers
    carry no trained state, so their handles never go stale on delete —
    only ``n_est`` shrinks. A fired trigger with ``retrain=True``
    returns a fresh :func:`prepare_ann_route` over the live frame;
    ``retrain=False`` returns the shrunk-but-stale handle for callers
    that schedule rebuilds themselves."""
    tomb = delete_ids.select(id_col).distinct()
    n_tomb = tomb.count()
    live = base.join(F.broadcast(tomb), on=id_col, how="left_anti")
    live_est = max(int(route.n_est) - n_tomb, 0)
    n_ref = route.n_trained if route.n_trained > 0 else route.n_est
    stale, reason = False, ""
    if (
        route.tier in ("ivf", "ivfpq")
        and route.centroids is not None
        and live_est < _RETRAIN_SHRINK * n_ref
    ):
        stale, reason = True, "shrink"
    report = DeleteReport(n_tomb, live_est, stale, reason)
    if stale and retrain:
        # a retrain rescans the live frame anyway (Lloyd), so one exact
        # count is marginal — and necessary: the anti-joined frame's
        # plan statistics inherit the BASE scan's row count, which
        # would size the fresh quantizer and the next staleness
        # reference off the pre-delete corpus
        return (
            prepare_ann_route(
                live, id_col, vec_col, index_budget_bytes, n_rows=live.count()
            ),
            live,
            report,
        )
    return route._replace(n_est=live_est), live, report
