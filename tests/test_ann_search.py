"""ann_search (two-DataFrame retrieval, VERDICT r14 item 1) and the
prepare_ann_route handle (item 5): tier equivalence, the 8x recall
floor vs brute force on the same split, and byte-identity of the
amortized-construction path. Plan pins live in tests/test_plans.py."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import jobs_submitted

SF = "/root/testdata/sf0.01"


def _unit(m):
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _truth_two_frame(q_ids, q_mat, i_ids, i_mat, k=5) -> set:
    """Exact two-frame top-k truth set in numpy (same tie-break)."""
    qn, idxn = _unit(q_mat.astype(np.float64)), _unit(i_mat.astype(np.float64))
    sims = qn @ idxn.T
    sims[q_ids[:, None] == i_ids[None, :]] = -np.inf
    out = set()
    for r, qid in enumerate(q_ids):
        order = np.lexsort((i_ids, -sims[r]))[:k]
        out.update((int(qid), int(i_ids[j])) for j in order if sims[r, j] > -np.inf)
    return out


def _split_frames(spark, n, dim, seed, anchors_n=8, noise=0.08):
    """Clustered corpus split 1/20 queries vs 19/20 index (the
    registered split discipline), returned as (q_df, i_df, numpy truth
    inputs)."""
    rng = np.random.default_rng(seed)
    anchors = _unit(rng.normal(size=(anchors_n, dim)))
    vecs = _unit(
        anchors[np.arange(n) % anchors_n] + noise * rng.normal(size=(n, dim))
    ).astype(np.float64)
    ids = np.arange(n, dtype=np.int64)
    qm = ids % 20 == 0
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    q = df.filter("vec_id % 20 = 0")
    i = df.filter("vec_id % 20 <> 0")
    return q, i, (ids[qm], vecs[qm], ids[~qm], vecs[~qm])


def test_ann_search_exact_tiers_agree_on_gate_split(spark):
    """The three exact tiers (bounded-index broadcast, broadcast-query
    scan, cogrouped block-nested-loop) must return the IDENTICAL
    (query_id, neighbor_id, rank) result on the same split — they are
    one operator at three plan shapes. Driver-checked too (they share
    one oracle), but the equality must hold locally without DuckDB in
    the loop."""
    from etl_covid19_brasil_spark.io import load_table
    from etl_covid19_brasil_spark.llm.ann import TierRoute
    from etl_covid19_brasil_spark.llm.search import (
        MAX_INDEX_ROWS,
        QUERY_BROADCAST_MAX,
        ann_search,
    )

    e = load_table(spark, SF, "embeddings")
    q, i = e.filter("vec_id % 20 = 0"), e.filter("vec_id % 20 <> 0")

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], round(r["cosine"], 12))
            for r in df.collect()
        )

    bounded = rows(ann_search(q, i, k=5))
    flat_route = TierRoute("lsh", MAX_INDEX_ROWS + 1, 0, None)
    scan = rows(ann_search(q, i, k=5, route=flat_route, n_index=MAX_INDEX_ROWS + 1))
    bnl = rows(
        ann_search(
            q,
            i,
            k=5,
            route=flat_route,
            n_index=MAX_INDEX_ROWS + 1,
            n_queries=QUERY_BROADCAST_MAX + 1,
        )
    )
    assert len(bounded) > 0
    assert scan == bounded
    assert bnl == bounded


@pytest.mark.slow  # full-lane tier: 8x corpus build + two-frame truth
def test_ann_search_ivf_recall_floor_at_8x(spark):
    """The approximate tier's quality gate (VERDICT r14 item 1 'done'
    condition): at the 8x size regime (4000 vectors, clustered — the
    shape the ivf tier exists for), the two-frame cell meet must
    recover >= 0.9 of the brute-force truth ON THE SAME SPLIT. The
    16-cell trained handle + rank-derived probes mirror the registered
    ann_search_ivf query's construction."""
    from etl_covid19_brasil_spark.llm.ann import TierRoute, kmeans_lloyd
    from etl_covid19_brasil_spark.llm.search import MAX_INDEX_ROWS, ann_search

    q, i, (q_ids, q_mat, i_ids, i_mat) = _split_frames(spark, 4000, 64, seed=37)
    cents = kmeans_lloyd(i, k=16, iters=3)
    route = TierRoute("ivf", MAX_INDEX_ROWS + 1, 0, None, centroids=cents)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search(
            q, i, k=5, route=route, n_index=MAX_INDEX_ROWS + 1
        ).collect()
    }
    truth = _truth_two_frame(q_ids, q_mat, i_ids, i_mat, k=5)
    r = len(got & truth) / len(truth)
    print(f"ann_search ivf 8x clustered split recall: {r:.3f}")
    assert r >= 0.9, f"two-frame IVF recall collapsed: {r:.3f}"


@pytest.mark.slow  # full-lane tier: trains Lloyd twice on a 6k corpus
def test_ann_search_route_handle_is_byte_identical(spark):
    """prepare_ann_route amortization contract (VERDICT r14 item 5):
    the handle changes WHERE construction runs, never WHAT is computed.
    Two comparisons pin that:

    1. ann_topk_auto(route=handle) == ivf_topk(centroids=handle's) —
       the handle path is exactly the per-call path GIVEN the same
       trained centroids (every derivation downstream of the centroids
       is deterministic in them). A fresh no-handle call is NOT the
       comparison baseline: re-running Lloyd re-sums doubles across a
       shuffle, so two trainings are equal only to float tolerance —
       the handle exists precisely so construction runs once.
    2. Reusing ONE handle across calls is self-identical (the amortized
       path injects no per-call state).

    Plus the two-frame consumer: ann_search with the handle equals
    ann_search without it at the bounded tier (where the tier hint is
    ignored by design)."""
    from etl_covid19_brasil_spark.llm.ann import (
        ann_topk_auto,
        ivf_topk,
        prepare_ann_route,
    )
    from etl_covid19_brasil_spark.llm.search import ann_search

    rng = np.random.default_rng(41)
    n, dim = 6000, 32
    anchors = _unit(rng.normal(size=(8, dim)))
    vecs = _unit(
        anchors[np.arange(n) % 8] + 0.08 * rng.normal(size=(n, dim))
    ).astype(np.float64)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})
    ).cache()
    route = prepare_ann_route(df)
    assert route.tier == "ivf" and route.centroids is not None

    def rows(d):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
            for r in d.collect()
        )

    with_handle = rows(ann_topk_auto(df, k=5, route=route))
    direct = rows(ivf_topk(df, k=5, centroids=route.centroids))
    assert with_handle == direct and len(with_handle) > 0
    reused = rows(ann_topk_auto(df, k=5, route=route))
    assert reused == with_handle

    q, i = df.filter("vec_id % 20 = 0"), df.filter("vec_id % 20 <> 0")
    # two-frame: at this index size both calls take the bounded exact
    # tier, covering the handle-ignored-safely contract. The explicit
    # n_index hint pins that: a cached local relation has no row-count
    # statistics, so the plan estimate would otherwise overshoot the
    # bound and route both calls onto the approximate tier.
    ni = i.count()
    s_with = rows(ann_search(q, i, k=5, route=route, n_index=ni))
    s_without = rows(ann_search(q, i, k=5, n_index=ni))
    assert s_with == s_without and len(s_with) > 0
    df.unpersist()


def test_ann_search_empty_query_batch(spark):
    """A zero-row query batch must return a zero-row (not crashed)
    result on the bounded tier — the eval-harness edge every serving
    API hits eventually."""
    from etl_covid19_brasil_spark.io import load_table
    from etl_covid19_brasil_spark.llm.search import ann_search

    e = load_table(spark, SF, "embeddings")
    q = e.filter("vec_id < 0")
    assert ann_search(q, e, k=5).count() == 0


def test_ann_search_empty_index(spark):
    """The symmetric edge (ADVICE r15): a zero-row INDEX routes to the
    bounded tier (estimates floor at 1) and must return a zero-row
    result, not crash in np.stack on the collected empty frame."""
    from etl_covid19_brasil_spark.io import load_table
    from etl_covid19_brasil_spark.llm.search import ann_search

    e = load_table(spark, SF, "embeddings")
    assert ann_search(e, e.filter("vec_id < 0"), k=5).count() == 0


def _spy_exact_tier(monkeypatch, search_mod):
    """Record every guarded collect ``ann_search`` makes, as (bound,
    collected row count or None when over-bound), and the id set of
    every side that reaches the broadcast scan."""
    probes, scans = [], []
    collect, scan = search_mod._collect_bounded, search_mod._broadcast_scan

    def spy_collect(df, id_col, vec_col, bound):
        side = collect(df, id_col, vec_col, bound)
        probes.append((bound, None if side is None else len(side)))
        return side

    def spy_scan(bounded, *args, **kwargs):
        scans.append({int(v) for v in bounded["vec_id"]})
        return scan(bounded, *args, **kwargs)

    monkeypatch.setattr(search_mod, "_collect_bounded", spy_collect)
    monkeypatch.setattr(search_mod, "_broadcast_scan", spy_scan)
    return probes, scans


def test_ann_search_query_collect_is_bounded_on_lying_estimate(spark, monkeypatch):
    """The broadcast-query tier's driver collect must be gated by an
    EXACT bound probe, not the Catalyst estimate (VERDICT r15
    what's-wrong #1): an under-estimating n_queries hint (standing in
    for a CBO selectivity undershoot on a filtered frame) must degrade
    to the cogrouped tier — with the identical result — instead of
    pulling the whole over-bound query frame through the driver."""
    import etl_covid19_brasil_spark.llm.search as search_mod
    from etl_covid19_brasil_spark.llm.ann import TierRoute
    from etl_covid19_brasil_spark.llm.search import MAX_INDEX_ROWS, ann_search

    rng = np.random.default_rng(7)
    n, dim = 400, 16
    vecs = _unit(rng.normal(size=(n, dim))).astype(np.float64)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})
    )
    q, i = df.filter("vec_id % 2 = 0"), df.filter("vec_id % 2 <> 0")
    flat = TierRoute("lsh", MAX_INDEX_ROWS + 1, 0, None)
    # shrink the broadcast bound so the 200-row query side is over it
    monkeypatch.setattr(search_mod, "QUERY_BROADCAST_MAX", 50)

    probes, scans = _spy_exact_tier(monkeypatch, search_mod)
    # n_queries=1 lies low — exactly the CBO undershoot shape
    got = ann_search(
        q, i, k=5, route=flat, n_index=MAX_INDEX_ROWS + 1, n_queries=1
    )
    rows = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in got.collect()
    )
    # the guarded collect probed the batch against the bound and proved
    # it over-bound; the over-bound batch never reached the broadcast scan
    assert probes == [(50, None)], probes
    assert scans == [], "lying estimate still routed the driver collect"
    ref = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ann_search(q, i, k=5).collect()
    )
    assert rows == ref and len(rows) > 0


def _emitters():
    """Every shared emitter configuration the ANN tiers build: (name,
    (emit, schema), output rows per input row). Broadcasts are stood in
    by objects with a ``.value`` — the emitters are pure pandas."""
    from types import SimpleNamespace as B

    from etl_covid19_brasil_spark.llm.ann import _band, _cells, _planes

    rng = np.random.default_rng(5)
    planes = B(value=_planes(5, 4, 8))  # T=5 tables of P=4 planes
    cents = B(value=_unit(rng.normal(size=(16, 8))))
    books = B(value=rng.normal(size=(4, 16, 2)))
    pq_cols = ("cell", "vid", "vec", "codes", "is_index", "qs")
    out = []
    for role in ("both", "index", "query"):
        # 2 query salts; LSH fan 1 + 4 flips, IVF 10 probes
        band_rows = 5 * {"both": 5 + 1, "index": 2, "query": 5}[role]
        cell_rows = {"both": 10 + 1, "index": 2, "query": 10}[role]
        out.append((f"band-{role}", _band(role, planes, 2, 4, "vec_id", "embedding"), band_rows))
        out.append((f"cells-{role}", _cells(role, cents, 10, 2, "vec_id", "embedding"), cell_rows))
        pq = _cells(role, cents, 10, 2, "vec_id", "embedding", pq_cols, bc_books=books, residual=True)
        # a codes payload never doubles: index rows go to every salt
        out.append((f"cells-pq-{role}", pq, cell_rows + (role == "both")))
        if role != "both":
            adc = _band(role, planes, 2, 4, "vec_id", "embedding", bc_books=books)
            out.append((f"band-adc-{role}", adc, band_rows))
    return out


def _batch(n, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(rng.normal(size=(n, dim)))}
    )


def _row_bag(frame):
    """Rows as a multiset of hashable tuples (arrays as tuples)."""
    from collections import Counter

    def cell(v):
        return None if v is None else tuple(v) if hasattr(v, "__len__") else v

    return Counter(tuple(cell(v) for v in r) for r in frame.itertuples(index=False))


def test_emitters_slice_fanout_past_the_output_cap(monkeypatch):
    """Memory guard (ADVICE r16 medium, SCALECHECK_r12's
    OutOfDirectMemoryError shape): every shared emitter multiplies its
    input rows by a fan-out, so one batch whose fan-out exceeds
    _FANOUT_OUT_ROWS must yield more than one frame — each under the
    cap — and the slices must carry exactly the rows one unsliced yield
    would (only the Arrow framing changes). Covers every tier,
    self-join and two-frame, through the emitters they share. The cap
    is read at run time, so a lowered cap exercises the same slicing
    on small batches."""
    from etl_covid19_brasil_spark.llm import ann

    cap = 4096
    for name, (emit, schema), per_row in _emitters():
        n = cap // per_row + 7
        monkeypatch.setattr(ann, "_FANOUT_OUT_ROWS", cap)
        frames = list(emit(iter([_batch(n)])))
        assert len(frames) > 1, f"{name}: one unsliced yield of {n * per_row} rows"
        assert all(len(f) <= cap for f in frames), name
        assert sum(len(f) for f in frames) == n * per_row, name
        assert list(frames[0].columns) == [c.split()[0] for c in schema.split(", ")]
        monkeypatch.setattr(ann, "_FANOUT_OUT_ROWS", 10**9)
        (whole,) = list(emit(iter([_batch(n)])))
        assert _row_bag(pd.concat(frames)) == _row_bag(whole), name


def test_codes_payload_index_rows_ship_no_vectors():
    """The budget tiers' whole point (lsh_adc_search, ivfpq_topk,
    _ivfpq_search): with a codes payload, index rows carry PQ codes and
    a NULL vector, query rows the vector and null codes — in every role
    that emits them."""
    for name, (emit, _schema), _ in _emitters():
        frame = pd.concat(list(emit(iter([_batch(50)]))), ignore_index=True)
        if "codes" not in frame.columns:
            assert frame["vec"].map(lambda v: v is not None).all(), name
            continue
        idx = frame[frame["is_index"] == 1]
        qry = frame[frame["is_index"] == 0]
        assert len(idx) + len(qry) > 0, name
        assert idx["vec"].isna().all() and idx["codes"].notna().all(), name
        assert qry["vec"].notna().all() and qry["codes"].isna().all(), name


def test_self_join_and_two_frame_forms_are_one_operator(spark):
    """The self-join entry points and the two-frame ones share their
    emitters and kernels: with the corpus passed as both frames, the
    two-frame LSH meet returns exactly lsh_topk's rows, and the
    two-frame IVF meet exactly ivf_topk's (cosine and rank included) —
    the layouts differ (one frame in the "both" role vs an index-role
    plus a query-role frame), the operator does not."""
    from etl_covid19_brasil_spark.io import load_table
    from etl_covid19_brasil_spark.llm.ann import ivf_topk, kmeans_lloyd, lsh_topk
    from etl_covid19_brasil_spark.llm.search import _ivf_search, lsh_search

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"]) for r in df.collect()
        )

    e = load_table(spark, SF, "embeddings")
    lsh = rows(lsh_topk(e, k=5))
    assert len(lsh) > 0 and lsh == rows(lsh_search(e, e, k=5))
    cents = kmeans_lloyd(e, k=16, iters=3)
    ivf = rows(ivf_topk(e, k=5, centroids=cents, n_probe=10))
    two = _ivf_search(e, e, 5, "vec_id", "embedding", cents, 10, e.count())
    assert len(ivf) > 0 and ivf == rows(two)


def test_exact_self_join_equals_two_frame(spark):
    """The exact tier is one operator: the self-join
    ``brute_force_topk(e)`` and the two-frame ``ann_search(e, e)``
    share the guarded collect, the broadcast scan, the block-nested-
    loop and the top-k merge, so they return the same rows — cosine
    and rank included — under the bound (index broadcast) and forced
    onto the block-nested-loop."""
    from etl_covid19_brasil_spark.io import load_table
    from etl_covid19_brasil_spark.llm.ann import TierRoute
    from etl_covid19_brasil_spark.llm.search import (
        MAX_INDEX_ROWS,
        QUERY_BROADCAST_MAX,
        ann_search,
    )
    from etl_covid19_brasil_spark.llm.similarity import brute_force_topk

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"]) for r in df.collect()
        )

    e = load_table(spark, SF, "embeddings")
    bounded = rows(brute_force_topk(e, k=5))
    assert len(bounded) > 0 and bounded == rows(ann_search(e, e, k=5))
    flat = TierRoute("lsh", MAX_INDEX_ROWS + 1, 0, None)
    bnl_two = ann_search(
        e, e, k=5, route=flat,
        n_index=MAX_INDEX_ROWS + 1, n_queries=QUERY_BROADCAST_MAX + 1,
    )
    bnl_self = rows(brute_force_topk(e, k=5, max_index_rows=64))
    assert bnl_self == bounded and bnl_self == rows(bnl_two)


def test_lsh_search_recall_floor_on_gate_split(spark):
    """Two-frame LSH bucket meet at gate scale (P=4 floor, exhaustive
    d=1 fan): recall vs the exact split reference — measured 0.976."""
    from etl_covid19_brasil_spark.io import load_table
    from etl_covid19_brasil_spark.llm.search import ann_search, lsh_search

    e = load_table(spark, SF, "embeddings")
    q, i = e.filter("vec_id % 20 = 0"), e.filter("vec_id % 20 <> 0")
    ref = {(r["query_id"], r["neighbor_id"]) for r in ann_search(q, i, k=5).collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in lsh_search(q, i, k=5).collect()}
    r = len(got & ref) / len(ref)
    print(f"lsh_search gate split recall: {r:.3f}")
    assert r >= 0.9, f"two-frame LSH gate recall collapsed: {r:.3f}"


@pytest.fixture(scope="module")
def flat8x(spark):
    """The 8x flat split (16,000 dimension-rolled vectors, 800 queries
    with vec_id % 20 == 0, 15,200 index rows), built once for the two
    8x LSH recall floors, with the full-vector ``lsh_search(q, i, k=5)``
    pairs both of them compare against: (q, i, lsh_pairs)."""
    import shutil
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import pyspark.sql.functions as F

    from etl_covid19_brasil_spark.io import load_table
    from etl_covid19_brasil_spark.llm.search import lsh_search
    from scripts.scale_check import build_scaled_dir

    path = build_scaled_dir(spark, 8, tables=("embeddings",))
    try:
        emb = load_table(spark, path, "embeddings").cache()
        emb.count()
        q = emb.filter(F.col("vec_id") % 20 == 0)
        i = emb.filter(F.col("vec_id") % 20 != 0)
        lsh = {
            (r["query_id"], r["neighbor_id"]) for r in lsh_search(q, i, k=5).collect()
        }
        yield q, i, lsh
        emb.unpersist()
    finally:
        shutil.rmtree(path, ignore_errors=True)


@pytest.mark.slow  # full-lane tier: 8x corpus build + exact reference
def test_lsh_search_recall_floor_at_8x_flat(flat8x):
    """The tier's quality gate at the scale it exists for: 8x flat
    (16,000 dimension-rolled vectors, split 800 queries / 15,200
    index), derived P=6 / T=11, recall vs the exact reference —
    measured 0.959. Also the regression pin for the recall-bearing
    count fix: deriving P from Catalyst's filtered-frame estimate
    instead of the exact count measured P=12 and recall 0.367."""
    from etl_covid19_brasil_spark.llm.search import ann_search

    q, i, got = flat8x
    ref = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search(q, i, k=5, n_index=i.count()).collect()
    }
    r = len(got & ref) / len(ref)
    print(f"lsh_search 8x flat split recall: {r:.3f}")
    assert r >= 0.85, f"two-frame LSH 8x recall collapsed: {r:.3f}"


def test_lsh_adc_search_matches_bucket_recall_on_gate_split(spark, monkeypatch):
    """The ADC budget form shares lsh_search's planes/tables/fan/salting
    exactly, so at gate scale (small buckets, pool >> bucket) its result
    must match the full-vector form — the added approximation (ADC
    ranking inside the pool bound) has no room to bite here. Also pins
    that the index side genuinely ships NO vectors: its index-role
    emitter takes the codes payload, whose index rows carry a null
    vector (test_codes_payload_index_rows_ship_no_vectors)."""
    import etl_covid19_brasil_spark.llm.search as search_mod
    from etl_covid19_brasil_spark.io import load_table
    from etl_covid19_brasil_spark.llm.search import lsh_adc_search, lsh_search

    built = []
    orig = search_mod._band

    def spy(role, *a, bc_books=None, **kw):
        built.append((role, bc_books is not None))
        return orig(role, *a, bc_books=bc_books, **kw)

    monkeypatch.setattr(search_mod, "_band", spy)

    e = load_table(spark, SF, "embeddings")
    q, i = e.filter("vec_id % 20 = 0"), e.filter("vec_id % 20 <> 0")
    full = {
        (r["query_id"], r["neighbor_id"]) for r in lsh_search(q, i, k=5).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_adc_search(q, i, k=5).collect()
    }
    assert len(full) > 0
    r = len(adc & full) / len(full)
    print(f"lsh_adc_search gate recall vs full-vector form: {r:.3f}")
    assert r >= 0.95, f"ADC form diverged from the full-vector form: {r:.3f}"
    # lsh_search bands full vectors; lsh_adc_search codes its index side
    assert built == [("index", False), ("query", False), ("index", True), ("query", True)]


def test_ann_topk_auto_budget_routes_flat_to_adc(spark, monkeypatch):
    """The self-join router twin of the ivfpq budget pin (ADVICE r14):
    a declared index byte budget the raw float64 index overflows, on a
    flat-routed corpus, must take the ADC-banded form instead of
    silently shipping full vectors through the banding shuffle; without
    the budget the identical call stays on lsh_topk."""
    import etl_covid19_brasil_spark.llm.search as search_mod
    from etl_covid19_brasil_spark.llm.ann import TierRoute, ann_topk_auto

    rng = np.random.default_rng(23)
    n, dim = 300, 16
    vecs = _unit(rng.normal(size=(n, dim))).astype(np.float64)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})
    )
    route = TierRoute("lsh", n, dim, None)
    hit = []
    orig = search_mod.lsh_adc_search

    def spy(*a, **kw):
        hit.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(search_mod, "lsh_adc_search", spy)
    got = ann_topk_auto(df, k=3, route=route, index_budget_bytes=1024)
    assert got.count() > 0 and hit, "budget did not route the ADC self-join"
    assert {c for c in got.columns} == {"query_id", "neighbor_id", "cosine", "rank"}
    hit.clear()
    full = ann_topk_auto(df, k=3, route=route)
    assert full.count() > 0 and not hit


@pytest.mark.slow  # full-lane tier: three materializations + PQ training
def test_ann_search_budget_routes_flat_big_batch_to_adc(spark, monkeypatch):
    """A DECLARED index byte budget on the flat route with an over-bound
    query batch must route the banded ADC form instead of the cogrouped
    BNL (the budget is the same explicit opt-in that routes ivfpq on
    clustered shapes); without the budget the identical call stays on
    the exact BNL.

    Both bounds shrink to meet the 300-row index and 300-query batch
    (the index bound to 200 rows, the broadcast batch to 50), so the
    counts handed to the router are the true ones: the LSH plane count
    derives from them, and a claimed 200,001-row index on 300 rows
    would band into ~1,000 buckets per table."""
    import etl_covid19_brasil_spark.llm.search as search_mod
    from etl_covid19_brasil_spark.llm.ann import TierRoute
    from etl_covid19_brasil_spark.llm.search import ann_search

    rng = np.random.default_rng(17)
    n, dim = 600, 16
    vecs = _unit(rng.normal(size=(n, dim))).astype(np.float64)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})
    )
    q, i = df.filter("vec_id % 2 = 0"), df.filter("vec_id % 2 <> 0")
    # the exact reference on the same split, under the real bounds
    ref = {(r["query_id"], r["neighbor_id"]) for r in ann_search(q, i, k=5).collect()}
    monkeypatch.setattr(search_mod, "MAX_INDEX_ROWS", 200)
    monkeypatch.setattr(search_mod, "QUERY_BROADCAST_MAX", 50)
    flat = TierRoute("lsh", 300, dim, None)
    hit = []
    orig = search_mod.lsh_adc_search

    def spy(*a, **kw):
        hit.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(search_mod, "lsh_adc_search", spy)
    got = ann_search(
        q, i, k=5, route=flat,
        n_index=300, n_queries=300,
        index_budget_bytes=1024,  # raw float64 index overflows this
    )
    rows = got.collect()
    assert rows and hit, "budget did not route the ADC form"
    # recall sanity vs the exact result on the same split
    adc = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert len(adc & ref) / len(ref) >= 0.8
    # no budget -> the exact BNL, never a silent approximate default
    hit.clear()
    exact = ann_search(q, i, k=5, route=flat, n_index=300, n_queries=300)
    assert not hit
    assert {(r["query_id"], r["neighbor_id"]) for r in exact.collect()} == ref


@pytest.mark.slow  # full-lane tier: 8x corpus + PQ train + exact reference
def test_lsh_adc_search_recall_floor_at_8x_flat(flat8x):
    """The budget tier's quality gate at the scale it exists for (the
    VERDICT r15 item 3 'done' condition): 8x flat split, recall vs the
    FULL-VECTOR lsh_search it replaces — the byte saving must not cost
    bucket-level recall beyond the ADC pool bound."""
    from etl_covid19_brasil_spark.llm.search import lsh_adc_search

    q, i, full = flat8x
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_adc_search(q, i, k=5).collect()
    }
    r = len(adc & full) / len(full)
    print(f"lsh_adc_search 8x flat recall vs full-vector form: {r:.3f}")
    assert r >= 0.85, f"ADC budget tier recall collapsed: {r:.3f}"


@pytest.mark.slow  # full-lane tier: Lloyd + PQ train on a 4k corpus
def test_ann_search_pq_recall_floor_on_clustered_split(spark):
    """The budget tier's quality gate: two-frame IVF-PQ (residual byte
    codes on the index shuffle, global rerank pool, exact-cosine rerank
    join) on the 8-anchor clustered split — the only shape the tier is
    routed on. Measured 1.0 at 4000 x 64; pin a conservative floor so a
    broken codebook/pool/rerank stage fails loudly."""
    from etl_covid19_brasil_spark.llm.ann import TierRoute, kmeans_lloyd
    from etl_covid19_brasil_spark.llm.search import MAX_INDEX_ROWS, ann_search

    q, i, (q_ids, q_mat, i_ids, i_mat) = _split_frames(spark, 4000, 64, seed=61)
    cents = kmeans_lloyd(i, k=16, iters=3)
    route = TierRoute("ivfpq", MAX_INDEX_ROWS + 1, 64, None, centroids=cents)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search(
            q, i, k=5, route=route, n_index=MAX_INDEX_ROWS + 1
        ).collect()
    }
    truth = _truth_two_frame(q_ids, q_mat, i_ids, i_mat, k=5)
    r = len(got & truth) / len(truth)
    print(f"ann_search two-frame ivfpq clustered split recall: {r:.3f}")
    assert r >= 0.9, f"two-frame IVF-PQ recall collapsed: {r:.3f}"


def test_ann_search_index_collect_is_bounded_on_lying_estimate(spark, monkeypatch):
    """The bounded-INDEX tier's driver collect must be gated by the same
    exact limit-probe as the query side (r16): an under-estimating
    n_index hint (the CBO selectivity-undershoot shape — live since
    ann_search_filtered feeds post-filter frames into this gate) must
    fall through to the routed path with the identical result instead
    of pulling the whole over-bound index through the driver."""
    import etl_covid19_brasil_spark.llm.search as search_mod
    from etl_covid19_brasil_spark.llm.search import ann_search

    rng = np.random.default_rng(8)
    n, dim = 400, 16
    vecs = _unit(rng.normal(size=(n, dim))).astype(np.float64)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})
    )
    q, i = df.filter("vec_id % 4 = 0"), df.filter("vec_id % 4 <> 0")
    # shrink the bound so the 300-row index side is over it
    monkeypatch.setattr(search_mod, "MAX_INDEX_ROWS", 50)

    probes, scans = _spy_exact_tier(monkeypatch, search_mod)
    # n_index=1 lies low — the probe must catch it
    got = ann_search(q, i, k=5, n_index=1)
    rows = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in got.collect()
    )
    # the first probe is the index's, against the shrunk bound, and it
    # proved the side over-bound; no broadcast scan ever carried an
    # index row (the flat route may still broadcast the 100-row QUERY
    # batch — every broadcast id must be a query id)
    assert probes[0] == (50, None), probes
    q_ids = {r["vec_id"] for r in q.select("vec_id").collect()}
    assert all(ids <= q_ids for ids in scans), "lying estimate still routed the full collect"
    monkeypatch.undo()
    ref = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ann_search(q, i, k=5).collect()
    )
    assert rows == ref and len(rows) > 0


def test_ivf_candidate_pairs_meet_at_most_once(spark):
    """r16 optimization: the IVF merge skips the pair-dedup exchange on
    the meet-at-most-once argument (one home cell per index row,
    distinct probe cells per query). Pin the argument itself: the
    per-cell candidate stream of the two-frame IVF tier must contain
    no duplicated (query_id, neighbor_id) pair, so dedup=False is a
    plan-only change."""
    import pyspark.sql.functions as F

    from etl_covid19_brasil_spark.llm.ann import TierRoute, kmeans_lloyd
    from etl_covid19_brasil_spark.llm.search import MAX_INDEX_ROWS, ann_search
    from etl_covid19_brasil_spark.registry import T

    e = T(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") % 20 == 0)
    i = e.filter(F.col("vec_id") % 20 != 0)
    cents = kmeans_lloyd(i, k=8, iters=2)
    route = TierRoute("ivf", MAX_INDEX_ROWS + 1, 0, None, centroids=cents)
    # k larger than any cell's top so the local lists are as wide as
    # the tier ever emits them; rank<=k filter keeps every emitted pair
    out = ann_search(q, i, k=10_000, route=route, n_index=MAX_INDEX_ROWS + 1)
    dup = (
        out.groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    assert dup == 0


def test_exact_pair_counts_fused_and_correct(spark):
    """r17 (VERDICT r16 item 7): single-shot lsh_search/lsh_adc_search
    callers pay ONE fused count job instead of two. Pin (a) the fused
    counts equal the two separate count() results in every hint
    combination, and (b) the fused form costs strictly fewer scheduler
    jobs than the two-count form it replaced (self-calibrating: both
    are counted with jobs_submitted in this session)."""
    import pyspark.sql.functions as F

    from etl_covid19_brasil_spark.llm.search import _exact_pair_counts
    from etl_covid19_brasil_spark.registry import T

    e = T(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") % 8 == 0)
    i = e.filter(F.col("vec_id") % 8 != 0)

    def jobs_of(fn):
        with jobs_submitted(spark) as c:
            out = fn()
        return out, c.jobs

    (ni, nq), fused_jobs = jobs_of(lambda: _exact_pair_counts(i, q, None, None))
    (ni2, nq2), two_jobs = jobs_of(lambda: (i.count(), q.count()))
    assert (ni, nq) == (ni2, nq2)
    assert fused_jobs < two_jobs, (fused_jobs, two_jobs)
    # hints short-circuit to zero jobs
    _, zero_jobs = jobs_of(lambda: _exact_pair_counts(i, q, 7, 3))
    assert zero_jobs == 0
    assert _exact_pair_counts(i, q, 7, 3) == (7, 3)
    assert _exact_pair_counts(i, q, None, 3) == (ni, 3)
    assert _exact_pair_counts(i, q, 7, None) == (7, nq)
    # one frame on both sides: one count serves both
    (si, sq), self_jobs = jobs_of(lambda: _exact_pair_counts(e, e, None, None))
    assert si == sq == ni + nq
    assert self_jobs <= fused_jobs


def test_lsh_adc_pool_has_no_pair_keyed_exchange(spark):
    """r17 (VERDICT r16 item 3): the ADC rerank pool's pair dedup and
    row_number window share ONE query_id exchange — the old plan paid a
    full (query_id, neighbor_id) hash exchange for the dedup and then a
    second exchange for the window. The pair-keyed exchange is the
    unique plan signature of the old shape: assert it is gone while the
    dedup aggregate and the pool window survive."""
    import re

    from etl_covid19_brasil_spark.llm.search import lsh_adc_search
    from tests.test_plans import plan_of

    q, i, _ = _split_frames(spark, 800, 16, seed=11)
    p = plan_of(lsh_adc_search(q, i, k=5))
    assert re.search(r"hashpartitioning\(query_id#\d+", p), p
    assert not re.search(r"hashpartitioning\(query_id#\d+L?,\s*neighbor_id", p), (
        "pair-keyed dedup exchange is back: " + p
    )
