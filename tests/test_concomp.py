"""Connected-components operator (operators/concomp.py): multi-hop
transitivity, singletons, and edge-list hygiene (duplicates/direction).

Every graph test runs on both finishes: as written, its edge set fits
``DRIVER_FINISH_EDGES`` and the union-find on the driver answers; its
``_distributed`` twin lowers the bound to 0, so the star rounds contract
the graph to the fixed point."""

from __future__ import annotations

import contextlib
import io as pyio
import logging

import pytest

import pyspark.sql.functions as F

from etl_covid19_brasil_spark.operators import concomp
from etl_covid19_brasil_spark.operators.concomp import connected_components


def _finishes(caplog):
    """The structured record of every connected_components call the test
    body made (readable from a fixture's teardown too)."""
    return [r.concomp for r in caplog.get_records("call") if hasattr(r, "concomp")]


@pytest.fixture
def distributed(monkeypatch, caplog):
    """Bound 0: every non-empty edge set is contracted by star rounds."""
    monkeypatch.setattr(concomp, "DRIVER_FINISH_EDGES", 0)
    caplog.set_level(logging.INFO, logger=concomp.__name__)
    yield
    recs = _finishes(caplog)
    assert recs, "connected_components logged no record"
    # an empty edge set fits any bound: nothing is left to contract
    assert all(r["finish"] == "distributed" or r["probed_edges"] == 0 for r in recs), recs


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src: long, dst: long")


def _result(df):
    return {(r["node"], r["component_id"]) for r in df.collect()}


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5-6-7-8 is diameter 7: pure pair-joining would need 7 hops,
    # star contraction converges in O(log) rounds.
    e = _edges(spark, [(i, i + 1) for i in range(1, 8)])
    got = _result(connected_components(e))
    assert got == {(i, 1) for i in range(1, 9)}


def test_chain_collapses_to_min_distributed(spark, distributed):
    test_chain_collapses_to_min(spark)


def test_two_components_and_singleton(spark):
    e = _edges(spark, [(10, 20), (20, 30), (100, 200)])
    nodes = spark.range(1).select(F.lit(999).alias("doc_id")).unionByName(
        _edges(spark, [(10, 20), (20, 30), (100, 200)])
        .select(F.col("src").alias("doc_id"))
        .unionByName(
            _edges(spark, [(10, 20), (20, 30), (100, 200)]).select(
                F.col("dst").alias("doc_id")
            )
        )
    )
    got = _result(connected_components(e, nodes=nodes, node_col="doc_id"))
    assert got == {(10, 10), (20, 10), (30, 10), (100, 100), (200, 100), (999, 999)}


def test_two_components_and_singleton_distributed(spark, distributed):
    test_two_components_and_singleton(spark)


def test_duplicate_and_reversed_edges_are_harmless(spark):
    e = _edges(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3)])
    got = _result(connected_components(e))
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_duplicate_and_reversed_edges_are_harmless_distributed(spark, distributed):
    test_duplicate_and_reversed_edges_are_harmless(spark)


def test_dense_cluster_plus_bridges(spark):
    # clique {50..54} bridged to chain {54,60,70}, separate pair {7,9}
    clique = [(a, b) for a in range(50, 55) for b in range(a + 1, 55)]
    e = _edges(spark, clique + [(54, 60), (60, 70), (7, 9)])
    got = _result(connected_components(e))
    want = {(n, 50) for n in [50, 51, 52, 53, 54, 60, 70]} | {(7, 7), (9, 7)}
    assert got == want


def test_dense_cluster_plus_bridges_distributed(spark, distributed):
    test_dense_cluster_plus_bridges(spark)


def test_empty_edges_all_singletons(spark):
    e = _edges(spark, []).filter(F.lit(False))
    nodes = spark.range(3).select((F.col("id") + 1).alias("node"))
    got = _result(connected_components(e, nodes=nodes))
    assert got == {(1, 1), (2, 2), (3, 3)}


def test_empty_edges_all_singletons_distributed(spark, distributed):
    test_empty_edges_all_singletons(spark)


def _union_find(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min member id
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


@pytest.mark.slow  # full-lane tier (r15): >10 s wall-clock
def test_random_graphs_match_union_find(spark):
    # deterministic pseudo-random graph family (no runtime RNG): edges from
    # a multiplicative-hash walk, sized to force merges, chains, and isolates
    for seed in (3, 17, 61):
        pairs = []
        x = seed
        for _ in range(120):
            x = (x * 1103515245 + 12345) % (2**31)
            a, b = x % 60, (x // 97) % 60
            if a != b:
                pairs.append((a, b))
        nodes = sorted({n for p in pairs for n in p} | {901, 902})
        want = _union_find(pairs, nodes)
        e = _edges(spark, pairs)
        nd = spark.createDataFrame([(n,) for n in nodes], "node: long")
        got = dict(
            (r["node"], r["component_id"])
            for r in connected_components(e, nodes=nd).collect()
        )
        assert got == want, f"seed {seed}"


@pytest.mark.slow  # >10 s wall-clock
def test_random_graphs_match_union_find_distributed(spark, distributed):
    test_random_graphs_match_union_find(spark)


def test_long_path_converges_within_log_rounds(spark):
    # a 200-node path is the worst diameter case: pure neighbor-propagation
    # needs 200 rounds; star contraction must finish in max_iter=12 (~log^2)
    e = _edges(spark, [(i, i + 1) for i in range(1, 200)])
    got = _result(connected_components(e, max_iter=12))
    assert got == {(i, 1) for i in range(1, 201)}


def test_long_path_converges_within_log_rounds_distributed(spark, distributed):
    test_long_path_converges_within_log_rounds(spark)


def test_exhausted_max_iter_raises(spark, monkeypatch):
    # the same path needs 9 distributed rounds to OBSERVE its fixed point;
    # a cap of 3 used to return the half-contracted edge set (nodes with
    # two ids). Its 199 edges fit the driver finish, which runs no round,
    # so the bound is lowered to keep the contraction distributed.
    monkeypatch.setattr(concomp, "DRIVER_FINISH_EDGES", 0)
    e = _edges(spark, [(i, i + 1) for i in range(1, 200)])
    with pytest.raises(RuntimeError, match="max_iter=3"):
        connected_components(e, max_iter=3)


def test_distributed_rounds_hand_off_to_driver_finish(spark, monkeypatch, caplog):
    # two 12-cliques (66 edges each) and a 30-node path (29 edges): 161
    # input edges, 51 in the star forest. A bound between the two is
    # crossed by the contraction itself, after at least one round.
    cliques = [
        (a + off, b + off) for off in (0, 100) for a in range(12) for b in range(a + 1, 12)
    ]
    path = [(i, i + 1) for i in range(200, 229)]
    pairs = cliques + path
    monkeypatch.setattr(concomp, "DRIVER_FINISH_EDGES", 100)
    caplog.set_level(logging.INFO, logger=concomp.__name__)
    nodes = sorted({n for p in pairs for n in p} | {500})
    nd = spark.createDataFrame([(n,) for n in nodes], "node: long")
    got = dict(
        (r["node"], r["component_id"])
        for r in connected_components(_edges(spark, pairs), nodes=nd).collect()
    )
    assert got == _union_find(pairs, nodes)
    (rec,) = _finishes(caplog)
    assert rec["finish"] == "driver" and rec["rounds"] >= 1, rec
    assert rec["probed_edges"] <= 100 and rec["bound"] == 100, rec


@pytest.mark.parametrize("bound", [None, 0], ids=["driver", "distributed"])
def test_int_ids_stay_int(spark, monkeypatch, bound):
    if bound is not None:
        monkeypatch.setattr(concomp, "DRIVER_FINISH_EDGES", bound)
    e = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src: int, dst: int")
    nodes = spark.createDataFrame([(n,) for n in (1, 2, 3, 7, 8, 9)], "node: int")
    bare = connected_components(e)
    assert bare.dtypes == [("node", "int"), ("component_id", "int")]
    assert _result(bare) == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    full = connected_components(e, nodes=nodes)
    assert full.dtypes == [("node", "int"), ("component_id", "int")]
    assert _result(full) == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)}


def test_in_bound_edges_finish_on_driver_without_rounds(spark, monkeypatch, caplog):
    calls = []
    for name in ("_large_star", "_fingerprint"):
        real = getattr(concomp, name)
        monkeypatch.setattr(
            concomp, name, lambda *a, _n=name, _f=real: calls.append(_n) or _f(*a)
        )
    caplog.set_level(logging.INFO, logger=concomp.__name__)
    comp = connected_components(_edges(spark, [(i, i + 1) for i in range(1, 200)]))
    assert _result(comp) == {(i, 1) for i in range(1, 201)}
    assert calls == []
    assert _finishes(caplog) == [
        {
            "finish": "driver",
            "probed_edges": 199,
            "bound": concomp.DRIVER_FINISH_EDGES,
            "rounds": 0,
        }
    ]
    # an Arrow-built LocalRelation, not a pickled-row RDD: the latter
    # spawns Python workers for every job that reads the frame
    buf = pyio.StringIO()
    with contextlib.redirect_stdout(buf):
        comp.explain()
    assert "LocalTableScan" in buf.getvalue()
    assert "ExistingRDD" not in buf.getvalue()


def test_minhash_components_equal_exact_pair_components(spark):
    """The composed approximate pipeline (minhash -> LSH -> verify ->
    concomp, dedup_minhash_components) must produce EXACTLY the same
    duplicate groups as clustering the exact >=0.8-Jaccard pair set on
    this corpus — MinHash recall is 1.0 here (pinned), verification
    guarantees precision 1.0, and component ids are member-minimum, so
    any divergence means a pipeline stage broke."""
    import pyspark.sql.functions as F

    from etl_covid19_brasil_spark.operators.concomp import connected_components
    from etl_covid19_brasil_spark.queries.llm import (
        dedup_minhash_components,
        near_dedup_jaccard,
    )

    SF = "/root/testdata/sf0.01"
    got = {
        (r["doc_id"], r["component_id"], r["component_size"])
        for r in dedup_minhash_components(spark, SF).collect()
    }
    # exact-pair clustering over the SAME corpus (near_dedup_jaccard's
    # _JACCARD_CAP does not bind at sf0.01, so its pair set is complete)
    from etl_covid19_brasil_spark.queries.llm import _near_dup_corpus

    pairs = near_dedup_jaccard(spark, SF)
    nodes = (
        _near_dup_corpus(spark, SF)
        .select(F.col("doc_id").alias("node"))
    )
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        nodes=nodes,
    )
    from pyspark.sql.window import Window

    want = {
        (r["node"], r["component_id"], r["component_size"])
        for r in comp.select(
            "node",
            "component_id",
            F.count(F.lit(1))
            .over(Window.partitionBy("component_id"))
            .alias("component_size"),
        ).collect()
    }
    assert got == want
