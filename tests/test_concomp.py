"""Connected-components operator (operators/concomp.py): multi-hop
transitivity, singletons, and edge-list hygiene (duplicates/direction)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from etl_covid19_brasil_spark.operators.concomp import connected_components


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


def test_duplicate_and_reversed_edges_are_harmless(spark):
    e = _edges(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3)])
    got = _result(connected_components(e))
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_dense_cluster_plus_bridges(spark):
    # clique {50..54} bridged to chain {54,60,70}, separate pair {7,9}
    clique = [(a, b) for a in range(50, 55) for b in range(a + 1, 55)]
    e = _edges(spark, clique + [(54, 60), (60, 70), (7, 9)])
    got = _result(connected_components(e))
    want = {(n, 50) for n in [50, 51, 52, 53, 54, 60, 70]} | {(7, 7), (9, 7)}
    assert got == want


def test_empty_edges_all_singletons(spark):
    e = _edges(spark, []).filter(F.lit(False))
    nodes = spark.range(3).select((F.col("id") + 1).alias("node"))
    got = _result(connected_components(e, nodes=nodes))
    assert got == {(1, 1), (2, 2), (3, 3)}


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


def test_long_path_converges_within_log_rounds(spark):
    # a 200-node path is the worst diameter case: pure neighbor-propagation
    # needs 200 rounds; star contraction must finish in max_iter=12 (~log^2)
    e = _edges(spark, [(i, i + 1) for i in range(1, 200)])
    got = _result(connected_components(e, max_iter=12))
    assert got == {(i, 1) for i in range(1, 201)}


def test_exhausted_max_iter_raises(spark):
    # the same path needs 9 rounds to OBSERVE its fixed point; a cap of 3
    # used to return the half-contracted edge set (nodes with two ids)
    e = _edges(spark, [(i, i + 1) for i in range(1, 200)])
    with pytest.raises(RuntimeError, match="max_iter=3"):
        connected_components(e, max_iter=3)


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
