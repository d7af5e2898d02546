"""Connected components over an edge list — the clustering step that turns
near-duplicate PAIRS into duplicate GROUPS.

A dedup pipeline is not finished when it has pairs: (a,b) and (b,c) must
collapse into one group {a,b,c} so exactly one canonical document survives.
The reference's pandas DAG never needed this (its tables are row-unique by
construction; dags/create-data-lake.py:64-105 has no dedup at all), but any
100 TB corpus pipeline does, so it is part of this engine's §2.10 surface.

Algorithm: alternating *large-star* / *small-star* label propagation
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
— the standard shuffle-bounded formulation:

- large-star: for every node u, connect each STRICTLY LARGER neighbor to
  the minimum of u's closed neighborhood;
- small-star: orient edges toward the smaller endpoint; connect each
  neighbor (and u itself) to the minimum of that oriented neighborhood.

Both steps are a groupBy-min plus a re-keyed emit (two hash shuffles per
round, each carrying only (node, candidate-root) pairs — never a
neighborhood list, so a 10^9-degree hub key never materializes one giant
row). The edge set converges to a star forest: every node points directly
at its component's minimum id. Rounds needed: O(log^2 n) worst case,
2-3 in practice for dedup graphs (small dense clusters).

Scale notes:
- per-round lineage is truncated with a lazy ``localCheckpoint`` —
  without it the plan doubles every round and analysis time explodes;
- the fixed-point test is a single cheap aggregate over the candidate
  edge set (count + order-insensitive hash-sum), not a subtract/except
  (which would add two more shuffles per round);
- labels only ever DECREASE, so the loop is monotone and the iteration
  cap is a safety net, not a tuning knob: running out of rounds before
  the fixed point is seen raises instead of returning a half-contracted
  edge set (nodes carrying two component ids).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetric edge list as canonical (u > v) pairs, self-loops dropped."""
    u = F.greatest(F.col(src), F.col(dst))
    v = F.least(F.col(src), F.col(dst))
    return (
        edges.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(N(u) ∪ {u})."""
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient toward the smaller endpoint; connect neighbors and u to the
    minimum of the oriented neighborhood."""
    oriented = edges  # _canon/_large_star keep u > v already
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    via_neighbors = (
        oriented.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    via_self = mins.select("u", F.col("m").alias("v"))
    return via_neighbors.unionByName(via_self)


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """Cheap order-insensitive fixed-point detector: (row count, XOR of
    per-edge xxhash64). One aggregate action; XOR (unlike SUM) cannot
    overflow under ANSI mode, and the edge set is distinct so pairwise
    cancellation needs a real hash collision (~n^2/2^64)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 20,
) -> DataFrame:
    """Component id (= minimum member id) for every node.

    ``edges`` is an undirected edge list (direction and duplicates are
    ignored). ``nodes``, if given, adds isolated vertices so singletons
    come back as their own component. Returns ``(node, component_id)``.

    ``max_iter`` caps the rounds until the fixed point is OBSERVED — one
    more than the rounds that reach the star forest, since convergence is
    only seen when a round leaves the edge set unchanged. Raises
    ``RuntimeError`` when the cap runs out first.
    """
    cur = _canon(edges, src, dst).localCheckpoint(eager=False)
    fp = _fingerprint(cur)
    for _ in range(max_iter):
        stepped = _small_star(_large_star(cur)).distinct().localCheckpoint(eager=False)
        nfp = _fingerprint(stepped)
        cur = stepped
        if nfp == fp:
            break
        fp = nfp
    else:
        raise RuntimeError(
            f"connected_components: no fixed point within max_iter={max_iter} rounds"
        )
    # Star forest: non-root nodes point at their root (u > v = root).
    member = cur.select(F.col("u").alias("node"), F.col("v").alias("component_id"))
    roots = cur.select(F.col("v").alias("node"), F.col("v").alias("component_id")).distinct()
    comp = member.unionByName(roots)
    if nodes is not None:
        everyone = nodes.select(F.col(node_col).alias("node")).distinct()
        comp = (
            everyone.join(comp, "node", "left")
            .select("node", F.coalesce("component_id", "node").alias("component_id"))
        )
    return comp
