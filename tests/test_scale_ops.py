"""Scale-posture operators: salting, bucketing, and the SQL entry point
(SURVEY.md §3 entry 3, §4).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

# full-lane tier (r15, VERDICT r14 item 6): derived-corpus scale probes
pytestmark = pytest.mark.slow

from etl_covid19_brasil_spark.io import load_table
from etl_covid19_brasil_spark.operators.bucketing import bucketed_join, write_bucketed
from etl_covid19_brasil_spark.operators.skew import salted_join
from etl_covid19_brasil_spark.sql import sql
from tests.test_plans import plan_of

SF = "/root/testdata/sf0.001"


# --- salting ---------------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    fact = orders.withColumn("c_custkey", F.col("o_custkey"))

    plain = fact.join(customer, "c_custkey")
    salted = salted_join(fact, customer, on="c_custkey", factor=8, salt_source=F.col("o_orderkey"))
    assert salted.count() == plain.count()
    cols = sorted(plain.columns)
    assert salted.select(*cols).exceptAll(plain.select(*cols)).count() == 0
    assert plain.select(*cols).exceptAll(salted.select(*cols)).count() == 0


def test_salted_join_spreads_keys(spark):
    # every salt bucket receives rows: the hot key is actually split
    orders = load_table(spark, SF, "orders")
    salts = (
        orders.withColumn("__salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(8)))
        .groupBy("__salt")
        .count()
    )
    assert salts.count() == 8


def test_salted_join_rejects_outer(spark):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    with pytest.raises(ValueError):
        salted_join(orders, customer, on="c_custkey", how="full")


# --- bucketing -------------------------------------------------------------


@pytest.fixture(scope="module")
def bucket_db(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{loc}'")
    yield "bkt"
    spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_bucketed_join_elides_shuffle(spark, bucket_db):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, f"{bucket_db}.orders_b", ["o_orderkey"], num_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        f"{bucket_db}.lineitem_b",
        ["o_orderkey"],
        num_buckets=8,
    )

    # force the shuffle-join path (tiny test tables would broadcast, which
    # hides exactly the Exchange bucketing exists to elide at scale)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(
            spark, f"{bucket_db}.orders_b", f"{bucket_db}.lineitem_b", on="o_orderkey"
        )
        p = plan_of(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, "identically-bucketed join must not shuffle"
        n_joined = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    plain = orders.join(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
    )
    assert n_joined == plain.count()


# --- SQL entry point -------------------------------------------------------


def test_sql_layer_equals_dataframe_layer(spark):
    got = sql(
        spark,
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders WHERE o_totalprice > 100000
        GROUP BY o_orderpriority
        """,
        sf_dir=SF,
    ).toPandas()
    want = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    key = "o_orderpriority"
    assert got.sort_values(key).reset_index(drop=True).equals(
        want.sort_values(key).reset_index(drop=True)
    )


def test_sql_layer_joins_views(spark):
    df = sql(
        spark,
        "SELECT n_name, COUNT(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
        sf_dir=SF,
    )
    assert df.count() == 25


# --- bounded-tile exact similarity ----------------------------------------


def test_brute_force_topk_tiled_equals_single(spark):
    """Forcing the block-nested-loop path (tiny max_index_rows) must
    produce byte-identical results to the single-broadcast path — tiling
    is a memory bound, not a semantics change."""
    from etl_covid19_brasil_spark.llm.similarity import brute_force_topk

    emb = load_table(spark, SF, "embeddings")
    single = brute_force_topk(emb, k=5).toPandas()
    tiled = brute_force_topk(emb, k=5, max_index_rows=64).toPandas()
    key = ["query_id", "rank"]
    s = single.sort_values(key).reset_index(drop=True)
    t = tiled.sort_values(key).reset_index(drop=True)
    assert s.equals(t)


def test_cogroup_key_types_match(spark):
    """Many-tile regression (round 6): with n_tiles >> n_index most
    tiles are empty and every (tile, salt) cogroup key must still meet
    across both sides. The int-typed explode tile vs bigint-typed pmod
    tile silently missed each other data-dependently — candidates
    vanished only once the tile count grew past the handful the old
    tests used."""
    from etl_covid19_brasil_spark.llm.similarity import brute_force_topk

    emb = load_table(spark, SF, "embeddings")
    single = brute_force_topk(emb, k=5, n_rows=500).toPandas()
    # n_rows hint of 50k with 64-row tiles -> ~782 tiles over 500 vectors
    many = brute_force_topk(emb, k=5, max_index_rows=64, n_rows=50_000).toPandas()
    key = ["query_id", "rank"]
    s = single.sort_values(key).reset_index(drop=True)
    m = many.sort_values(key).reset_index(drop=True)
    assert s.equals(m)


def test_bnl_tiling_invariance(spark):
    """Parallelism floor (r16): near the broadcast bound the
    memory-derived grid is 2x1 and the whole O(n_q x n_idx) kernel
    serialized into two applyInPandas groups (observed live at the 32x
    two-frame probe). _cogrouped_partials now raises the tile count to
    cover defaultParallelism; results must be byte-identical at ANY
    grid (each pair meets exactly once, per-pair doubles are the
    ordered fold), and the floor must actually be applied."""
    import inspect

    from etl_covid19_brasil_spark.io import load_table
    from etl_covid19_brasil_spark.llm.ann import TierRoute
    from etl_covid19_brasil_spark.llm.search import (
        MAX_INDEX_ROWS,
        QUERY_BROADCAST_MAX,
        ann_search,
    )
    from etl_covid19_brasil_spark.llm.similarity import _cogrouped_partials

    e = load_table(spark, SF, "embeddings")
    q, i = e.filter("vec_id % 20 = 0"), e.filter("vec_id % 20 <> 0")
    ref = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in ann_search(q, i, k=5).collect()
    )
    # the near-bound shape that serialized: 2 memory-derived tiles, 1 salt
    flat = TierRoute("lsh", MAX_INDEX_ROWS + 1, 0, None)
    bnl = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in ann_search(
            q,
            i,
            k=5,
            route=flat,
            n_index=MAX_INDEX_ROWS + 1,
            n_queries=QUERY_BROADCAST_MAX + 1,
        ).collect()
    )
    assert bnl == ref and len(bnl) > 0
    src = inspect.getsource(_cogrouped_partials)
    assert "defaultParallelism" in src, "BNL lost its parallelism floor"


def test_cosine_pairs_tiled_equals_single(spark):
    from etl_covid19_brasil_spark.llm.similarity import cosine_pairs_above

    emb = load_table(spark, SF, "embeddings")
    # threshold 0.3 yields ~900 pairs on these near-random embeddings —
    # a threshold with EMPTY output (0.5 here) makes the equivalence
    # vacuous and the tiled path untested.
    single = cosine_pairs_above(emb, threshold=0.3).toPandas()
    tiled = cosine_pairs_above(emb, threshold=0.3, max_index_rows=64).toPandas()
    assert len(single) > 100
    key = ["id_a", "id_b"]
    s = single.sort_values(key).reset_index(drop=True)
    t = tiled.sort_values(key).reset_index(drop=True)
    assert s.equals(t)


# --- bloom-filter semi-join pruning ---------------------------------------


def test_bloom_semi_join_equals_plain_semi(spark):
    from etl_covid19_brasil_spark.operators.bloom import bloom_semi_join

    orders = load_table(spark, SF, "orders")
    rich = load_table(spark, SF, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    got = bloom_semi_join(orders, rich, "o_custkey", "c_custkey")
    want = orders.join(rich, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bloom_filter_prunes_before_join(spark):
    from etl_covid19_brasil_spark.operators.bloom import build_bloom, might_contain

    orders = load_table(spark, SF, "orders")
    rich = load_table(spark, SF, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    bf = build_bloom(rich, "c_custkey")
    pruned = (
        orders.crossJoin(F.broadcast(bf))
        .filter(might_contain(F.col("bf"), F.col("o_custkey"), 1 << 15, 3))
        .count()
    )
    matching = orders.join(
        rich, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).count()
    total = orders.count()
    # no false negatives, and the filter must actually bite
    assert pruned >= matching
    assert pruned < total


# --- observe(): in-flight metrics without a second pass --------------------


def test_observe_collects_metrics_without_extra_pass(spark):
    """df.observe attaches accumulator-style metrics to a single job run —
    the production pattern for row-count/quality counters on a 100 TB
    pipeline where a second counting pass would double the scan cost."""
    from pyspark.sql import Observation

    orders = load_table(spark, SF, "orders")
    obs = Observation("orders_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_keys"),
    )
    # one action drives both the query result and the metrics
    n_big = observed.filter(F.col("o_totalprice") > 100000).count()
    got = obs.get
    want_rows = orders.count()
    want_cents = orders.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).collect()[0][0]
    assert got["n_rows"] == want_rows
    assert got["total_cents"] == want_cents
    assert got["null_keys"] == 0
    assert 0 < n_big < want_rows


def test_bloom_false_positive_rate_is_engineered(spark):
    """32k bits / 3 hashes over ~150 keys gives theoretical FP ~(kn/m)^k
    ~ 2.5e-6 — the pruned probe set must exceed true matches by at most
    a handful of rows, or the hash family is broken."""
    from etl_covid19_brasil_spark.operators.bloom import build_bloom, might_contain

    build = spark.range(150).select((F.col("id") * 13 + 7).alias("k"))
    probe = spark.range(60_000).select(F.col("id").alias("p"))
    bf = build_bloom(build, "k")
    pruned = (
        probe.crossJoin(F.broadcast(bf))
        .filter(might_contain(F.col("bf"), F.col("p"), 1 << 15, 3))
        .count()
    )
    matching = probe.join(build, F.col("p") == F.col("k"), "left_semi").count()
    assert pruned - matching <= 5, (pruned, matching)


def test_bloom_same_name_key_and_bf_collision(spark):
    """probe_key == build_key (natural semi-join) must not raise
    AMBIGUOUS_REFERENCE, and a pre-existing probe column named 'bf' must
    survive the internal filter column."""
    from etl_covid19_brasil_spark.operators.bloom import bloom_semi_join

    build = spark.range(100).select((F.col("id") * 3).alias("k"))
    probe = spark.range(1000).select(F.col("id").alias("k"), F.lit("keep").alias("bf"))
    got = bloom_semi_join(probe, build, "k", "k")
    want = probe.join(build, probe["k"] == build["k"], "left_semi")
    assert got.columns == ["k", "bf"]
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bloom_handles_negative_keys(spark):
    """xxhash64 goes negative on half its outputs; pmod must keep bit
    positions in range and the no-false-negative guarantee must hold for
    negative key VALUES too."""
    from etl_covid19_brasil_spark.operators.bloom import bloom_semi_join

    build = spark.range(100).select((F.col("id") * -31 - 7).alias("k"))
    probe = spark.range(4000).select((F.col("id") - 2000).alias("p"))
    got = bloom_semi_join(probe, build, "p", "k")
    want = probe.join(build, F.col("p") == F.col("k"), "left_semi")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# --- integer pagerank -----------------------------------------------------


def test_pagerank_integer_known_graphs(spark):
    from etl_covid19_brasil_spark.operators.pagerank import pagerank_integer

    # 2-cycle: perfectly symmetric, ranks stay at the uniform fixed point
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r["node"]: r["rank_u6"] for r in pagerank_integer(cyc, iterations=3).collect()}
    assert got == {1: 1_000_000, 2: 1_000_000}

    # star: hub 0 <-> spokes 1..4; hub must outrank every spoke, and
    # total mass stays within integer-floor loss of n * 1e6
    star_edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    star = spark.createDataFrame(star_edges, "src long, dst long")
    ranks = {r["node"]: r["rank_u6"] for r in pagerank_integer(star, iterations=4).collect()}
    assert all(ranks[0] > ranks[i] for i in range(1, 5))
    assert len(set(ranks[i] for i in range(1, 5))) == 1  # spokes symmetric
    total = sum(ranks.values())
    assert 5_000_000 * 0.999 < total <= 5_000_000


def test_pagerank_integer_source_only_nodes(spark):
    """Nodes with zero in-degree must persist at the teleport rank and
    keep pushing mass downstream (ADVICE r5: they used to vanish after
    the first sweep, losing their outgoing mass in later sweeps)."""
    from etl_covid19_brasil_spark.operators.pagerank import pagerank_integer

    # 0 -> 1 -> 2 -> 1: node 0 has in-degree 0 (source-only)
    chain = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 1)], "src long, dst long"
    )
    ranks = {
        r["node"]: r["rank_u6"]
        for r in pagerank_integer(chain, iterations=3).collect()
    }
    assert set(ranks) == {0, 1, 2}          # source-only node not dropped
    assert ranks[0] == 150_000              # pure teleport rank
    # node 0's mass reaches node 1 every sweep; 1 receives from 0 and 2
    assert ranks[1] > ranks[2] > ranks[0]


def test_pagerank_integer_exact_odd_damping(spark):
    """damping_ppm not divisible by 10_000 is applied exactly via the
    gcd-reduced fraction (ADVICE r5: 855_000 used to truncate to 0.85
    while teleporting 145_000, breaking mass conservation)."""
    from etl_covid19_brasil_spark.operators.pagerank import pagerank_integer

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {
        r["node"]: r["rank_u6"]
        for r in pagerank_integer(cyc, iterations=3, damping_ppm=855_000).collect()
    }
    # symmetric 2-cycle fixed point survives any damping exactly:
    # r = (1e6 - d) + d*r/1e6 has fixed point r = 1e6
    assert got == {1: 1_000_000, 2: 1_000_000}


def test_estimate_rows_exact_from_parquet_footers(spark):
    """The similarity/LSH tier choice reads row counts from parquet
    footer METADATA (no Spark job): exact on file-scan frames, and the
    caller hint always wins. A wrong estimate can only cost performance
    (both tiers are bit-identical), but an exact one keeps small tables
    on the zero-shuffle broadcast path."""
    from etl_covid19_brasil_spark.llm.similarity import _estimate_rows

    emb = load_table(spark, SF, "embeddings")
    assert _estimate_rows(emb) == emb.count()


def test_compression_ratio_matches_local_zlib(spark):
    """text_compression_ratio is rows-only (no SQL deflate) — pin its
    exactness here instead: the Arrow-batched kernel must equal a local
    sequential zlib at the same level for every document."""
    import zlib

    from etl_covid19_brasil_spark import registry

    rows = (
        registry.all_specs()["text_compression_ratio"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    import duckdb

    texts = dict(
        duckdb.connect()
        .execute(
            "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet'"
        )
        .fetchall()
    )
    flagged = 0
    for r in rows:
        raw = texts[r.doc_id].encode("utf-8")
        want = len(zlib.compress(raw, 6)) * 1_000_000 // len(raw)
        assert r.compress_ppm == want, (r.doc_id, r.compress_ppm, want)
        assert r.too_compressible == (want < 430_000)
        flagged += int(r.too_compressible)
    # the screen must be non-vacuous: the 430k-ppm cut is calibrated to
    # the corpus p10, so both classes must appear
    assert 0 < flagged < len(rows)


def test_hard_negative_topk_tiled_equals_single(spark):
    """hard_negative_topk's label mask rides the packed-id machinery
    through BOTH tiers: the cogrouped block-nested-loop (tiny
    max_index_rows) must be byte-identical to the broadcast path, and
    every mined neighbor must actually be other-class (the property the
    op exists for — a packing/shift regression would surface here)."""
    from etl_covid19_brasil_spark.llm.similarity import hard_negative_topk

    emb = load_table(spark, SF, "embeddings")
    single = hard_negative_topk(emb, k=5).toPandas()
    tiled = hard_negative_topk(emb, k=5, max_index_rows=64).toPandas()
    key = ["query_id", "rank"]
    s = single.sort_values(key).reset_index(drop=True)
    t = tiled.sort_values(key).reset_index(drop=True)
    assert s.equals(t)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert len(s) > 0
    for row in s.itertuples():
        assert labels[row.query_id] != row.neighbor_label
        assert labels[row.neighbor_id] == row.neighbor_label


def test_hard_negative_id_packing_bounds():
    """The packed id (vec_id * 256 + label) must round-trip exactly up to
    the documented bound (vec_id < 2^55, label < 256) — beyond it int64
    would overflow SILENTLY under Spark's non-ANSI arithmetic, so the
    bound is pinned here as executable documentation."""
    import numpy as np

    for vid in (0, 1, 2**40, 2**55 - 1):
        for lab in (0, 9, 255):
            packed = np.int64(vid) * 256 + lab
            assert packed >> 8 == vid
            assert packed & 255 == lab
    # one past the bound DOES overflow — the guard is real
    with np.errstate(over="ignore"):
        overflowed = np.int64(2**55) * np.int64(256)
    assert overflowed < 0


def _labelled(spark, labels):
    """40 random 8-d vectors whose labels cycle through ``labels``."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)], labels[i % len(labels)])
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")


@pytest.mark.parametrize("labels", [(0, 300), (0, None)], ids=["out_of_range", "null"])
def test_label_packing_rejects_labels_outside_a_byte(spark, labels):
    """Labels ride packed into the id's low byte (id * 256 + label). A
    label outside [0, 255] used to bleed into the id bits — phantom
    query ids and wrong neighbor labels, silently — so both packing
    entry points must raise instead."""
    from etl_covid19_brasil_spark.llm.ann import ivf_topk
    from etl_covid19_brasil_spark.llm.similarity import hard_negative_topk

    df = _labelled(spark, labels)
    with pytest.raises(Exception, match=r"must be an integer in \[0, 255\]"):
        hard_negative_topk(df, k=3).collect()
    with pytest.raises(Exception, match=r"must be an integer in \[0, 255\]"):
        ivf_topk(df, k=3, n_cells=4, n_probe=2, label_col="label").collect()
    # in range: no error, and every mined neighbor is other-class
    ok = hard_negative_topk(_labelled(spark, (0, 255)), k=3).collect()
    assert ok and all(r["neighbor_label"] == (0 if r["query_id"] % 2 else 255) for r in ok)


@pytest.mark.parametrize(
    "entry", ["brute_force_topk", "cosine_pairs_above", "hard_negative_topk", "ann_search"]
)
def test_exact_tier_empty_input_returns_empty_frame(spark, entry):
    """A zero-row input gives a zero-row result with the entry point's
    declared schema (not ``ValueError: need at least one array to
    stack`` from the bounded collect)."""
    from pyspark.sql.types import DoubleType, IntegerType, LongType

    from etl_covid19_brasil_spark.llm import similarity
    from etl_covid19_brasil_spark.llm.search import ann_search

    empty = load_table(spark, SF, "embeddings").filter("vec_id < 0")
    topk = [
        ("query_id", LongType()),
        ("neighbor_id", LongType()),
        ("cosine", DoubleType()),
        ("rank", IntegerType()),
    ]
    calls = {
        "brute_force_topk": (lambda: similarity.brute_force_topk(empty), topk),
        "cosine_pairs_above": (
            lambda: similarity.cosine_pairs_above(empty, 0.5),
            [("id_a", LongType()), ("id_b", LongType()), ("cosine", DoubleType())],
        ),
        "hard_negative_topk": (
            lambda: similarity.hard_negative_topk(empty),
            topk[:2] + [("neighbor_label", IntegerType())] + topk[2:],
        ),
        "ann_search": (lambda: ann_search(empty, empty), topk),
    }
    build, schema = calls[entry]
    got = build()
    assert [(f.name, f.dataType) for f in got.schema] == schema
    assert got.count() == 0


def test_estimate_rows_fallback_chain_degrades_not_raises(spark):
    """_estimate_rows reaches into private `_jdf.queryExecution()` py4j
    internals — the most version-fragile code in the tree. Pin the
    documented degradation chain (VERDICT r8 item 8): when the Catalyst
    stats surface drifts/raises, the footer tier still answers exactly;
    when footers are unreadable too, the final count() tier answers
    exactly; and the estimate NEVER raises through any tier failure."""
    from etl_covid19_brasil_spark.llm.similarity import _estimate_rows

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()

    class Proxy:
        """DataFrame stand-in that severs chosen tiers."""

        def __init__(self, df, break_jdf=False, break_files=False):
            self._df = df
            self._break_jdf = break_jdf
            self._break_files = break_files
            self.count_calls = 0

        @property
        def _jdf(self):
            if self._break_jdf:
                raise RuntimeError("simulated py4j surface drift")
            return self._df._jdf

        def inputFiles(self):
            if self._break_files:
                raise RuntimeError("simulated listing failure")
            return self._df.inputFiles()

        def count(self):
            self.count_calls += 1
            return self._df.count()

    # tier 2: Catalyst stats gone -> parquet footers answer, exactly,
    # without running a count() job
    p = Proxy(emb, break_jdf=True)
    assert _estimate_rows(p) == n
    assert p.count_calls == 0

    # tier 3: stats AND footers gone -> count() is the last resort
    p = Proxy(emb, break_jdf=True, break_files=True)
    assert _estimate_rows(p) == n
    assert p.count_calls == 1

    # non-file-backed frame (no footers): sizeInBytes inversion answers
    # without a count() job and must stay conservative (>= true rows —
    # under-estimating risks an oversized broadcast; over-estimating
    # merely takes the always-safe cogrouped path)
    local = spark.range(100).selectExpr("id", "id * 2 AS v")
    p = Proxy(local)
    est = _estimate_rows(p)
    assert est >= 100
    assert p.count_calls == 0


def test_query_chunking_is_bit_identical_and_bounded():
    """_by_query_chunks slices the query side so the per-call similarity
    allocation stays under SIMS_BUDGET_BYTES (the r9 64x probe OOM-killed
    Python workers on an unsliced 91k x 160k block). Slicing must be
    bit-identical for both kernel families: pairs emission and per-query
    top-k treat query rows independently."""
    import numpy as np
    import pandas as pd

    from etl_covid19_brasil_spark.llm import similarity as S

    rng = np.random.default_rng(7)
    n, d = 500, 16
    ids = np.arange(n, dtype=np.int64)
    mat = S._normalize(rng.normal(size=(n, d)))

    whole_pairs = S._pairs_block(ids, mat, ids, mat, 0.3)
    whole_topk = S._topk_block(ids, mat, ids, mat, 5)

    calls = []
    orig = S.SIMS_BUDGET_BYTES
    S.SIMS_BUDGET_BYTES = 8 * n * 50  # force ~10 slices of 50 query rows
    try:
        def spy_pairs(q_ids, q_mat, i_ids, i_mat, thr):
            calls.append(len(q_ids))
            return S._pairs_block(q_ids, q_mat, i_ids, i_mat, thr)

        chunked_pairs = S._by_query_chunks(spy_pairs, ids, mat, ids, mat, 0.3)
        chunked_topk = S._by_query_chunks(S._topk_block, ids, mat, ids, mat, 5)
    finally:
        S.SIMS_BUDGET_BYTES = orig

    assert len(calls) == 10 and all(c <= 50 for c in calls)

    def key(df, cols):
        return sorted(map(tuple, df[cols].itertuples(index=False)))

    assert key(chunked_pairs, ["id_a", "id_b", "cosine"]) == key(
        whole_pairs, ["id_a", "id_b", "cosine"]
    )
    assert key(chunked_topk, ["query_id", "neighbor_id", "cosine", "rank"]) == key(
        whole_topk, ["query_id", "neighbor_id", "cosine", "rank"]
    )
    # exact float equality above IS bit-identity here: both paths run the
    # same dimension-ordered fold on the same rows, only sliced


def test_ann_bucket_kernel_chunking_is_bit_identical():
    """The ANN group kernels (LSH bucket top-k here as the representative;
    IVF/IVFPQ cell kernels share the exact _by_query_chunks wrapper) carry
    the same (|Q|, |I|) allocation class the r9 64x probe OOM'd on in
    similarity.py: bucket membership is EXPECTED-constant but a degenerate
    corpus funnels everything into one bucket. Chunked output must equal
    the unchunked output exactly — per-query top-k is row-independent and
    the dimension-ordered fold never crosses the slice axis."""
    import numpy as np
    import pandas as pd

    from etl_covid19_brasil_spark.llm import ann as A
    from etl_covid19_brasil_spark.llm import similarity as S

    rng = np.random.default_rng(11)
    n, d = 400, 16
    pdf = pd.DataFrame(
        {
            "vid": np.arange(n, dtype=np.int64),
            "vec": list(rng.normal(size=(n, d))),
            "is_index": np.ones(n, dtype=np.int32),
            "qrole": np.ones(n, dtype=np.int32),
        }
    )
    kernel = A._bucket_topk_kernel(5)

    whole = kernel(pdf)
    orig = S.SIMS_BUDGET_BYTES
    S.SIMS_BUDGET_BYTES = 8 * n * 37  # force uneven 37-row query slices
    try:
        chunked = kernel(pdf)
    finally:
        S.SIMS_BUDGET_BYTES = orig

    def key(df):
        return sorted(map(tuple, df[["query_id", "neighbor_id", "cosine"]].itertuples(index=False)))

    assert len(whole) == n * 5
    assert key(chunked) == key(whole)


# --- chunked running sum (hot window key) ----------------------------------


def test_chunked_running_sum_equals_plain_window_under_skew(spark):
    """The two-pass chunk-prefix rewrite must be bit-identical to the
    plain window ON the shape it exists for: one key owning half the
    rows (a window partition AQE cannot split). Synthetic frame so the
    hot fraction is exact and the test is independent of testdata."""
    from pyspark.sql.window import Window

    from etl_covid19_brasil_spark.operators.chunked_window import chunked_running_sum

    n = 20_000
    df = spark.range(n).select(
        # key 0 owns 50% of rows; the rest spread over 1000 keys
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)) + 1)
        .alias("k"),
        F.col("id").alias("seq"),  # unique tiebreaker -> total order per key
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(10_000))).alias("v"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    plain = df.withColumn("rs", F.sum("v").over(w))
    # num_partitions=8 forces the hot key to span several chunks
    chunked = chunked_running_sum(
        df, keys=["k"], order=["seq"], value="v", out="rs", num_partitions=8
    )
    assert chunked.columns == df.columns + ["rs"]
    mism = (
        plain.select("k", "seq", "rs")
        .join(chunked.select("k", "seq", F.col("rs").alias("rs2")), ["k", "seq"], "full")
        .filter(
            F.col("rs").isNull() | F.col("rs2").isNull() | (F.col("rs") != F.col("rs2"))
        )
        .count()
    )
    assert mism == 0


def test_chunked_running_sum_reliable_checkpoint_smoke(spark, tmp_path):
    """reliable_checkpoint=True pins the sampled range boundaries with a
    RELIABLE checkpoint (durable storage, survives executor loss — the
    ADVICE r10 availability option for long cluster runs) instead of
    executor-local blocks; results must be identical to the default."""
    from etl_covid19_brasil_spark.operators.chunked_window import chunked_running_sum

    df = spark.range(2_000).select(
        F.pmod(F.col("id"), F.lit(7)).alias("k"),
        F.col("id").alias("seq"),
        F.lit(1).alias("v"),
    )
    old_dir = spark.sparkContext._jsc.sc().getCheckpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = chunked_running_sum(
            df, keys=["k"], order=["seq"], value="v", out="rs",
            num_partitions=4, reliable_checkpoint=True,
        )
        rows = {(r["k"], r["seq"]): r["rs"] for r in reliable.collect()}
    finally:
        if old_dir and not old_dir.isEmpty():
            spark.sparkContext.setCheckpointDir(old_dir.get())
    default = chunked_running_sum(
        df, keys=["k"], order=["seq"], value="v", out="rs", num_partitions=4
    )
    assert rows == {(r["k"], r["seq"]): r["rs"] for r in default.collect()}


def test_running_sum_auto_routes_both_ways_on_skew_profiles(spark, caplog):
    """The skew-aware dispatcher (VERDICT r10 item 6) must route a
    uniform profile to the plain window and a hot-key profile to the
    chunked rewrite — and the auto result must equal the plain window
    either way (both routes are exact; only the plan differs). The
    crossover is parameterized down so a CI-sized corpus exercises both
    branches with a full-fraction sample. Every decision logs one
    structured record of its inputs and route."""
    import logging

    from pyspark.sql.window import Window

    from etl_covid19_brasil_spark.operators import chunked_window
    from etl_covid19_brasil_spark.operators.chunked_window import (
        pick_window_strategy,
        running_sum_auto,
    )

    caplog.set_level(logging.INFO, logger=chunked_window.__name__)

    uniform = spark.range(4_000).select(
        F.pmod(F.col("id"), F.lit(1000)).alias("k"),
        F.col("id").alias("seq"),
        F.lit(1).alias("v"),
    )
    hot = spark.range(4_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("seq"),
        F.lit(1).alias("v"),
    )
    kw = dict(sample_fraction=1.0, hot_rows_crossover=100)
    assert pick_window_strategy(uniform, ["k"], **kw) == "plain"
    assert pick_window_strategy(hot, ["k"], **kw) == "chunked"

    w = Window.partitionBy("k").orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    for df in (uniform, hot):
        want = {
            (r["k"], r["seq"]): r["rs"]
            for r in df.withColumn("rs", F.sum("v").over(w)).collect()
        }
        got = {
            (r["k"], r["seq"]): r["rs"]
            for r in running_sum_auto(
                df, keys=["k"], order=["seq"], value="v", out="rs",
                num_partitions=4, **kw,
            ).collect()
        }
        assert got == want
    recs = [r.window_strategy for r in caplog.records if hasattr(r, "window_strategy")]
    # two direct picks, then one per running_sum_auto call
    assert [r["route"] for r in recs] == ["plain", "chunked", "plain", "chunked"]
    uni, hot_rec = recs[0], recs[1]
    assert uni["keys"] == ["k"] and uni["sample_fraction"] == 1.0
    assert uni["crossover"] == 100 and hot_rec["crossover"] == 100
    # full-fraction sample: the estimate is the exact hottest-key count
    assert uni["est_hot_rows"] == 4 and hot_rec["est_hot_rows"] == 2_000


def test_auto_dispatch_family_routes_both_ways(spark):
    """The other three window shapes get the same dispatcher contract as
    running_sum_auto: a forced-plain route and a forced-chunked route
    (crossover parameterized down, full-fraction sample) must produce
    identical results for sessionize, SCD2, and the bounded frame."""
    import datetime as dt

    from etl_covid19_brasil_spark.operators.chunked_window import (
        moving_frame_auto,
        scd2_auto,
        sessionize_auto,
    )

    base = dt.datetime(2021, 1, 1)
    rows = [
        (i % 7 if i % 2 else 0, base + dt.timedelta(minutes=3 * i), i,
         "A" if (i // 5) % 2 == 0 else "B", i % 10)
        for i in range(3_000)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, tb long, val string, v long")

    def run(fn, **kw):
        plain = fn(sample_fraction=1.0, hot_rows_crossover=10**9, **kw)
        chunked = fn(sample_fraction=1.0, hot_rows_crossover=10, num_partitions=4, **kw)
        a, b = [r for r in map(tuple, plain.collect())], [
            r for r in map(tuple, chunked.collect())
        ]
        # set compare (rows are unique per operator contract; sorting
        # tuples directly would TypeError on None valid_to values)
        assert len(a) == len(b) == len(set(a)) and set(a) == set(b)

    run(lambda **kw: sessionize_auto(df, key="k", ts="ts", tiebreak="tb",
                                     gap_us=5 * 60 * 1_000_000, **kw))
    run(lambda **kw: scd2_auto(df, key="k", value="val", ts="ts", tiebreak="tb", **kw))
    run(lambda **kw: moving_frame_auto(df, key="k", order=["ts", "tb"], value="v",
                                       frame_w=3, **kw))


def test_chunked_running_sum_splits_hot_key_across_partitions(spark):
    """Structural half of the skew claim: range partitioning on
    (key, order) actually SPLITS the hot key — the per-task sort bound
    is the partition, not the key. (A hash partitioner can never split
    a key, which is exactly the plain window's failure mode.)"""
    from etl_covid19_brasil_spark.operators.chunked_window import _PID

    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)) + 1)
        .alias("k"),
        F.col("id").alias("seq"),
        F.lit(1).alias("v"),
    )
    src = df.repartitionByRange(8, "k", "seq").withColumn(_PID, F.spark_partition_id())
    hot_chunks = src.filter(F.col("k") == 0).select(_PID).distinct().count()
    assert hot_chunks >= 3, f"hot key landed in only {hot_chunks} partitions"
    # and the largest chunk is far below the hot key's 10k rows
    biggest = (
        src.groupBy(_PID).count().agg(F.max("count")).first()[0]
    )
    assert biggest < 6_000, f"largest range partition holds {biggest} rows"


def test_chunked_sessionize_equals_plain_window_under_skew(spark):
    """The lag-dependent extension of the chunk-prefix rewrite: session
    numbering must be bit-identical to the plain window on a 50%-hot
    user whose events span several range partitions — including the
    cross-boundary gap compares the per-chunk correction exists for."""
    from pyspark.sql.window import Window

    from etl_covid19_brasil_spark.operators.chunked_window import chunked_sessionize

    n, gap_us = 20_000, 60 * 1_000_000  # 1-minute gap
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(500)) + 1)
        .alias("user_id"),
        F.col("id").alias("event_id"),
        # irregular inter-event gaps straddling the 60s threshold:
        # pmod(hash) in [0, 120] seconds ensures flags flip constantly
        F.timestamp_micros(
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(240)) * 500_000
        ).alias("ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = us - F.lag(us).over(w)
    flag = F.when(g.isNull() | (g > gap_us), F.lit(1)).otherwise(F.lit(0))
    plain = df.select(
        "user_id",
        "event_id",
        F.sum(flag)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("seq"),
    )
    chunked = chunked_sessionize(
        df, key="user_id", ts="ts", tiebreak="event_id", gap_us=gap_us,
        out="seq2", num_partitions=8,
    )
    mism = (
        plain.join(
            chunked.select("user_id", "event_id", "seq2"),
            ["user_id", "event_id"],
            "full",
        )
        .filter(
            F.col("seq").isNull()
            | F.col("seq2").isNull()
            | (F.col("seq") != F.col("seq2"))
        )
        .count()
    )
    assert mism == 0


def test_chunked_scd2_equals_plain_window_under_skew(spark):
    """The SCD2 instance of the chunk-prefix rewrite: transition
    detection, contiguous version numbering, and valid_to stitching
    must be bit-identical to the plain two-window build on a 50%-hot
    key with same-timestamp flip-flops straddling chunk boundaries."""
    from pyspark.sql.window import Window

    from etl_covid19_brasil_spark.operators.chunked_window import chunked_scd2

    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(500)) + 1)
        .alias("k"),
        # tiny value alphabet + tiny ts domain: flip-flop runs and
        # duplicate change timestamps everywhere
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(11)), F.lit(3))).alias("val"),
        F.pmod(F.xxhash64("id", F.lit(5)), F.lit(40)).alias("t"),
        F.col("id").alias("tb"),
    )
    w = Window.partitionBy("k").orderBy("t", "tb")
    transitions = df.withColumn("prev", F.lag("val").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("val"))
    )
    plain = transitions.select(
        "k",
        "val",
        F.col("t").alias("valid_from"),
        F.lead("t").over(w).alias("valid_to"),
        F.lead("t").over(w).isNull().alias("is_current"),
        F.row_number().over(w).cast("long").alias("version"),
    )
    chunked = chunked_scd2(df, key="k", value="val", ts="t", tiebreak="tb",
                           num_partitions=8)
    cols = ["k", "val", "valid_from", "valid_to", "is_current", "version"]

    def rows(df):  # None-safe total order (valid_to is NULL on current rows)
        return sorted(
            map(tuple, df.select(*cols).collect()),
            key=lambda r: tuple((x is None, x) for x in r),
        )

    a, b = rows(plain), rows(chunked)
    assert len(a) > 500  # the tiny domains actually generated history
    assert a == b


def test_chunked_moving_frame_equals_plain_window_under_skew(spark):
    """The bounded-frame member of the chunk family: frame sums/counts
    must be bit-identical to the plain window on a 50%-hot key."""
    from pyspark.sql.window import Window

    from etl_covid19_brasil_spark.operators.chunked_window import chunked_moving_frame

    n, W = 20_000, 3
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(500)) + 1)
        .alias("k"),
        F.col("id").alias("seq"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(100)).alias("v"),
    )
    w = Window.partitionBy("k").orderBy("seq").rowsBetween(-(W - 1), 0)
    plain = df.select(
        "k", "seq", F.sum("v").over(w).alias("s"), F.count(F.lit(1)).over(w).alias("c")
    )
    chunked = chunked_moving_frame(
        df, key="k", order=["seq"], value="v", frame_w=W, num_partitions=8
    ).select("k", "seq", F.col("frame_sum").alias("s2"), F.col("frame_cnt").alias("c2"))
    mism = (
        plain.join(chunked, ["k", "seq"], "full")
        .filter(
            F.col("s").isNull() | F.col("s2").isNull()
            | (F.col("s") != F.col("s2")) | (F.col("c") != F.col("c2"))
        )
        .count()
    )
    assert mism == 0


def test_chunked_moving_frame_multi_hop_ghosts(spark):
    """The shape that broke the single-hop design: keys with so few rows
    that a chunk holds 1 row and its successor's frame needs history
    from TWO chunks back. 60 rows over 20 keys across 16 partitions
    forces 1-2-row chunks everywhere; results must still equal the
    plain window exactly."""
    from pyspark.sql.window import Window

    from etl_covid19_brasil_spark.operators.chunked_window import chunked_moving_frame

    W = 4  # wider than most chunks -> multi-hop everywhere
    df = spark.range(60).select(
        (F.col("id") % 20).alias("k"),
        F.col("id").alias("seq"),
        (F.col("id") * 7 % 50).alias("v"),
    )
    w = Window.partitionBy("k").orderBy("seq").rowsBetween(-(W - 1), 0)
    plain = df.select(
        "k", "seq", F.sum("v").over(w).alias("s"), F.count(F.lit(1)).over(w).alias("c")
    )
    chunked = chunked_moving_frame(
        df, key="k", order=["seq"], value="v", frame_w=W, num_partitions=16
    ).select("k", "seq", F.col("frame_sum").alias("s2"), F.col("frame_cnt").alias("c2"))
    mism = (
        plain.join(chunked, ["k", "seq"], "full")
        .filter(
            F.col("s").isNull() | F.col("s2").isNull()
            | (F.col("s") != F.col("s2")) | (F.col("c") != F.col("c2"))
        )
        .count()
    )
    assert mism == 0


def test_spread_gate_is_bytes_based(spark, tmp_path):
    """r17 (VERDICT r16 item 6 / ADVICE r16): the _spread gate estimates
    scan parallelism from BYTES, not file count — Spark bin-packs small
    files into splits (openCostInBytes charges ~4 MB per file under a
    maxPartitionBytes bin), so "many files" never implied "many scan
    tasks". A many-tiny-file corpus must still take the spread (the old
    file-count gate skipped it); a source whose files carry
    >= target x maxPartitionBytes worth of bytes must skip it (spreading
    a large corpus would re-shuffle every byte for nothing)."""
    from etl_covid19_brasil_spark.llm.similarity import (
        _scan_parallel_enough,
        _spread,
    )

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "tiny_files")
    # 2x target tiny files: passes the OLD file-count gate, holds a few
    # KB of bytes total — nowhere near target splits' worth of work
    spark.range(target * 2).repartition(target * 2).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= target  # the old gate would skip
    assert not _scan_parallel_enough(df, target)
    assert _spread(df) is not df  # spread still applied

    # byte gate, other direction: shrink maxPartitionBytes so the same
    # files are provably >= target splits' worth of bytes -> no spread
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
        assert _scan_parallel_enough(df, target)
        assert _spread(df) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    # non-file source: unknown layout -> spread applied (AQE coalesces
    # it when unnecessary), matching the documented contract
    local = spark.range(10)
    assert not _scan_parallel_enough(local, target)


def test_spread_gate_never_lists_files(spark, tmp_path, monkeypatch):
    """The bytes gate reads the plan's file-relation statistics, never
    the file list: with ``DataFrame.inputFiles`` patched to raise it
    still decides, and its byte total is exactly the data files' sizes
    (the threshold flips between total // target and one byte more per
    split)."""
    import glob
    import os

    from etl_covid19_brasil_spark.llm.similarity import _scan_parallel_enough

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "files")
    spark.range(target * 2).repartition(target * 2).write.parquet(path)
    df = spark.read.parquet(path)
    total = sum(os.path.getsize(f) for f in glob.glob(f"{path}/part-*.parquet"))

    def listed(self):
        raise AssertionError("the spread gate listed the input files")

    monkeypatch.setattr(type(df), "inputFiles", listed)
    assert not _scan_parallel_enough(df, target)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", f"{total // target}b")
        assert _scan_parallel_enough(df, target)
        spark.conf.set("spark.sql.files.maxPartitionBytes", f"{total // target + 1}b")
        assert not _scan_parallel_enough(df, target)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
