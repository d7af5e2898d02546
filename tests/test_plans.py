"""Physical-plan audits (SURVEY.md §4): the scale posture is only real if
Catalyst actually produces the plans the design assumes. These tests pin
the load-bearing physical properties — pushdown, broadcast, top-k
short-circuit, partial aggregation, and the absence of cross products in
the LSH paths — so a regression that silently de-optimizes a 100 TB plan
fails CI instead of a cluster.
"""

from __future__ import annotations

import contextlib
import io as pyio
import re

import pytest

from etl_covid19_brasil_spark import registry

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = pyio.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def specs():
    return registry.all_specs()


def q(specs, spark, name):
    return specs[name].spark(spark, SF)


def test_filter_pushdown_reaches_parquet_scan(spark, specs):
    p = plan_of(q(specs, spark, "filter_predicate"))
    assert "PushedFilters: [" in p
    assert "PushedFilters: []" not in p.replace("PushedFilters: [],", "KEEP")


def test_column_pruning_narrows_read_schema(spark, specs):
    p = plan_of(q(specs, spark, "scan_project"))
    # the projection touches a few columns; the 16-column lineitem schema
    # must NOT be read wholesale
    read_schemas = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schemas, p
    assert all(ln.count(",") < 8 for ln in read_schemas), read_schemas


def test_small_dim_join_broadcasts(spark, specs):
    p = plan_of(q(specs, spark, "join_broadcast"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_star_join_revenue_broadcasts_dims(spark, specs):
    p = plan_of(q(specs, spark, "join_inner_revenue"))
    assert "BroadcastHashJoin" in p


def test_top_k_plans_take_ordered(spark, specs):
    p = plan_of(q(specs, spark, "top_k_orders"))
    assert "TakeOrderedAndProject" in p
    # a global Sort would mean the limit did not fuse into the sort
    assert "Sort [" not in p.split("TakeOrderedAndProject")[0]


def test_groupby_agg_is_partial_then_final(spark, specs):
    p = plan_of(q(specs, spark, "agg_groupby_pricing"))
    assert p.count("HashAggregate") >= 2, p


def test_lsh_paths_have_no_cross_product(spark, specs):
    for name in ("near_dedup_minhash", "ann_lsh_topk", "near_dedup_embedding"):
        p = plan_of(q(specs, spark, name))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_lsh_topk_meets_over_one_uncoalesced_hash_exchange(spark, specs):
    """The LSH bucket kernel meets its groups over a hash exchange on
    (tbl, bucket, qs) to spark.sql.shuffle.partitions that AQE may not
    coalesce (REPARTITION_BY_NUM), and the groupBy reuses it: the plan
    keeps the 4 exchanges it had with the groupBy's own exchange."""
    p = re.sub(r"#\d+L?", "", plan_of(q(specs, spark, "ann_lsh_topk"), "simple"))
    n = spark.conf.get("spark.sql.shuffle.partitions")
    assert f"Exchange hashpartitioning(tbl, bucket, qs, {n}), REPARTITION_BY_NUM" in p, p
    assert sum("Exchange" in ln for ln in p.splitlines()) == 4, p


def test_exact_dedup_is_hash_aggregate_not_sort(spark, specs):
    p = plan_of(q(specs, spark, "exact_dedup"))
    assert "HashAggregate" in p or "dropDuplicates" in p


def test_minhash_signatures_are_shuffle_free(spark):
    from etl_covid19_brasil_spark.llm.minhash import minhash_signatures
    import pyspark.sql.functions as F
    from etl_covid19_brasil_spark.io import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    p = plan_of(minhash_signatures(docs, "doc_id", "toks"))
    assert "Exchange" not in p, "signature stage must not shuffle"


def test_schema_of_json_infers_props(spark):
    # engine-specific DDL output -> asserted here instead of an oracle twin
    # (fn_json_tuple's docstring points at this test)
    import pyspark.sql.functions as F
    from etl_covid19_brasil_spark.io import load_table

    e = load_table(spark, SF, "events")
    sample = e.select(F.col("props")).first()["props"]
    ddl = spark.range(1).select(F.schema_of_json(F.lit(sample))).first()[0]
    assert "k" in ddl and "BIGINT" in ddl.upper(), ddl
    parsed = e.select(F.from_json("props", ddl).alias("p")).select("p.k")
    assert parsed.filter(F.col("k").isNull()).count() == 0


def test_doc_chunk_sliding_is_shuffle_free(spark, specs):
    # Chunking is a Generate (explode) inside the scan stage: rows fan out
    # map-side and stream to the sink. An Exchange here would mean the 100 TB
    # chunking job shuffles the whole corpus for nothing.
    p = plan_of(q(specs, spark, "doc_chunk_sliding"))
    assert "Generate" in p
    assert "Exchange" not in p


def test_repetition_signals_shuffle_only_on_doc_id(spark, specs):
    # Per-document frequency tables must aggregate on doc_id-keyed
    # exchanges only — a corpus-wide line/bigram shuffle (as in
    # line_dedup_global) would be a different, far more expensive operator.
    p = plan_of(q(specs, spark, "text_repetition_signals"))
    exchanges = [ln for ln in p.splitlines() if "hashpartitioning(" in ln]
    assert exchanges
    assert all("doc_id" in ln for ln in exchanges), exchanges


def test_regression_agg_is_partial_then_final(spark, specs):
    # The six power sums must partial-aggregate map-side: the shuffle
    # carries |flags| rows per task, never raw lineitem rows.
    p = plan_of(q(specs, spark, "agg_regression"))
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p or "partial" in p


def test_zorder_key_is_shuffle_free(spark, specs):
    # The clustering key is per-row bit math; any Exchange would mean the
    # layout pass shuffles the table before even sorting it.
    p = plan_of(q(specs, spark, "zorder_interleave_key"))
    assert "Exchange" not in p


def test_stream_interval_join_is_equi_not_nested_loop(spark, specs):
    # The interval join must hash/merge on user_id with the time bounds as
    # residual condition — a BroadcastNestedLoopJoin here would make the
    # streaming twin's state unbounded per micro-batch at scale.
    p = plan_of(q(specs, spark, "stream_interval_join"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_scd2_reuses_one_window_shuffle(spark, specs):
    # lag-filter + lead/row_number share (o_custkey, [date, orderkey]):
    # Catalyst must satisfy both window stages with ONE exchange + sort
    p = plan_of(q(specs, spark, "scd2_dimension_build"), mode="simple")
    assert p.count("Exchange") == 1, p
    assert "SortMergeJoin" not in p


def test_oov_vocab_join_broadcasts(spark, specs):
    # the top-K vocabulary is vocabulary-sized — corpus tokens must NOT
    # shuffle for the membership join
    p = plan_of(q(specs, spark, "text_oov_rate"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_jaccard_posting_list_has_no_cartesian(spark, specs):
    # the exact tier is posting-list (equi-join on shingle), not all-pairs
    p = plan_of(q(specs, spark, "near_dedup_jaccard"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_connected_components_step_has_no_cartesian(spark):
    import pyspark.sql.functions as F

    from etl_covid19_brasil_spark.operators.concomp import _large_star, _small_star

    edges = spark.createDataFrame([(2, 1), (3, 2)], "u: long, v: long")
    p = plan_of(_small_star(_large_star(edges)))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bloom_prefilter_probes_before_semi_join(spark, specs):
    # the bloom membership test must sit under the semi join (prune first),
    # and the one-row filter side must not force a cartesian of real data
    p = plan_of(q(specs, spark, "join_bloom_prefilter"))
    assert "might_contain" in p or "element_at" in p, p
    assert "LeftSemi" in p


def test_bitmap_distinct_aggregates_partially(spark, specs):
    # the bitmap path exists to keep partials fixed-size: both aggregation
    # levels must be hash aggregates with map-side partials
    p = plan_of(q(specs, spark, "agg_bitmap_distinct"))
    assert p.count("HashAggregate") >= 4, p  # 2 levels x (partial, final)


def test_table_diff_is_hash_join_not_nested_loop(spark, specs):
    p = plan_of(q(specs, spark, "table_diff_by_key"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dedup_latest_uses_one_window_shuffle(spark, specs):
    p = plan_of(q(specs, spark, "dedup_latest_by_key"), mode="simple")
    assert p.count("Exchange") == 1, p


def test_sessionize_shares_one_window_shuffle(spark, specs):
    # lag-flag and running-sum windows share (user_id, [ts, event_id]):
    # one exchange + one sort must serve both
    p = plan_of(q(specs, spark, "win_sessionize_events"), mode="simple")
    assert p.count("Exchange") == 1, p
    assert p.count("Sort") == 1, p


def test_multiway_join_broadcasts_all_dims(spark, specs):
    # six-table Q5 shape: every dim edge must broadcast; the fact tables
    # must never meet in a sort-merge join at dim-dominated scale
    p = plan_of(q(specs, spark, "join_multiway_local_supplier"))
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "SortMergeJoin" not in p


def test_source_caps_reuses_window_exchange(spark, specs):
    # rank-within-source window and the per-source aggregate share the
    # source hash partitioning: one exchange feeds both (a second would
    # re-shuffle the whole corpus at 100 TB for nothing)
    p = plan_of(q(specs, spark, "curation_source_caps"), mode="simple")
    assert p.count("Exchange") == 1, p


def test_cross_source_dedup_shuffles_hash_only_once(spark, specs):
    # the md5-group window and the groupBy('h') reuse one exchange on h;
    # the only other exchange moves the tiny per-multiplicity summary
    p = plan_of(q(specs, spark, "dedup_cross_source"), mode="formatted")
    # the text column is hashed before the shuffle — partitioning keys are
    # h and the summary's n_sources, never the document text
    exchanges = [ln for ln in p.splitlines() if "Arguments: hashpartitioning" in ln]
    assert len(exchanges) <= 2, p
    assert exchanges and all("text" not in ln for ln in exchanges), p


def test_dynamic_partition_pruning_on_partitioned_lake(spark, tmp_path):
    """SURVEY.md §4: the lake story (sink_parquet partition_by) promises
    partition pruning at scale. Static pushdown is pinned above; this
    pins the DYNAMIC side — a dim-filtered join over a lake partitioned
    on the join key must carry a dynamicpruningexpression on the fact
    scan, so at 100 TB only the dim-selected partitions are read."""
    import pyspark.sql.functions as F

    from etl_covid19_brasil_spark.io import load_table, sink_parquet

    lake = str(tmp_path / "customer_by_nation")
    sink_parquet(
        load_table(spark, SF, "customer"), lake, partition_by=["c_nationkey"]
    )
    fact = spark.read.parquet(lake)
    # filter on a NON-join dim column: a join-key literal would constant-
    # propagate into a static prune and never exercise DPP
    dim = load_table(spark, SF, "nation").filter(F.col("n_regionkey") == 1)
    joined = fact.join(
        dim, fact.c_nationkey == dim.n_nationkey
    ).groupBy("n_name").agg(F.count(F.lit(1)).alias("n"))
    p = plan_of(joined).lower()
    assert "dynamicpruning" in p, p


def test_bm25_ranking_is_topk_with_broadcast_stats(spark, specs):
    """The retrieval tier's scale posture: df + corpus stats broadcast
    (vocabulary/1-row sized), the final ranking is a top-k short-circuit
    (TakeOrderedAndProject), never a global Sort, and nothing cross-joins
    beyond the broadcast stats row."""
    p = plan_of(q(specs, spark, "rank_bm25_topk"))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    pt = plan_of(q(specs, spark, "rank_tfidf_topk"))
    assert "TakeOrderedAndProject" in pt, pt
    assert "CartesianProduct" not in pt, pt


def test_scd2_asof_lookup_is_equi_join_with_residual(spark, specs):
    """The point-in-time lookup must plan as an equi-join on the key with
    the range predicate as a residual — a cross product or BNL over
    facts x dim would be the 100 TB killer."""
    p = plan_of(q(specs, spark, "scd2_asof_lookup"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_interval_merge_single_sort_serves_windows(spark, specs):
    """Both windows (running max-end, island counter) and the final
    aggregate run off one key-partitioned sort — no self-join, no
    cartesian interval pairing, and at most the window shuffle + the
    (key, island) aggregate shuffle."""
    p = plan_of(q(specs, spark, "win_interval_merge"))
    assert "CartesianProduct" not in p
    assert "Join" not in p  # the merge is windows + agg, never a self-join
    assert p.count("Exchange") <= 4  # window hash + agg hash (AQE may tag reads)


def test_weighted_median_windows_over_distinct_values_only(spark, specs):
    """The cumulative windows must run AFTER the per-value aggregation
    (domain-bounded), not over raw lineitem rows."""
    p = plan_of(q(specs, spark, "agg_weighted_median"))
    # HashAggregate (per-value) must appear before Window in the plan tree
    assert "Window" in p and "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_minhash_verification_never_broadcasts_corpus(spark, specs):
    """The r7 32x probe OOM'd on a broadcast of candidates-with-token-
    arrays (an O(corpus) side). The verification joins must carry no
    explicit broadcast hint — AQE may still broadcast a genuinely small
    side at runtime from REAL sizes, which is fine; a static hint that
    grows with the corpus is not."""
    from etl_covid19_brasil_spark.llm.minhash import minhash_near_dup_pairs
    import pyspark.sql.functions as F
    from etl_covid19_brasil_spark.io import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    pairs = minhash_near_dup_pairs(docs, id_col="doc_id", tokens_col="toks")
    logical = pairs._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in logical, "explicit broadcast hint reintroduced"


def test_spatial_grid_join_is_equi_not_cartesian(spark, specs):
    """The grid join must meet candidates in an equi-join on the cell id
    — the full cross-join-and-filter it replaces (its own oracle) is the
    thing that must NOT appear in the plan."""
    p = plan_of(q(specs, spark, "join_spatial_grid"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_nearest_value_join_is_windows_not_join(spark, specs):
    """The 1-D nearest-neighbor 'join' must compile to one union+window
    family — a real join node would mean the per-key pairing fallback."""
    p = plan_of(q(specs, spark, "join_nearest_value"))
    assert "Window" in p
    assert "Join" not in p and "CartesianProduct" not in p


def test_interval_overlap_is_equi_join(spark, specs):
    p = plan_of(q(specs, spark, "join_interval_overlap"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cdc_apply_single_shuffle_window(spark, specs):
    """latest-per-key + tombstone filter = one merge-key shuffle feeding
    one window; no join, no extra exchange family."""
    p = plan_of(q(specs, spark, "cdc_apply_changes"))
    assert "Window" in p and "Join" not in p


def test_retention_cohort_join_is_not_cartesian(spark, specs):
    p = plan_of(q(specs, spark, "user_retention_cohorts"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_triangle_count_is_cartesian_free(spark, specs):
    """graph_triangle_count's wedge enumeration + closure must run as
    equi-joins (edge lists join on vertices) — a cross product here is
    O(E^2) and unshippable at any scale."""
    p = plan_of(q(specs, spark, "graph_triangle_count"))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_substring_dedup_is_cartesian_free_with_partial_agg(spark, specs):
    """dedup_substring_ngrams: shingles explode map-side and all pair
    discovery goes through shingle-keyed joins; the recurrence profile
    must partial-aggregate before its shuffle."""
    p = plan_of(q(specs, spark, "dedup_substring_ngrams"))
    assert "CartesianProduct" not in p, p
    assert "partial_count" in p or "HashAggregate" in p, p


def test_pca_power_loop_state_stays_distributed(spark, specs):
    """embedding_pca_power's matvec loop: the only crossJoins are against
    ONE-ROW stat frames (max-|component|, sign) — pinned by checking the
    final plan has no nested-loop join of two multi-row inputs beyond
    those, and that the d^2 covariance aggregation partial-aggregates."""
    df = q(specs, spark, "embedding_pca_power")
    p = plan_of(df)
    # the one-row crossJoins plan as BroadcastNestedLoopJoin over a
    # single-row side: acceptable; a CartesianProduct of distributed
    # frames is not.
    assert "CartesianProduct" not in p, p


def test_cms_counter_build_partial_aggregates(spark, specs):
    """agg_count_min_sketch: the (seed, bucket) counter shuffle must
    shrink map-side (partial_count) — the property that keeps the sketch
    build one cheap pass at 100 TB."""
    p = plan_of(q(specs, spark, "agg_count_min_sketch"))
    assert "partial_count" in p or "Partial" in p, p


def test_tokenizer_not_inlined_into_positional_lambdas(spark, specs):
    """The tokenize-then-shingle BARRIER (SCALECHECK_r08): positional
    lambdas referencing a token-array EXPRESSION re-run the tokenizer per
    position once projections inline (O(len^2)/doc, thread-dump-verified).
    The checkpoint barrier keeps the tokenizer out of the shingle plan
    entirely — pinned by counting regexp occurrences in the final plan:
    the barrier side computes the regex; the consumer side must show none
    beyond the checkpoint build itself."""
    for name, cap in [
        ("dedup_substring_ngrams", 2),
        ("text_lexical_mattr", 2),
        ("ngram_profile", 2),
        ("line_dedup_global", 3),  # union of two corpus branches
    ]:
        p = plan_of(q(specs, spark, name))
        n = p.count("regexp_replace")
        assert n <= cap, f"{name}: tokenizer regex appears {n}x in plan (cap {cap})"


def test_prefix_filter_join_is_cartesian_free_and_prunes(spark, specs):
    """near_dedup_prefix_filter's whole value is candidate PRUNING: the
    self-join must stay an equi-join on prefix shingles (no cross
    product), and the prefix postings it fans out on must be a strict
    fraction of the full posting list (prefix length ~ 0.3*|A| + 1 at
    the 0.7 threshold)."""
    import pyspark.sql.functions as F

    from etl_covid19_brasil_spark.queries.llm import (
        _JACCARD_CAP,
        _near_dup_corpus,
        _shingle_hashes,
    )

    p = plan_of(q(specs, spark, "near_dedup_prefix_filter")).lower()
    assert "cartesianproduct" not in p, p
    assert "broadcastnestedloop" not in p, p

    d = (
        _near_dup_corpus(spark, SF)
        .filter(F.col("doc_id") % 1_000_000 < _JACCARD_CAP)
        .select(F.size(F.array_distinct(_shingle_hashes(F.col("w")))).cast("long").alias("sz"))
        .filter("sz > 0")
    )
    totals = d.agg(
        F.sum("sz").alias("full_postings"),
        F.sum(F.expr("sz - (7 * sz + 9) DIV 10 + 1")).alias("prefix_postings"),
    ).first()
    assert totals.prefix_postings < totals.full_postings * 0.5, totals


def test_id_assign_data_never_moves_to_single_partition(spark, specs):
    """id_assign_contiguous exists to avoid the ROW_NUMBER()-over-
    everything single-reducer sort: the ONLY SinglePartition exchange in
    its plan is the per-partition-counts prefix sum (<= |partitions|
    rows); the data itself moves through the sampled range partitioner
    and pid-hash window exchanges only."""
    p = plan_of(q(specs, spark, "id_assign_contiguous"))
    single = [ln for ln in p.splitlines() if "SinglePartition" in ln]
    assert len(single) <= 1, p
    hash_ex = [ln for ln in p.splitlines() if "Arguments: hashpartitioning" in ln]
    assert hash_ex and all("pid" in ln for ln in hash_ex), p


def test_bucketed_join_has_no_join_key_exchange(spark, specs):
    """sink_bucketed_join_colocated's whole point: both sides written
    bucketBy(8, key) so the SortMergeJoin consumes the bucket layout
    directly — the ONLY hash exchange in the plan is the downstream
    groupBy on c_mktsegment, never o_custkey/c_custkey."""
    p = plan_of(q(specs, spark, "sink_bucketed_join_colocated"))
    assert "SortMergeJoin" in p, p
    assert p.count("Bucketed: true") == 2, p
    hash_ex = [ln for ln in p.splitlines() if "Arguments: hashpartitioning" in ln]
    assert all("custkey" not in ln for ln in hash_ex), hash_ex


def test_pit_feature_matrix_is_one_window_family_not_three_joins(spark, specs):
    """features_pit_order_counts' claim: all three trailing horizons come
    from ONE user-keyed cumulative window over the merged stream — the
    plan must contain no broadcast-nested-loop/cartesian (the range-join
    shapes it replaces) and only user_id-keyed or tiny-side exchanges."""
    p = plan_of(q(specs, spark, "features_pit_order_counts"))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoop" not in p, p
    assert "Window" in p, p


def test_rolling_active_users_is_explode_not_range_join(spark, specs):
    """events_active_users_rolling must fan out map-side (Generate/explode
    of the bounded day sequence), never a cartesian or nested-loop range
    join against the day calendar."""
    p = plan_of(q(specs, spark, "events_active_users_rolling"))
    assert "Generate explode" in p or "Generate" in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoop" not in p, p


def test_peak_concurrency_aggregates_before_running_sum(spark, specs):
    """agg_peak_concurrency's sweep: deltas are hash-aggregated per day
    (partial_sum visible) BEFORE the single ordered window, and no join
    of intervals against days exists anywhere."""
    p = plan_of(q(specs, spark, "agg_peak_concurrency"))
    assert "Join" not in p, p
    assert "partial_sum" in p or "HashAggregate" in p, p


def test_containment_dedup_is_cartesian_free(spark, specs):
    p = plan_of(q(specs, spark, "near_dedup_containment")).lower()
    assert "cartesianproduct" not in p, p
    assert "broadcastnestedloop" not in p, p


def test_q6_scan_aggregate_pushes_all_predicates(spark, specs):
    """TPC-H Q6 is THE pushdown probe: the ship-year band must reach the
    parquet reader as PushedFilters; a post-scan-only Filter means the
    100 TB plan reads every row group."""
    p = plan_of(q(specs, spark, "agg_revenue_forecast_band"))
    assert "PushedFilters: [" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), pushed
    assert p.count("HashAggregate") >= 2, p


def test_q2_partsupp_dim_join_broadcasts(spark, specs):
    """Q2's region-filtered supplier dim must broadcast into the derived-
    partsupp agg; a SortMergeJoin there shuffles the whole pre-agg."""
    p = plan_of(q(specs, spark, "join_min_cost_supplier"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q3_topk_takes_ordered_after_agg(spark, specs):
    p = plan_of(q(specs, spark, "agg_shipping_priority_topk"))
    assert "TakeOrderedAndProject" in p


def test_q16_not_in_plans_null_aware_anti(spark, specs):
    """The complaint-supplier NOT IN must plan as a broadcast anti join
    (null-aware or plain after the non-null key rewrite), never a
    cartesian fallback."""
    p = plan_of(q(specs, spark, "agg_supplier_variety_count"))
    assert "CartesianProduct" not in p
    assert "LeftAnti" in p or "left_anti" in p.lower(), p


def test_hard_negatives_bounded_tier_has_no_shuffle_join(spark, specs):
    """mine_hard_negatives under the index bound: one broadcast + one
    mapInPandas — any join/exchange beyond the scan means the label
    constraint leaked out of the kernel into a pairwise join."""
    p = plan_of(q(specs, spark, "mine_hard_negatives"))
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "MapInPandas" in p


def test_recursive_cte_plans_union_loop(spark, specs):
    """Spark 4's WITH RECURSIVE must plan the native UnionLoop operator
    (engine-level fixpoint iteration), not fall back to a static union —
    the feature recursive_cte_hierarchy exists to exercise."""
    p = plan_of(q(specs, spark, "recursive_cte_hierarchy"))
    assert "UnionLoop" in p


def test_obt_denormalize_broadcasts_all_dims(spark, specs):
    """The one-big-table flatten must assemble map-side: >= 6 broadcast
    joins (customer, both nation roles, region, supplier, part) and no
    cartesian fallback — a SortMergeJoin on any dimension means a
    corpus-sized shuffle crept into the serving-table build."""
    p = plan_of(q(specs, spark, "join_obt_denormalize"))
    assert p.count("BroadcastHashJoin") >= 6, p.count("BroadcastHashJoin")
    assert "CartesianProduct" not in p


def test_ivfpq_global_rerank_pool_below_exact_join(spark, specs):
    """The r13 global per-query rerank pool (VERDICT r12 item 1): the
    ADC pool's WindowGroupLimit must sit BELOW the exact-vector joins,
    so the join input is n_q * rerank * k rows — not the per-cell
    n_q * n_probe * rerank * k union that failed the 64x rig at
    rerank=64 (410M rows). Two row_number windows ship (pool + final
    top-k), each rewritten by InferWindowGroupLimit to Partial + Final
    limits; the POOL pair must print below the deepest join in the
    physical tree (nested inside the join's stream child). A regression
    here (pool hoisted above the join, or the filter shape falling out
    of the rewrite) silently reverts the exact-rerank stage to joining
    every per-cell candidate."""
    p = plan_of(q(specs, spark, "ann_ivfpq_topk"), mode="extended")
    phys = p.split("== Physical Plan ==")[-1]
    # pool (Partial+Final) + final top-k (Partial+Final)
    assert phys.count("WindowGroupLimit") >= 4, phys
    last_join = max(phys.rfind("HashJoin"), phys.rfind("SortMergeJoin"))
    assert last_join != -1, phys
    # tree prints depth-last: the pool's WindowGroupLimit lines must
    # appear after (i.e. below) the deepest exact-rerank join
    assert phys.rfind("WindowGroupLimit") > last_join, phys


def test_top_k_per_group_partial_window_group_limit(spark, specs):
    """SURVEY §4's optional stretch rule — push top-k-per-group into a
    partial per-partition limit before the shuffle — is BUILT IN to
    Spark 4 (InferWindowGroupLimit). Pin it: the top_k_per_group plan
    must run WindowGroupLimit in Partial mode BELOW the group-key
    Exchange (map-side: each partition forwards at most k rows per
    group) and Final mode above it. A regression here (e.g. a filter
    shape the rule stops matching) silently reverts the operator to
    shuffling every row."""
    p = plan_of(q(specs, spark, "top_k_per_group"), mode="extended")
    phys = p.split("== Physical Plan ==")[-1]
    assert "WindowGroupLimit" in phys, phys
    partial = phys.index(", Partial")
    final = phys.index(", Final")
    exchange = phys.index("Exchange hashpartitioning")
    # explain prints top-down: Final above the Exchange above Partial
    assert final < exchange < partial, phys


def test_chunked_running_sum_plan_shape(spark, specs):
    """The chunk-prefix rewrite's scale claims, pinned in the plan of
    every shape built on the shared stitch (running sum, sessionize,
    SCD2): (1) the per-key offsets — for sessionize and SCD2 also the
    first-row corrections — reach the data through a broadcast left
    join with the O(#partitions) table on the build side; if it ever
    degrades to a shuffle join, or the planner broadcasts the DATA side
    instead, the O(#partitions) broadcast claim is gone; (2) every
    DATA-sized exchange clusters on (__cw_pid, key), never the bare key
    — a bare-key hashpartitioning of the main input would resurrect
    exactly the one-reducer-per-key skew the operator exists to remove
    (the bare-key exchange that IS present belongs to the O(#chunks)
    totals/offsets side)."""
    plans = {
        name: plan_of(q(specs, spark, name))
        for name in (
            "win_running_sum_chunked",
            "win_sessionize_events_chunked",
            "scd2_dimension_build_chunked",
        )
    }
    for name, p in plans.items():
        assert "BroadcastHashJoin LeftOuter BuildRight" in p, (name, p)
        # the window sort requirement rides (pid, key) clustering
        assert "hashpartitioning(__cw_pid" in p, (name, p)
        # SCD2's pass 2 is a (key, version + 1) self-join by design —
        # a composite key that subdivides hot keys; the offsets never
        # arrive by shuffle join
        if name != "scd2_dimension_build_chunked":
            assert "SortMergeJoin LeftOuter" not in p, (name, p)


def test_rank_maxsim_broadcasts_query_side_and_limits_topk(spark, specs):
    """rank_maxsim_topk's scale contract (r16 shape): the QUERY side
    (16 docs x <= 8 tokens of hash-derived vectors) rides a
    Python-side broadcast into ONE Arrow matmul kernel over the corpus
    token stream — so the scoring plan must contain MapInPandas and NO
    join operator at all (the r14 BroadcastNestedLoopJoin evaluated
    its slot dots outside effective codegen: measured ~26 s vs ~4 s at
    the sf0.1 bench shape for bit-identical output). The partial
    per-doc slot maxes merge through the Partial+Final HashAggregate
    pair whose exchange is DOC-count-sized (never token-sized), and
    the per-query top-5 still ships as the Partial+Final
    WindowGroupLimit pair."""
    p = plan_of(q(specs, spark, "rank_maxsim_topk"), mode="extended")
    phys = p.split("== Physical Plan ==")[-1]
    assert "MapInPandas" in phys, phys
    assert "Join" not in phys, phys
    assert ", Partial" in phys and ", Final" in phys, phys
    assert "WindowGroupLimit" in phys, phys


def test_ann_search_bounded_tier_is_shuffle_free(spark, specs):
    """ann_search's bounded-index tier (the gate-scale route): the index
    rides a Python-side broadcast into one Arrow kernel over the query
    stream — the physical plan must be a single pipeline with NO hash
    exchange and NO join operator. Any Exchange hashpartitioning here
    means the exact lookup silently grew a shuffle."""
    p = plan_of(q(specs, spark, "ann_search_topk"))
    assert "MapInPandas" in p, p
    assert "hashpartitioning" not in p, p
    assert "Join" not in p, p


def test_ann_search_scan_never_reshuffles_the_index(spark, specs):
    """The broadcast-query scan tier's 100 TB contract (VERDICT r14
    item 1 plan pin): the index's VECTORS stream through the kernel in
    place — the only hash exchange in the plan is the skinny
    (query_id, neighbor_id, cosine) candidate merge, partitioned on
    query_id, feeding a WindowGroupLimit top-k. An index-side
    re-shuffle (hashpartitioning on anything else) would move the
    whole index's vectors per query batch."""
    import re

    p = plan_of(q(specs, spark, "ann_search_scan"))
    keys = re.findall(r"hashpartitioning\((\w+)", p)
    assert keys and all(k2 == "query_id" for k2 in keys), (keys, p)
    assert "WindowGroupLimit" in p, p
    assert "Join" not in p, p
