"""Physical-plan contracts for the headline queries — the "would this
survive 100x scale" gate (SURVEY.md §7.5 scale posture)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cses2humio_spark.plans.explain import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_partial_aggregation,
    assert_pruned_schema,
    assert_pushed_filters,
    assert_take_ordered,
)
from cses2humio_spark.queries import QUERIES
from tests.conftest import SF_SMALL


def test_pricing_summary_pushdown_and_partial_agg(spark):
    df = QUERIES["pricing_summary"](spark, SF_SMALL)
    assert_pushed_filters(df, "LessThanOrEqual(l_shipdate")
    assert_partial_aggregation(df)
    # 7 value columns + 2 group keys; scan must not read l_orderkey etc.
    assert_pruned_schema(df, "l_returnflag", 7)


def test_star_join_broadcasts_all_dims(spark):
    df = QUERIES["revenue_by_nation"](spark, SF_SMALL)
    assert_broadcast_join(df, at_least=3)
    assert_no_cartesian(df)


def test_q3_shape(spark):
    df = QUERIES["top_shipping_priority"](spark, SF_SMALL)
    assert_pushed_filters(df, "EqualTo(c_mktsegment,BUILDING)")
    assert_broadcast_join(df, at_least=1)
    assert_take_ordered(df)


def test_global_topk_no_full_sort(spark):
    df = QUERIES["top20_orders_global"](spark, SF_SMALL)
    assert_take_ordered(df)
    assert_pruned_schema(df, "o_totalprice", 3)


def test_free_text_filter_reaches_scan(spark):
    df = QUERIES["free_text_search"](spark, SF_SMALL)
    # contains() pushes as StringContains; rlike stays as a post-scan
    # filter (not pushable) — assert the pushable half reached the scan
    assert_pushed_filters(df, "StringContains(text,spark)")


def test_minhash_join_is_equi_not_cross(spark):
    df = QUERIES["minhash_candidates"](spark, SF_SMALL)
    assert_no_cartesian(df)


def test_minhash_candidates_signs_each_document_once(spark):
    """The bucket-cap stats and both sides of the bucket self-join read
    one signature shuffle, so the executed plan (AQE off: exchange reuse
    is decided statically) holds exactly one signature posexplode."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["minhash_candidates"](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert plan.count("Generate posexplode") == 1, plan


def test_range_join_keeps_equi_anchor(spark):
    df = QUERIES["events_range_self_join"](spark, SF_SMALL)
    assert_no_cartesian(df)


def test_timechart_partial_agg(spark):
    df = QUERIES["timechart_errors"](spark, SF_SMALL)
    assert_partial_aggregation(df)
    assert_pushed_filters(df, "EqualTo(event_type,error)")


def test_brute_force_topk_no_join_mapside_limit(spark):
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["cosine_topk"](spark, SF_SMALL)
    # Arrow path: probes ride in the mapInPandas closure — NO join at
    # all, and the only exchange over data proportional to the corpus is
    # avoided because each batch emits just its local top candidates.
    # The ranking window must apply its group-limit map-side (Partial)
    # before the probe_id exchange.
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]
    assert "WindowGroupLimit" in plan, plan[:1500]
    assert_no_cartesian(df)


def test_dedup_window_partitions_by_key(spark):
    df = QUERIES["dedup_first_event"](spark, SF_SMALL)
    # row_number window must partition (no global sort of the fact table)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan
    assert_no_cartesian(df)


def test_ivf_broadcasts_centroids_and_stays_equi(spark):
    df = QUERIES["ivf_topk"](spark, SF_SMALL)
    # centroid joins broadcast; inverted-list fetch is an equi-join
    assert_broadcast_join(df, at_least=2)
    assert_no_cartesian(df)


def test_embedding_near_dups_is_bucket_equi_join(spark):
    df = QUERIES["embedding_near_dups"](spark, SF_SMALL)
    # candidate generation must be the signature equi-join, never a cross
    # product over the corpus
    assert_no_cartesian(df)


def test_order_timeline_single_window_exchange(spark):
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["order_timeline_analytics"](spark, SF_SMALL)
    plan = formatted_plan(df)
    # all four analytic frames share one partitioning: exactly one
    # hashpartitioning exchange on o_custkey
    import re

    exchanges = re.findall(r"hashpartitioning\(o_custkey", plan)
    assert len(exchanges) == 1, f"expected 1 window exchange, got {len(exchanges)}:\n{plan[:2000]}"


def test_collect_aggs_partial_aggregate(spark):
    df = QUERIES["collect_statuses_per_priority"](spark, SF_SMALL)
    assert_partial_aggregation(df)


#: building these queries runs heavy side effects (a full streaming
#: query, a driver-side iteration loop, a key-discovery collect, a
#: persisted-index build) just to produce the DataFrame — fleet-wide
#: plan-walk lints must skip them (their plans are covered by their own
#: tests). Running them inside a lint ALSO leaves materialized cache
#: entries behind (the persisted shingle table), which changes how later
#: explains print shared subplans — the plan-shape snapshot test clears
#: the cache for the same reason.
SIDE_EFFECTING = {
    "streaming_pipeline_demo",
    "near_dup_cluster_reps",
    "near_dup_cluster_reps_star",  # iterative star contraction runs its
    # per-round convergence actions at plan-construction time
    "fuzzy_dedup_survivor_stats",  # runs the CC loop at construction
    "embedding_dedup_cluster_reps",  # localCheckpoint + CC loop at construction
    "connector_event_map_pivot",
    "rollup_materialized_counts",  # runs a full streaming query to build
    "alert_rules_demo",  # runs a full streaming query to build
    "hql_streaming_timechart_demo",  # runs a full streaming query
    "hql_materialized_search_table",  # runs a full streaming query
    "embedding_pca_explained_variance",  # driver-side eigh to build
    "pq_index_search",  # builds the persisted index (once) to search
    "bm25_index_search",  # builds the persisted inverted text index once
    # (plus a bounded stats/bucket collect) to search
    "phrase_index_search",  # shares the persisted text-index build
    "prefix_index_search",  # shares the persisted text-index build
    "ivfpq_index_search",  # builds the persisted IVF-PQ index once
    "minhash_index_candidates",  # builds the persisted MinHash index once
    "crawl_admission_decisions",  # builds the persisted admission index
    # once AND runs the star-contraction CC loop at construction
    "vector_admission_decisions",  # builds the persisted embedding-LSH
    # index once AND runs the star-contraction CC loop at construction
    "decontaminating_admission_decisions",  # shares the admission index
    # build and runs the CC resolution at construction
    "decontaminating_vector_admission",  # same, vector twin (its eval
    # gate collects the bounded eval suite into a mapInPandas closure)
    "cdc_upsert_latest_state",  # runs a full streaming query to build
    "falcon_feed_http_demo",  # spins a fake HTTP feed + streaming query
    "falcon_feed_pipeline_timechart",  # fake feed + full streaming
    # parse/enrich pipeline into a memory sink
    "rrf_index_hybrid_top10",  # builds BOTH persisted indexes (text +
    # PQ) once; probe fetch + stats collects are bounded
    "hql_indexed_free_text",  # shares the persisted text-index build
    "hql_indexed_phrase",  # shares the persisted text-index build (plus
    # the ws-single doclen aggregate at routing time)
    "hql_indexed_glob",  # shares the persisted text-index build
    "feed_admission_index_pipeline",  # fake feed + full streaming
    # admission -> text-index ingest -> search composition
    "feed_vector_admission_ann_pipeline",  # the vector twin: feed ->
    # LSH admission -> PQ ingest -> ADC search
    "model_quality_filter_vocab",  # bounded vocabulary-fit collect (16
    # rows, model-sized) at construction
}


#: queries where a BroadcastNestedLoopJoin is the DESIGN (tiny probe /
#: centroid / single-row scalar sides, or the explicit cross join) —
#: shared by the fleet-wide cartesian lint and the isolated
#: side-effecting-query lint below.
BNLJ_BY_DESIGN = {
        "cosine_topk",            # tiny probe set broadcast against corpus
        "sq8_cosine_topk",        # tiny probe set broadcast against int8 codes
        "ivf_topk",               # tiny centroid set broadcast
        "semdedup_decisions",     # tiny centroid set broadcast (assignment)
        "semdedup_kmeans_profile",  # same assignment broadcast, trained cells
        "ivfpq_topk",             # tiny centroid set broadcast (IVF-PQ)
        "ivfpq_index_search",     # same probes x centroids broadcast via
        # ivfpq_probe_tables; previously unchecked because SIDE_EFFECTING
        "cross_join_region_priority",  # the cross join op itself
        "vocab_coverage",         # single-row corpus-total scalar broadcast
        "token_budget_selection",  # single-row token-budget scalar broadcast
        "lang_balance_weights",   # single-row totals scalar broadcast
        "funnel_conversion",      # three single-row stage counters combined
        "pmi_cooccurrence_top",   # single-row total-pairs scalar broadcast
        "referential_integrity_gate",  # four single-row gate counters combined
        "chunk_dedup_stats",      # single-row cross-doc-fp counter broadcast
        "benford_first_digit_deviation",  # single-row total scalar broadcast
        "functional_dependency_check",  # three single-row counters combined
        "first_seen_user_type_pairs",  # single-row data-horizon scalar broadcast
        "hql_top_with_percent",  # single-row share-of-total scalar broadcast
        "top_users_with_other_two_level",  # single-row totals x single-row
        # top-slice counters combined into the 'other' rollup row
        "bigram_lm_doc_quality",  # single-row vocabulary-size scalar broadcast
}


def test_no_query_degenerates_to_cartesian(spark):
    """Fleet-wide plan lint: NO registered query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only where a
    broadcast cross join is the design (tiny probe/centroid sides, or the
    explicitly-registered cross join). Catches silent join-condition
    regressions across the whole surface."""
    from cses2humio_spark.plans.explain import formatted_plan

    offenders = []
    for name, fn in QUERIES.items():
        if name in SIDE_EFFECTING:
            continue
        plan = formatted_plan(fn(spark, SF_SMALL))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_BY_DESIGN:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_query_construction_never_touches_rdd(spark, monkeypatch):
    """fan_out (and everything else on the construction path) must not
    build the RDD lineage on the driver — df.rdd per query-construction
    call is O(plan) driver work that compounds at 100 TB plan sizes.
    Patch .rdd to explode, then CONSTRUCT the fan_out-using queries."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    def _boom(self):  # pragma: no cover - triggers only on violation
        raise AssertionError("query construction touched df.rdd")

    monkeypatch.setattr(CDF, "rdd", property(_boom))
    for name in ("jaccard_near_dups", "simhash_near_dups", "cosine_topk",
                 "embedding_near_dups", "exact_dedup_survivors"):
        QUERIES[name](spark, SF_SMALL)  # construction only, no action


def test_shingle_table_persisted_once_for_multi_consumer_pipeline(spark):
    """Composite near-dup pipelines (candidates + Jaccard verify) share
    ONE shingle-set build. With the ``shingle_set_table`` persisted, every
    consumer's plan must read the InMemoryRelation — the collect_set
    aggregate lives only inside the cached plan, never recomputed
    upstream of a consumer."""
    from cses2humio_spark.operators.dedup import (
        jaccard_pairs,
        minhash_candidate_pairs,
        shingle_set_table,
    )
    from cses2humio_spark.sources.catalog import load_table

    # Earlier tests in the shared session persist shingle frames they can
    # never unpersist (lazy-return contract); Spark's CacheManager
    # plan-matches those into THIS test's plan and skews the node counts.
    # Start from a clean cache so the only InMemoryRelation is ours.
    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMALL, "documents")
    sets = shingle_set_table(docs, "doc_id", "text", n=3).persist()
    try:
        # audit the UNCAPPED plan: the capped path's star-collapse shape
        # is pinned by its own tests in test_approx.py
        cands = minhash_candidate_pairs(
            docs, "doc_id", "text", max_bucket_size=None,
            shingle_sets_df=sets,
        )
        verified = jaccard_pairs(cands, sets, "doc_id")
        plan = verified._jdf.queryExecution().optimizedPlan().toString()
        n_cached = plan.count("InMemoryRelation")
        assert n_cached >= 4, "consumers bypass the persisted shingle sets"
        # Each InMemoryRelation prints its CACHED child plan (the
        # collect_set aggregate, partial + final) inline; a consumer
        # recomputing the sets would add a collect_set NOT paired with a
        # cached-plan print.
        cached = sets._jdf.queryExecution().optimizedPlan().toString()
        per_print = cached.count("collect_set") // cached.count(
            "InMemoryRelation"
        )
        assert per_print > 0
        n_agg = plan.count("collect_set")
        assert n_agg == n_cached * per_print, (
            f"{n_agg} collect_set prints vs {n_cached} cached-plan prints "
            f"x {per_print} — a consumer recomputes the shingle sets "
            "instead of reading the persisted table"
        )
    finally:
        sets.unpersist()


def test_auto_band_params_tracks_corpus_size():
    """docs/SCALING.md finding 2: fixed (w, b) is the scaling bug. The
    helper must reproduce the recall-pinned small-corpus config and widen
    bands as the corpus grows (bucket occupancy is the quadratic lever)."""
    from cses2humio_spark.operators.similarity import auto_band_params

    assert auto_band_params(2_000) == (4, 15)
    assert auto_band_params(20_000) == (8, 7)
    w1, _ = auto_band_params(1_000_000)
    w2, _ = auto_band_params(100_000_000)
    assert w2 > w1, "band width must grow with corpus size"
    for n in (1, 100, 10**9):
        w, b = auto_band_params(n)
        assert 4 <= w <= 60 and b >= 1 and w * b <= 60


def test_banded_range_join_is_equi_on_band(spark):
    """The banded range join must plan as a hash/sort-merge join keyed on
    (user_id, band) — never a BroadcastNestedLoop — and lose no matches
    vs the plain equi-anchor formulation."""
    from cses2humio_spark.operators.joins import banded_range_join, range_join
    from cses2humio_spark.sources.catalog import load_table

    ev = load_table(spark, SF_SMALL, "events")
    a = ev.select("user_id", F.col("ts").alias("ts_a"))
    b = ev.select("user_id", F.col("ts").alias("ts_b"))
    cond = (F.col("ts_b") > F.col("ts_a")) & (
        F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")
    )
    banded = banded_range_join(
        a, b, on=["user_id"], left_ts="ts_a", right_ts="ts_b",
        span_seconds=300, condition=cond,
    )
    assert_no_cartesian(banded)
    plain = range_join(a, b, on=["user_id"], condition=cond)
    assert banded.count() == plain.count()


def test_banded_range_join_guards(spark):
    """Outer joins would duplicate band-exploded left rows — refuse them —
    and a caller-owned band column must not be silently clobbered."""
    import pytest

    from cses2humio_spark.operators.joins import banded_range_join
    from cses2humio_spark.sources.catalog import load_table

    ev = load_table(spark, SF_SMALL, "events")
    a = ev.select("user_id", F.col("ts").alias("ts_a"))
    b = ev.select("user_id", F.col("ts").alias("ts_b"))
    cond = F.col("ts_b") > F.col("ts_a")
    with pytest.raises(ValueError, match="inner"):
        banded_range_join(
            a, b, on=["user_id"], left_ts="ts_a", right_ts="ts_b",
            span_seconds=300, condition=cond, how="left",
        )
    with pytest.raises(ValueError, match="__brj_band"):
        banded_range_join(
            a.withColumn("__brj_band", F.lit(1)), b, on=["user_id"],
            left_ts="ts_a", right_ts="ts_b", span_seconds=300, condition=cond,
        )


def test_sessionize_bucketed_query_has_no_exchange(spark):
    """The REGISTERED bucketed sessionization must plan with zero Exchange:
    the bucketed scan satisfies both the Window's ClusteredDistribution on
    user_id and the (user_id, session_id) group-by."""
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["sessionize_users_bucketed"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Window" in plan, plan[:1500]
    assert "Exchange" not in plan, (
        f"bucketed sessionize still shuffles:\n{plan[:2000]}"
    )
    # value parity with the plain-table registered twin
    plain = QUERIES["sessionize_users"](spark, SF_SMALL)
    assert df.exceptAll(plain).count() == 0
    assert plain.exceptAll(df).count() == 0


def test_hot_user_salted_query_spreads_hot_key(spark):
    """The REGISTERED salted join must replicate the dim side (Generate/
    explode in plan) and join on (user_id, __salt) — no cartesian."""
    import re

    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["hot_user_events_salted"](spark, SF_SMALL)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert re.search(r"Generate|explode", plan), plan[:1500]
    assert "__salt" in plan, plan[:1500]


def test_vocab_apply_broadcasts_and_no_cartesian(spark):
    """The top-50 vocab must BROADCAST to the exploded token stream —
    a shuffled join on tok would re-shuffle every token at 100 TB."""
    df = QUERIES["vocab_apply_oov_rate"](spark, SF_SMALL)
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)
    assert_partial_aggregation(df)


def test_token_budget_two_phase_never_globally_sorts_documents(spark):
    """The banded rewrite's whole point: the global (single-partition)
    window runs over DISTINCT quality values, and the per-document window
    partitions by quality. A plan that sorts all documents into one
    partition would carry 'Window' directly over the unaggregated scan
    with an Exchange SinglePartition of document rows."""
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["token_budget_selection"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("Exchange SinglePartition") <= 2  # band rows + budget scalar
    # the per-document window is hash-partitioned by quality value
    assert "hashpartitioning(q" in plan


def test_stratified_sample_window_partitions_by_strata(spark):
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["stratified_eval_sample"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "hashpartitioning(lang" in plan
    assert "Exchange SinglePartition" not in plan


def test_chunking_plan_is_narrow_no_shuffle(spark):
    """chunk_documents is generate+project only — any Exchange means the
    row expansion accidentally shuffles chunk text."""
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["doc_chunk_stats"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_profile_single_scan_expand(spark):
    """The column profiler must read the table ONCE (multi-distinct via
    Expand), not once per column."""
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["profile_documents_columns"](spark, SF_SMALL)
    plan = formatted_plan(df)
    # one Location line per physical scan (the node name itself appears
    # twice in formatted output: tree + detail section)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Expand" in plan


def test_fuzzy_match_is_equi_join_on_block_key(spark):
    """The blocked fuzzy match must plan as an equi-join on the blocking
    token (edit distance as residual), never a cartesian/BNLJ."""
    df = QUERIES["fuzzy_name_match_pairs"](spark, SF_SMALL)
    assert_no_cartesian(df)


def test_regression_single_scan_partial_agg(spark):
    """All six sufficient statistics come from ONE scan with map-side
    partial aggregation and a 3-column pruned schema."""
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["price_quantity_regression"](spark, SF_SMALL)
    assert_partial_aggregation(df)
    assert_pruned_schema(df, "l_returnflag", 3)
    plan = formatted_plan(df)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_bitmap_prune_filters_before_join(spark):
    """The bitmap pre-filter must appear as a Filter with codegen bit
    arithmetic on the big side (map-side pruning BEFORE the semi-join
    exchange), and the brand predicate must reach the part scan."""
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["bitmap_pruned_brand_revenue"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "shiftleft" in plan, plan[:2000]
    assert_pushed_filters(df, "EqualTo(p_brand,Brand#7)")
    assert_no_cartesian(df)
    assert_partial_aggregation(df)


def test_pagerank_iterations_are_equi_joins(spark):
    df = QUERIES["event_type_pagerank"](spark, SF_SMALL)
    assert_no_cartesian(df)


def test_scd2_windows_share_one_user_shuffle(spark):
    """Both SCD2 windows sort by the same (user_id, ts, event_id) — the
    plan must contain exactly ONE exchange on user_id."""
    from cses2humio_spark.plans.explain import formatted_plan

    import re

    df = QUERIES["scd2_user_status_history"](spark, SF_SMALL)
    plan = formatted_plan(df)
    # formatted mode lists each node once in the tree and once in the
    # detail section as "(n) Exchange" — count detail entries
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_interpolation_windows_partition_by_series(spark):
    """Interpolation windows must partition by event_type (parallel per
    series), never collapse to a single partition."""
    from cses2humio_spark.plans.explain import formatted_plan

    df = QUERIES["interpolated_hourly_value"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "hashpartitioning(event_type" in plan
    assert "Exchange SinglePartition" not in plan


#: queries ALLOWED to keep an unpartitioned, unbounded-input window —
#: each is the documented definitional form (VERDICT r6 "What's wrong" #2)
#: with a scale twin registered alongside:
#:  - top_users_with_other: post-aggregation (one row per user); the
#:    two-level TakeOrdered twin is `top_users_with_other_two_level`.
#:  - token_budget_selection: window runs over DISTINCT quality values
#:    only (bounded by value cardinality, not row count).
#:  - equi_depth_price_histogram: exact equi-depth ntile is definitionally
#:    a global sort; the mergeable twin is `approx_equi_depth_buckets`.
_UNPARTITIONED_WINDOW_WHITELIST = {
    "top_users_with_other",
    "token_budget_selection",
    "equi_depth_price_histogram",
}


def test_no_new_unpartitioned_unbounded_windows(spark):
    """Lint (VERDICT r6 #5): the rrf_hybrid_top10 defect — a ranking
    window with an EMPTY partition spec over an unbounded relation, which
    moves ALL data to one task — shipped round 6 with a docstring claiming
    the opposite, and the coarse shape snapshot could not tell a bounded
    post-limit window from an unbounded one. This walks the optimized
    logical plan of EVERY registered query and fails on any Window whose
    partition spec is empty AND whose input subtree has no Limit,
    unless the query is whitelisted above as definitional.
    SIDE_EFFECTING queries are skipped: building them runs actions (CC
    convergence loops, streaming queries, index builds) and leaves
    materialized cache entries that corrupt later plan prints — their
    plan hygiene is pinned by their own tests."""
    from cses2humio_spark.plans.explain import unpartitioned_windows

    import __spark_entry__ as entry

    offenders = {}
    for name, fn in entry.queries().items():
        if name in _UNPARTITIONED_WINDOW_WHITELIST or name in SIDE_EFFECTING:
            continue
        df = fn(spark, SF_SMALL)
        bad = [w["node"][:120] for w in unpartitioned_windows(df) if not w["bounded"]]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "unpartitioned window over an unbounded input — single-task global "
        "sort at scale. Use TakeOrdered-then-rank (orderBy().limit(k) then "
        f"the window over the k-row frame) or partition the window: {offenders}"
    )


def test_collapse_cached_repeats_dedupes_persisted_subtrees():
    """Unit pin for the r10 canonicalization (VERDICT r9 #1): the same
    cached plan printed under three consumers — with re-allocated expr
    ids and, on the last Union branch, plain-space indentation instead
    of ':' bars — must count ONCE; a genuinely different cached plan
    must still count."""
    from cses2humio_spark.plans.explain import collapse_cached_repeats

    plan = "\n".join(
        [
            "Union",
            ":- HashAggregate",
            ":  +- InMemoryTableScan",
            ":        +- InMemoryRelation [k#1L], StorageLevel(memory)",
            ":              +- BroadcastHashJoin [k#1L], [k#3L], Inner",
            ":                 +- Range (0, 100)",
            ":- HashAggregate",
            ":  +- InMemoryTableScan",
            ":        +- InMemoryRelation [k#16L], StorageLevel(memory)",
            ":              +- BroadcastHashJoin [k#16L], [k#18L], Inner",
            ":                 +- Range (0, 100)",
            ":- HashAggregate",
            ":  +- InMemoryTableScan",
            ":        +- InMemoryRelation [v#9L], StorageLevel(memory)",
            ":              +- SortMergeJoin [v#9L], [v#11L], Inner",
            ":                 +- Range (0, 7)",
            # same cached plan as the first two, but printed under the
            # LAST Union branch: plain-space indentation, no ':' bars
            "+- HashAggregate",
            "   +- InMemoryTableScan",
            "         +- InMemoryRelation [k#21L], StorageLevel(memory)",
            "               +- BroadcastHashJoin [k#21L], [k#23L], Inner",
            "                  +- Range (0, 100)",
        ]
    )
    out = collapse_cached_repeats(plan)
    assert out.count("BroadcastHashJoin") == 1
    assert out.count("SortMergeJoin") == 1
    assert out.count("InMemoryTableScan") == 4


def test_plan_shapes_match_snapshot(spark):
    """Plan-drift lint (VERDICT r4 #7): the bench gate catches slow; this
    catches ABOUT-to-be-slow-at-scale — a broadcast silently becoming a
    shuffle, a TakeOrdered degrading to a global sort, a new exchange —
    none of which move a sf0.1 wall-clock enough to trip the 2x gate.
    On intended plan changes: rerun `python scripts/dump_plans.py` and
    commit the refreshed tests/plan_shapes.json together with the code,
    naming the plan change in the commit message.

    Snapshot rationale log (why the current shapes look like they do):
    - r8 islands rewrite (`dup_span_coverage_stats`: generate 3 -> 2,
      window +2): covered positions are carried as maximal (lo, hi)
      intervals per doc — the two new narrow windows (lag to mark island
      breaks, running sum to number islands) REPLACE the position
      explode whose output was O(duplicated tokens); a fully-duplicated
      document now costs O(#islands) rows. The extra window pair is the
      cheap side of that trade at every scale.
    - r10 canonicalization (VERDICT r9 #1 + ADVICE r9 #2): plan_shape now
      collapses repeated prints of persisted subtrees (an unmaterialized
      persist prints its full child at EVERY consumer, so one added
      ``persist()`` inflated the r9 admission counts 42 -> 171 and broke
      this test at HEAD), and the two admission queries —
      `crawl_admission_decisions`, `vector_admission_decisions`, whose
      counts remain cache-state dependent even after the collapse
      (unpersisted shared subtrees + mid-build actions) — pin only the
      killer-marker invariants (no cartesian / BNLJ) via snapshot_shape.
      Their wall is gated by the bench; their full-plan hygiene by
      test_side_effecting_queries_pass_lints_in_isolation."""
    import json
    import os

    from cses2humio_spark.plans.explain import snapshot_shape

    # order-independence: a cache entry MATERIALIZED by an earlier test
    # (e.g. a lint that built a side-effecting query) makes explains
    # print the cached child twice and inflates the counted shape
    spark.catalog.clearCache()
    snap_path = os.path.join(os.path.dirname(__file__), "plan_shapes.json")
    with open(snap_path) as f:
        want = json.load(f)
    drift = {}
    for name, expected in want.items():
        got = snapshot_shape(name, QUERIES[name](spark, SF_SMALL))
        if got != expected:
            drift[name] = {"snapshot": expected, "now": got}
    assert not drift, (
        "physical plan shape drifted (see docstring for the refresh "
        f"protocol): {json.dumps(drift, indent=1, sort_keys=True)}"
    )


def test_side_effecting_queries_pass_lints_in_isolation(spark):
    """ADVICE r7 #4: the fleet-wide cartesian and unpartitioned-window
    lints SKIP the SIDE_EFFECTING set (building those queries runs
    actions and leaves cache entries that corrupt later explains), which
    silently exempted their plans from both hygiene checks. This test
    closes the gap: build each side-effecting query ONCE, assert the
    same two predicates on its plan, and clear the cache afterwards so
    no materialized frame leaks into later tests. Runs LAST in this
    module (after the snapshot test) by definition order."""
    from cses2humio_spark.plans.explain import formatted_plan, unpartitioned_windows

    offenders = []
    try:
        for name in sorted(SIDE_EFFECTING):
            fn = QUERIES.get(name)
            if fn is None:  # entries tracked for other registries
                continue
            try:
                df = fn(spark, SF_SMALL)
                plan = formatted_plan(df)
                if "CartesianProduct" in plan:
                    offenders.append((name, "CartesianProduct"))
                if (
                    "BroadcastNestedLoopJoin" in plan
                    and name not in BNLJ_BY_DESIGN
                ):
                    offenders.append((name, "BroadcastNestedLoopJoin"))
                bad = [
                    w["node"][:120]
                    for w in unpartitioned_windows(df)
                    if not w["bounded"]
                ]
                if bad:
                    offenders.append((name, f"unpartitioned window: {bad}"))
            finally:
                # per-query (ADVICE r8 #5): a frame cached by an earlier
                # side-effecting query would print as InMemoryTableScan in
                # a LATER query's plan and could mask Cartesian/BNLJ nodes
                # inside the cached subtree — clear between iterations.
                spark.catalog.clearCache()
    finally:
        spark.catalog.clearCache()
    assert not offenders, offenders
