"""Scale-property regression tests: the plan must stay the plan we want.

Each assertion encodes a 100 TB survival property from SURVEY.md §4.2 —
pushdown, pruning, broadcast choice, partial aggregation — so that a
change that silently degrades the physical plan fails here, not on a
cluster.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_spark import queries as q
from etl_weather_spark.plans.explain import (
    count_occurrences,
    formatted_plan,
    has_partial_aggregation,
    has_pushed_filter,
    read_schema_columns,
    shuffle_count,
    uses_broadcast_join,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = q.pricing_summary(spark, sf_dir)
    assert has_pushed_filter(df, "l_shipdate"), formatted_plan(df)


def test_column_pruning(spark, sf_dir):
    # daily agg needs only (ts, value) from a 6-column table
    df = q.daily_agg(spark, sf_dir)
    scans = read_schema_columns(df)
    assert scans and all(set(cols) <= {"ts", "value"} for cols in scans), scans


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = q.revenue_by_nation(spark, sf_dir)
    assert uses_broadcast_join(df), formatted_plan(df)
    # the only shuffle join is the fact-fact orders<->lineitem join
    assert count_occurrences(df, "SortMergeJoin") <= 1, formatted_plan(df)


def test_aggregation_is_partial(spark, sf_dir):
    df = q.daily_agg(spark, sf_dir)
    assert has_partial_aggregation(df), formatted_plan(df)


def test_topk_plans_take_ordered(spark, sf_dir):
    df = q.top5_days(spark, sf_dir)
    assert count_occurrences(df, "TakeOrderedAndProject") >= 1, formatted_plan(df)


def test_asof_join_single_shuffle(spark, sf_dir):
    # union+window as-of: one shuffle on the entity key, no pairwise join
    df = q.asof_join(spark, sf_dir)
    assert shuffle_count(df) <= 2, formatted_plan(df)
    assert count_occurrences(df, "SortMergeJoin") == 0
    assert count_occurrences(df, "CartesianProduct") == 0


def test_doc_stats_stays_codegen(spark, sf_dir):
    # pure expression pipeline: no Python eval, no exchange at all
    df = q.doc_stats(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffle_count(df) == 0, plan


def test_bruteforce_ann_pins_queries_no_join(spark, sf_dir):
    # round 10: the bounded query set is pinned driver-side and scored
    # in the exact-fold Arrow kernel — the corpus side is scanned once
    # with NO join at all (previously a broadcast join of the queries);
    # the per-query global top-k stays the salted two-level window
    df = q.ann_cosine_topk(spark, sf_dir)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" in plan, plan
    for node in ("Join", "CartesianProduct", "BatchEvalPython"):
        assert node not in plan, plan


def test_slugify_ascii_no_python(spark, sf_dir):
    df = q.slugify_parts(spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    # bucketed band join must plan as a hash/sort-merge equi join —
    # a nested-loop over events×events would be quadratic at scale
    df = q.error_after_click(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gap_fill_spine_broadcasts(spark, sf_dir):
    # the 720-row hour spine broadcasts; events are pre-aggregated
    # before the join (join input rows = hours, not events)
    df = q.hourly_gap_fill(spark, sf_dir)
    assert uses_broadcast_join(df), formatted_plan(df)
    assert has_partial_aggregation(df), formatted_plan(df)


def test_semi_join_stays_semi(spark, sf_dir):
    # EXISTS must not expand: the plan keeps a LeftSemi join type
    df = q.priority_order_counts(spark, sf_dir)
    assert "LeftSemi" in formatted_plan(df), formatted_plan(df)


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    # gold tables partition by date (SURVEY §7.0); a date filter must
    # become a PartitionFilter (directory pruning), not a row filter
    from etl_weather_spark.plans.explain import partition_filters

    ev = q.load(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_date")
    (
        ev.withColumn("date", F.to_date("ts"))
        .write.partitionBy("date")
        .mode("overwrite")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("date") == "2024-01-15")
    pf = partition_filters(df)
    assert pf and any("date" in line for line in pf), pf
    # pruned read touches exactly one of ~30 date partitions
    assert df.rdd.getNumPartitions() <= 2
    assert df.count() > 0


def test_cheapest_supplier_broadcasts_all_dims(spark, sf_dir):
    # Q2-shape: part/supplier/nation all broadcast; the only shuffle is
    # the window's hash-partition by p_partkey (no SortMergeJoin at all)
    df = q.cheapest_supplier(spark, sf_dir)
    assert uses_broadcast_join(df), formatted_plan(df)
    assert count_occurrences(df, "SortMergeJoin") == 0, formatted_plan(df)


def test_nation_profit_single_fact_shuffle(spark, sf_dir):
    # Q9-shape: dims broadcast; orders<->lineitem is the only shuffle join
    df = q.nation_profit(spark, sf_dir)
    assert uses_broadcast_join(df), formatted_plan(df)
    assert count_occurrences(df, "SortMergeJoin") <= 1, formatted_plan(df)
    # the part name filter must reach the part scan
    assert has_pushed_filter(df, "p_name"), formatted_plan(df)


def test_important_parts_no_second_big_scan_shuffle(spark, sf_dir):
    # Q11-shape: the 1-row threshold joins via broadcast nested loop,
    # never a cartesian product of the big side
    df = q.important_parts(spark, sf_dir)
    assert count_occurrences(df, "CartesianProduct") == 0, formatted_plan(df)
    assert has_partial_aggregation(df), formatted_plan(df)


def test_train_test_split_is_map_side(spark, sf_dir):
    # the split assignment itself is a pure projection: only the agg
    # shuffle + presentation sort (shuffle_count sees 2 lines per
    # exchange), no Python UDF anywhere (md5/substring are codegen'd)
    df = q.train_test_split(spark, sf_dir)
    assert shuffle_count(df) <= 4, formatted_plan(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_grouping_sets_single_pass(spark, sf_dir):
    # GROUPING SETS must expand-then-agg in ONE scan of lineitem
    df = q.pricing_grouping_sets(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_occurrences(df, "Expand") >= 1, plan
    assert len(read_schema_columns(df)) == 1, plan


def test_event_transitions_partitions_by_user(spark, sf_dir):
    # lead window partitioned by user_id: no global sort of raw events
    df = q.event_transitions(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_occurrences(df, "CartesianProduct") == 0, plan
    # window (user_id) + pair agg + presentation sort = 3 real
    # exchanges (shuffle_count sees 2 lines per exchange)
    assert shuffle_count(df) <= 6, plan


def test_monthly_deviation_broadcasts_dims_single_fact_shuffle(spark, sf_dir):
    df = q.monthly_deviation(spark, sf_dir)
    assert uses_broadcast_join(df), formatted_plan(df)
    # orders is the only shuffled relation: once for the monthly agg,
    # once for the nation-partitioned window — no SMJ anywhere
    assert count_occurrences(df, "SortMergeJoin") == 0, formatted_plan(df)


def test_hourly_band_counts_is_single_scan(spark, sf_dir):
    df = q.hourly_band_counts(spark, sf_dir)
    # one parquet scan feeds all 8 band counts (q88 runs 8 scans)
    assert len(read_schema_columns(df)) == 1, formatted_plan(df)
    assert has_partial_aggregation(df), formatted_plan(df)


def test_doc_chunks_is_shuffle_free(spark, sf_dir):
    df = q.doc_chunks(spark, sf_dir)
    # orderBy adds a range exchange at the edge; nothing upstream
    # shuffles (shuffle_count sees 2 lines per exchange)
    assert shuffle_count(df) <= 2, formatted_plan(df)
    # tokenization must sit below the Generate, not inside per-chunk
    # expressions (the CollapseProject lambda-inlining trap)
    plan = formatted_plan(df)
    assert plan.count("regexp_replace") <= 1, plan


def test_funnel_reuses_user_partitioning(spark, sf_dir):
    df = q.funnel_conversion(spark, sf_dir)
    plan = formatted_plan(df)
    # stage joins happen on user_id-partitioned aggs; the final 1-row
    # cross joins must be broadcasts, never a shuffled cartesian
    assert "CartesianProduct" not in plan, plan


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark shingle set must broadcast — the training side is
    the 100 TB side and may never shuffle for this join."""
    df = q.decontaminate_overlap(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_redact_terms_is_pure_map(spark, sf_dir):
    """Regex scrub = rewrite-in-place pass: no shuffle, no Python eval
    (final orderBy excluded — serving-edge sort, dropped at scale)."""
    docs = q.load(spark, sf_dir, "documents")
    from pyspark.sql import functions as F

    pat = r"\b(customer|supplier)\b"
    df = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias("n_hits"),
        F.regexp_replace("text", pat, "[TERM]").alias("redacted"),
    )
    plan = formatted_plan(df)
    assert shuffle_count(df) == 0, plan
    assert "EvalPython" not in plan, plan


def test_rollup_rank_windows_post_aggregate(spark, sf_dir):
    """The rank window must consume the tiny Expand+agg output, never
    the fact table: exactly one aggregate pair over orders, and the
    scan reads only the three needed columns."""
    df = q.rollup_rank(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Expand" in plan, plan
    scans = read_schema_columns(df)
    assert scans and all(
        set(cols) <= {"o_orderstatus", "o_orderpriority", "o_totalprice"}
        for cols in scans
    ), scans


def test_dormant_customers_lazy_threshold(spark, sf_dir):
    """The avg-balance cutoff must ride the plan as a broadcast 1-row
    cross join (fully lazy, no driver collect): the threshold appears
    as a join, never a folded literal, and nothing goes cartesian."""
    df = q.dormant_customers(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert count_occurrences(df, "CartesianProduct") == 0, plan
    # LeftAnti for NOT EXISTS survives the rewrite
    assert "LeftAnti" in plan, plan


def test_weekday_yoy_self_join_broadcasts(spark, sf_dir):
    """The year-grain self-join runs over ~years rows — broadcast, not
    a shuffle join."""
    df = q.weekday_yoy(spark, sf_dir)
    assert uses_broadcast_join(df), formatted_plan(df)
    assert "SortMergeJoin" not in formatted_plan(df)


def test_weighted_sample_races_via_take_ordered(spark, sf_dir):
    """The A-ES race must be a partial top-k (TakeOrderedAndProject),
    with the rank window running AFTER the limit — never a global
    single-partition sort of the full corpus."""
    df = q.weighted_sample_topk(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_occurrences(df, "TakeOrderedAndProject") >= 1, plan


def test_nearest_hub_broadcasts_cross_join(spark, sf_dir):
    """25 hubs x N customers must be a broadcast nested-loop, not a
    shuffled cartesian product; the argmin window is customer-keyed."""
    df = q.nearest_hub(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert count_occurrences(df, "CartesianProduct") == 0, plan


def test_keyword_search_filters_before_shuffle(spark, sf_dir):
    """The IN-list term filter must run in the explode's map stage so
    only matching postings shuffle, and the tf agg is partial."""
    df = q.keyword_search(spark, sf_dir)
    assert has_partial_aggregation(df), formatted_plan(df)
    scans = read_schema_columns(df)
    assert scans and all(set(cols) <= {"doc_id", "text"} for cols in scans), scans


def test_event_mix_drift_single_scan(spark, sf_dir):
    """Both period counts come from one conditional-agg pass (one scan
    of events, pruned to ts+event_type); the grand total is a window
    over the k-row per-type relation, never a self-join that would
    re-scan the fact table."""
    df = q.event_mix_drift(spark, sf_dir)
    plan = formatted_plan(df)
    scans = read_schema_columns(df)
    assert len(scans) == 1, scans
    assert set(scans[0]) <= {"ts", "event_type"}, scans
    assert has_partial_aggregation(df), plan
    assert "Window" in plan, plan
    assert "Join" not in plan, plan


def test_simhash_portable_is_one_arrow_projection(spark, sf_dir):
    """Round 11: the portable simhash runs in the Arrow votes kernel —
    exactly ONE ArrowEvalPython projection over the Catalyst token
    array (bit-parity with the 64-sum aggregate form pinned in
    test_kernel_parity), no row-at-a-time Python, and no token explode
    (the old form's Generate + doc-keyed vote exchange are gone)."""
    df = q.simhash_sigs(spark, sf_dir)
    plan = formatted_plan(df)
    # count_occurrences counts plan-TEXT hits: one node = 2 (tree line
    # + "(n) Node" detail line)
    assert count_occurrences(df, "ArrowEvalPython") == 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Generate" not in plan, plan  # no explode anywhere
    # the only exchange is widen_narrow_input's input-widening
    # repartition; the old form's doc-keyed 64-vote agg exchange is gone
    assert count_occurrences(df, "Exchange") <= 2, plan


def test_verified_dedup_pipelines_never_cartesian(spark, sf_dir):
    """candidates->verify: every join in both verified pipelines is
    keyed (bucket, id, or shingle) - no cartesian anywhere."""
    for name in ("minhash_lsh_fast", "winnow_candidates"):
        df = q.queries()[name](spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)


def test_recall_gates_join_keyed(spark, sf_dir):
    """ANN recall gates: exact + approx sides join on (query_id, nid) -
    keyed joins only, and the brute-force side broadcasts its queries."""
    df = q.ann_cosine_lsh(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_scd2_collapse_single_shuffle(spark, sf_dir):
    """The whole SCD2 collapse — two window passes + the segment
    group-by — must run on ONE shuffle keyed by user_id: hash
    partitioning on the key satisfies every downstream clustered
    distribution (groupBy(key, version), the valid_to window)."""
    df = q.queries()["scd2_user_tiers"](spark, sf_dir)
    plan = formatted_plan(df)
    # one hash exchange for the key (the final presentation orderBy adds
    # a range exchange); a second hash exchange means a step re-partitioned
    assert plan.count("hashpartitioning") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_scd2_lookup_keyed_join(spark, sf_dir):
    """The as-of lookup joins on user_id with the interval predicate as
    a post-join condition — never a cartesian/BNLJ over history."""
    df = q.queries()["scd2_asof_lookup"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """At cluster scale a selective dim-filtered fact-fact join should
    inject a runtime bloom filter on the probe side (Spark's runtime
    row-level filtering): the big scan drops non-joining rows BEFORE
    the shuffle. The size thresholds that gate it are cluster-tuned
    (creation side <= 10MB, probe scan >= 10GB by default); this test
    lowers the probe threshold to simulate the 100 TB regime on local
    data and asserts the rewrite actually happens — bloom_filter_agg
    on the build side, might_contain on the probe scan."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = formatted_plan(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pair_verify_fenced_from_predicate_pushdown(spark, sf_dir):
    """The jaccard threshold must NOT be pushed below the verify's
    aggregate fence: without it, Catalyst rewrites the predicate into
    the id_b join's residual condition, inlining the full tokenize→
    shingle→intersect chain once per reference (measured 38 copies of
    the token regex in the executed plan and an 8× slowdown — HOF
    lambdas are neither codegen'd nor CSE'd)."""
    df = q.minhash_lsh_fast(spark, sf_dir)
    n_regex = count_occurrences(df, "regexp_replace")
    assert n_regex <= 6, f"verify fence breached: {n_regex} token-regex copies in plan"
    # the threshold survives as a post-aggregation filter, not a join condition
    plan = formatted_plan(df)
    assert "jaccard" in plan


def test_cross_screen_joins_on_band_bucket(spark, sf_dir):
    """Incremental screen stays a bucket equi-join (no nested loop, no
    corpus self-join) and the LSH signature subtree appears once."""
    df = q.incremental_index_dedup(spark, sf_dir)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # one signing pass over the side-tagged union: the shingle explode's
    # Generate shows up exactly once in the candidate subtree
    assert count_occurrences(df, "Generate explode") <= 2, plan


def test_batch_packing_has_no_global_window(spark, sf_dir):
    """The prefix-sum must stay two-level: a global single-reducer
    Window (empty partition spec over the full table) would be the
    100 TB bottleneck. Only the tiny per-bucket-totals window may have
    an empty partition spec."""
    df = q.token_budget_batches(spark, sf_dir)
    plan = formatted_plan(df)
    # exactly two windows: the row-level one PARTITIONED by bucket, and
    # the cumulative-offset one over the per-bucket totals AGGREGATE
    # (so the partition-less sort only ever sees #buckets rows)
    assert plan.count("windowspecdefinition(") == 2, plan
    assert "windowspecdefinition(__bkt#" in plan, plan
    assert has_partial_aggregation(df), plan


def test_heavy_hitters_recount_broadcasts_candidates(spark, sf_dir):
    """Pass 2's exact recount must be a broadcast semi-join of the tiny
    candidate set against the items — a shuffle join here would move
    the full item distribution, exactly what the sketch exists to
    avoid. Pass 1 must be the only Python stage."""
    df = q.heavy_hitter_users(spark, sf_dir)
    plan = formatted_plan(df)
    assert uses_broadcast_join(df), plan
    assert "SortMergeJoin" not in plan, plan
    # one Arrow-batched kernel (the MG summary), nothing row-at-a-time
    assert count_occurrences(df, "ArrowEvalPython") <= 1
    assert "BatchEvalPython" not in plan


def test_pagerank_rounds_are_keyed_joins(spark, sf_dir):
    """Each PageRank round must stay a keyed equi-join + hash agg —
    no cartesian anywhere, and partial aggregation on the contribution
    sums so each round's shuffle carries one row per (dst, mapper)."""
    df = q.doc_pagerank(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert has_partial_aggregation(df), plan


def test_merge_is_single_full_outer_join(spark, sf_dir):
    """MERGE = exactly one full-outer join on the key; the changeset
    aggregation must partial-aggregate before its shuffle."""
    df = q.merge_incremental_custagg(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Join type: FullOuter") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert has_partial_aggregation(df), plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """A date-partitioned fact joined to a selectively-filtered dim must
    plan a runtime dynamicpruning partition filter — at 100 TB this is
    scanning the 3 matching date partitions instead of all of them.
    (Static pushdown can't do it: the surviving dates are only known
    after the dim filter runs.)"""
    from etl_weather_spark import queries as q

    ev = q.load(spark, sf_dir, "events")
    fact_dir = str(tmp_path / "fact_by_date")
    ev.withColumn("d", F.to_date("ts").cast("string")).write.partitionBy(
        "d"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dates = sorted(r["d"] for r in fact.select("d").distinct().collect())
    dim = spark.createDataFrame(
        [(d, "keep" if i < 3 else "drop") for i, d in enumerate(dates)],
        "dd string, tag string",
    )
    joined = fact.join(dim.filter(F.col("tag") == "keep"), fact["d"] == dim["dd"])
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    # and the pruning is real: only the 3 kept dates' rows come back
    assert {r["d"] for r in joined.select("d").distinct().collect()} == set(dates[:3])


def test_semantic_dedup_no_cartesian_and_blocked_pairs(spark, sf_dir):
    # pair generation must stay blocked (equi-join on label), the
    # decision join narrow — never an all-pairs product
    df = q.semantic_dedup(spark, sf_dir)
    assert count_occurrences(df, "CartesianProduct") == 0, formatted_plan(df)
    assert count_occurrences(df, "BroadcastNestedLoopJoin") == 0, formatted_plan(df)


def test_bloom_screen_probe_is_arrow_not_row_python(spark, sf_dir):
    # the might-contain probe must be an Arrow-batched kernel; the only
    # joins are the maybe-side confirm (definite-new rows join nothing)
    df = q.bloom_screen_new_docs(spark, sf_dir)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert count_occurrences(df, "CartesianProduct") == 0, plan


def test_pq_full_vectors_only_in_rerank(spark, sf_dir):
    # the ADC scan is a projection over codes (no join); full vectors
    # enter exactly via the shortlist re-rank joins — never all-pairs
    df = q.ann_cosine_pq(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert count_occurrences(df, "CartesianProduct") == 0, plan


def test_per_query_topk_is_two_level(spark, sf_dir):
    # VERDICT r2 #4: a single Window.partitionBy(query) over the
    # corpus x queries scored relation plans one reducer per query,
    # each sorting |corpus| rows. The salted pre-rank must appear: a
    # first Window keyed by (group, __salt) whose k-filter bounds the
    # rows entering the final per-query Window at n_salt*k.
    for fn in (q.ann_cosine_topk, q.ann_cosine_pq, q.hard_negatives):
        plan = formatted_plan(fn(spark, sf_dir))
        assert plan.count("Window") >= 2, (fn.__name__, plan)
        assert "__salt" in plan, (fn.__name__, plan)


def test_hybrid_rrf_keyword_leg_is_two_level(spark, sf_dir):
    # VERDICT r4 #5: the keyword leg is the template users copy for
    # broad-vocabulary retrieval — its top-30 must ride the salted
    # two-level topk_per_group (pre-rank keyed by __salt), never a
    # global single-partition Window.orderBy over all matching docs.
    plan = formatted_plan(q.hybrid_search_rrf(spark, sf_dir))
    # level 1: the tf ranking shuffles on the 32-way salt key with a
    # map-side partial WindowGroupLimit (top-30 per bucket before the
    # exchange), so no reducer ever sorts more than its salt share
    assert "hashpartitioning(__salt" in plan, plan
    assert "windowspecdefinition(__salt" in plan, plan
    assert plan.count("WindowGroupLimit") >= 2, plan
    # level 2: the only remaining global window consumes the bounded
    # (__pr <= 30)-filtered survivors (≤ n_salt × 30 rows), never the
    # full matching-doc set
    assert "__pr" in plan, plan


def test_topk_two_level_equals_single_window(spark, sf_dir):
    # bit-identity of the salted two-level top-k with the naive
    # single-window plan (same total order both levels)
    from pyspark.sql import Window

    from etl_weather_spark.operators.similarity import (
        as_double_array,
        cosine_topk_bruteforce,
        dot,
        norm,
    )
    from etl_weather_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    two = cosine_topk_bruteforce(emb, qs, k=7)

    qd = qs.select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    from etl_weather_spark.functions.rounding import rnd

    sim = rnd(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    scored = (
        c.crossJoin(F.broadcast(qd))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    naive = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 7
    )
    key = ["query_id", "rank", "neighbor_id", "sim"]
    assert sorted(map(tuple, two.select(*key).collect())) == sorted(
        map(tuple, naive.select(*key).collect())
    )


def test_q21_shape_semi_anti_no_subquery_reexecution(spark, sf_dir):
    # correlated EXISTS / NOT EXISTS must plan as ONE pass of hash
    # semi/anti joins over the narrow lineitem projection — never a
    # per-row subquery or cartesian
    df = q.waiting_suppliers_blame(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_occurrences(df, "CartesianProduct") == 0, plan
    assert count_occurrences(df, "BroadcastNestedLoopJoin") == 0, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert count_occurrences(df, "TakeOrderedAndProject") >= 1, plan
