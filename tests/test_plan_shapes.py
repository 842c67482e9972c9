"""Plan-shape invariants — the performance contract, as assertions.

Every headline query must keep: filters pushed to the parquet scan,
dimension joins broadcast, no nested-loop/cartesian joins, no Python
eval nodes outside the explicit multimodal seam, no single-partition
exchanges in write paths.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandabase_spark import workload
from pandabase_spark.plans import plan_audit
from tests.conftest import SF_DIR


def test_q1_pushdown_and_pruning(spark):
    a = plan_audit(workload.QUERIES["q1_pricing_summary"](spark, SF_DIR))
    assert any("l_shipdate" in f for f in a.pushed_filters)
    # projection pruning: the scan must NOT read the key columns q1
    # never touches
    assert a.read_schemas and "l_partkey" not in a.read_schemas[0]
    assert a.python_free and a.join_safe


def test_q5_all_dims_broadcast(spark):
    a = plan_audit(workload.QUERIES["q5_nation_revenue"](spark, SF_DIR))
    assert a.broadcast_joins == 5
    assert a.sortmerge_joins == 0
    assert a.join_safe


def test_asof_is_join_free(spark):
    a = plan_audit(workload.QUERIES["asof_join_events"](spark, SF_DIR))
    assert a.broadcast_joins + a.sortmerge_joins == 0
    assert a.window_nodes >= 1
    assert a.join_safe


def test_range_join_is_hash_join(spark):
    a = plan_audit(workload.QUERIES["range_join_events"](spark, SF_DIR))
    assert a.join_safe  # no BroadcastNestedLoopJoin / CartesianProduct


def test_text_pipeline_python_free(spark):
    for q in ("doc_profile", "dedup_content_hash", "token_histogram",
              "bpe_apply_fixed"):
        a = plan_audit(workload.QUERIES[q](spark, SF_DIR))
        assert a.python_free, q


def test_multimodal_python_only_at_decode_seam(spark):
    stats = workload.QUERIES["multimodal_payload_stats"](spark, SF_DIR)
    assert plan_audit(stats).python_free
    decode = workload.QUERIES["multimodal_decode_fake"](spark, SF_DIR)
    assert plan_audit(decode).python_eval_nodes >= 1  # the explicit seam


def test_keyed_write_plans_have_no_global_funnel(spark, catalog):
    """Auto-index assignment must not add a single-partition exchange."""
    probe = catalog._assign_auto_index(
        spark.range(10_000).select(F.col("id").alias("x")), base=0
    )
    assert plan_audit(probe).single_partition_exchanges == 0


def test_range_read_pushes_key_bounds(spark, catalog):
    # sf0.001 carries one duplicate even on the 4-column composite key
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").dropDuplicates(
        workload.LI_KEYS
    )
    if not catalog.has_table("pl_li"):
        catalog.to_table(li, "pl_li", keys=workload.LI_KEYS)
    df = catalog.read_table(
        "pl_li", lowest=(100, None, None, None), highest=(2000, None, None, None)
    )
    a = plan_audit(df)
    assert any("l_orderkey" in f for f in a.pushed_filters)


def test_top_words_partial_topk(spark):
    """Top-20 word count must plan as TakeOrderedAndProject (per-
    partition top-k + merge), never a global sort of the word counts."""
    a = plan_audit(workload.QUERIES["top_words"](spark, SF_DIR))
    assert a.take_ordered >= 1
    assert a.python_free and a.join_safe


def test_pivot_single_scan(spark):
    """Pinned pivot values: exactly one scan of orders — letting Spark
    infer values would add a distinct-scan job."""
    a = plan_audit(workload.QUERIES["pivot_orders"](spark, SF_DIR))
    assert a.parquet_scans == 1
    assert a.join_safe


def test_winnow_pairs_filters_stay_cheap(spark):
    """Regression guard for the inferred-generate-filter inlining: no
    Filter node may contain the md5 fingerprint expression or the
    normalization regex (the optimizer once pushed size(fps)>0 below
    the staging projections, going O(len²) per document)."""
    a = plan_audit(workload.QUERIES["winnow_match_pairs"](spark, SF_DIR))
    assert a.filters_free_of("md5")
    assert a.filters_free_of("regexp_replace")


def test_cosine_topk_is_deliberate_broadcast_nl(spark):
    """Brute-force scoring is a broadcast nested-loop join BY DESIGN
    (every query × every corpus row, small side broadcast); assert it
    stays broadcast (never CartesianProduct, which would shuffle)."""
    a = plan_audit(workload.QUERIES["cosine_topk_bruteforce"](spark, SF_DIR))
    assert a.cartesian_products == 0
    assert a.nested_loop_joins >= 1


def test_ann_ivf_probe_join_is_hash(spark):
    """IVF probe join (corpus cell = query probe cell) must be a
    broadcast hash join on the cell key — the sublinear path."""
    a = plan_audit(workload.QUERIES["ann_topk_ivf"](spark, SF_DIR))
    assert a.broadcast_joins >= 1
    assert a.join_safe


def test_session_windows_single_shuffle_agg(spark):
    """Batch sessionization: one aggregate over user_id, no joins."""
    a = plan_audit(workload.QUERIES["session_windows_events"](spark, SF_DIR))
    assert a.join_safe and a.python_free


def test_write_segment_single_shuffle_no_single_partition(spark):
    """The write path must cost exactly ONE shuffle (the bucket
    repartition) and never a single-partition exchange; key clustering
    is a local sortWithinPartitions, not a global orderBy (VERDICT r2
    item 9)."""
    from pandabase_spark.io import PART_DIR, _bucket_expr

    sdf = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    staged = (
        sdf.withColumn(PART_DIR, _bucket_expr(["k"], 32))
        .repartition(PART_DIR)
        .sortWithinPartitions(PART_DIR, "k")
    )
    a = plan_audit(staged)
    assert a.shuffles == 1
    assert a.single_partition_exchanges == 0
    # Sort node prints as `Sort [cols], <global>, 0` — must be local
    plan = staged._jdf.queryExecution().executedPlan().toString()
    sort_lines = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert sort_lines and all("], false," in ln for ln in sort_lines)


def test_auto_index_no_single_partition_exchange(spark, catalog):
    """_assign_auto_index ranks within spark_partition_id — a plain
    Window.orderBy would funnel the batch through one task."""
    sdf = spark.range(0, 5000).select((F.col("id") * 3).alias("v"))
    out = catalog._assign_auto_index(sdf, base=0)
    a = plan_audit(out)
    assert a.single_partition_exchanges == 0
    catalog._release_staged()


def test_q4_semi_join_prunes_and_pushes(spark):
    a = plan_audit(workload.QUERIES["q4_order_priority"](spark, SF_DIR))
    # the date filter reaches the orders scan
    assert any("o_orderdate" in f for f in a.pushed_filters)
    # the lineitem side of the semi join reads only join/residual cols
    assert a.read_schemas and all(
        "l_extendedprice" not in s for s in a.read_schemas
    )
    assert a.join_safe and a.sortmerge_joins == 0


def test_q19_disjunction_pushed_to_scan(spark):
    a = plan_audit(workload.QUERIES["q19_disjunctive_revenue"](spark, SF_DIR))
    # the OR-of-conjunctions single-side implication lands in the
    # lineitem parquet scan (Or(And(GreaterThanOrEqual(l_quantity...)
    assert any("Or(" in f and "l_quantity" in f for f in a.pushed_filters)
    assert a.join_safe and a.broadcast_joins >= 1


def test_q18_aggregates_before_join(spark):
    a = plan_audit(workload.QUERIES["q18_large_volume_orders"](spark, SF_DIR))
    # both enrichment joins broadcast the (tiny) post-HAVING side or
    # dimension; the fact table is aggregated first, never sort-merged
    assert a.sortmerge_joins == 0 and a.join_safe


def test_no_forced_broadcast_of_scaling_dimensions():
    """100 TB guard: a forced ``F.broadcast`` hint overrides AQE's size
    check and OOMs (instead of falling back) once the hinted side
    outgrows executor memory. Customer / supplier / unfiltered part
    SCALE with the data in the TPC-H model, so none of the fact-side
    query shapes may pin them; bounded sides (nation, region, filtered
    aggregates like q18's qty>300 set) may. Source-level audit: the
    physical plans legitimately still show BroadcastHashJoin at test
    scale because AQE picks it from runtime sizes — the hazard is the
    *hint*, which only the source reveals."""
    import inspect
    import re

    scaling_shapes = [
        "q3_top_orders", "q5_nation_revenue", "q10_returned_items",
        "q14_promo_revenue", "q18_large_volume_orders",
        "q19_disjunctive_revenue", "q7_nation_trade_volume",
        "nation_revenue_share", "streaming_static_enrich",
    ]
    # variable names bound to unfiltered scaling-dimension loads in
    # these functions (c=customer, s=supplier, p=part, cust=customer)
    banned = re.compile(r"F\.broadcast\((?:c|s|p|cust|o|li)\)")
    for name in scaling_shapes:
        src = inspect.getsource(workload.QUERIES[name])
        hit = banned.search(src)
        assert hit is None, f"{name} force-broadcasts a scaling dim: {hit.group()}"
    # q18's hint belongs on the bounded post-HAVING aggregate instead
    q18_src = inspect.getsource(workload.QUERIES["q18_large_volume_orders"])
    assert "F.broadcast(big)" in q18_src


def test_colocated_kt_join_has_no_shuffle(spark, tmp_path):
    """Two kt tables registered as co-bucketed catalog tables join on
    their bucket keys with ZERO shuffle exchanges on either side —
    the catalog-recorded hash partitioning replaces both Exchange
    nodes (broadcast disabled to prove it's the bucketing, not a
    small-side broadcast, doing the work)."""
    import re

    from pandabase_spark.io import KeyedCatalog

    cat = KeyedCatalog(spark, str(tmp_path / "wh"))
    cust = workload.load(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    tot = (
        workload.load(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    cat.to_table(cust, "w_colo_a", keys=["c_custkey"])
    cat.to_table(tot, "w_colo_b", keys=["o_custkey"])
    a = cat.register_bucketed("w_colo_a")
    b = cat.register_bucketed("w_colo_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(a).join(
            spark.table(b), F.col("c_custkey") == F.col("o_custkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert not re.search(r"Exchange hashpartitioning", plan), plan
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin" in plan
    assert j.count() > 0


def test_q6_pure_scan_aggregate(spark):
    """Q6 is the IO-speed query: all three predicates reach the
    parquet scan, no joins, no window — one scan + one partial agg."""
    a = plan_audit(workload.QUERIES["q6_forecast_revenue"](spark, SF_DIR))
    assert any("l_shipdate" in f for f in a.pushed_filters)
    assert any("l_discount" in f for f in a.pushed_filters)
    assert any("l_quantity" in f for f in a.pushed_filters)
    assert a.broadcast_joins + a.sortmerge_joins + a.nested_loop_joins == 0
    assert a.python_free


def test_q8_widest_join_tree_stays_safe(spark):
    """Q8 joins two facts and five dims (nation twice): no cartesian/
    nested-loop leak, date + type filters pushed to the scans."""
    a = plan_audit(workload.QUERIES["q8_market_share"](spark, SF_DIR))
    assert a.join_safe
    assert any("o_orderdate" in f for f in a.pushed_filters)
    assert any("p_type" in f for f in a.pushed_filters)


def test_q17_single_lineitem_scan(spark):
    """The decorrelated per-part average is a window over the pruned
    slice, not a second cuts-probe join — lineitem is scanned ONCE
    (plus the tiny part scan), with one window node for the average."""
    a = plan_audit(workload.QUERIES["q17_small_qty_revenue"](spark, SF_DIR))
    li_scans = sum("l_quantity" in s or "l_extendedprice" in s
                   for s in a.read_schemas)
    assert li_scans == 1, f"lineitem scanned {li_scans}x"
    assert a.window_nodes >= 1 and a.join_safe


def test_q22_scalar_subquery_is_single_row_broadcast(spark):
    a = plan_audit(
        workload.QUERIES["q22_dormant_rich_customers"](spark, SF_DIR)
    )
    # exactly ONE nested-loop join: the 1-row scalar aggregate
    # broadcast-cross — anything more means a real cartesian crept in
    assert a.nested_loop_joins == 1 and a.cartesian_products == 0
    assert any("c_acctbal" in f for f in a.pushed_filters)


def test_partitioned_sink_prunes_directories(spark):
    df = workload.QUERIES["partitioned_sink_prune"](spark, SF_DIR)
    a = plan_audit(df)
    # the lang predicate must prune at the DIRECTORY level...
    assert any("lang" in f for f in a.partition_filters)
    # ...and must NOT appear as a parquet row filter; n_chars still does
    assert any("n_chars" in f for f in a.pushed_filters)
    assert not any("lang" in f for f in a.pushed_filters)


def test_skew_report_uses_partial_topk(spark):
    a = plan_audit(workload.QUERIES["key_skew_report"](spark, SF_DIR))
    # per-column heavy hitters via TakeOrdered (distributed partial
    # top-k), not a global sort; the only NLJs are the 1-row stats
    # broadcasts (one per profiled column)
    assert a.take_ordered >= 2
    assert a.cartesian_products == 0


def test_hopping_window_is_expand_not_join(spark):
    a = plan_audit(workload.QUERIES["hopping_window_counts"](spark, SF_DIR))
    # 4-window membership via one Expand node — no self-union of scans,
    # no join
    assert a.parquet_scans == 1
    assert a.broadcast_joins + a.sortmerge_joins + a.nested_loop_joins == 0


def test_left_join_aggregates_before_join(spark):
    a = plan_audit(workload.QUERIES["customer_order_left_join"](spark, SF_DIR))
    assert a.join_safe
    # orders reads only the two columns the aggregate needs
    assert a.read_schemas and any(
        "o_custkey" in s and "o_orderdate" not in s for s in a.read_schemas
    )


def test_fact_fact_join_uses_shuffled_hash(spark):
    df = workload.QUERIES["fact_fact_reconciliation"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    a = plan_audit(df)
    assert "ShuffledHashJoin" in plan
    assert a.sortmerge_joins == 0 and a.join_safe


def test_fuzzy_and_lm_plan_hygiene(spark):
    a = plan_audit(workload.QUERIES["fuzzy_match_pairs"](spark, SF_DIR))
    assert a.join_safe  # blocking equi-joins only, never all-pairs
    # audit the LAZY scoring plan — the checkpointed form the query
    # returns would only show the checkpoint scan, making the
    # python_free assertion vacuous (round-3 advice)
    from pandabase_spark.operators.text_analysis import bigram_lm_score

    docs = workload.load(spark, SF_DIR, "documents")
    b = plan_audit(bigram_lm_score(docs, checkpoint=False))
    assert b.python_free  # model + scoring entirely Catalyst-side
    assert b.join_safe


def test_q21_single_scan_decorrelation(spark):
    """Q21's two correlated subqueries (EXISTS other-supplier, NOT
    EXISTS other-LATE-supplier) are decorrelated into per-order window
    set-sizes, NOT two extra self-joins — lineitem is scanned once,
    the status filter reaches the orders scan, and no cartesian or
    nested-loop join leaks in."""
    a = plan_audit(workload.QUERIES["q21_waiting_suppliers"](spark, SF_DIR))
    li_scans = sum("l_shipdate" in s and "l_suppkey" in s
                   for s in a.read_schemas)
    assert li_scans == 1, f"lineitem scanned {li_scans}x"
    assert a.window_nodes >= 1 and a.join_safe
    assert any("o_orderstatus" in f for f in a.pushed_filters)


def test_colocated_agg_has_no_shuffle(spark, tmp_path):
    """A composite-keyed kt table registered bucketed on its LEADING
    key aggregates by that key with ZERO Exchange nodes — hash
    partitioning on a subset of the grouping keys satisfies the
    clustered distribution, so the rollup is partial→final
    HashAggregate directly over the bucketed scan. Also holds for a
    grouping SUPERSET (l_orderkey + another column)."""
    import re

    from pandabase_spark.io import KeyedCatalog

    cat = KeyedCatalog(spark, str(tmp_path / "wh"))
    # sf0.001 carries one duplicate composite key (absent at >=0.01)
    li = workload.load(spark, SF_DIR, "lineitem").dropDuplicates(
        workload.LI_KEYS
    )
    cat.to_table(li, "w_colo_li_t", keys=workload.LI_KEYS, num_buckets=4)
    t = cat.register_bucketed("w_colo_li_t", bucket_cols=["l_orderkey"])
    agg = (
        spark.table(t)
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Exchange", plan), plan
    sup = (
        spark.table(t)
        .groupBy("l_orderkey", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan2 = sup._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Exchange", plan2), plan2
    assert agg.count() > 0


def test_register_bucketed_rejects_unknown_bucket_col(spark, tmp_path):
    import pytest as _pytest

    from pandabase_spark.io import KeyedCatalog

    cat = KeyedCatalog(spark, str(tmp_path / "wh"))
    cust = workload.load(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cat.to_table(cust, "w_colo_badcol", keys=["c_custkey"])
    with _pytest.raises(NameError):
        cat.register_bucketed("w_colo_badcol", bucket_cols=["nope"])


def test_concurrency_sweep_is_two_phase(spark):
    """The distributed prefix sum keeps the global total order off the
    big side: the only single-partition exchange feeds the per-bucket
    TOTALS window (thousands of rows), while the delta points
    hash-partition by bucket and the offsets come back broadcast."""
    a = plan_audit(
        workload.QUERIES["concurrent_sessions_peak"](spark, SF_DIR)
    )
    assert a.single_partition_exchanges == 1
    assert a.broadcast_joins >= 1
    assert a.join_safe and a.window_nodes >= 2


def test_q2_decorrelation_shares_one_exchange(spark):
    """q2's min-subquery decorrelation: the leading-key repartition
    serves BOTH the composite-key offer aggregate and the per-part
    window — exactly one hash exchange in the whole plan (the EU semi
    and all attribute joins broadcast)."""
    a = plan_audit(workload.QUERIES["q2_min_cost_supplier"](spark, SF_DIR))
    assert a.hash_exchanges == 1
    assert a.window_nodes >= 1
    assert a.join_safe


def test_q20_window_reuses_aggregate_exchange(spark):
    """q20: aggregate + per-part window share the l_partkey exchange;
    the only other hash exchange is the dominant-supplier distinct."""
    a = plan_audit(workload.QUERIES["q20_dominant_suppliers"](spark, SF_DIR))
    assert a.hash_exchanges <= 2
    assert a.join_safe


def test_corpus_manifest_v2_python_free(spark):
    """The full composed assembly pipeline (profile → quality → dedup
    → decontamination → split → pack → manifest) stays entirely
    Catalyst-side, with no cartesian joins."""
    a = plan_audit(
        workload.QUERIES["training_corpus_manifest_v2"](spark, SF_DIR)
    )
    assert a.python_free
    assert a.join_safe


def test_aqe_splits_skewed_join_at_runtime(spark):
    """AQE's runtime skew handling (on by default in our session,
    session.py) splits a hot key's oversized shuffle partition: the
    FINAL adaptive plan marks the join skew=true with an
    AQEShuffleRead doing the split. This is the evidence behind the
    guidance in operators/joins.py: prefer AQE where it applies;
    salted_join is for the plans AQE cannot split (skew under a
    bucketed-write output requirement, stream-stream joins, AQE off)
    where the salt must be explicit in the plan."""
    from pandabase_spark.plans import plan_audit

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 400000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .cast("long")
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        j = left.join(right, on="k")
        rows = j.collect()  # AQE finalizes at runtime
        a = plan_audit(j)
        assert a.aqe_final
        assert a.skew_joins >= 1, "AQE did not mark the join skewed"
        assert a.aqe_shuffle_reads >= 1
        # the split never changes results
        assert len(rows) == 400000
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dml_job_budgets(spark, tmp_path):
    """Noise-immune DML cost contract: each maintenance/DML verb runs
    at most its budgeted number of Spark JOBS (deterministic for a
    fixed code path, unlike shared-host wall time — the r8 bench
    regression relitigations end here). Budgets pin the round-9
    one-pass probe: a point delete is probe + sidecar write + commit,
    not the old probe/count/head/write cascade; a full-key-equality
    predicate additionally pins its bucket arithmetically (the
    range(1) hash job + a 1-bucket probe)."""
    from pandabase_spark.io import KeyedCatalog

    cat = KeyedCatalog(spark, str(tmp_path / "wh"), default_buckets=8)
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    sc = spark.sparkContext

    def jobs_on_fresh_table(name: str, fn) -> int:
        # each verb runs against a freshly-created table: live DVs
        # from a previous verb add broadcast-read jobs to every
        # subsequent scan, which would make budgets order-dependent
        cat.to_table(df, name, keys=["k"])
        group = f"jb-{name}"
        sc.setJobGroup(group, name)
        fn(name)
        sc.setJobGroup(None, None)
        cat.drop_table(name)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # write path (type narrowing rides each write's one batch probe,
    # so append/upsert scan the batch ONCE):
    # create = one cached shuffle + one validation agg + write;
    # append = hoisted probe agg + clash agg + write; upsert =
    # hoisted probe + adaptive merge write (measured 8/8/5)
    sc.setJobGroup("jb-create", "create")
    cat.to_table(df, "jb_w", keys=["k"])
    sc.setJobGroup(None, None)
    n = len(sc.statusTracker().getJobIdsForGroup("jb-create"))
    assert n <= 9, f"create ran {n} jobs (budget 9)"
    sc.setJobGroup("jb-append", "append")
    cat.to_table(
        df.withColumn("k", F.col("k") + 10_000), "jb_w", keys=["k"],
        how="append",
    )
    sc.setJobGroup(None, None)
    n = len(sc.statusTracker().getJobIdsForGroup("jb-append"))
    assert n <= 9, f"append ran {n} jobs (budget 9)"
    sc.setJobGroup("jb-upsert", "upsert")
    cat.to_table(
        df.withColumn("v", F.col("v") + 1.0), "jb_w", keys=["k"],
        how="upsert",
    )
    sc.setJobGroup(None, None)
    n = len(sc.statusTracker().getJobIdsForGroup("jb-upsert"))
    assert n <= 7, f"upsert ran {n} jobs (budget 7)"
    cat.drop_table("jb_w")

    # DV point delete, full-key equality: arithmetic bucket pin
    # (range(1) job) + 1-bucket probe agg + sidecar write = 3, +1 slack
    n = jobs_on_fresh_table(
        "jb_dp", lambda t: cat.delete_rows(t, "k = 42"))
    assert n <= 4, f"point delete ran {n} jobs (budget 4)"
    # DV point update: probe + checkpoint + sidecar + new-segment
    n = jobs_on_fresh_table("jb_up", lambda t: cat.update_rows(
        t, "k = 43", {"v": "v + 1.0"}))
    assert n <= 8, f"point update ran {n} jobs (budget 8)"
    # rewrite delete (non-key predicate, forced strategy): full probe
    # agg + survivor write (count folded into the probe; no head(1)),
    # each up to 2 jobs under AQE
    n = jobs_on_fresh_table("jb_dr", lambda t: cat.delete_rows(
        t, "v < 100.0", strategy="rewrite"))
    assert n <= 5, f"rewrite delete ran {n} jobs (budget 5)"
    # rewrite update: probe agg + rewrite write
    n = jobs_on_fresh_table("jb_ur", lambda t: cat.update_rows(
        t, "v < 100.0", {"v": "v + 0.5"}, strategy="rewrite"))
    assert n <= 5, f"rewrite update ran {n} jobs (budget 5)"

    # full-clause MERGE (matched update + matched delete + insert):
    # hoisted source probe + merge join write + metrics aggregate
    # (measured 7, +2 AQE slack)
    src = (
        df.where("k < 200")
        .select(
            "k", (F.col("v") + 1.0).alias("v"),
            (F.col("k") % 10 == 0).alias("drop_it"),
        )
        .unionByName(
            df.where("k < 100")
            .select((F.col("k") + 10_000).alias("k"), "v")
            .withColumn("drop_it", F.lit(False))
        )
    )
    n = jobs_on_fresh_table("jb_mc", lambda t: cat.merge_table(
        src, t,
        when_matched_update={"v": "s.v"},
        when_matched_delete="s.drop_it",
        when_not_matched_insert=True,
    ))
    assert n <= 9, f"merge (clauses) ran {n} jobs (budget 9)"
    # MERGE ... NOT MATCHED BY SOURCE DELETE: adds the doomed-bucket
    # probe pass before the pruned rewrite (measured 9, +2 slack)
    src2 = df.where("k < 500").select("k", (F.col("v") + 1.0).alias("v"))
    n = jobs_on_fresh_table("jb_mb", lambda t: cat.merge_table(
        src2, t,
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete="t.k >= 1900",
    ))
    assert n <= 11, f"merge (by source) ran {n} jobs (budget 11)"

    # compact: chosen-segment read+write + commit bookkeeping
    cat.to_table(df, "jb_c", keys=["k"])
    cat.to_table(
        df.withColumn("k", F.col("k") + 10_000), "jb_c", keys=["k"],
        how="append",
    )
    sc.setJobGroup("jb-compact", "compact")
    cat.compact("jb_c")
    sc.setJobGroup(None, None)
    n = len(sc.statusTracker().getJobIdsForGroup("jb-compact"))
    assert n <= 4, f"compact ran {n} jobs (budget 4)"
    cat.drop_table("jb_c")


def test_skipping_write_job_budgets(spark, tmp_path):
    """A table with stats AND bloom columns pays at most ONE skipping
    pass per new segment. A create or append takes the min/max stats,
    the Bloom bitsets and the key ranges from its batch probe and reads
    nothing back; an append of new keys above every stored key also
    runs no clash join. An upsert and a compaction read their segment
    back in one grouped aggregate (2 jobs under AQE). A separate stats
    pass and bloom pass cost each verb 2 jobs more than these budgets.
    Declaring sketch columns too costs nothing more: the KLL/HLL
    sketches ride in the same aggregate, per bucket, so a write whose
    DML shrinks an older segment recomputes nothing either."""
    from pandabase_spark.io import KeyedCatalog

    cat = KeyedCatalog(spark, str(tmp_path / "wh"), default_buckets=8)
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        F.concat(F.lit("p"), F.col("id") % 97).alias("p"),
    )
    sc = spark.sparkContext

    def jobs(name, fn) -> int:
        group = f"sk-{name}"
        sc.setJobGroup(group, name)
        fn()
        sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    budget = {"create": 4, "append": 4, "upsert": 7, "compact": 4}
    for skip in (
        dict(stats_columns=["v"], bloom_columns=["p"]),
        dict(stats_columns=["v"], bloom_columns=["p"], sketch_columns=["v"]),
    ):
        tag = "-".join(skip)
        counts = {
            "create": jobs(f"create-{tag}", lambda: cat.to_table(
                df, "sk_w", keys=["k"], **skip)),
            "append": jobs(f"append-{tag}", lambda: cat.to_table(
                df.withColumn("k", F.col("k") + 10_000), "sk_w",
                keys=["k"], how="append")),
            "upsert": jobs(f"upsert-{tag}", lambda: cat.to_table(
                df.withColumn("v", F.col("v") + 1.0), "sk_w", keys=["k"],
                how="upsert")),
        }
        cat.drop_table("sk_w")
        cat.to_table(df, "sk_c", keys=["k"], **skip)
        cat.to_table(
            df.withColumn("k", F.col("k") + 10_000), "sk_c", keys=["k"],
            how="append",
        )
        counts["compact"] = jobs(
            f"compact-{tag}", lambda: cat.compact("sk_c")
        )
        cat.drop_table("sk_c")
        over = {v: n for v, n in counts.items() if n > budget[v]}
        assert not over, f"{skip}: jobs {counts} over budget {budget}"


def test_every_write_runs_one_batch_probe(spark, tmp_path):
    """Type narrowing rides each keyed write's one batch aggregate,
    whatever the batch carries: a new column, an all-null NullType
    column, a generated column over a value column, or auto-index
    input. So each such write runs no more jobs than the plain Spark
    write of its verb. Auto-index writes may add the jobs of their
    one per-partition count, and an auto-index append those of its
    base-row max too, each measured here on its own. A separate
    narrowing aggregate would cost each shape 2 jobs more."""
    from pandabase_spark.io import AUTO_INDEX_NAME, KeyedCatalog

    cat = KeyedCatalog(spark, str(tmp_path / "wh"), default_buckets=8)
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    batch = df.where(F.col("k") < 3)
    sc = spark.sparkContext

    def jobs(name, fn) -> int:
        group = f"nb-{name}"
        sc.setJobGroup(group, name)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = {
        "create": jobs("create", lambda: cat.to_table(df, "t", keys=["k"])),
        "append": jobs("append", lambda: cat.to_table(
            df.withColumn("k", F.col("k") + 10_000), "t", keys=["k"],
            how="append")),
        "upsert": jobs("upsert", lambda: cat.to_table(
            batch.withColumn("v", F.col("v") + 1.0), "t", keys=["k"],
            how="upsert")),
    }
    count = jobs("count", lambda: cat._assign_auto_index(
        df.drop("k"), base=0))
    cat._release_staged()
    cat.to_table(df.drop("k"), "a", auto_index=True)
    top = jobs("max", lambda: cat._read_raw("a").agg(
        F.max(AUTO_INDEX_NAME)).collect())
    shapes = {
        "upsert_new_column": ("upsert", 0, lambda: cat.to_table(
            batch.withColumn("flag", F.col("k") % 2), "t", keys=["k"],
            how="upsert", add_new_columns=True)),
        "upsert_nulltype": ("upsert", 0, lambda: cat.to_table(
            batch.withColumn("v", F.lit(None)), "t", keys=["k"],
            how="upsert")),
        "create_generated": ("create", 0, lambda: cat.to_table(
            df, "g", keys=["k"], generated={"w": "v + 1"})),
        "auto_index_create": ("create", count, lambda: cat.to_table(
            df.drop("k"), "a2", auto_index=True)),
        "auto_index_append": ("append", count + top, lambda: cat.to_table(
            df.drop("k"), "a", auto_index=True, how="append")),
    }
    over = {}
    for name, (verb, extra, fn) in shapes.items():
        n = jobs(name, fn)
        if n > plain[verb] + extra:
            over[name] = (n, plain[verb] + extra)
    assert not over, f"(jobs, allowed) {over}; plain writes {plain}"


def test_new_key_append_runs_no_clash_job(spark, tmp_path, monkeypatch):
    """An append's clash check reads only the leaves whose first-key
    range overlaps the batch's range in the same bucket. An append of
    keys above every stored key reads none and runs no Spark job of
    its own (the jobs of the segment write are counted apart); an
    append whose range overlaps runs the join and still refuses an
    existing key; a leaf without a recorded range is always read. A
    read bounded on the first key prunes leaves by the same ranges."""
    from pandabase_spark.io import SKIP_FILE, IntegrityError, KeyedCatalog

    cat = KeyedCatalog(spark, str(tmp_path / "wh"), default_buckets=8)
    sc = spark.sparkContext

    def rows(lo, hi, step=1):
        return spark.range(lo, hi, step).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )

    real_append, real_write = cat._append, cat._write_segment

    def append(*args, **kwargs):
        sc.setJobGroup("clash", "clash")
        try:
            return real_append(*args, **kwargs)
        finally:
            sc.setJobGroup(None, None)

    def write(*args, **kwargs):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup("write", "write")
        try:
            return real_write(*args, **kwargs)
        finally:
            sc.setJobGroup(outer, outer)

    monkeypatch.setattr(cat, "_append", append)
    monkeypatch.setattr(cat, "_write_segment", write)

    def clash_jobs(fn) -> int:
        before = set(sc.statusTracker().getJobIdsForGroup("clash"))
        fn()
        return len(set(sc.statusTracker().getJobIdsForGroup("clash")) - before)

    for skip in ({}, dict(stats_columns=["v"])):
        cat.to_table(rows(0, 1000, 2), "t", keys=["k"], **skip)
        # above every key: no leaf overlaps
        assert clash_jobs(lambda: cat.to_table(
            rows(1000, 1200), "t", keys=["k"], how="append")) == 0
        # interleaved with stored keys: the ranges overlap, the join
        # runs and finds no clash
        assert clash_jobs(lambda: cat.to_table(
            rows(1, 1000, 2), "t", keys=["k"], how="append")) > 0
        with pytest.raises(IntegrityError):
            cat.to_table(rows(1100, 1101), "t", keys=["k"], how="append")
        # a key-range read opens only the leaves whose range overlaps
        got = cat.read_table("t", lowest=1000, highest=1199)
        assert got.count() == 200
        assert len({
            f.split("/t/")[1].split("/")[0] for f in got.inputFiles()
        }) == 1
        cat.drop_table("t")

    # a leaf without a key range (written before ranges existed) is
    # always read: the clash it holds is found
    cat.to_table(rows(0, 100), "t", keys=["k"])
    tpath = cat._path("t")
    for seg in cat._manifest("t")["segments"]:
        cat.fs.delete(f"{tpath}/{seg}/{SKIP_FILE}", recursive=False)
    assert clash_jobs(lambda: cat.to_table(
        rows(200, 300), "t", keys=["k"], how="append")) > 0
    with pytest.raises(IntegrityError):
        cat.to_table(rows(50, 51), "t", keys=["k"], how="append")
    assert cat.read_table("t").count() == 200


def test_pandas_and_spark_probes_cost_the_same(spark, tmp_path):
    """The batch probe is bucket-keyed: it repartitions the batch on
    its bucket and aggregates twice on that partitioning, so a batch
    built from pandas costs the same jobs as one from spark.range
    (the global count_distinct form paid one job more on the pandas
    batch)."""
    import pandas as pd

    from pandabase_spark.io import KeyedCatalog

    cat = KeyedCatalog(spark, str(tmp_path / "wh"), default_buckets=8)
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"),
        F.concat(F.lit("p"), F.col("id") % 97).alias("p"),
    )
    cat.to_table(df, "t", keys=["k"], stats_columns=["v"],
                 bloom_columns=["p"])
    m = cat.meta("t")
    sc = spark.sparkContext
    batches = {
        "spark": df.where(F.col("k") < 250),
        "pandas": spark.createDataFrame(
            pd.DataFrame({
                "k": range(250), "v": [2.0 * i for i in range(250)],
                "p": [f"p{i % 97}" for i in range(250)],
            }),
            df.schema,
        ),
    }
    counts, probes = {}, {}
    for name, batch in batches.items():
        sc.setJobGroup(f"probe-{name}", name)
        try:
            probes[name] = cat._batch_probe(batch, m)
        finally:
            sc.setJobGroup(None, None)
        counts[name] = len(sc.statusTracker().getJobIdsForGroup(f"probe-{name}"))
    assert counts["pandas"] == counts["spark"] <= 2, counts
    assert probes["pandas"]["facts"] == probes["spark"]["facts"]
    assert probes["pandas"]["touched"] == probes["spark"]["touched"]


def test_literal_hashes_fold_on_the_driver(spark, catalog):
    """Bloom probe positions, the bucket a full-key equality predicate
    pins and a point read's bucket are evaluated over a one-row
    driver-local frame: no Spark job runs, and every value hashes as it
    did over ``spark.range(1)``."""
    import datetime
    import json
    from decimal import Decimal

    from pyspark.sql import types as T

    from pandabase_spark.io import BLOOM_K, BLOOM_M, TableMeta, _bucket_expr
    from pandabase_spark.localframe import local_frame

    sc = spark.sparkContext
    values = [
        (7, T.LongType()), (-3, T.IntegerType()), ("abc", T.StringType()),
        (2.5, T.DoubleType()), (datetime.date(2020, 1, 2), T.DateType()),
        (datetime.datetime(2020, 1, 2, 3, 4, 5), T.TimestampType()),
        (Decimal("3.25"), T.DecimalType(10, 2)), (True, T.BooleanType()),
    ]
    # full-key equality predicates the DML bucket pinning recognizes
    predicates = [
        ("k = 7", T.LongType()), ("k = -3", T.IntegerType()),
        ("k = 'abc'", T.StringType()), ("k = true", T.BooleanType()),
    ]

    def meta(dt):
        schema = T.StructType([T.StructField("k", dt)])
        return TableMeta(keys=["k"], auto_index=False, num_buckets=8,
                         schema_json=json.dumps(schema.jsonValue()))

    def old_positions(value, dt):
        row = spark.range(1).select(*[
            F.pmod(F.xxhash64(F.lit(value).cast(dt), F.lit(s)),
                   F.lit(BLOOM_M)).alias(f"p{s}")
            for s in range(BLOOM_K)
        ]).first()
        return [row[f"p{s}"] for s in range(BLOOM_K)]

    def old_bucket(col, dt):
        return spark.range(1).select(col.cast(dt).alias("k")).select(
            _bucket_expr(["k"], 8)).first()[0]

    want = {
        i: (old_positions(v, dt), old_bucket(F.lit(v), dt))
        for i, (v, dt) in enumerate(values)
    }
    want_eq = [[old_bucket(F.expr(p.split(" = ")[1]), dt)]
               for p, dt in predicates]
    sc.setJobGroup("fold", "fold")
    try:
        got = {
            i: (
                catalog._bloom_positions(v, dt),
                catalog._key_bucket(
                    local_frame(spark, [(v,)], meta(dt).schema), meta(dt)
                ),
            )
            for i, (v, dt) in enumerate(values)
        }
        got_eq = [catalog._key_equality_buckets(p, meta(dt))
                  for p, dt in predicates]
    finally:
        sc.setJobGroup(None, None)
    assert got == want
    assert got_eq == want_eq
    assert sc.statusTracker().getJobIdsForGroup("fold") == []


def test_ivfpq_build_job_budget(spark, tmp_path):
    """Training the quantizer and the codebooks is ONE collect of the
    capped hash-ordered sample; Lloyd runs on the driver. On a
    parquet-backed corpus the whole build (collect, the one artifacts
    write, the cell-partitioned data write) stays within 4 jobs, and
    no job depends on the Lloyd iteration count: a per-iteration Spark
    aggregate would add 2 jobs per iteration per trainer. An in-memory
    corpus under the cap is collected without a sort, so it costs no
    more."""
    import numpy as np
    import pandas as pd

    from pandabase_spark.operators.similarity import write_ivfpq_index

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({
        "vec_id": np.arange(600, dtype=np.int64),
        "embedding": list(rng.standard_normal((600, 16)).astype(np.float32)),
    })
    in_memory = spark.createDataFrame(pdf)
    src = str(tmp_path / "corpus")
    in_memory.write.parquet(src)
    sc = spark.sparkContext

    def jobs(corpus, tag: str, iters: int) -> int:
        group = f"ivfpq-build-{tag}-{iters}"
        sc.setJobGroup(group, group)
        write_ivfpq_index(
            corpus, str(tmp_path / f"ix-{tag}-{iters}"), n_cells=4, m=4,
            n_codes=4, iters=iters,
        )
        sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for tag, corpus in (
        ("parquet", spark.read.parquet(src)), ("memory", in_memory)
    ):
        counts = {iters: jobs(corpus, tag, iters) for iters in (2, 6)}
        assert counts[2] == counts[6] <= 4, (tag, counts)


def test_indexed_ann_probe_prunes_partitions(spark, tmp_path):
    """The persisted IVF index serves probes via PLANNING-time
    partition pruning: the data scan carries a PartitionFilters entry
    on `cell`, so unprobed inverted-list directories are never opened
    — the property that keeps query IO at ~nprobe/n_cells of the
    corpus at any scale."""
    from pandabase_spark.operators.similarity import (
        ann_topk_indexed, write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, path, n_cells=8, iters=2, sample_mod=2)
    out = ann_topk_indexed(
        spark, path, emb.where("vec_id < 2"), k=5, nprobe=2
    )
    a = plan_audit(out)
    assert any("cell" in pf for pf in a.partition_filters), (
        a.partition_filters
    )
    assert a.join_safe


def test_analytic_job_budgets(spark):
    """Noise-immune cost contract for the headline ANALYTIC queries —
    the read-path counterpart of test_dml_job_budgets (the round-9
    verdict's last unfinished measurement-discipline item): each
    query's Spark JOB count is deterministic for a fixed plan + data
    layout, unlike shared-host wall time, so a bench wall swing on an
    unchanged count is a noisy neighbor and a changed count is a real
    plan regression. Budgets are warm-run counts (+2 headroom for AQE
    boundary wobble); a broadcast-join cascade or an extra scan adds
    jobs well past the headroom. bench.py records the same fact per
    query in BENCH_DETAIL.json query_facts."""
    sc = spark.sparkContext
    budgets = {
        "q1_pricing_summary": 5,       # scan + partial/final agg
        "q6_forecast_revenue": 5,      # pure scan-aggregate
        "window_top3_lineitems": 5,    # one shuffle, one window
        "top_words": 5,                # partial top-k, no global sort
        "q9_product_profit": 13,       # 11 = broadcast dims + one agg
        "q2_min_cost_supplier": 15,    # 13 = decorrelated min + joins
        "q5_nation_revenue": 15,       # 13 = five broadcast dims
    }
    for q, budget in budgets.items():
        group = None
        for i in range(2):  # warm run is the recorded fact
            group = f"ajb-{q}-{i}"
            sc.setJobGroup(group, q)
            workload.QUERIES[q](spark, SF_DIR).write.format(
                "noop"
            ).mode("overwrite").save()
            sc.setJobGroup(None, None)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n <= budget, f"{q} ran {n} jobs (budget {budget})"


def test_compacted_index_probe_still_prunes_partitions(spark, tmp_path):
    """r13: compaction must not cost the serve path its planning-time
    pruning — after folding txn leaves into one new leaf per cell, the
    scan of the head's leaf paths still carries a PartitionFilters
    entry on `cell`, and unprobed cell directories stay unopened."""
    from pandabase_spark.operators.similarity import (
        ann_topk_indexed, append_ivf_index, compact_index,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_idx_c")
    write_ivf_index(
        emb.where("vec_id % 2 = 0"), path, n_cells=8, iters=1,
        sample_mod=2,
    )
    for b in range(3):
        append_ivf_index(
            emb.where(f"vec_id % 2 = 1 and vec_id % 3 = {b}"), path,
            txn=("app", b),
        )
    stats = compact_index(spark, path, keep_last=1)
    assert stats["folded_labels"] > 0
    out = ann_topk_indexed(
        spark, path, emb.where("vec_id < 2"), k=5, nprobe=2
    )
    a = plan_audit(out)
    assert any("cell" in pf for pf in a.partition_filters), (
        a.partition_filters
    )
    assert a.join_safe


def test_rfm_and_positional_have_no_unpartitioned_windows(spark):
    """r13 verdict findings #2/#3: the rfm quartiles and companda's
    positional mode must not plan a global (partition-less) window —
    every windowspecdefinition in the optimized plan carries the
    range-bucket partition column."""
    df = workload.QUERIES["rfm_segments"](spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    for line in opt.splitlines():
        if "windowspecdefinition" in line:
            assert "__pbrk_bkt" in line, line

    from pandabase_spark.compare import _positional

    pos = _positional(
        workload.load(spark, SF_DIR, "region"),
        ["r_regionkey"], ["r_name"], "l",
    )
    opt = pos._jdf.queryExecution().optimizedPlan().toString()
    for line in opt.splitlines():
        if "windowspecdefinition" in line:
            assert "__pbrk_bkt" in line, line


def test_delta_scan_plans_one_scan_any_tuple_count(spark, tmp_path):
    """r13 verdict finding #1 (fixed r14): partition attach is a
    broadcast mapping join over ONE parquet scan — never a union leg
    per partition tuple — and the mapping side stays a local table,
    not a file scan."""
    from pandabase_spark.sources.delta_fixture import (
        make_delta_many_tuples_fixture,
    )
    from pandabase_spark.sources.delta_reader import delta_scan

    table = str(tmp_path / "many")
    make_delta_many_tuples_fixture(spark, table, n_tuples=240)
    df = delta_scan(spark, table)
    a = plan_audit(df)
    assert a.parquet_scans == 1
    assert a.join_safe


def test_literal_scorers_do_not_grow_with_matrix_size(spark):
    """Every driver-held matrix (centroids, hyperplanes, codebooks,
    anchors) reaches Spark as one folded JSON literal scored by one
    ``transform``: the analyzed plan has the same number of expression
    nodes at 16 and at 1,024 rows of the matrix (64 planes for the
    LSH buckets), where one SQL fold per row grew it with the matrix
    (1,385 nodes at 16 centroids, 87,065 at 1,024). A non-finite
    matrix value has no literal and raises."""
    import numpy as np

    from pandabase_spark.operators.similarity import (
        _adc_expr, _subtract_cell_anchor, _with_cells_topn,
        hyperplane_buckets, ivf_assign, pq_encode,
    )

    dim = 8
    df = spark.createDataFrame(
        [(0, [0.5] * dim, 1, [0, 1])],
        "vec_id long, embedding array<double>, cell int, "
        "pq_code array<int>",
    )
    rng = np.random.default_rng(0)

    def nodes(frame) -> int:
        return frame._jdf.queryExecution().analyzed().toJSON().count(
            '"class":'
        )

    def shapes(n: int) -> dict:
        mat = rng.standard_normal((n, dim)).tolist()
        books = rng.standard_normal((2, n, dim // 2)).tolist()
        q = df.withColumnRenamed("embedding", "_qvec")
        return {
            "ivf_assign": nodes(ivf_assign(df.drop("cell"), mat)),
            "cells_topn": nodes(_with_cells_topn(df, "embedding", mat, 3)),
            "pq_encode": nodes(pq_encode(df.drop("pq_code"), books)),
            "adc": nodes(q.withColumn("d", _adc_expr(books))),
            "anchors": nodes(_subtract_cell_anchor(
                df, list(enumerate(mat)), "embedding"
            )),
        }

    assert shapes(16) == shapes(1024)
    planes = {
        p: nodes(hyperplane_buckets(df, "embedding", planes=p, dim=dim))
        for p in (8, 64)
    }
    assert planes[8] == planes[64], planes
    for bad in (float("nan"), float("inf")):
        with pytest.raises(ValueError, match="non-finite"):
            ivf_assign(df, [[0.0] * (dim - 1) + [bad]] * 2)
