"""Physical-plan audits — the 100 TB posture, encoded as assertions.

Each test pins a property that must survive scale-up: filters reaching
the parquet scan, column pruning, broadcast on the small side of the
anti-join, map-side partial aggregation, and no cartesian products in
any join path. If a refactor regresses a plan shape, these fail before
any benchmark does.
"""

import pyspark.sql.functions as F

from flink_project_userbehavioranalysis_spark.operators import (
    hot_items as H,
    market as MK,
    network_flow as NF,
    order_pay as OP,
    relational as R,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hot_items_scan_pushdown_and_partial_agg(spark, sf_dir):
    df = H.hot_items(spark, sf_dir)
    plan = _plan(df)
    # equality filter pushed into the parquet scan
    assert "PushedFilters" in plan and "event_type" in plan.split("PushedFilters")[1][:200]
    # map-side partial aggregation before the shuffle
    assert "partial_count" in plan
    # whole-stage codegen spans ("*(n)") exist in the AQE-final plan,
    # and the rank is pushed down to a per-partition group limit
    df.collect()
    final = _plan(df)
    assert "*(" in final
    assert "WindowGroupLimit" in final  # top-n never materializes full rank


def test_hot_items_scan_prunes_columns(spark, sf_dir):
    plan = _plan(H.hot_items(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the needed physical columns are read from parquet
    assert "event_id" not in read_schema and "value" not in read_schema
    assert "ts" in read_schema and "props" in read_schema


def test_order_timeout_anti_join_shape(spark, sf_dir):
    """J3 anti-join must key on user_id with NO forced broadcast: the
    pay side grows with the events table, so the static plan has to be
    a shuffle-capable hash/merge anti-join (the 100 TB shape). AQE may
    upgrade to broadcast at runtime when the filtered side is actually
    small — that's the bounded regime and equally acceptable."""
    df = OP.order_timeout(spark, sf_dir)
    # no broadcast HINT anywhere — a hint would force the regime even
    # when the pay side is TB-scale; Catalyst/AQE must stay free to pick
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # strategy is Catalyst's: hash/merge anti-join at scale, broadcast
    # only by its own size estimate on tiny inputs
    assert any(
        s in plan for s in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    # after execution, AQE's final plan must still be anti-join shaped
    df.collect()
    final = _plan(df)
    assert "LeftAnti" in final and "CartesianProduct" not in final


def test_geo_star_join_broadcasts_dims(spark, sf_dir):
    """The fact side must never shuffle for the dim joins — every dim
    hop is a BroadcastHashJoin; the only hash exchange is the windowed
    aggregation's."""
    plan = _plan(MK.ad_clicks_by_geo(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_interval_join_no_cartesian(spark, sf_dir):
    plan = _plan(OP.interval_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tx_reconcile_no_cartesian(spark, sf_dir):
    plan = _plan(OP.tx_reconcile(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_tpch_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(R.tpch_q1ish(spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:300]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # pruned: not referenced
    assert "partial_count" in plan or "partial_sum" in plan


def test_pv_hourly_single_shuffle(spark, sf_dir):
    plan = _plan(NF.pv_hourly(spark, sf_dir))
    # one exchange for the windowed agg (AQE reads add no extra shuffle)
    assert plan.count("Exchange") <= 2
    assert "partial_count" in plan


def test_uv_sketch_rollup_is_mergeable(spark, sf_dir):
    plan = _plan(NF.uv_daily_sketch_rollup(spark, sf_dir))
    # sketches merge (partial hll union), never re-scanning raw rows
    assert "hll" in plan.lower()


def test_no_python_udfs_in_relational_paths(spark, sf_dir):
    """Core relational operators stay JVM-side end to end — no
    BatchEvalPython (row-at-a-time Python) anywhere."""
    for df in [
        H.hot_items(spark, sf_dir),
        NF.pv_hourly(spark, sf_dir),
        OP.order_timeout(spark, sf_dir),
        R.tpch_q1ish(spark, sf_dir),
        R.user_sessions(spark, sf_dir),
    ]:
        assert "BatchEvalPython" not in _plan(df)


def test_pii_scrub_is_map_only(spark, sf_dir):
    """The scrub must stay a single map stage: no Exchange, no Python,
    and only the two needed physical columns read from parquet."""
    from flink_project_userbehavioranalysis_spark.operators import llm_text as TXT

    plan = _plan(TXT.pii_scrub(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" in read_schema and "value" not in read_schema and "ts" not in read_schema


def test_vocab_coverage_broadcasts_vocab(spark, sf_dir):
    """The top-K vocabulary is bounded by construction, so the coverage
    join must be a BroadcastHashJoin — the corpus side never shuffles
    on token."""
    from flink_project_userbehavioranalysis_spark.operators import llm_text as TXT

    df = TXT.vocab_coverage(spark, sf_dir)
    df.collect()  # finalize AQE
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_join_injects(spark, sf_dir):
    """Runtime Bloom-filter join pruning — the 100 TB join technique
    where a selective build side seeds a bloom filter that prunes the
    probe-side SCAN before the shuffle. Spark gates it on a 10 GB
    application-side scan (exactly right in production, silent at test
    scale), so the test lowers the thresholds to prove the engine's
    plans are eligible: filter-over-join on the key, no expression in
    the way."""
    from flink_project_userbehavioranalysis_spark.io import load_table

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import pyspark.sql.functions as FF

        li = load_table(spark, sf_dir, "lineitem")
        od = load_table(spark, sf_dir, "orders").filter(
            FF.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(FF.count("*").alias("n"))
        )
        plan = _plan(j)
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_tpch_q6_all_filters_pushed(spark, sf_dir):
    df = R.tpch_q6ish(spark, sf_dir)
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1][:400] if "PushedFilters" in plan else ""
    # date + quantity range predicates must reach the parquet reader
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    # only the 4 needed columns are read
    schema = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in schema
    assert "l_orderkey" not in schema and "l_partkey" not in schema
    # map-side partial aggregate before the single-row final agg
    assert "partial" in plan


def test_tpch_q3_broadcasts_dim_and_reuses_order_clustering(spark, sf_dir):
    df = R.tpch_q3ish(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    # exactly ONE broadcast is FORCED (the segment-filtered customer
    # dim); the fact-fact join carries no hint, so its strategy is
    # size-based — at test SF Spark legitimately also broadcasts the
    # tiny orders⋈cust slice, at 100 TB the same plan shuffles on the
    # order key. The invariant is that we never pinned the fact side.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1
    # top-10 is a distributed TakeOrdered, never a global Sort+collect
    assert "TakeOrderedAndProject" in plan


def test_tpch_q5_forces_only_geography_broadcasts(spark, sf_dir):
    df = R.tpch_q5ish(spark, sf_dir)
    # exactly two forced broadcasts: region into nation, and the
    # region-filtered nation list into supplier — both bounded by
    # geography at any scale factor. Supplier/customer joins carry no
    # hint (SF-proportional dims stay size-based).
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tpch_q18_single_lineitem_scan_and_take_ordered(spark, sf_dir):
    df = R.tpch_q18ish(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    # the HAVING-subquery is folded into ONE lineitem rollup — the
    # classic formulation's second lineitem scan (re-join + re-agg)
    # must not exist. AQE's toString prints Final AND Initial plan
    # sections; count scans in the final section only.
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("lineitem.parquet") == 1, final.count("lineitem.parquet")
    # no forced hints anywhere: the big-order list broadcast is AQE's
    # size-based call, valid at any SF (HAVING threshold is per-order)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    # top-100 is a distributed TakeOrdered, never a global Sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dup_spans_singleton_prefilter_plan(spark, sf_dir):
    """ExactSubstr span dedup must prune the singleton-gram tail BEFORE
    the exact per-gram frequency shuffle: the depth-1 counting-sketch
    pre-filter shows up as a partial-aggregated bucket count feeding a
    LEFT SEMI hot-bucket probe — never a cartesian — so the frequency
    exchange only carries duplicate candidates."""
    from flink_project_userbehavioranalysis_spark.operators import llm_text as TXT

    df = TXT.dup_spans(spark, sf_dir)
    df.collect()  # finalize AQE so the physical join choice is visible
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_item_triangles_plan_no_cartesian(spark, sf_dir):
    """The triangle cascade must stay equi-join end to end: the wedge
    self-join keys on the shared source, the closing probe is a LEFT
    SEMI on the oriented edge — no cartesian or nested-loop anywhere,
    and the corner rollup partial-aggregates."""
    from flink_project_userbehavioranalysis_spark.operators import graph as GR

    df = GR.item_triangles(spark, sf_dir)
    df.collect()  # finalize AQE
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "partial_count" in plan


def test_jpeg_roundtrip_is_map_only(spark, sf_dir):
    """The lossy-codec certification is one Arrow-batched map pass: no
    join back to the source (the UDF rebuilds the closed-form row
    vector), no row-at-a-time Python, and only the two needed columns
    reach the parquet scan. The ONLY Exchange allowed is `io.spread_light`'s
    explicit round-robin fan-out of the split-starved local fixture —
    never a hash/range shuffle (no keyed redistribution of payloads),
    and none at all once the input has splits (asserted separately in
    test_multimodal's io.spread contract test)."""
    from flink_project_userbehavioranalysis_spark.operators import multimodal as MM

    plan = _plan(MM.jpeg_roundtrip(spark, sf_dir))
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1  # the fan-out, nothing else
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema
