"""Streaming windowed ops: batch ≡ streaming ≡ oracle on finite input
(SURVEY §5.2's key invariant), plus append-mode watermark semantics."""

import pyspark.sql.functions as F

from flink_project_userbehavioranalysis_spark.operators import hot_items as H
from flink_project_userbehavioranalysis_spark.operators import network_flow as NF
from flink_project_userbehavioranalysis_spark.streaming import windowed as W
from tests.oracle import assert_matches_oracle


def test_pv_hourly_stream_equals_batch_and_oracle(spark, sf_dir):
    stream = W.pv_hourly_stream(spark, sf_dir)
    assert_matches_oracle(stream, NF.PV_HOURLY_SQL, sf_dir)
    batch = {tuple(r) for r in NF.pv_hourly(spark, sf_dir).collect()}
    assert {tuple(r) for r in stream.collect()} == batch


def test_uv_hourly_stream_equals_batch_and_oracle(spark, sf_dir):
    stream = W.uv_hourly_stream(spark, sf_dir)
    assert_matches_oracle(stream, NF.UV_HOURLY_SQL, sf_dir)
    batch = {tuple(r) for r in NF.uv_hourly(spark, sf_dir).collect()}
    assert {tuple(r) for r in stream.collect()} == batch


def test_hot_items_stream_equals_batch_and_oracle(spark, sf_dir):
    stream = W.hot_items_stream(spark, sf_dir)
    assert_matches_oracle(stream, H.hot_items_oracle_sql(), sf_dir)
    batch = {tuple(r) for r in H.hot_items(spark, sf_dir).collect()}
    assert {tuple(r) for r in stream.collect()} == batch


def test_merge_sink_equals_collect_shim(spark, sf_dir):
    """The production changelog-MERGE sink (run_update_merge: parquet
    append log + distributed latest-wins compaction, no driver state)
    produces the identical final state to the driver-dict test shim
    (run_update_collect) on the same update-mode aggregation."""
    from flink_project_userbehavioranalysis_spark.streaming.replay import (
        events_stream,
        run_update_collect,
        run_update_merge,
    )

    def counts():
        ev = events_stream(spark, sf_dir, n_chunks=8)
        return (
            ev.filter(F.col("event_type") == "view")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("pv"))
            .select(F.col("w.end").cast("long").alias("window_end"), "pv")
        )

    merged = {tuple(r) for r in run_update_merge(counts(), ["window_end"], spark).collect()}
    shim = {tuple(r) for r in run_update_collect(counts(), ["window_end"], spark).collect()}
    assert merged == shim and len(merged) > 0


def test_merge_sink_plan_is_distributed(spark, sf_dir):
    """The compacted state must come back as a distributed scan +
    window compaction — not a createDataFrame of driver rows (the
    parallelize-from-driver shape would mean the sink collected)."""
    from flink_project_userbehavioranalysis_spark.streaming.replay import (
        events_stream,
        run_update_merge,
    )

    ev = events_stream(spark, sf_dir, n_chunks=4)
    counts = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("pv"))
        .select(F.col("w.end").cast("long").alias("window_end"), "pv")
    )
    out = run_update_merge(counts, ["window_end"], spark)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan
    assert "LocalTableScan" not in plan and "Scan ExistingRDD" not in plan


def test_uv_dedup_state_is_evicted(spark, sf_dir):
    """r4 verdict #1 regression gate: the exact-UV dedup keys on the
    event-time ``window`` column, so the state store EVICTS (window,
    user) pairs once the watermark passes the window — state stays
    bounded by the watermark horizon instead of growing with total
    distinct (hour, user) over the stream's lifetime."""
    from flink_project_userbehavioranalysis_spark.streaming.replay import events_stream

    ev = events_stream(spark, sf_dir, n_chunks=8).filter(F.col("event_type") == "view")
    q = (
        W.uv_hourly_dedup_counts(ev)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("uv_state_gate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    totals, removed = [], 0
    for prog in q.recentProgress:
        for op in prog["stateOperators"]:
            if op["operatorName"] == "dedupe":
                totals.append(op["numRowsTotal"])
                removed += op.get("numRowsRemoved", 0)
    total_pairs = (
        NF.uv_hourly(spark, sf_dir).agg(F.sum("uv")).collect()[0][0]
    )  # cumulative distinct (hour, user) = what unbounded state would hold
    assert removed > 0, "dedup state was never evicted"
    assert max(totals) < total_pairs, (
        f"dedup state ({max(totals)}) holds the full pair history ({total_pairs})"
    )


def test_merge_sink_write_is_parallel(spark, sf_dir, tmp_path):
    """r4 verdict #2 regression gate: each micro-batch changelog write
    is hash-partitioned on the merge key to MERGE_SINK_PARTITIONS — no
    batch funnels through a single writer task (the old coalesce(1)),
    and the compacted result is unchanged."""
    from flink_project_userbehavioranalysis_spark.streaming.replay import (
        events_stream,
        run_update_merge,
    )

    ev = events_stream(spark, sf_dir, n_chunks=4)
    counts = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("pv"))
        .select(F.col("w.end").cast("long").alias("window_end"), "pv")
    )
    log_dir = str(tmp_path / "merge_log")
    out = run_update_merge(counts, ["window_end"], spark, table_dir=log_dir)
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in NF.pv_hourly(spark, sf_dir).collect()
    }
    files_per_batch = (
        spark.read.parquet(log_dir)
        .select("_batch_id", F.input_file_name().alias("f"))
        .groupBy("_batch_id")
        .agg(F.countDistinct("f").alias("nf"))
        .collect()
    )
    assert max(r["nf"] for r in files_per_batch) > 1, "single-writer batch detected"


def test_dedup_within_watermark_equals_batch_distinct(spark, tmp_path):
    """Streaming dropDuplicatesWithinWatermark == batch distinct when
    duplicates arrive within the watermark horizon of each other: one
    survivor per (user, type, item) key, at the key count of the batch
    distinct."""
    from tests.test_properties import BASE_NS, write_events
    from flink_project_userbehavioranalysis_spark.streaming import windowed as WW

    rows = []
    eid = 0
    for u in (1, 2):
        for rep in range(3):  # 3 duplicate arrivals, seconds apart
            rows.append((eid, BASE_NS + rep * 2_000_000_000, u, "view", 7))
            eid += 1
    rows.append((eid, BASE_NS + 3_600_000_000_000, 1, "click", 8))
    d = write_events(spark, str(tmp_path), rows)
    out = WW.dedup_events_stream(spark, d, n_chunks=2)
    got = {(r["user_id"], r["event_type"], r["item_id"]) for r in out.collect()}
    assert got == {(1, "view", 7), (2, "view", 7), (1, "click", 8)}
    assert out.count() == 3  # exactly one survivor per key


def test_parquet_file_sink(spark, sf_dir, tmp_path):
    """S5 durable sink: append-mode windowed counts land in parquet
    files (exactly-once via the checkpoint/commit log) and read back as
    a consistent subset of the batch result."""
    import pyspark.sql.functions as F

    from flink_project_userbehavioranalysis_spark.streaming.replay import events_stream

    ev = events_stream(spark, sf_dir)
    counts = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("pv"))
        .select(F.col("w.end").cast("long").alias("window_end"), "pv")
    )
    out_dir = str(tmp_path / "sink")
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sunk = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    batch = {tuple(r) for r in NF.pv_hourly(spark, sf_dir).collect()}
    assert sunk <= batch and len(sunk) >= len(batch) - 2  # watermark tail only


def test_pv_append_mode_watermark_semantics(spark, sf_dir):
    """Append mode emits a window exactly once, only after the
    watermark passes it (T1/T2/T6): emitted rows are a subset of the
    batch result, identical values, and the only withheld windows sit
    within one window length of the final watermark."""
    out, wm = W.pv_hourly_append(spark, sf_dir)
    emitted = {tuple(r) for r in out.collect()}
    batch = {tuple(r) for r in NF.pv_hourly(spark, sf_dir).collect()}
    assert emitted <= batch
    missing = batch - emitted
    assert len(missing) <= 2  # the watermark-tail window(s) only
    for window_end, _pv in missing:
        assert window_end > wm - 3600
    # every emitted value is exactly the batch value (exactly-once, no
    # partial counts): guaranteed by subset + equal tuples, but assert
    # count keys are unique too
    assert len({w for w, _ in emitted}) == len(emitted)


def test_new_streaming_twins_equal_batch(spark, sf_dir):
    """count_by_channel / marketing_total / geo / session / OHLC
    streaming twins each equal their batch operator row-for-row on
    finite input (each also has its registered oracle)."""
    from flink_project_userbehavioranalysis_spark.operators import market as M
    from flink_project_userbehavioranalysis_spark.operators import relational as R
    from flink_project_userbehavioranalysis_spark.operators import timeseries as T

    pairs = [
        (W.count_by_channel_stream, M.count_by_channel_behavior),
        (W.marketing_total_stream, M.marketing_total),
        (W.ad_clicks_by_geo_stream, M.ad_clicks_by_geo),
        (W.user_sessions_stream, R.user_sessions),
        (W.ts_ohlc_stream, T.ts_ohlc_hourly),
    ]
    for stream_fn, batch_fn in pairs:
        got = sorted(tuple(r) for r in stream_fn(spark, sf_dir).collect())
        want = sorted(tuple(r) for r in batch_fn(spark, sf_dir).collect())
        assert got == want, stream_fn.__name__


def test_uv_approx_stream_bounded_by_exact(spark, sf_dir):
    """Streaming HLL++ UV: estimates land within 15% of the exact
    streaming UV for every window (HLL++ rsd default 0.05; generous
    bound for tiny windows)."""
    approx = {r["window_end"]: r["uv_est"] for r in W.uv_approx_stream(spark, sf_dir).collect()}
    exact = {r["window_end"]: r["uv"] for r in W.uv_hourly_stream(spark, sf_dir).collect()}
    assert set(approx) == set(exact)
    for w, est in approx.items():
        assert abs(est - exact[w]) <= max(0.15 * exact[w], 3)


def test_uv_approx_stream_equals_batch_estimates(spark, sf_dir):
    """The twin runs the batch HLL++ rollup (``uv_approx_frame``, same
    sketch, same rsd 0.05); register merges are order-free, so every
    window's estimate equals ``uv_approx_hourly``'s exactly."""
    stream = sorted(tuple(r) for r in W.uv_approx_stream(spark, sf_dir).collect())
    batch = sorted(tuple(r) for r in NF.uv_approx_hourly(spark, sf_dir).collect())
    assert stream == batch and len(stream) > 0


def test_pii_scrub_stream_equals_batch_and_oracle(spark, sf_dir):
    """Stateless append-mode transform: every input row is emitted
    exactly once with the same scrub as the batch operator."""
    from flink_project_userbehavioranalysis_spark.operators import llm_text as TXT

    stream = W.pii_scrub_stream(spark, sf_dir)
    assert_matches_oracle(stream, TXT.PII_SCRUB_SQL, sf_dir)
    batch = {tuple(r) for r in TXT.pii_scrub(spark, sf_dir).collect()}
    assert {tuple(r) for r in stream.collect()} == batch


def test_dedup_incremental_stream_matches_batch_fingerprints(spark, sf_dir):
    """Streaming ingestion dedup (stream-static LEFT ANTI + watermarked
    in-stream dedup) accepts exactly the batch operator's fingerprint
    set — one row per accepted fingerprint, none from the corpus side."""
    from flink_project_userbehavioranalysis_spark.operators import llm_text

    st = W.dedup_incremental_stream(spark, sf_dir)
    batch = llm_text.dedup_incremental(spark, sf_dir)
    s = {r["set_md5"] for r in st.collect()}
    b = {r["set_md5"] for r in batch.collect()}
    assert s == b
    assert st.count() == len(s)  # one survivor per fingerprint


def test_hashed_features_stream_equals_batch_oracle(spark, sf_dir):
    """Ingest-time featurization ≡ the batch operator's oracle — the
    Python md5-mod replication must be bit-exact vs the JVM path."""
    from flink_project_userbehavioranalysis_spark.operators import llm_text
    from flink_project_userbehavioranalysis_spark.streaming import windowed as W
    from tests.oracle import assert_matches_oracle

    assert_matches_oracle(
        W.hashed_features_stream(spark, sf_dir),
        llm_text.hashed_features_oracle_sql(),
        sf_dir,
    )


def test_dup_span_incremental_stream_equals_batch(spark, sf_dir):
    """The streaming span-dedup twin must reproduce the batch operator
    row-for-row: hit positions depend only on (doc text, static gram
    index), so streaming ≡ batch exactly — which is why it shares the
    batch oracle in the registry."""
    from flink_project_userbehavioranalysis_spark.operators import llm_text as T

    got = sorted(
        tuple(r) for r in W.dup_span_incremental_stream(spark, sf_dir).collect()
    )
    want = sorted(tuple(r) for r in T.dup_span_incremental(spark, sf_dir).collect())
    assert got == want and len(got) > 0


def test_cdc_apply_stream_equals_batch(spark, sf_dir):
    """The live CDC materialization must converge to the batch LWW
    compaction exactly (max + count are commutative across micro-batch
    boundaries), tombstone filtering included."""
    from flink_project_userbehavioranalysis_spark.operators import maintenance as MT

    got = sorted(tuple(r) for r in W.cdc_apply_stream(spark, sf_dir).collect())
    want = sorted(tuple(r) for r in MT.cdc_apply(spark, sf_dir).collect())
    assert got == want and len(got) > 0


def test_term_blocklist_stream_equals_batch(spark, sf_dir):
    """The ingest-time blocklist gate equals the batch operator
    value-for-value (stateless map gate; batch oracle applies)."""
    from flink_project_userbehavioranalysis_spark.operators import corpus_quality as CQ

    got = sorted(tuple(r) for r in W.term_blocklist_stream(spark, sf_dir).collect())
    want = sorted(tuple(r) for r in CQ.term_blocklist_filter(spark, sf_dir).collect())
    assert got == want and len(got) > 0


def test_value_hist_daily_stream_equals_batch_and_oracle(spark, sf_dir):
    """The streaming-maintained quantile-summary grid equals the batch
    summary cell-for-cell (deterministic integer counts; update-mode
    re-emissions folded by the changelog MERGE)."""
    stream = W.value_hist_daily_stream(spark, sf_dir)
    assert_matches_oracle(stream, NF.value_hist_daily_oracle_sql(), sf_dir)
    batch = {tuple(r) for r in NF.value_hist_daily(spark, sf_dir).collect()}
    got = {tuple(r) for r in stream.collect()}
    assert got == batch and len(got) > 0


def test_value_ddsketch_stream_equals_batch_exactly(spark, sf_dir):
    """The DDSketch maintenance twin (r10): quantiles read from the
    STREAM-MAINTAINED log-gamma grid equal the batch sketch's
    estimates EXACTLY — both sides bucket with the same Spark ln()
    column (one libm), the grid counts are deterministic integers
    folded by the changelog MERGE, and the rank-pick read is the
    shared ddsketch_quantiles_from_grid. Also re-asserts the 1%
    relative-error guarantee ON THE STREAMED STATE against the exact
    per-type rank values."""
    import math
    from collections import defaultdict

    from flink_project_userbehavioranalysis_spark.io import load_events

    stream = W.value_percentiles_ddsketch_stream(spark, sf_dir)
    got = {r["event_type"]: r for r in stream.collect()}
    batch = {
        r["event_type"]: r
        for r in NF.value_percentiles_ddsketch(spark, sf_dir).collect()
    }
    assert set(got) == set(batch) and len(got) > 0
    for et in batch:
        for col in ("p50_est", "p90_est", "p99_est"):
            assert got[et][col] == batch[et][col], (et, col)
    # relative-error bound on the streamed state
    by_type = defaultdict(list)
    ev = load_events(spark, sf_dir)
    for r in (
        ev.filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .collect()
    ):
        by_type[r["event_type"]].append(r["value"])
    for et, row in got.items():
        vals = sorted(by_type[et])
        for q, col in [(0.5, "p50_est"), (0.9, "p90_est"), (0.99, "p99_est")]:
            v = vals[math.ceil(q * len(vals)) - 1]
            if v <= 0:
                assert row[col] == 0.0
            else:
                assert abs(row[col] - v) / v <= 0.01 + 1e-6, (et, q, row[col], v)
