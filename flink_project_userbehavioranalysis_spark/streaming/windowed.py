"""Streaming twins of the windowed batch operators (T1-T5, A3/A5/A6,
W1/W2 streaming; SURVEY §2.6, M3).

Each function replays the events table as a micro-batch stream
(``replay.events_stream``), applies the *same* window/agg logic as the
batch operator, runs to completion, and returns the final result as a
batch DataFrame — so the driver's DuckDB oracle for the batch operator
is also the oracle for the streaming one. That is the strongest
correctness statement a finite stream can make: streaming ≡ batch ≡
oracle on identical input.

The rule that keeps the twins honest: a twin CALLS its batch
operator's frame function (``f(events) -> DataFrame`` in the batch
module, e.g. ``network_flow.pv_rollup_frame``, ``market.channel_counts``,
``maintenance._cdc_compact``) and restates only what streaming forces
on it — the ``window()`` column whose event-time metadata drives
watermark eviction, and the sink boundary (``run_update_merge`` /
``run_append_memory``). The aggregation itself is written once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.functions import win_end_s
from flink_project_userbehavioranalysis_spark.io import load_events, load_table
from flink_project_userbehavioranalysis_spark.operators.audio_codecs import (
    mulaw_features_projection,
)
from flink_project_userbehavioranalysis_spark.operators.corpus_quality import (
    BLOCKLIST_TERMS,
    gopher_quality_projection,
)
from flink_project_userbehavioranalysis_spark.operators.expectations import (
    EVENT_TYPES,
    _viol,
)
from flink_project_userbehavioranalysis_spark.operators.hot_items import (
    item_buckets,
    slide_buckets,
    slide_ratio,
    slide_rollup,
    top_n,
)
from flink_project_userbehavioranalysis_spark.operators.ingest import (
    INGEST_DEFAULTS,
    corpus_fingerprints,
    ingest_prefix_projection,
)
from flink_project_userbehavioranalysis_spark.operators.llm_text import (
    _canonical_set_md5,
    _dup_gram_positions,
    _merge_islands,
    chunk_projection,
    pii_scrub_projection,
)
from flink_project_userbehavioranalysis_spark.operators.maintenance import (
    _cdc_compact,
    _cdc_feed,
    _cdc_snapshot,
)
from flink_project_userbehavioranalysis_spark.operators.market import (
    channel_counts,
    geo_click_counts,
    geo_dim,
)
from flink_project_userbehavioranalysis_spark.operators.multimodal import (
    decode_meta_projection,
)
from flink_project_userbehavioranalysis_spark.operators.network_flow import (
    ddsketch_bucket,
    ddsketch_quantiles_from_grid,
    pv_rollup_frame,
    spike_flags,
    uv_approx_frame,
    value_bucket,
)
from flink_project_userbehavioranalysis_spark.operators.search import (
    _query_frames,
    _rank_query_frame,
)
from flink_project_userbehavioranalysis_spark.operators.similarity import (
    _ANN_SPLIT_MOD,
    _encode_with_models,
    _load_ann_model,
    build_ann_index_split,
)
from flink_project_userbehavioranalysis_spark.operators.timeseries import _obs, ohlc_bars
from flink_project_userbehavioranalysis_spark.session import session_key, session_memo
from flink_project_userbehavioranalysis_spark.streaming.replay import (
    _NAME_SEQ,
    SENTINEL_TYPE,
    events_stream,
    run_append_memory,
    run_update_merge,
    stream_shuffle_partitions,
    write_ordered_chunks,
)


def pv_hourly_stream(
    spark: SparkSession, sf_dir: str, event_type: str = "view", n_chunks: int = 4
) -> DataFrame:
    """A3 streaming — watermarked tumbling 1 h PV count in update mode
    (reference PageView.scala over a live stream [U]). Late chunks
    re-emit corrected counts; the update fold keeps the latest."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks)
    counts = pv_rollup_frame(ev, event_type).select(win_end_s(), "pv")
    return run_update_merge(counts, ["window_end"], spark)


def uv_hourly_dedup_counts(ev: DataFrame) -> DataFrame:
    """The streaming plan behind :func:`uv_hourly_stream`, exposed so
    tests can attach their own sink and read state metrics."""
    dedup = (
        ev.select(F.window("ts", "1 hour").alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
    )
    return (
        dedup.groupBy("w")
        .agg(F.count("*").alias("uv"))
        .select(win_end_s(), "uv")
    )


def uv_hourly_stream(
    spark: SparkSession, sf_dir: str, event_type: str = "view", n_chunks: int = 4
) -> DataFrame:
    """A5 streaming — exact windowed UV. Streaming aggs can't do
    COUNT(DISTINCT), so the exact-at-scale formulation is streaming
    dropDuplicates on (window, user) followed by a windowed count — the
    state-store dedup replaces the reference's per-window Set
    (UniqueVisitor.scala :: UvCountByWindow [U]) with watermark-evicted
    keyed state.

    The dedup key is the ``window("ts", "1 hour")`` struct, NOT a
    ``date_trunc``-derived hour: the window column carries event-time
    metadata, so the dedup state for a (window, user) pair is EVICTED
    once the watermark passes the window — bounded by (users active per
    watermark horizon), not by total distinct (hour, user) over the
    stream's lifetime. A derived plain column would accumulate state
    forever (r4 verdict finding #1); tests/test_streaming_windowed.py
    asserts eviction actually happens via stateOperators metrics."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks)
    counts = uv_hourly_dedup_counts(ev.filter(F.col("event_type") == event_type))
    return run_update_merge(counts, ["window_end"], spark)


def hot_items_stream(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    slide: str = "5 minutes",
    n: int = 5,
    event_type: str = "view",
    n_chunks: int = 4,
) -> DataFrame:
    """W1/W2 streaming — the flagship Top-N over a live windowed count.

    Streaming plans can't rank over an updating aggregate, so the rank
    runs in the sink layer over the *final* count state: foreachBatch
    MERGEs each micro-batch's changed counts into a keyed changelog
    table (``run_update_merge`` — the production upsert sink, fully
    distributed, no driver-side state), and the rank is one batch
    window function over the compacted state. Reference TopNHotItems
    buffers counts in keyed state and ranks on timer [U]; the merged
    table *is* that state. Late updates overwrite their entry via
    batch-id order before ranking — W2's MapState-overwrite semantics
    for free.

    State is kept at tumbling SLIDE grain, not sliding-window grain
    (the streaming twin of the `hot_items` rollup): a direct
    ``window(ts, 1h, 5m)`` agg holds window/slide (=12) state rows per
    (bucket, item) and replicates every arriving event 12× through the
    state store; bucket-grain state is 12× smaller and each event
    updates exactly one row. The sliding windows are reconstructed in
    the batch compaction stage (explode aggregated buckets into the
    12 windows each serves, sum) — exact, since slide divides window.
    """
    ratio = slide_ratio(window, slide)
    if ratio is None:
        raise ValueError("streaming rollup requires slide to divide window")
    buckets = item_buckets(events_stream(spark, sf_dir, n_chunks=n_chunks), slide, event_type)
    final_buckets = run_update_merge(buckets, ["bucket_end", "item_id"], spark)
    return top_n(slide_rollup(final_buckets, slide, ratio, "item_id"), n)


def count_by_channel_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """A7 streaming — tumbling 1 h counts keyed by (channel, behavior)
    in update mode (reference AppMarketingByChannel.scala ::
    MarketingCountByChannel over a live stream [U]). Same window/agg
    frame as the batch twin, so the batch oracle is the oracle."""
    counts = channel_counts(events_stream(spark, sf_dir, n_chunks=n_chunks))
    return run_update_merge(
        counts, ["window_start", "window_end", "channel", "behavior"], spark
    )


def ad_clicks_by_geo_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """A7-geo streaming — *stream-static join*: the click stream joins
    the static customer→nation→region dim (broadcast per micro-batch;
    Spark re-plans the static side, so dim updates between batches are
    picked up — the streaming-enrichment pattern at 100 TB), then the
    windowed count aggregates in update mode. Batch oracle applies."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks)
    counts = geo_click_counts(ev, geo_dim(spark, sf_dir))
    return run_update_merge(counts, ["window_end", "region", "nation"], spark)


def marketing_total_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """A8 streaming — global (keyless) sliding 1 h / 15 min count in
    update mode (reference AppMarketing.scala [U] needs a dummy key;
    streaming windows don't). Like `hot_items_stream`, state is kept
    at tumbling slide grain (15 min buckets — each event updates ONE
    state row instead of four) and the four-bucket sliding sum is
    reconstructed in the batch compaction stage."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks)
    buckets = slide_buckets(ev.filter(F.col("event_type") != "error"), "15 minutes")
    final_buckets = run_update_merge(buckets, ["bucket_end"], spark)
    ratio = slide_ratio("1 hour", "15 minutes")
    return slide_rollup(final_buckets, "15 minutes", ratio, out="total")


def uv_approx_stream(
    spark: SparkSession, sf_dir: str, event_type: str = "view", n_chunks: int = 4
) -> DataFrame:
    """A6 streaming — approximate hourly UV via HLL++
    (`approx_count_distinct`) over a live windowed agg in update mode:
    the sketch path that replaces the reference's per-element
    Bloom-filter trigger (UvWithBloom [U]) with constant-memory
    mergeable state. Rows-only in the driver gate (estimates are
    engine-specific); tests bound it against the exact streaming UV."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks)
    counts = uv_approx_frame(ev, event_type).select(
        win_end_s(), F.col("uv_approx").alias("uv_est")
    )
    return run_update_merge(counts, ["window_end"], spark)


def user_sessions_stream(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes", n_chunks: int = 4
) -> DataFrame:
    """T9 streaming — per-user session windows in **append** mode: a
    session emits exactly once, when the watermark passes its close
    (last event + gap); Spark merges adjacent session state across
    micro-batches server-side. The far-future end-of-input sentinel
    (replay.py) advances the final watermark so every real session
    flushes — its own (user −1) session is filtered out. Batch oracle
    applies: streaming ≡ batch ≡ oracle."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks, sentinel=True)
    sess = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "n_events",
        )
    )
    name = f"user_sessions_stream_{abs(hash((sf_dir, n_chunks)))}"
    out = run_append_memory(sess, name, spark)
    return out.filter(F.col("user_id") >= 0)


def _session_collect_stream(
    spark: SparkSession, sf_dir: str, gap_s: int, n_chunks: int, tag: str
) -> DataFrame:
    """Shared stage 1 of the order-aware session twins: a streaming
    session-window agg collects each session's (ts_us, event_id,
    event_type) triples, emitted exactly once at watermark close
    (append mode; the end-of-input sentinel flushes the tail, and its
    own user −1 session is dropped). ``sort_array`` over the structs
    makes in-session order deterministic regardless of arrival order.
    State = triples per open session — bounded by events-per-session ×
    sessions in the watermark horizon, the inherent floor for
    order-aware session analytics."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks, sentinel=True)
    sess = (
        ev.groupBy(F.session_window("ts", f"{gap_s} seconds").alias("w"), "user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("us"),
                        F.col("event_id").alias("eid"),
                        F.col("event_type").alias("et"),
                    )
                )
            ).alias("evs")
        )
        .select("user_id", "evs")
    )
    name = f"{tag}_stream_{abs(hash((sf_dir, n_chunks)))}"
    return run_append_memory(sess, name, spark).filter(F.col("user_id") >= 0)


def session_paths_stream(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    k: int = 10,
    n_chunks: int = 4,
) -> DataFrame:
    """Streaming twin of ``behavior.session_paths_topk`` — top-k 3-step
    paths over *closed* sessions, as the two-stage pipeline production
    would run: (1) a streaming session-window agg collects each
    session's (ts_us, event_id, event_type) triples and emits the
    session exactly once when the watermark passes its close (append
    mode; the end-of-input sentinel flushes the tail); (2) a batch
    rollup over the emitted sessions explodes in-session 3-grams and
    ranks paths. Two stages because path ranking is a second stateful
    agg over session output — a sink boundary (here: memory; in
    production: the session table) is the idiomatic Spark split.

    State posture: the open-session state holds the session's event
    triples (not payloads) — bounded by events-per-session × sessions
    inside the watermark horizon, the inherent floor for order-aware
    path mining. ``sort_array`` over the (us, eid, et) structs makes
    the in-session order deterministic regardless of arrival order.

    Exact oracle: streaming session_window ≡ batch gap-islands on
    finite input, so ``behavior.session_paths_topk_oracle_sql`` applies
    unchanged (streaming ≡ batch ≡ oracle)."""
    closed = _session_collect_stream(spark, sf_dir, gap_s, n_chunks, "session_paths")
    paths = (
        closed.filter(F.size("evs") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(evs) - 2),"
                    " i -> concat_ws('>', evs[i-1].et, evs[i].et, evs[i+1].et))"
                )
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = paths.withColumn(
        "rnk", F.rank().over(Window.orderBy(F.desc("cnt"), F.asc("path")))
    )
    return ranked.filter(F.col("rnk") <= k)


def dwell_gaps_stream(
    spark: SparkSession, sf_dir: str, gap_s: int = 1800, n_chunks: int = 4
) -> DataFrame:
    """Streaming twin of ``behavior.dwell_gaps`` — per-event-type
    in-session dwell time over *closed* sessions, sharing stage 1
    (`_session_collect_stream`) with the path miner: consecutive-pair
    µs gaps are a map-only explode over each emitted session's sorted
    triples, then one partial-aggregated rollup over the event-type
    domain. Exact oracle: identical gap set as the batch gap-islands
    form on finite input, so ``behavior.dwell_gaps_oracle_sql``
    applies unchanged (streaming ≡ batch ≡ oracle)."""
    closed = _session_collect_stream(spark, sf_dir, gap_s, n_chunks, "dwell_gaps")
    gaps = closed.filter(F.size("evs") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(evs) - 1),"
                " i -> struct(evs[i-1].et AS et, evs[i].us - evs[i-1].us AS gap_us))"
            )
        ).alias("g")
    )
    return (
        gaps.groupBy(F.col("g.et").alias("event_type"))
        .agg(F.count("*").alias("n_gaps"), F.sum("g.gap_us").alias("sum_us"))
        .select(
            "event_type",
            "n_gaps",
            F.expr("sum_us div 1000000").alias("total_dwell_s"),
            (F.col("sum_us").cast("double") / F.lit(1_000_000) / F.col("n_gaps")).alias(
                "avg_dwell_s"
            ),
        )
    )


def pv_anomaly_stream(
    spark: SparkSession,
    sf_dir: str,
    event_type: str = "view",
    lookback: int = 8,
    sigmas: float = 3.0,
    n_chunks: int = 4,
) -> DataFrame:
    """Streaming twin of ``network_flow.pv_anomaly`` — per-item
    traffic-spike flags as the two-stage pipeline production runs: (1)
    a watermarked tumbling 1 h (item, hour) count in **append** mode
    emits each bucket exactly once when the watermark closes it (the
    end-of-input sentinel flushes the tail); (2) the trailing z-score
    runs as a batch window over the emitted buckets — aggregate
    cardinality (items × active hours), exactly where a production job
    would hang the alerting query off the bucket table. A sink
    boundary is the idiomatic Spark split for a second stateful
    computation over closed windows; the alternative (chaining a
    custom stateful processor after a windowed agg in one query) is
    unsupported by design in Structured Streaming.

    Exact oracle: append-mode hourly buckets ≡ the batch hourly agg on
    finite input, and stage 2 is the batch operator's own
    ``network_flow.spike_flags`` — so ``pv_anomaly_oracle_sql`` applies
    unchanged."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks, sentinel=True)
    # The sentinel row MUST survive this filter: Catalyst pushes a
    # deterministic predicate below the EventTimeWatermark node into
    # the parquet scan, and row-group stats then prune the sentinel
    # file to 0 rows — the watermark never advances past end-of-input
    # and the corpus's final hour of buckets is silently withheld
    # (observed at sf0.1: 820 vs 822 flags). OR-ing the sentinel type
    # keeps the row flowing through the watermark operator; its own
    # (null-item, far-future) bucket can never close before the query
    # ends, and the post-sink isNotNull guard removes it regardless.
    keep = (
        (F.col("event_type") == event_type) & F.col("item_id").isNotNull()
    ) | (F.col("event_type") == SENTINEL_TYPE)
    hourly = (
        ev.filter(keep)
        .groupBy("item_id", F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select("item_id", F.col("w.end").cast("long").alias("hour_s"), "cnt")
    )
    name = f"pv_anomaly_stream_{abs(hash((sf_dir, n_chunks)))}"
    buckets = run_append_memory(hourly, name, spark).filter(
        F.col("item_id").isNotNull()
    )
    return spike_flags(buckets, lookback, sigmas)


def dedup_events_stream(
    spark: SparkSession,
    sf_dir: str,
    keys: list[str] | None = None,
    n_chunks: int = 4,
    watermark: str = "10 minutes",
) -> DataFrame:
    """§2.10 streaming exact dedup: ``dropDuplicatesWithinWatermark``
    keeps the first arrival per key and suppresses re-arrivals while
    the key is inside the watermark horizon — the state-store dedup
    whose memory is bounded by (keys per watermark window), the only
    form that survives unbounded input. Equals batch distinct whenever
    duplicate arrivals fall within the watermark of each other
    (asserted on a crafted fixture in tests; on arbitrary input it is
    intentionally weaker than global distinct)."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks, watermark=watermark)
    dedup = ev.dropDuplicatesWithinWatermark(keys or ["user_id", "event_type", "item_id"])
    out = dedup.select("event_id", "user_id", "event_type", "item_id")
    return run_append_memory(out, "dedup_events_stream", spark)


def hot_pages_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """W2 streaming — Top-N hot pages per 10 min/5 min sliding window
    with late-update overwrite (reference HotPagesNetworkFlow.scala ::
    TopNHotPages MapState-overwrite [U]): the update-mode fold keeps the
    latest count per (window, page) before ranking — exactly the
    overwrite semantics, shared with hot_items_stream."""
    df = hot_items_stream(
        spark,
        sf_dir,
        window="10 minutes",
        slide="5 minutes",
        n=3,
        event_type="click",
        n_chunks=n_chunks,
    )
    return df.withColumnRenamed("item_id", "page_id")


def pv_hourly_late_observed(
    spark: SparkSession,
    sf_dir: str,
    event_type: str = "view",
    n_chunks: int = 4,
    watermark: str = "10 minutes",
):
    """T7 — late-data observability. The reference routes late rows to
    a side output (HotPagesNetworkFlow.scala ::
    sideOutputLateData(OutputTag("late")) [U]); Structured Streaming
    instead *drops* rows older than the watermark at the stateful
    operator and reports them via
    ``stateOperators.numRowsDroppedByWatermark`` — the engine exposes
    that counter as the late-data signal. The replay scrambles a whole
    chunk to arrive late, so the counter is provably exercised.

    Returns (result_df, n_dropped_rows).
    """
    ev = events_stream(
        spark, sf_dir, n_chunks=n_chunks, watermark=watermark, scramble=True
    )
    counts = pv_rollup_frame(ev, event_type).select(win_end_s(), "pv")
    _NAME_SEQ[0] += 1
    name = f"pv_late_{_NAME_SEQ[0]}"
    with stream_shuffle_partitions(spark):
        q = (
            counts.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    dropped = 0
    for prog in q.recentProgress:
        for op in prog["stateOperators"]:
            dropped += op.get("numRowsDroppedByWatermark", 0)
    return spark.table(name), dropped


def pv_hourly_append(
    spark: SparkSession,
    sf_dir: str,
    event_type: str = "view",
    n_chunks: int = 4,
    watermark: str = "10 minutes",
):
    """A3 in **append** mode: windows emit exactly once, when the
    watermark passes their end (T1/T2 + T6 semantics). On finite input
    the tail windows above the final watermark are withheld — the test
    asserts emitted ≡ batch result strictly below the final watermark
    and nothing else. Returns (result_df, final_watermark_epoch_s).
    """
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks, watermark=watermark)
    counts = pv_rollup_frame(ev, event_type).select(win_end_s(), "pv")
    name = f"pv_append_{abs(hash((sf_dir, n_chunks)))}"
    out = run_append_memory(counts, name, spark)
    # final watermark = max event time - delay (computed batch-side)
    max_ts = load_events(spark, sf_dir).agg(F.max("ts").cast("long")).collect()[0][0]
    delay_s = 600 if watermark == "10 minutes" else 0
    return out, max_ts - delay_s


def pii_scrub_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Stateless streaming transform twin of ``llm_text.pii_scrub`` —
    the one streaming family with NO state at all: a per-row regex
    projection in append mode. No watermark, no state store, nothing
    retained between micro-batches; at scale this runs as a pure
    map-only continuous pipeline whose throughput is the parquet/Kafka
    scan rate. Shares ``pii_scrub_projection`` with the batch operator,
    so the batch oracle is the streaming oracle."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks, watermark=None)
    return run_append_memory(pii_scrub_projection(ev), "pii_scrub_stream", spark)


def _id_range_chunks(df: DataFrame, id_col: str, n_chunks: int) -> list[DataFrame]:
    """Split ``df`` into ``n_chunks`` equal-width ``id_col`` ranges, in
    id order (the replay order of an id-stamped feed)."""
    ids = F.col(id_col)
    bounds = df.select(F.min(ids).alias("lo"), F.max(ids).alias("hi")).collect()[0]
    lo, hi = bounds["lo"] or 0, bounds["hi"] or 0
    step = max((hi - lo) // n_chunks + 1, 1)
    return [
        df.filter((ids >= lo + k * step) & (ids < lo + (k + 1) * step))
        for k in range(n_chunks)
    ]


def docs_stream(
    spark: SparkSession,
    sf_dir: str,
    min_doc_id: int = 0,
    n_chunks: int = 4,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Micro-batch replay of the documents table (doc_id ≥ min_doc_id)
    as a stream — the ingestion-feed twin of `replay.events_stream`.
    Documents carry no event time, so one is synthesized as
    epoch + doc_id seconds (ingestion order = id order, the way a real
    feed stamps arrival time); chunks are doc_id ranges written in
    order so the file source replays them as an in-order stream. Doc 0
    is stamped at epoch 0, which is not above the initial watermark of
    0, so a watermarked aggregation keyed on ``ts`` treats it as late
    and drops it."""
    docs = load_table(spark, sf_dir, "documents")

    def build() -> str:
        feed = docs.filter(F.col("doc_id") >= min_doc_id)
        return write_ordered_chunks(
            _id_range_chunks(feed, "doc_id", n_chunks), "ubx-docs-replay-"
        )

    key = session_key(spark, sf_dir, "docs-chunks", min_doc_id, n_chunks)
    raw = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(session_memo(key, build))
    )
    ts = F.timestamp_seconds(F.col("doc_id"))
    return raw.withColumn("ts", ts).withWatermark("ts", watermark)


def dedup_incremental_stream(
    spark: SparkSession, sf_dir: str, split_id: int = 250, n_chunks: int = 4
) -> DataFrame:
    """§2.10 streaming twin of `llm_text.dedup_incremental` — the
    ingestion-time dedup as it actually runs in production: a document
    feed dedups against (a) itself via watermark-bounded
    ``dropDuplicatesWithinWatermark`` state on the canonical
    fingerprint, and (b) the already-ingested corpus via a
    **stream-static LEFT ANTI join** — a stateless per-micro-batch
    probe of the static fingerprint index (the join mode the batch op's
    AQE note describes, demonstrated here in its streaming form; no
    other twin exercises stream-static anti).

    Arrival-order survivor semantics (rows-only registry entry): the
    emitted fingerprint SET equals the batch operator's exactly —
    asserted in tests — while which copy survives is first-arrival,
    as in any real ingestion feed.

    Output: (doc_id, set_md5) of accepted batch docs.
    """
    fp = _canonical_set_md5()
    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < split_id)
        .select(fp.alias("set_md5"))
        .distinct()
    )
    st = docs_stream(spark, sf_dir, min_doc_id=split_id, n_chunks=n_chunks)
    fresh = (
        st.select("doc_id", "ts", fp.alias("set_md5"))
        .dropDuplicatesWithinWatermark(["set_md5"])
        .join(corpus, "set_md5", "left_anti")
        .select("doc_id", "set_md5")
    )
    return run_append_memory(fresh, "dedup_incremental_stream", spark)


def gopher_quality_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Stateless streaming quality gate: the Gopher-rules decision
    layer applied at INGEST over the document feed — each doc arrives
    whole, so the per-doc signals need no cross-row state and the
    whole gate is a map-only append-mode projection running at scan
    rate (same streaming family as ``pii_scrub_stream``).

    Uses the map-only ``gopher_quality_projection`` formulation
    (array HOFs + sorted-run top-token count) rather than the batch
    explode→groupBy form — a streaming groupBy(doc_id) would hold
    per-doc state until watermark for no reason. Output is
    bit-identical to the batch operator, so the batch oracle is the
    streaming oracle.
    """
    docs = docs_stream(spark, sf_dir, n_chunks=n_chunks)
    return run_append_memory(
        gopher_quality_projection(docs), "gopher_quality_stream", spark
    )


def chunk_documents_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Stateless streaming chunker: sliding-window context chunking
    applied at ingest over the document feed (append mode, zero state —
    same streaming family as ``pii_scrub_stream``/
    ``gopher_quality_stream``). Shares ``llm_text.chunk_projection``,
    so the batch oracle is the streaming oracle."""
    docs = docs_stream(spark, sf_dir, n_chunks=n_chunks)
    return run_append_memory(
        chunk_projection(docs.select("doc_id", "text")),
        "chunk_documents_stream",
        spark,
    )


def decode_meta_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Stateless streaming MULTIMODAL decode: the mixed BMP/PNG
    encode→decode Arrow passes of ``multimodal.decode_meta_table``
    applied at ingest over the document feed — the shape a production
    media pipeline has (payloads arrive on a feed, metadata extraction
    runs as a continuous map). Both mapInPandas passes are stateless,
    so the whole thing is an append-mode projection at scan rate (zero
    state, no watermark — the ``pii_scrub_stream`` family). Shares
    ``decode_meta_projection`` with the batch operator, so the batch
    hash oracle is the streaming oracle."""
    docs = docs_stream(spark, sf_dir, n_chunks=n_chunks)
    return run_append_memory(
        decode_meta_projection(docs.select("doc_id", "text")),
        "decode_meta_stream",
        spark,
    )


def audio_features_mulaw_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Stateless streaming AUDIO decode: the G.711 μ-law
    compress→container→expand→window Arrow passes applied at ingest
    over the document feed (the ``decode_meta_stream`` family — a
    production speech pipeline extracts features as the audio lands).
    Both mapInPandas passes are stateless, so the whole thing is an
    append-mode projection at scan rate (zero state, no watermark).
    Shares ``mulaw_features_projection`` with the batch operator, so
    the batch hash oracle is the streaming oracle."""
    docs = docs_stream(spark, sf_dir, n_chunks=n_chunks)
    return run_append_memory(
        mulaw_features_projection(docs.select("doc_id", "text")),
        "audio_features_mulaw_stream",
        spark,
    )


def expectations_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Continuous data-quality monitoring: the per-row expectation
    families of ``operators.expectations.table_expectations`` (domain
    membership, value bounds) evaluated per event-time hour over the
    live stream — the alerting form of the batch gate (a production
    pipeline runs BOTH: the stream flags a bad producer within one
    window; the batch gate blocks the day's batch).

    Only the single-row checks stream; key-uniqueness and referential
    integrity stay batch-side by design — they are cross-row global
    properties whose streaming forms (dropDuplicatesWithinWatermark,
    stream-static anti-join) already exist as dedicated operators
    (``dedup_events_stream``, ``dedup_incremental_stream``).

    Scale shape: ONE watermarked windowed aggregate carrying the
    conditional sums (same fused-scan discipline as the batch suite —
    never one stream per check); the stack to verdict rows is a
    map-only projection AFTER the agg; update-mode merge keyed on
    (window_end, check). Late events re-open only their own hour.
    """
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks)
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").cast("long").alias("n_checked"),
        _viol(~F.col("event_type").isin(*EVENT_TYPES)).alias("v_type"),
        _viol(~(F.col("value") > 0)).alias("v_value_pos"),
        _viol(F.col("value") > 400).alias("v_value_cap"),
    )
    rows = agg.select(
        win_end_s(),
        "n_checked",
        F.expr(
            "stack(3,"
            " 'events_type_in_domain', v_type,"
            " 'events_value_positive', v_value_pos,"
            " 'events_value_le_400', v_value_cap) AS (check, n_violations)"
        ),
    ).select(
        "window_end",
        "check",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
    return run_update_merge(rows, ["window_end", "check"], spark)


def hashed_features_stream(
    spark: SparkSession,
    sf_dir: str,
    dims: int = 1024,
    seed: str = "fh1",
    n_chunks: int = 4,
) -> DataFrame:
    """Stateless streaming feature hashing — ingest-time featurization
    of the document feed (append mode, zero state: each document is
    one atomic row, so its sparse feature counts are row-local and
    need no cross-row aggregation). Arrow-batched ``mapInPandas``
    replicating the batch operator's md5-mod arithmetic bit-exactly
    (same first-8-hex-digits base-16 parse, same modulus), so the
    batch oracle IS the streaming oracle — the vocabulary-free twin of
    the ``pii_scrub_stream``/``chunk_documents_stream`` family.
    """
    import hashlib

    import pandas as pd

    d = int(dims)

    def featurize(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            out_doc, out_idx, out_cnt = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts: dict[int, int] = {}
                for tok in (text or "").split(" "):
                    h = hashlib.md5(f"{seed}:{tok}".encode()).hexdigest()[:8]
                    idx = int(h, 16) % d
                    counts[idx] = counts.get(idx, 0) + 1
                for idx, cnt in counts.items():
                    out_doc.append(doc_id)
                    out_idx.append(idx)
                    out_cnt.append(cnt)
            yield pd.DataFrame(
                {"doc_id": out_doc, "feat_idx": out_idx, "cnt": out_cnt}
            )

    docs = docs_stream(spark, sf_dir, n_chunks=n_chunks).select("doc_id", "text")
    feats = docs.mapInPandas(
        featurize, schema="doc_id long, feat_idx long, cnt long"
    )
    return run_append_memory(feats, "hashed_features_stream", spark)


def dup_span_incremental_stream(
    spark: SparkSession, sf_dir: str, w: int = 4, split_id: int = 250, n_chunks: int = 4
) -> DataFrame:
    """§2.10 streaming twin of ``llm_text.dup_span_incremental`` —
    ingestion-time exact-substring span detection as a live feed runs
    it: each arriving document's stride-1 ``w``-grams probe the
    already-ingested corpus's distinct-gram index via a **stream-static
    LEFT SEMI join** (a stateless per-micro-batch probe — work ∝ batch,
    never corpus), the surviving hit positions collect per (window,
    doc) with watermark-evicted state (each doc arrives whole in one
    micro-batch, so its aggregate is final the batch it lands), and
    the gaps-and-islands merge runs on the compacted changelog after
    the sink boundary (the ``session_paths_stream`` post-sink pattern).

    The output is fully deterministic — hit positions depend only on
    (doc text, static index) — so this twin shares the BATCH operator's
    oracle: streaming ≡ batch ≡ oracle, the same online/offline proof
    ``trailing_features_stream`` gives the feature pillar.

    Output: (doc_id, span_start, span_end, n_words_dup), batch docs only.
    """

    index = (
        _dup_gram_positions(
            load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < split_id), w
        )
        .select("g_md5")
        .distinct()
    )
    st = docs_stream(spark, sf_dir, min_doc_id=split_id, n_chunks=n_chunks)
    grams = _dup_gram_positions(st, w, "ts")
    hits = grams.join(index, "g_md5", "left_semi")
    agg = hits.groupBy(F.window("ts", "1 minute").alias("wd"), "doc_id").agg(
        F.sort_array(F.collect_list("p")).alias("ps")
    )
    log = run_update_merge(agg, ["wd", "doc_id"], spark)
    pos = log.select("doc_id", F.explode("ps").alias("p"))
    return _merge_islands(pos, w).select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("n_words_dup"),
    )


def cdc_apply_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Streaming twin of ``maintenance.cdc_apply`` — the CDC feed
    consumed LIVE: an update-mode per-key aggregation holds each key's
    last-write-wins record (the (ts_ns, event_id) struct-max — the
    same combiner-friendly argmax as the batch op) plus its change
    count, and every micro-batch upserts the changed keys through the
    changelog-MERGE sink. Tombstones stay IN the state (a deleted key
    must keep absorbing later reinserts) and filter out only at the
    final read — exactly the batch op's retention rule.

    State grows with LIVE KEYS, not feed length — the inherent state
    requirement of CDC materialization (a key's latest record must be
    consultable forever), which is why this is the one twin family
    that aggregates without a watermark: eviction would forget keys
    that can still change. The final state is order-insensitive
    (max + count are commutative), so the BATCH oracle applies:
    streaming ≡ batch ≡ oracle.
    """
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks, watermark=None)
    state = run_update_merge(_cdc_compact(_cdc_feed(ev)), ["user_id"], spark)
    return _cdc_snapshot(state)


def term_blocklist_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Stateless streaming blocklist gate — where the C4-style wordlist
    filter actually runs in production: at INGEST over the document
    feed. Each doc arrives whole, so the count is a map-only array
    expression per row (no explode→groupBy state) and the gate runs at
    scan rate in append mode (the ``pii_scrub_stream`` family). Output
    is value-identical to the batch operator, so the batch oracle is
    the streaming oracle.
    """
    docs = docs_stream(spark, sf_dir, n_chunks=n_chunks)
    terms = F.array(*[F.lit(t) for t in BLOCKLIST_TERMS])
    n_blocked = F.size(
        F.filter(F.split("text", " "), lambda t: F.array_contains(terms, t))
    ).cast("long")
    out = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        n_blocked.alias("n_blocked"),
        (n_blocked == 0).alias("keep"),
    )
    return run_append_memory(out, "term_blocklist_stream", spark)


def _doc_term_pairs() -> F.Column:
    """Row-local (term, tf) pairs of a doc's ``text``: distinct non-empty
    tokens, each with its in-doc count (array HOFs, no explode→groupBy
    pass — a stream allows one aggregation per query)."""
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    return F.transform(
        F.array_distinct(toks),
        lambda t: F.struct(
            t.alias("term"),
            F.size(F.filter(toks, lambda x: x == t)).cast("long").alias("tf"),
        ),
    )


def term_stats_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Streaming maintenance of the search pillar's term dictionary
    (:func:`operators.search.term_stats_maintain`): (term, df, cf) is
    an exact mergeable summary (docs immutable, feed append-only), so
    it is maintained at INGEST as ONE update-mode keyed agg + the
    changelog-MERGE sink — the ``value_hist_daily_stream`` discipline
    applied to text. State is the dictionary itself (bounded by the
    vocabulary, KB scale), never raw rows.

    Structured Streaming allows a single aggregation per query, so the
    per-doc (term, tf) pairs are computed ROW-LOCALLY with array HOFs
    (distinct tokens → struct(term, count-in-doc) → one explode)
    instead of a first explode→groupBy pass; the one streaming agg is
    then count(*) = df (each doc contributes once per distinct term)
    and sum(tf) = cf. Deterministic integers end to end, and the feed
    replays ALL docs, so the finite replay is hash-oracled against the
    batch REBUILD oracle: streaming ≡ maintained ≡ rebuilt."""
    docs = docs_stream(spark, sf_dir, n_chunks=n_chunks)
    dic = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(_doc_term_pairs()).alias("p"))
        .select("p.term", "p.tf")
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    )
    return run_update_merge(dic, ["term"], spark)


def fts_topk_stream_maintained(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4, k: int = 10
) -> DataFrame:
    """Retrieval over STREAM-MAINTAINED postings — the ingest-feeds-
    search story end to end: each arriving document appends its own
    (term, doc_id, tf) postings rows plus one doc-count marker row.
    Postings at (term, doc) grain are ROW-LOCAL for immutable docs
    (the same array-HOF pair construction as ``term_stats_stream``),
    so index maintenance is a STATELESS append projection at feed
    speed — zero state, no watermark, the pii_scrub_stream class; in
    production the sink is the term-partitioned postings table the
    batch overlay commit writes (``search.build_fts_index_split``).

    After the replay, the conjunctive exact-integer tf-idf ranking
    (`search._rank_query_frame`) runs over the maintained relation —
    dictionary df and corpus doc count derived from the maintained
    rows themselves (the marker rows carry docs whose text yields no
    tokens, so N stays exact). The feed replays ALL docs, so the batch
    REBUILD oracle applies at full hash strength:
    streaming-maintained ≡ rebuilt (fts_topk_oracle_sql)."""
    docs = docs_stream(spark, sf_dir, n_chunks=n_chunks)
    marker = F.array(
        F.struct(F.lit("").alias("term"), F.lit(0).cast("long").alias("tf"))
    )
    rows = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.concat(_doc_term_pairs(), marker)).alias("p"))
        .select("doc_id", "p.term", "p.tf")
    )
    maintained = run_append_memory(rows, "fts_postings_stream", spark)
    post = maintained.filter(F.col("term") != "")
    n = maintained.filter(F.col("term") == "").agg(F.count("*").alias("n_docs"))
    # the dictionary re-aggregates the SAME memory-table lineage the
    # postings probe scans; route the grouping key through a rename so
    # the downstream post ⋈ dfq join doesn't carry conflicting
    # attribute ids from the shared SubqueryAlias
    dic = (
        post.select(F.col("term").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("df"))
        .withColumnRenamed("t", "term")
    )
    q, qn = _query_frames(spark)
    return _rank_query_frame(post, dic, n, k, q, qn, require_all=True)


def ingest_accept_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Streaming twin of the composed admission pipeline's per-doc
    PREFIX (``operators.ingest``): malformed → blocklist → gopher →
    exact-dup-vs-corpus, run at INGEST over the document feed as one
    readStream dataflow — row-local array-HOF token signals (zero
    state, append mode, feed speed) plus ONE stream-static left join
    against the corpus fingerprint index (the ``dedup_incremental_
    stream`` probe discipline, here as a verdict column instead of a
    filter).

    Deliberately excluded, and why (the batch cascade's docstring is
    the contract): the drift gate is a batch-grain aggregate — its
    streaming analog would gate per-micro-batch, a different
    semantics — and the intra-batch exact survivor election plus the
    near/span stages need cross-row or corpus-gram state; they run as
    the micro-batch admission job downstream (``dedup_incremental_
    stream`` / ``dup_span_incremental_stream`` are those pieces).
    Output is per-doc deterministic, so the prefix ORACLE applies
    directly: streaming ≡ batch prefix ≡ oracle. Consistency with the
    full batch cascade's verdicts is test-asserted (prefix verdicts
    identical; stream 'accept' ⟺ the batch pipeline judged the doc at
    a downstream stage or accepted it).
    """
    split_id = INGEST_DEFAULTS["split_id"]
    corpus_fp = corpus_fingerprints(spark, sf_dir, split_id)
    st = docs_stream(spark, sf_dir, min_doc_id=split_id, n_chunks=n_chunks)
    out = ingest_prefix_projection(st, corpus_fp)
    return run_append_memory(out, "ingest_accept_stream", spark)


def value_hist_daily_stream(
    spark: SparkSession, sf_dir: str, bin_inv: int = 4, n_chunks: int = 4
) -> DataFrame:
    """Streaming maintenance of the mergeable quantile summary
    (:func:`operators.network_flow.value_hist_daily`): the daily
    histogram grid is exactly the shape a streaming agg keeps
    incrementally — watermarked 1-day event-time windows keyed by
    (window, event_type, bucket), update-mode re-emits corrected grid
    cells as late rows land, and the changelog-MERGE sink folds them
    to the final grid. Deterministic integer arithmetic end to end, so
    the finite replay is hash-oracled against the BATCH oracle
    (streaming ≡ batch ≡ oracle). State is the grid itself (bounded by
    days-in-horizon × types × buckets, watermark-evicted), never raw
    rows — the at-ingest form of the summary's 100 TB story: raw
    events are seen once, only grid cells persist."""
    return _daily_grid_stream(spark, sf_dir, value_bucket(bin_inv), n_chunks)


def _daily_grid_stream(
    spark: SparkSession, sf_dir: str, bucket: F.Column, n_chunks: int
) -> DataFrame:
    """The maintained (day, event_type, bucket, cnt) value grid:
    watermarked 1-day windows keyed by (window, event_type, ``bucket``)
    over non-null values, folded by the changelog-MERGE sink."""
    ev = events_stream(spark, sf_dir, n_chunks=n_chunks)
    grid = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type", bucket.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").cast("date").cast("string").alias("day"),
            "event_type",
            "bucket",
            "cnt",
        )
    )
    return run_update_merge(grid, ["day", "event_type", "bucket"], spark)


def value_percentiles_ddsketch_stream(
    spark: SparkSession, sf_dir: str, alpha: float = 0.01, n_chunks: int = 4
) -> DataFrame:
    """Streaming maintenance of the DDSketch log-gamma grid (r10 —
    the relative-accuracy companion to :func:`value_hist_daily_stream`
    's fixed grid): watermarked 1-day windows keyed by (window,
    event_type, log-gamma bucket), update-mode corrections folded by
    the changelog-MERGE sink, then the shared rank-pick read
    (:func:`operators.network_flow.ddsketch_quantiles_from_grid`) runs
    over the MAINTAINED state. The bucketization is the same
    ``ddsketch_bucket`` column the batch sketch uses — one engine, one
    libm — so the streamed grid is bit-identical to the batch grid and
    the returned quantiles match :func:`value_percentiles_ddsketch`
    EXACTLY (test-asserted, along with the 1% relative-error bound on
    the streamed state). Registered rows-only for the same libm-ln
    reason as the batch entry; the exact stream≡batch equality is the
    stronger check and lives in pytest. State is the KB-scale grid,
    never raw rows."""

    gamma = (1.0 + alpha) / (1.0 - alpha)
    state = _daily_grid_stream(
        spark, sf_dir, ddsketch_bucket(F.col("value"), gamma), n_chunks
    )
    merged = state.groupBy("event_type", "bucket").agg(F.sum("cnt").alias("cnt"))
    return ddsketch_quantiles_from_grid(merged, gamma)


def embeddings_stream(
    spark: SparkSession,
    sf_dir: str,
    only_overlay: bool = True,
    n_chunks: int = 4,
) -> DataFrame:
    """Micro-batch replay of the embeddings table as a vector-ingest
    feed (the `docs_stream` layout contract: ordered chunk files,
    maxFilesPerTrigger=1). ``only_overlay`` replays just the
    maintained-ANN lifecycle's ingest batch (vec_id % 5 = 0) — the
    vectors whose at-ingest encode the streaming twin maintains."""

    def build() -> str:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        if only_overlay:
            emb = emb.filter(F.col("vec_id") % _ANN_SPLIT_MOD == 0)
        return write_ordered_chunks(
            _id_range_chunks(emb, "vec_id", n_chunks), "ubx-emb-replay-"
        )

    key = session_key(spark, sf_dir, "emb-chunks", only_overlay, n_chunks)
    return (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(session_memo(key, build))
    )


def ann_encode_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Streaming at-ingest ANN encode — completes the "every persisted
    index maintained at feed speed" story (term stats, postings, and
    the DDSketch grids already have their at-ingest twins): arriving
    vectors are encoded against the FROZEN nightly models (cell id +
    packed PQ codes, the exact `_encode_with_models` pass the overlay
    commit runs) as a STATELESS Arrow-batched append projection — zero
    state, no watermark, no shuffle; throughput is the feed scan rate.
    The models are a KB-scale closure (n_cells·d + m_sub·n_codes·d
    doubles), broadcast to executors inside the mapInPandas closure —
    corpus-independent by construction.

    The feed replays the maintained lifecycle's ingest batch
    (vec_id % 5 = 0), so the emitted (vec_id, cell, lo, hi) SET equals
    the batch overlay commit of :func:`build_ann_index_split`
    bit-for-bit (encode is deterministic given frozen models; pytest
    pins stream ≡ batch-overlay ≡ rebuilt-encode). Registered
    rows-only: k-means cells are engine-specific, so no SQL oracle —
    the cross-twin equality is the stronger check.

    Output: (vec_id, cell, lo, hi).
    """
    base, _overlay = build_ann_index_split(spark, sf_dir)
    cents, books = _load_ann_model(spark, base)
    feed = embeddings_stream(spark, sf_dir, only_overlay=True, n_chunks=n_chunks)
    enc = _encode_with_models(feed, cents, books).select("vec_id", "cell", "lo", "hi")
    return run_append_memory(enc, "ann_encode_stream", spark)


def ts_ohlc_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Streaming OHLC bar maintenance — the at-ingest twin of
    ``operators.timeseries.ts_ohlc_hourly``: watermarked 1 h event-time
    windows keyed by (window, event_type), with open/close as struct
    min/max over the unique (t_us, event_id) order — struct extrema are
    ordinary declarative aggs, so late rows fold into the bar's state
    incrementally (no per-window sort, no raw-row retention; state =
    one struct pair + 4 scalars per live bar, watermark-evicted).
    Update-mode re-emits corrected bars; the changelog MERGE keeps the
    latest. Deterministic integers end to end, so the finite replay is
    hash-oracled against the BATCH oracle (streaming ≡ batch ≡ oracle).
    """
    obs = _obs(events_stream(spark, sf_dir, n_chunks=n_chunks), "ts")
    bars = ohlc_bars(obs, F.window("ts", "1 hour").alias("w"), "event_type")
    bars = bars.select(
        "event_type", F.col("w.start").cast("long").alias("hour_start"), *bars.columns[2:]
    )
    return run_update_merge(bars, ["event_type", "hour_start"], spark)
