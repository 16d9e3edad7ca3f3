"""MarketAnalysis capabilities: windowed counts by (channel, behavior),
global marketing totals, click-fraud blacklist threshold.

Reference: MarketAnalysis/.../{AppMarketingByChannel, AppMarketing,
AdClickAnalysis}.scala [U] (SURVEY §2.4 A7-A9, §2.7 ST4).

Mapping onto driver testdata (FIXTURES §B): behavior := event_type,
channel := user_id % 4 bucket (deterministic synthetic channel),
ad := item_id (props.k).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_project_userbehavioranalysis_spark.functions import win_end_s, win_start_s
from flink_project_userbehavioranalysis_spark.io import load_events, load_table

CHANNELS = 4  # synthetic channel buckets


def count_by_channel_behavior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — tumbling 1 h counts keyed by (channel, behavior)
    (reference AppMarketingByChannel.scala :: MarketingCountByChannel
    [U]; its MarketingViewCount row carries windowStart AND windowEnd —
    A2 window-metadata decoration — so both bounds are emitted here).
    One shuffle, map-side partial agg; composite grouping key adds no
    extra exchange.

    The registered surface is all-numeric except ``behavior``: the
    channel is the raw integer bucket, NOT a formatted ``'chN'`` label.
    The r7 bench profile (BASELINE.md §r7) pinned this query's gap to
    client-side row decode of the ~11.5k-row result — the engine-side
    plan was already at the floor — so the presentation string moved to
    the :func:`count_by_channel_report` twin (the ``hot_items_report``
    pattern): machine consumers read cheap fixed-width columns, humans
    read the report."""
    return channel_counts(load_events(spark, sf_dir))


def channel_counts(events: DataFrame) -> DataFrame:
    """The (window, channel, behavior) count frame shared by
    :func:`count_by_channel_behavior` and its streaming twin."""
    return (
        events.filter(F.col("event_type") != "error")  # P3 inequality filter (≈ UNINSTALL exclusion)
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            (F.col("user_id") % CHANNELS).alias("channel"),
            F.col("event_type").alias("behavior"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(win_start_s(), win_end_s(), "channel", "behavior", "cnt")
    )


def count_by_channel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 presentation twin of :func:`count_by_channel_behavior`: the
    human-facing ``'chN'`` channel label, built post-aggregation (on
    ~windows×channels×behaviors rows, never per event)."""
    return count_by_channel_behavior(spark, sf_dir).select(
        "window_start",
        "window_end",
        F.concat(F.lit("ch"), F.col("channel").cast("string")).alias("channel"),
        "behavior",
        "cnt",
    )


def marketing_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — global sliding-window count, no key (reference
    AppMarketing.scala [U] uses a dummy-key hack; Spark windows don't
    need a key)."""
    events = load_events(spark, sf_dir)
    return (
        events.filter(F.col("event_type") != "error")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("total"))
        .select(win_end_s(), "total")
    )


def ad_clicks_by_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7-geo — tumbling 1 h ad-click counts by geographic dimension
    (reference AdClickAnalysis.scala :: AdClickCountByProvince [U]:
    windowed click counts keyed by province). Province analog on this
    testdata = the customer→nation→region star dims.

    Scale shape: the two dim hops are pre-joined into one narrow
    (custkey → nation, region) dim and attached to the fact side with
    an explicit ``F.broadcast`` — the click stream never shuffles for
    the join; the only exchange is the windowed aggregation's."""
    return geo_click_counts(load_events(spark, sf_dir), geo_dim(spark, sf_dir))


def geo_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer→nation→region dim as one narrow
    (c_custkey, nation, region) relation."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )


def geo_click_counts(events: DataFrame, dim: DataFrame) -> DataFrame:
    """The click-count frame shared by :func:`ad_clicks_by_geo` and its
    streaming twin (a stream-static join when ``events`` streams)."""
    clicks = events.filter(F.col("event_type") == "click")
    return (
        clicks.join(F.broadcast(dim), clicks.user_id == dim.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), "region", "nation")
        .agg(F.count("*").alias("clicks"))
        .select(win_end_s(), "region", "nation", "clicks")
    )


def blacklist(spark: SparkSession, sf_dir: str, threshold: int = 2) -> DataFrame:
    """A9/ST4 batch — (user, ad) pairs whose same-day click count
    reaches the threshold (reference AdClickAnalysis.scala ::
    FilterBlackListUserResult [U]: ValueState counter + daily-midnight
    reset timer + fire-once). Batch formulation = day-scoped GROUP BY
    + HAVING; fire-once/pass-through is a streaming concern (planned
    streaming processor). Threshold default 2 is data-calibrated: the
    max same-day (user, ad) click count in the synthetic events is 2
    at sf0.01 and sf0.1 (4 resp. 42 qualifying groups), so any higher
    threshold returns an always-empty — vacuously passing — result."""
    events = load_events(spark, sf_dir)
    return (
        events.filter((F.col("event_type") == "click") & F.col("item_id").isNotNull())
        .groupBy(
            F.date_trunc("day", "ts").cast("long").alias("day_start"),
            "user_id",
            F.col("item_id").alias("ad_id"),
        )
        .agg(F.count("*").alias("clicks"))
        .filter(F.col("clicks") >= threshold)
    )


# ---------------------------------------------------------------- oracle SQL

COUNT_BY_CHANNEL_BEHAVIOR_SQL = f"""
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
       CAST(epoch(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour') AS BIGINT) AS window_end,
       user_id % {CHANNELS} AS channel,
       event_type AS behavior,
       COUNT(*) AS cnt
FROM events WHERE event_type <> 'error'
GROUP BY 1, 2, 3, 4
"""

COUNT_BY_CHANNEL_REPORT_SQL = f"""
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
       CAST(epoch(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour') AS BIGINT) AS window_end,
       'ch' || CAST(user_id % {CHANNELS} AS VARCHAR) AS channel,
       event_type AS behavior,
       COUNT(*) AS cnt
FROM events WHERE event_type <> 'error'
GROUP BY 1, 2, 3, 4
"""

MARKETING_TOTAL_SQL = """
SELECT CAST(epoch(time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes' * j) AS BIGINT) AS window_end,
       COUNT(*) AS total
FROM events CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS j)
WHERE event_type <> 'error'
GROUP BY 1
"""


AD_CLICKS_BY_GEO_SQL = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL '1 hour') AS BIGINT) AS window_end,
       r.r_name AS region,
       n.n_name AS nation,
       COUNT(*) AS clicks
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE e.event_type = 'click'
GROUP BY 1, 2, 3
"""


def blacklist_oracle_sql(threshold: int = 2) -> str:
    return f"""
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
       user_id,
       TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS ad_id,
       COUNT(*) AS clicks
FROM events
WHERE event_type = 'click'
  AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
GROUP BY 1, 2, 3
HAVING COUNT(*) >= {threshold}
"""
