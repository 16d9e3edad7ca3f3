"""LoginFailDetect capabilities: consecutive-failure detection.

Reference: LoginFailDetect/.../{LoginFail, LoginFailWithCep}.scala [U]
(SURVEY §2.7 ST2/ST3). Mapping (FIXTURES §B): fail := event_type
'error'; any other event_type = success (clears the run).

Batch formulation is pure window functions (lag over user partitions)
— one shuffle on user_id, linear scan per partition, no state. The
streaming-exact variant (each user's previous event in state, kept in
user hash buckets; emits immediately, over the plain replay) is
``streaming/processors.py :: consec_fail_stream``; batch≡streaming is
asserted in tests/test_streaming_processors.py.

Ordering determinism: events are ordered by (ts, event_id) in BOTH
engines — microsecond timestamps could in principle tie, and a tie
broken differently flips lag() results.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.io import load_events

GAP_SECONDS = 7200  # 2 h, data-calibrated (FIXTURES §B)


def consec_fail(spark: SparkSession, sf_dir: str, gap_s: int = GAP_SECONDS) -> DataFrame:
    """ST2 — pairs of consecutive 'error' events per user within gap_s
    (reference LoginFail.scala :: LoginFailWarningAdvanceResult [U]:
    compare each fail with the previous event in state)."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(
            (F.col("event_type") == "error")
            & (F.col("prev_type") == "error")
            & (F.col("ts").cast("double") - F.col("prev_ts").cast("double") <= gap_s)
        )
        .select(
            "user_id",
            F.col("prev_ts").cast("long").alias("first_fail_s"),
            F.col("ts").cast("long").alias("last_fail_s"),
        )
    )


def consec_fail_triple(spark: SparkSession, sf_dir: str, gap_s: int = GAP_SECONDS) -> DataFrame:
    """ST3 — three consecutive fails within gap_s of each other
    (reference LoginFailWithCep.scala: Pattern .times(3).consecutive()
    [U]). CEP 'next' strict contiguity = lag×2 over the full event
    sequence; no NFA needed in batch."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("t1", F.lag("event_type", 1).over(w))
        .withColumn("t2", F.lag("event_type", 2).over(w))
        .withColumn("ts1", F.lag("ts", 1).over(w))
        .withColumn("ts2", F.lag("ts", 2).over(w))
        .filter(
            (F.col("event_type") == "error")
            & (F.col("t1") == "error")
            & (F.col("t2") == "error")
            & (F.col("ts").cast("double") - F.col("ts1").cast("double") <= gap_s)
            & (F.col("ts1").cast("double") - F.col("ts2").cast("double") <= gap_s)
        )
        .select(
            "user_id",
            F.col("ts2").cast("long").alias("first_fail_s"),
            F.col("ts").cast("long").alias("third_fail_s"),
        )
    )


# ---------------------------------------------------------------- oracle SQL


def consec_fail_oracle_sql(gap_s: int = GAP_SECONDS) -> str:
    return f"""
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           lag(ts)         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
)
SELECT user_id,
       CAST(floor(epoch(prev_ts)) AS BIGINT) AS first_fail_s,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_fail_s
FROM seq
WHERE event_type = 'error' AND prev_type = 'error'
  AND epoch(ts) - epoch(prev_ts) <= {gap_s}
"""


def consec_fail_triple_oracle_sql(gap_s: int = GAP_SECONDS) -> str:
    return f"""
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1,
           lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
           lag(ts, 1)         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ts1,
           lag(ts, 2)         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ts2
    FROM events
)
SELECT user_id,
       CAST(floor(epoch(ts2)) AS BIGINT) AS first_fail_s,
       CAST(floor(epoch(ts)) AS BIGINT) AS third_fail_s
FROM seq
WHERE event_type = 'error' AND t1 = 'error' AND t2 = 'error'
  AND epoch(ts) - epoch(ts1) <= {gap_s}
  AND epoch(ts1) - epoch(ts2) <= {gap_s}
"""
