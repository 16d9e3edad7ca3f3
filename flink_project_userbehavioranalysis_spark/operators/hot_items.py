"""W1 — Top-N hot items per sliding event-time window (the flagship).

Reference capability: HotItemsAnalysis/.../HotItems.scala :: main +
CountAgg + ItemViewWindowResult + TopNHotItems [~L25-L115 est., U]
(SURVEY §2.5 W1, §3.1): filter pv → keyBy(itemId) → 1h/5min sliding
count → keyBy(windowEnd) → buffer+timer → sort desc → take(5).

Spark-first design (not a translation):
  filter('view') → tumbling slide-grain count (1× the events)
  → explode each (bucket, item) row into the window/slide sliding
    windows it serves → sum → row_number() over (partition by
    window_end order by cnt desc) → rn <= n

Scale notes (100 TB posture):
- The textbook formulation (`hot_items_direct`, kept registered as the
  equivalence twin) hands `F.window(ts, 1h, 5m)` the raw event stream,
  which replicates every event into window/slide (=12) window copies
  inside an Expand before the partial aggregate — 12× the map-side
  aggregation CPU. The flagship instead aggregates ONCE at tumbling
  slide grain and replicates only the already-aggregated
  (bucket, item) rows — O(buckets × items), orders of magnitude fewer
  than O(12 × events) at data scale — for one extra partial-aggregated
  narrow shuffle. Exact when slide divides window (every sliding
  window is a disjoint union of slide buckets; both stages are exact
  integer sums); falls back to the direct form otherwise.
- The rank is per-window (partition by window_end), never a global
  sort: each window's items fit one task; no collect-to-driver.
- Filter + JSON projection sit directly on the scan → parquet predicate
  pushdown on event_type and column pruning to (ts, event_type, props).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.functions import win_end_s
from flink_project_userbehavioranalysis_spark.io import load_events


def slide_ratio(window: str, slide: str) -> int | None:
    """window/slide, or None when slide does not divide window — the
    slide-bucket rollup is exact only when every sliding window is a
    disjoint union of slide buckets."""
    import pandas as pd

    win_s, slide_s = (int(pd.Timedelta(t).total_seconds()) for t in (window, slide))
    return None if win_s % slide_s else win_s // slide_s


def slide_buckets(events: DataFrame, slide: str, *keys: str) -> DataFrame:
    """Stage 1 of the rollup: tumbling slide-grain counts
    (bucket_end, *keys, bcnt) — each event lands in exactly one row."""
    return (
        events.groupBy(F.window("ts", slide).alias("b"), *keys)
        .agg(F.count("*").alias("bcnt"))
        .select(F.col("b.end").cast("long").alias("bucket_end"), *keys, "bcnt")
    )


def slide_rollup(
    buckets: DataFrame, slide: str, ratio: int, *keys: str, out: str = "cnt"
) -> DataFrame:
    """Stage 2 of the rollup: explode each aggregated bucket into the
    ``ratio`` sliding windows it serves and sum bucket counts into
    (window_end, *keys, out)."""
    import pandas as pd

    slide_s = int(pd.Timedelta(slide).total_seconds())
    return (
        buckets.withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(ratio - 1))))
        .select(
            (F.col("bucket_end") + F.col("k") * F.lit(slide_s)).alias("window_end"),
            *keys,
            "bcnt",
        )
        .groupBy("window_end", *keys)
        .agg(F.sum("bcnt").alias(out))
    )


def top_n(counts: DataFrame, n: int, key: str = "item_id") -> DataFrame:
    """Per-window Top-``n`` of (window_end, key, cnt) by cnt desc, ties
    broken by key asc; rn is a BIGINT rank."""
    rank = Window.partitionBy("window_end").orderBy(F.desc("cnt"), F.asc(key))
    return (
        counts.withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") <= n)
        .select("window_end", key, "cnt", F.col("rn").cast("long").alias("rn"))
    )


def item_buckets(events: DataFrame, slide: str, event_type: str = "view") -> DataFrame:
    """THE flagship's bucket frame, shared by ``hot_items`` and its
    streaming twin: ``event_type`` events with an item, counted per
    (slide bucket, item)."""
    items = events.filter(F.col("event_type") == event_type).filter(
        F.col("item_id").isNotNull()
    )
    return slide_buckets(items, slide, "item_id")


def hot_items_direct(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    slide: str = "5 minutes",
    n: int = 5,
    event_type: str = "view",
) -> DataFrame:
    """The textbook single-window formulation — `F.window(ts, 1h, 5m)`
    straight over the raw events (12-way Expand before the partial
    agg). Registered as `hot_items_topn_direct` with the SAME oracle as
    the flagship: the green twin row is the proof that the rollup
    decomposition is exact, not an approximation."""
    events = load_events(spark, sf_dir)
    counts = (
        events.filter(F.col("event_type") == event_type)
        .filter(F.col("item_id").isNotNull())
        .groupBy(F.window("ts", window, slide).alias("w"), "item_id")
        .agg(F.count("*").alias("cnt"))
        .select(win_end_s(), "item_id", "cnt")
    )
    return top_n(counts, n)


def hot_items(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    slide: str = "5 minutes",
    n: int = 5,
    event_type: str = "view",
) -> DataFrame:
    """Top-``n`` items per sliding window, deterministic tie-break by
    item_id — TWO-LEVEL bucket rollup (the flagship formulation).

    Aggregates once at tumbling slide grain (1× the events), then
    explodes only the already-aggregated (bucket, item) rows into the
    window/slide sliding windows each bucket serves and sums bucket
    counts — see the module docstring for the full cost argument vs
    the direct form. Exact when slide divides window; falls back to
    `hot_items_direct` otherwise (arbitrary window/slide pairs keep
    working, just on the textbook plan).

    The same decomposition is what the DuckDB oracle already does
    (`hot_items_oracle_sql` expands bucket + j·slide), so the direct
    twin shares this oracle verbatim.
    """
    ratio = slide_ratio(window, slide)
    if ratio is None:
        return hot_items_direct(
            spark, sf_dir, window=window, slide=slide, n=n, event_type=event_type
        )
    buckets = item_buckets(load_events(spark, sf_dir), slide, event_type)
    return top_n(slide_rollup(buckets, slide, ratio, "item_id"), n)


def hot_items_sql(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    slide: str = "5 minutes",
    n: int = 5,
    event_type: str = "view",
) -> DataFrame:
    """The flagship as PURE SQL text — parity with the reference's
    Table/SQL variant (HotItemsWithSql.scala [U, §2.9]: Blink planner,
    HOP window + ROW_NUMBER ≤ n). Spark SQL's `window()` table function
    is the HOP analog; the plan is identical to the `hot_items_direct`
    DataFrame formulation (same Catalyst pipeline), which is the point:
    the engine's SQL front end is not a separate engine."""
    load_events(spark, sf_dir).createOrReplaceTempView("events_norm")
    return spark.sql(
        f"""
        WITH counts AS (
            SELECT CAST(window.end AS LONG) AS window_end, item_id,
                   count(*) AS cnt
            FROM events_norm
            WHERE event_type = '{event_type}' AND item_id IS NOT NULL
            GROUP BY window(ts, '{window}', '{slide}'), item_id
        )
        SELECT window_end, item_id, cnt, rn
        FROM (
            SELECT window_end, item_id, cnt,
                   CAST(row_number() OVER (PARTITION BY window_end
                                           ORDER BY cnt DESC, item_id ASC) AS LONG) AS rn
            FROM counts
        )
        WHERE rn <= {n}
        """
    )


def hot_items_report(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    """P8 — string result building: the reference's TopNHotItems
    formats each window's ranking as text lines via StringBuilder
    ("No1: itemId=... count=..." [~L95-115, U]); here the same report
    is one JVM-side format_string over the ranked rows."""
    ranked = hot_items(spark, sf_dir, n=n)
    return ranked.select(
        "window_end",
        F.format_string(
            "No%d: itemId=%d count=%d", F.col("rn"), F.col("item_id"), F.col("cnt")
        ).alias("line"),
    )


def hot_items_report_oracle_sql(n: int = 5) -> str:
    return f"""
WITH ranked AS ({hot_items_oracle_sql(n=n).strip()})
SELECT window_end,
       printf('No%d: itemId=%d count=%d', rn, item_id, cnt) AS line
FROM ranked
"""


def hot_items_oracle_sql(
    window_minutes: int = 60, slide_minutes: int = 5, n: int = 5, event_type: str = "view"
) -> str:
    """DuckDB-equivalent SQL. Sliding windows are expanded explicitly:
    a row in 5-min bucket b belongs to the 12 windows ending at
    b + j*5min, j=1..12 (same [start, end) bucketing as Spark window()).
    """
    slides = window_minutes // slide_minutes
    return f"""
WITH views AS (
    SELECT TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS item_id, ts
    FROM events
    WHERE event_type = '{event_type}'
      AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
),
counts AS (
    SELECT CAST(epoch(time_bucket(INTERVAL '{slide_minutes} minutes', ts)
                      + INTERVAL '{slide_minutes} minutes' * j) AS BIGINT) AS window_end,
           item_id,
           COUNT(*) AS cnt
    FROM views CROSS JOIN (SELECT unnest(generate_series(1, {slides})) AS j)
    GROUP BY 1, 2
)
SELECT window_end, item_id, cnt,
       CAST(row_number() OVER (PARTITION BY window_end ORDER BY cnt DESC, item_id ASC) AS BIGINT) AS rn
FROM counts
QUALIFY rn <= {n}
"""
