"""NetworkFlowAnalysis capabilities: hourly PV, hourly UV (exact +
approx), hot-pages Top-N with a shorter sliding window.

Reference: NetworkFlowAnalysis/.../{PageView,UniqueVisitor,UvWithBloom,
HotPagesNetworkFlow}.scala [U] (SURVEY §2.4 A3-A6, §2.5 W2).

Scale notes:
- pv/uv are single-shuffle windowed aggregations with partial
  (map-side) aggregation — the shape that scales linearly with input.
- uv_exact is count(DISTINCT) → Spark plans a two-phase expand+agg;
  at 100 TB prefer uv_approx (HLL++, constant memory per group,
  mergeable across partitions) — both are exposed, mirroring the
  reference's exact-Set vs Bloom pair, minus the external Redis.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.functions import win_end_s
from flink_project_userbehavioranalysis_spark.io import load_events
from flink_project_userbehavioranalysis_spark.operators.hot_items import top_n


def pv_rollup_frame(events: DataFrame, event_type: str = "view", extra_keys=()) -> DataFrame:
    """THE hourly-PV rollup (filter → 1 h window → count), shared by
    ``pv_hourly`` and ``maintenance._hourly_pv`` so the materialized
    view's content and the query it answers can never drift (they also
    share ``PV_HOURLY_SQL`` as the oracle). ``extra_keys`` prepends
    grouping columns (the MV adds its day partition key)."""
    return (
        events.filter(F.col("event_type") == event_type)
        .groupBy(*extra_keys, F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("pv"))
    )


def pv_hourly(spark: SparkSession, sf_dir: str, event_type: str = "view") -> DataFrame:
    """A3 — tumbling 1 h page-view count (reference PageView.scala [U])."""
    events = load_events(spark, sf_dir)
    return pv_rollup_frame(events, event_type).select(win_end_s(), "pv")


def uv_hourly(spark: SparkSession, sf_dir: str, event_type: str = "view") -> DataFrame:
    """A5 — tumbling 1 h exact distinct users (reference UniqueVisitor.scala [U])."""
    events = load_events(spark, sf_dir)
    return (
        events.filter(F.col("event_type") == event_type)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("uv"))
        .select(win_end_s(), "uv")
    )


def uv_approx_hourly(
    spark: SparkSession, sf_dir: str, event_type: str = "view", rsd: float = 0.05
) -> DataFrame:
    """A6 — tumbling 1 h approx distinct users via HLL++ (replaces the
    reference's hand-rolled Bloom-filter-on-Redis UvWithBloom.scala [U];
    constant memory per group, mergeable, no external store).
    Rows-only oracle check (sketch estimates are engine-specific).
    rsd=0.05 (the engine default) matches the DuckDB baseline's sketch
    width; 0.01 would 25× the register arrays (benched ~4× slower) for
    precision a UV dashboard doesn't need."""
    events = load_events(spark, sf_dir)
    return uv_approx_frame(events, event_type, rsd).select(win_end_s(), "uv_approx")


def uv_approx_frame(events: DataFrame, event_type: str = "view", rsd: float = 0.05) -> DataFrame:
    """THE hourly HLL++ UV rollup, shared by ``uv_approx_hourly`` and
    its streaming twin."""
    return (
        events.filter(F.col("event_type") == event_type)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd).alias("uv_approx"))
    )


def uv_daily_sketch_rollup(spark: SparkSession, sf_dir: str, event_type: str = "view") -> DataFrame:
    """A6-scale — hourly HLL sketches merged into daily UV without
    re-scanning raw data (hll_sketch_agg / hll_union_agg): the mergeable
    -sketch pattern that replaces the reference's Redis bitmap at scale.
    Rows-only oracle check."""
    events = load_events(spark, sf_dir)
    hourly = (
        events.filter(F.col("event_type") == event_type)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
        .select(F.date_trunc("day", F.col("w.start")).alias("day"), "sketch")
    )
    return (
        hourly.groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("uv_daily"))
        .select(F.col("day").cast("long").alias("day_start"), "uv_daily")
    )


def item_freq_sketch(
    spark: SparkSession,
    sf_dir: str,
    top_n: int = 20,
    eps: float = 0.0001,
    conf: float = 0.99,
) -> DataFrame:
    """A6 family, third mergeable sketch — Count-Min frequency
    estimates for the top-N hottest items (the sketch answer to "how
    hot is item X", merging across partitions/days the way the HLL
    pair does for UV; the reference's Bloom-filter trick is the same
    family [U UvWithBloom.scala]).

    The sketch is built distributed (``count_min_sketch`` aggregate,
    one partial sketch per partition, merged associatively — the 100 TB
    path). Spark SQL has no probe function for the binary sketch, so
    the bounded top-N probe uses the public
    ``org.apache.spark.util.sketch.CountMinSketch`` API driver-side —
    sink-layer work over top_n rows, not a distributed loop. CMS
    guarantees estimate ≥ true count (overestimate-only, within eps·N
    at confidence conf) — asserted in tests. Rows-only driver check:
    estimates are engine-specific.
    """
    events = load_events(spark, sf_dir)
    views = events.filter(
        (F.col("event_type") == "view") & F.col("item_id").isNotNull()
    )
    top = (
        views.groupBy("item_id")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("item_id"))
        .limit(top_n)
        .collect()
    )
    blob = views.agg(
        F.count_min_sketch("item_id", F.lit(eps), F.lit(conf), F.lit(42)).alias("cms")
    ).collect()[0]["cms"]
    if blob is None or not top:  # empty input: no sketch to probe
        return spark.createDataFrame([], "item_id BIGINT, true_cnt BIGINT, est_cnt BIGINT")
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(blob))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    rows = [
        (int(r["item_id"]), int(r["true_cnt"]), int(cms.estimateCount(int(r["item_id"]))))
        for r in top
    ]
    return spark.createDataFrame(
        rows, "item_id BIGINT, true_cnt BIGINT, est_cnt BIGINT"
    )


def hot_pages_topn(
    spark: SparkSession,
    sf_dir: str,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    n: int = 3,
) -> DataFrame:
    """W2 — Top-N hot 'pages' per short sliding window (reference
    HotPagesNetworkFlow.scala :: TopNHotPages [U]). Page analog =
    item_id of click events (FIXTURES §B). Late-update overwrite
    semantics are a streaming concern (planned foreachBatch re-rank);
    batch rank is the oracle-checkable core."""
    events = load_events(spark, sf_dir)
    counts = (
        events.filter((F.col("event_type") == "click") & F.col("item_id").isNotNull())
        .groupBy(F.window("ts", window, slide).alias("w"), "item_id")
        .agg(F.count("*").alias("cnt"))
        .select(win_end_s(), F.col("item_id").alias("page_id"), "cnt")
    )
    return top_n(counts, n, key="page_id")


# ---------------------------------------------------------------- oracle SQL

PV_HOURLY_SQL = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour') AS BIGINT) AS window_end,
       COUNT(*) AS pv
FROM events WHERE event_type = 'view'
GROUP BY 1
"""

UV_HOURLY_SQL = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour') AS BIGINT) AS window_end,
       COUNT(DISTINCT user_id) AS uv
FROM events WHERE event_type = 'view'
GROUP BY 1
"""


def hot_pages_oracle_sql(window_minutes: int = 10, slide_minutes: int = 5, n: int = 3) -> str:
    slides = window_minutes // slide_minutes
    return f"""
WITH clicks AS (
    SELECT TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS page_id, ts
    FROM events
    WHERE event_type = 'click'
      AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
),
counts AS (
    SELECT CAST(epoch(time_bucket(INTERVAL '{slide_minutes} minutes', ts)
                      + INTERVAL '{slide_minutes} minutes' * j) AS BIGINT) AS window_end,
           page_id, COUNT(*) AS cnt
    FROM clicks CROSS JOIN (SELECT unnest(generate_series(1, {slides})) AS j)
    GROUP BY 1, 2
)
SELECT window_end, page_id, cnt,
       CAST(row_number() OVER (PARTITION BY window_end ORDER BY cnt DESC, page_id ASC) AS BIGINT) AS rn
FROM counts
QUALIFY rn <= {n}
"""


def pv_anomaly(
    spark: SparkSession,
    sf_dir: str,
    event_type: str = "view",
    lookback: int = 8,
    sigmas: float = 3.0,
) -> DataFrame:
    """Traffic-spike detection — flag (item, hour) buckets whose view
    count exceeds mean + ``sigmas``·σ over the item's previous
    ``lookback`` observed hourly buckets (the NetworkFlow module's
    natural next query: "which pages are suddenly hot, relative to
    their own baseline"). Buckets with no events are absent rows, so
    the baseline is the previous ``lookback`` *observed* buckets; an
    item is only flaggable once it has a full lookback of history.

    Determinism across engines: the baseline stats come from exact
    BIGINT window sums (Σc, Σc², n — associativity-free), and the
    threshold is a fixed IEEE expression over them evaluated in the
    same operation order in Spark and the DuckDB oracle; the output
    columns are all integers, and the float appears only inside the
    strict-> comparison.

    Scale shape: one partial-aggregated shuffle to hourly (item, hour)
    counts — aggregate cardinality from there on; the trailing window
    sorts within the item partition over those *aggregated* rows (items
    × active hours, not raw events). Output: (item_id, hour_s, cnt).
    """
    events = load_events(spark, sf_dir)
    hourly = (
        events.filter((F.col("event_type") == event_type) & F.col("item_id").isNotNull())
        .groupBy("item_id", F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select("item_id", F.col("w.end").cast("long").alias("hour_s"), "cnt")
    )
    return spike_flags(hourly, lookback, sigmas)


def spike_flags(hourly: DataFrame, lookback: int, sigmas: float) -> DataFrame:
    """Stage 2 of :func:`pv_anomaly` and its streaming twin: the
    trailing z-score over (item_id, hour_s, cnt) buckets."""
    trail = Window.partitionBy("item_id").orderBy("hour_s").rowsBetween(-lookback, -1)
    stats = (
        hourly.withColumn("n", F.count("cnt").over(trail))
        .withColumn("s", F.sum("cnt").over(trail))
        .withColumn("ss", F.sum(F.col("cnt") * F.col("cnt")).over(trail))
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / F.col("n")
    thresh = mean + F.lit(float(sigmas)) * F.sqrt(F.greatest(var, F.lit(0.0)))
    return stats.filter(
        (F.col("n") == lookback) & (F.col("cnt") > thresh)
    ).select("item_id", "hour_s", "cnt")


def pv_anomaly_oracle_sql(
    event_type: str = "view", lookback: int = 8, sigmas: float = 3.0
) -> str:
    return f"""
WITH hourly AS (
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS item_id,
           CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) * 3600 + 3600 AS hour_s,
           count(*) AS cnt
    FROM events
    WHERE event_type = '{event_type}' AND json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY 1, 2
), stats AS (
    SELECT item_id, hour_s, cnt,
           count(cnt) OVER w AS n,
           sum(cnt) OVER w AS s,
           sum(cnt * cnt) OVER w AS ss
    FROM hourly
    WINDOW w AS (PARTITION BY item_id ORDER BY hour_s
                 ROWS BETWEEN {lookback} PRECEDING AND 1 PRECEDING)
)
SELECT item_id, hour_s, cnt
FROM stats
WHERE n = {lookback}
  AND cnt > CAST(s AS DOUBLE) / n
            + {float(sigmas)} * sqrt(greatest(
                (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n, 0.0))
"""


def uv_trailing_sketch(
    spark: SparkSession,
    sf_dir: str,
    hours: int = 24,
    event_type: str = "view",
) -> DataFrame:
    """A6-scale, sliding form — trailing-``hours`` unique visitors at
    every hour boundary, computed by MERGING hourly HLL sketches
    instead of re-scanning raw events per window. The raw stream is
    touched ONCE (one partial-aggregated shuffle into ~|hours| hourly
    sketches, KB each); each sketch then fans out to the ``hours``
    trailing window positions that contain it (the same
    explode-on-aggregated-rows trick as the flagship rollup) and the
    positions union-merge. A direct countDistinct over 24 h sliding
    windows re-shuffles every raw event ``hours`` times — the sketch
    reuse is what makes trailing distinct counts feasible at 100 TB,
    at HLL's documented ~1-2% relative error (rsd 0.01, bound-asserted
    vs the exact trailing UV in tests/test_sketches.py).

    Edge positions whose lookback precedes the corpus merge fewer
    sketches (partial windows, standard trailing semantics). Sketch
    estimates are engine-specific ⇒ rows-only driver check.

    Output: (window_end, uv_trailing).
    """
    events = load_events(spark, sf_dir)
    hourly = (
        events.filter(F.col("event_type") == event_type)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.hll_sketch_agg("user_id", 12).alias("sketch"))
        .select(F.col("w.end").cast("long").alias("hour_end"), "sketch")
    )
    contrib = hourly.select(
        "hour_end",
        "sketch",
        F.explode(F.sequence(F.lit(0), F.lit(int(hours) - 1))).alias("j"),
    ).select(
        (F.col("hour_end") + F.col("j") * 3600).alias("window_end"), "sketch"
    )
    return (
        contrib.groupBy("window_end")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("uv_trailing"))
    )


def active_users_trailing(
    spark: SparkSession, sf_dir: str, window_days: int = 7
) -> DataFrame:
    """Exact DAU + trailing-``window_days`` AU (the WAU/MAU staple) per
    day — the A5/A6 family's daily form. A window frame can't
    COUNT(DISTINCT), so the exact formulation is the coverage explode:
    the distinct (user, day) relation is staged ONCE (one shuffle at
    user×day grain — already aggregate cardinality, not events), each
    row then covers the ``window_days`` trailing windows it belongs to
    (map-only explode of a bounded day sequence), and a second distinct
    collapses users active on several days of one window. Early days
    report the naturally-truncated trailing window (only days that
    exist), matching the oracle. At extreme scale the trailing column
    downgrades gracefully to the mergeable-sketch path
    (``uv_trailing_sketch``) — this operator is the exact twin the
    sketch is bound-tested against at day grain.

    Output: (day, dau, au_trailing) — ISO day string + exact BIGINTs.
    """
    ev = load_events(spark, sf_dir)
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    dau = ud.groupBy("d").agg(F.count("*").alias("dau"))
    cover = (
        ud.select(
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), window_days - 1))
            ).alias("d_end"),
            "user_id",
        )
        .distinct()
    )
    au = cover.groupBy("d_end").agg(F.count("*").alias("au_trailing"))
    return (
        dau.join(au, dau.d == au.d_end)
        .select(F.col("d").cast("string").alias("day"), "dau", "au_trailing")
    )


def active_users_trailing_oracle_sql(window_days: int = 7) -> str:
    return f"""
WITH ud AS (
    SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id
    FROM events
), dau AS (
    SELECT d, count(*) AS dau FROM ud GROUP BY 1
), cover AS (
    SELECT DISTINCT d + CAST(i AS INTEGER) AS d_end, user_id
    FROM ud CROSS JOIN (SELECT unnest(range(0, {window_days})) AS i)
), au AS (
    SELECT d_end, count(*) AS au_trailing FROM cover GROUP BY 1
)
SELECT CAST(dau.d AS VARCHAR) AS day, dau.dau, au.au_trailing
FROM dau JOIN au ON dau.d = au.d_end
"""


def retention_sketch(spark: SparkSession, sf_dir: str, k: int = 1) -> DataFrame:
    """Sketch-algebra retention — the 100 TB path for
    :func:`behavior.retention_rolling`'s D-``k`` column: per-day HLL
    sketches of active users, with retained-overlap estimated by
    INCLUSION-EXCLUSION over the union sketch
    (|A∩B| = |A| + |B| − |A∪B| — HLL unions are exact sketch algebra,
    intersections are not, so the overlap inherits both sketches'
    error). Raw events are scanned ONCE into day sketches (KB each);
    every downstream estimate works on sketch rows — the same
    mergeability story as ``uv_daily_sketch`` / ``uv_trailing_sketch``.

    Rows-only registry entry (sketch estimates are engine-specific);
    tests bound the estimate against the exact
    ``retention_rolling`` twin.

    Output: (day, active_est, retained_est) — BIGINT estimates.
    """
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    nxt = daily.select(F.date_sub(F.col("d"), k).alias("d"), F.col("sk").alias("sk_next"))
    est = F.hll_sketch_estimate
    return (
        daily.join(nxt, "d")
        .select(
            F.col("d").cast("string").alias("day"),
            est("sk").alias("active_est"),
            (est("sk") + est("sk_next") - est(F.hll_union("sk", "sk_next"))).alias(
                "retained_est"
            ),
        )
    )


# ------------------------------------------- mergeable quantile summary
#
# Third mergeable-summary family after HLL (distinct counts) and
# Count-Min (frequencies): value-DISTRIBUTION summaries for quantile
# queries, the DDSketch/HdrHistogram pattern (public: Masson et al.,
# VLDB 2019). The summary is a fixed-grid histogram: deterministic
# value -> bucket mapping, per-day (day, event_type, bucket, cnt)
# rows; merging across any day range is an integer SUM by bucket —
# exactly associative, so unlike HLL/CMS estimates this family is
# fully HASH-ORACLED, not rows-only. The grid here is equal-width
# (floor(value * 4): IEEE multiply+floor is bit-identical across
# engines, which is what makes the oracle exact); DDSketch's
# log-gamma bucketization plugs into the same summary/merge/query
# shape when relative accuracy matters, at the cost of engines'
# libm ln() agreeing — documented, not silently swapped.


def value_bucket(bin_inv: int) -> F.Column:
    """``value_hist_daily``'s bucket (width 1/bin_inv), shared with its twin."""
    return F.floor(F.col("value") * bin_inv)


def value_hist_daily(
    spark: SparkSession, sf_dir: str, bin_inv: int = 4
) -> DataFrame:
    """Per-day mergeable value-distribution summary: (day, event_type,
    bucket, cnt) with bucket = floor(value * bin_inv) (width 1/bin_inv
    = 0.25 by default). ONE partial-agg shuffle at summary grain; the
    output is the PERSISTED artifact at 100 TB — days x types x
    O(range/width) rows (KBs/day here), against which any later
    quantile query runs without rescanning raw events."""
    ev = load_events(spark, sf_dir)
    return (
        ev.filter(F.col("value").isNotNull())
        .select(
            F.to_date("ts").cast("string").alias("day"),
            "event_type",
            value_bucket(bin_inv).alias("bucket"),
        )
        .groupBy("day", "event_type", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def value_hist_daily_oracle_sql(bin_inv: int = 4) -> str:
    return f"""
SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
       event_type,
       CAST(floor(value * {bin_inv}) AS BIGINT) AS bucket,
       count(*) AS cnt
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2, 3
"""


def value_percentiles_hist(
    spark: SparkSession, sf_dir: str, bin_inv: int = 4
) -> DataFrame:
    """Quantiles (p50/p90/p99 per event_type) answered from the MERGED
    daily summaries, never the raw rows: sum counts by bucket across
    all days (the associative merge), cumulative-rank along the grid,
    pick the first bucket covering ceil(q * total), report the bucket
    midpoint. Deterministic integer/IEEE arithmetic end to end ->
    hash-oracled; the estimate is within half a bucket width (0.125)
    of the rank-q value by construction, bound-asserted against the
    exact ``value_percentiles`` twin in tests."""
    merged = (
        value_hist_daily(spark, sf_dir, bin_inv)
        .groupBy("event_type", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cum_w = Window.partitionBy("event_type").orderBy("bucket")
    tot_w = Window.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "bucket",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(tot_w).alias("total"),
    )

    def pick(q: float):
        b = F.min(
            F.when(F.col("cum") >= F.ceil(F.col("total") * q), F.col("bucket"))
        )
        return F.round((b + 0.5) / bin_inv, 6)

    return cum.groupBy("event_type").agg(
        pick(0.5).alias("p50_est"),
        pick(0.9).alias("p90_est"),
        pick(0.99).alias("p99_est"),
    )


def value_percentiles_hist_oracle_sql(bin_inv: int = 4) -> str:
    return f"""
WITH hist AS (
    SELECT event_type, CAST(floor(value * {bin_inv}) AS BIGINT) AS bucket,
           count(*) AS cnt
    FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), cum AS (
    SELECT event_type, bucket,
           sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
           sum(cnt) OVER (PARTITION BY event_type) AS total
    FROM hist
)
SELECT event_type,
       round((min(CASE WHEN cum >= ceil(total * 0.5) THEN bucket END) + 0.5)
             / {bin_inv}, 6) AS p50_est,
       round((min(CASE WHEN cum >= ceil(total * 0.9) THEN bucket END) + 0.5)
             / {bin_inv}, 6) AS p90_est,
       round((min(CASE WHEN cum >= ceil(total * 0.99) THEN bucket END) + 0.5)
             / {bin_inv}, 6) AS p99_est
FROM cum GROUP BY 1
"""


def value_percentiles_ddsketch(
    spark: SparkSession, sf_dir: str, alpha: float = 0.01
) -> DataFrame:
    """RELATIVE-accuracy companion to :func:`value_percentiles_hist`:
    DDSketch bucketization (Masson et al., VLDB 2019) — bucket i =
    ceil(log_gamma(value)) with gamma = (1+alpha)/(1-alpha), zero/
    non-positive values in a dedicated zero-bucket, quantile = first
    bucket covering ceil(q*total), estimate = 2*gamma^i/(gamma+1).
    By construction every estimate is within alpha (1%) RELATIVE error
    of the exact rank value — asserted in tests — where the fixed-grid
    twin gives absolute half-bucket accuracy.

    Registered rows-only BY DESIGN: the bucket boundary log_gamma(v)
    is libm ln(), which IEEE does not require to be correctly rounded,
    so a DuckDB twin could disagree on values epsilon-close to a
    boundary — the equal-width twin exists precisely because its
    multiply+floor grid IS bit-identical across engines. Same summary
    / merge / rank-pick dataflow: one partial-agg shuffle to the
    (type, bucket) grid, window rank over grid rows."""
    gamma = (1.0 + alpha) / (1.0 - alpha)
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    bucketed = ev.select(
        "event_type", ddsketch_bucket(F.col("value"), gamma).alias("bucket")
    )
    merged = bucketed.groupBy("event_type", "bucket").agg(
        F.count("*").alias("cnt")
    )
    return ddsketch_quantiles_from_grid(merged, gamma)


#: Zero/non-positive values map to this dedicated DDSketch bucket key
#: (sorts before every real log-gamma bucket).
DDSKETCH_ZERO_KEY = -(10**9)


def ddsketch_bucket(value: F.Column, gamma: float) -> F.Column:
    """DDSketch bucket index for a value column: ceil(log_gamma(v))
    for positive v, the dedicated zero-bucket otherwise. ONE
    definition shared by the batch sketch and its streaming
    maintenance twin, so the two grids are identical by construction
    (both run Spark's ln — same libm, bit-identical buckets)."""
    import math

    ln_gamma = math.log(gamma)
    return (
        F.when(value <= 0, F.lit(DDSKETCH_ZERO_KEY))
        .otherwise(F.ceil(F.log(value) / ln_gamma))
    )


def ddsketch_quantiles_from_grid(merged: DataFrame, gamma: float) -> DataFrame:
    """Rank-pick p50/p90/p99 per event_type from a merged DDSketch
    grid (event_type, bucket, cnt): cumulative-rank along the bucket
    order, first bucket covering ceil(q*total), estimate
    2*gamma^i/(gamma+1) (zero-bucket reports 0). The read path over
    the PERSISTED summary — shared by the batch sketch and the
    streamed-state read, which is what makes 'maintained grid ≡
    rebuilt grid' test-assertable as an exact frame equality."""
    cum_w = Window.partitionBy("event_type").orderBy("bucket")
    tot_w = Window.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "bucket",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(tot_w).alias("total"),
    )

    def pick(q: float):
        b = F.min(
            F.when(F.col("cum") >= F.ceil(F.col("total") * q), F.col("bucket"))
        )
        return F.round(
            F.when(b == DDSKETCH_ZERO_KEY, F.lit(0.0)).otherwise(
                2.0 * F.pow(F.lit(gamma), b) / (gamma + 1.0)
            ),
            6,
        )

    return cum.groupBy("event_type").agg(
        pick(0.5).alias("p50_est"),
        pick(0.9).alias("p90_est"),
        pick(0.99).alias("p99_est"),
    )
