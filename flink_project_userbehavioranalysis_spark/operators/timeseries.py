"""Time-series gap analytics: OHLC bar resampling, dense-grid
gap-filling with LOCF, and exact-integer linear interpolation.

Reference mapping (SURVEY.md §2 [U] — checkout empty): the reference's
windowed rollups (A-family) aggregate only the hours that HAVE events;
the canonical next ask on the same behavior stream is the time-series
trio every monitoring/feature pipeline needs — (1) bar resampling with
ordered open/close (first/last value per bucket), (2) a DENSE hourly
grid where silent hours appear explicitly with the last observation
carried forward (LOCF — the point-in-time-correct fill for feature
snapshots), and (3) linear interpolation between the bracketing raw
observations (the reconstruction fill for rate-style metrics). These
are T3/T5 window semantics extended with grid generation, the shape
Flink users build with windowAll + a state-carrying process function.

Determinism contract (driver oracle hashes values): `value` enters as
exact cents (``ROUND(value*100)`` — the repo-wide money lattice), all
ordering is keyed by the unique (t_us, event_id) pair via lexicographic
struct min/max (identical semantics in Spark and DuckDB), and the
interpolation is exact rational arithmetic on BIGINTs: floor(1000·num /
den) evaluated as ``q·1000 + (r·1000) div den`` with q = num div den,
r = num − q·den — every intermediate ≤ ~2.6e15, overflow-free without
DECIMAL, and truncation ≡ floor on the nonnegative operands (cents ≥ 0,
grid times bracketed by observations).

100 TB posture: the dense grid is (event types × hours in range) rows —
bounded by the TIME RANGE, independent of raw row count (720 hours ×
k types for a 30-day month, whether the table is 60 k rows or 100 TB).
OHLC/hourly-last are ONE partial-agg shuffle over the raw scan (struct
min/max combine map-side); the fills then run entirely on grid-sized
relations. The interpolation pass unions raw observations with grid
points and resolves brackets with two frame-bounded window passes over
one (event_type)-partitioned sort — per-type data volume, no self-join,
no point-vs-observation range join (which would be the naive O(grid ×
obs) formulation).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.io import load_events

HOUR_US = 3_600 * 1_000_000

# Shared prep: the exact-cents observation projection.
_OBS_SQL = """obs AS (
    SELECT event_type,
           epoch_us(ts) AS t_us,
           event_id,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE value IS NOT NULL
)"""


def _obs(events: DataFrame, *keep: str) -> DataFrame:
    """The exact-cents observation projection; ``keep`` passes extra
    event columns through in front (the streaming twin keeps ``ts``)."""
    return events.filter(F.col("value").isNotNull()).select(
        *keep,
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )


def _with_hour(obs: DataFrame) -> DataFrame:
    # pure-integer bucketing: (t_us div hour_µs) · 3600 — epoch seconds
    return obs.withColumn("hour_start", F.expr("t_us div 3600000000") * F.lit(3600))


# ------------------------------------------------------------------ OHLC bars


def ts_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type: open/close picked by the unique
    (t_us, event_id) order via lexicographic struct min/max — ONE
    partial-agg shuffle, no window pass, no per-bucket sort."""
    obs = _with_hour(_obs(load_events(spark, sf_dir)))
    return ohlc_bars(obs, "event_type", "hour_start")


def ohlc_bars(obs: DataFrame, *keys) -> DataFrame:
    """The six OHLC aggregates of :func:`ts_ohlc_hourly` and its
    streaming twin, grouped by ``keys`` over an ``_obs`` frame."""
    ordered = F.struct("t_us", "event_id", "cents")
    return obs.groupBy(*keys).agg(
        F.min(ordered).getField("cents").alias("open_cents"),
        F.max(ordered).getField("cents").alias("close_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.count("*").alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )


def ts_ohlc_oracle_sql() -> str:
    return f"""
WITH {_OBS_SQL}
SELECT event_type,
       (t_us // 3600000000) * 3600 AS hour_start,
       (min({{'t': t_us, 'e': event_id, 'c': cents}})).c AS open_cents,
       (max({{'t': t_us, 'e': event_id, 'c': cents}})).c AS close_cents,
       max(cents) AS high_cents,
       min(cents) AS low_cents,
       count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM obs
GROUP BY 1, 2
"""


# ------------------------------------------------------- dense grid + LOCF

# Grid + per-hour last observation, shared by LOCF (and reused by the
# interpolation oracle for its grid half). `hourly` is the ONLY pass
# over raw rows; bounds and the type roster derive from it (grid-sized).
_GRID_SQL = f"""{_OBS_SQL},
hourly AS (
    SELECT event_type,
           (t_us // 3600000000) * 3600 AS hour_start,
           (max({{'t': t_us, 'e': event_id, 'c': cents}})).c AS last_cents
    FROM obs
    GROUP BY 1, 2
),
b AS (SELECT min(hour_start) AS h0, max(hour_start) AS h1 FROM hourly),
hours AS (SELECT unnest(range(h0, h1 + 3600, 3600)) AS hour_start FROM b),
types AS (SELECT DISTINCT event_type FROM hourly),
grid AS (SELECT event_type, hour_start FROM types, hours)"""


def _hourly_last(obs: DataFrame) -> DataFrame:
    return (
        _with_hour(obs)
        .groupBy("event_type", "hour_start")
        .agg(
            F.max(F.struct("t_us", "event_id", "cents"))
            .getField("cents")
            .alias("last_cents")
        )
    )


def _dense_grid(hourly: DataFrame) -> DataFrame:
    """(event_type × hour) grid spanning [min, max] observed hour.
    Both sides are grid-sized (≤ types × hours regardless of SF), so
    the cross join is a broadcast nested loop over bounded relations —
    the one place a cartesian is correct by construction."""
    bounds = hourly.agg(F.min("hour_start").alias("h0"), F.max("hour_start").alias("h1"))
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.lit(3600))).alias("hour_start")
    )
    types = hourly.select("event_type").distinct()
    return types.crossJoin(F.broadcast(hours))


def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid with last-observation-carried-forward fill.
    Output: (event_type, hour_start, obs 0/1, cents — the carried
    value, NULL before the type's first observation)."""
    hourly = _hourly_last(_obs(load_events(spark, sf_dir)))
    grid = _dense_grid(hourly)
    j = grid.join(hourly, ["event_type", "hour_start"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "hour_start",
        F.when(F.col("last_cents").isNull(), F.lit(0)).otherwise(1).alias("obs"),
        F.last("last_cents", ignorenulls=True).over(w).alias("cents"),
    )


def ts_gapfill_locf_oracle_sql() -> str:
    return f"""
WITH {_GRID_SQL},
j AS (
    SELECT g.event_type, g.hour_start, h.last_cents
    FROM grid g LEFT JOIN hourly h USING (event_type, hour_start)
)
SELECT event_type,
       hour_start,
       CASE WHEN last_cents IS NULL THEN 0 ELSE 1 END AS obs,
       last_value(last_cents IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents
FROM j
"""


# ------------------------------------------- exact linear interpolation


def ts_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of the cents series at each hourly grid
    point, exact to the milli-cent. For a grid point at time t:

    - prev = last observation at t_obs ≤ t (a simultaneous observation
      counts as "before" — an exact hit interpolates to itself),
    - next = first observation strictly after t.

    Bracket resolution never sorts raw observations (r12 optimization:
    the previous form unioned EVERY raw observation with the grid and
    ran two window sorts partitioned by event_type alone — a handful
    of partitions each holding a full type's history, the classic
    giant-partition shape that cannot scale out). Instead the raw scan
    collapses map-side to per-(type, hour-bucket) extrema — prev
    candidates bucketed by CEIL(t_us/hour) so a boundary observation
    lands with the grid point it ties (ties count as "before"), next
    candidates by the shifted floor (t_us−1) div hour so a boundary
    observation is NOT "strictly after" its own grid point — and the
    carry-forward/backward fills run over the GRID-sized relation
    (types × hours, bounded by the time range regardless of row
    count). Semantics are identical by construction: within a bucket
    the struct extremum picks the same (t_us, event_id)-ordered
    observation the old total-order window picked, and across buckets
    the prefix fill is the same carry.

    milli = floor(1000·(prev·(t_next−t) + next·(t−t_prev)) / (t_next−
    t_prev)) via the overflow-free split q·1000 + (r·1000) div den.
    Grid points outside the observed bracket emit NULL (span_us shows
    the bracket width where defined)."""
    obs = _obs(load_events(spark, sf_dir))
    # prev candidates: last observation per ceil-hour bucket. An obs at
    # exactly H·3600s has pb = H (ties with grid point H ⇒ eligible);
    # an obs strictly inside hour H has pb = H+1 (first eligible grid
    # point is H+1, whose time is after it).
    prev_b = (
        obs.groupBy(
            "event_type",
            (F.expr(f"(t_us + {HOUR_US - 1}) div {HOUR_US}") * F.lit(3600)).alias(
                "hour_start"
            ),
        )
        .agg(
            F.max(F.struct("t_us", "event_id", "cents")).alias("s"),
            # per-bucket earliest raw time, kept so the observed
            # floor-hour bounds are recoverable without another pass
            # over raw rows (the bucket extremum alone cannot tell
            # whether the bucket's earliest obs sat on the boundary)
            F.min("t_us").alias("b_lo"),
        )
        .select(
            "event_type",
            "hour_start",
            F.col("s.t_us").alias("pb_t"),
            F.col("s.cents").alias("pb_c"),
            "b_lo",
        )
    )
    # next candidates: first observation per shifted-floor bucket. An
    # obs at exactly H·3600s has nb = H−1 (it is NOT strictly after
    # grid point H); an obs strictly inside hour H has nb = H.
    next_b = (
        obs.groupBy(
            "event_type",
            (F.expr(f"(t_us - 1) div {HOUR_US}") * F.lit(3600)).alias("hour_start"),
        )
        .agg(F.min(F.struct("t_us", "event_id", "cents")).alias("s"))
        .select(
            "event_type",
            "hour_start",
            F.col("s.t_us").alias("nb_t"),
            F.col("s.cents").alias("nb_c"),
        )
    )
    # grid bounds/types from the BUCKET relation (grid-sized), not a
    # third aggregation over raw observations: the observed floor-hour
    # range is recoverable from the buckets' earliest (b_lo) and
    # latest (the last bucket's pb_t = the global last obs) raw times.
    floors = prev_b.select(
        "event_type", (F.expr(f"b_lo div {HOUR_US}") * F.lit(3600)).alias("hour_start")
    ).unionByName(
        prev_b.select(
            "event_type",
            (F.expr(f"pb_t div {HOUR_US}") * F.lit(3600)).alias("hour_start"),
        )
    )
    grid = _dense_grid(floors)
    j = grid.join(prev_b.drop("b_lo"), ["event_type", "hour_start"], "left").join(
        next_b, ["event_type", "hour_start"], "left"
    )
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bwd = (
        Window.partitionBy("event_type")
        .orderBy(F.col("hour_start").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    withbr = (
        j.withColumn("prev_c", F.last("pb_c", ignorenulls=True).over(w_fwd))
        .withColumn("prev_t", F.last("pb_t", ignorenulls=True).over(w_fwd))
        .withColumn("next_c", F.last("nb_c", ignorenulls=True).over(w_bwd))
        .withColumn("next_t", F.last("nb_t", ignorenulls=True).over(w_bwd))
        .withColumn("t_us", (F.col("hour_start") * F.lit(1_000_000)).cast("long"))
    )
    num = F.col("prev_c") * (F.col("next_t") - F.col("t_us")) + F.col("next_c") * (
        F.col("t_us") - F.col("prev_t")
    )
    den = F.col("next_t") - F.col("prev_t")
    bracketed = withbr.withColumn("num", num).withColumn("den", den)
    milli = F.when(
        F.col("prev_c").isNotNull() & F.col("next_c").isNotNull(),
        F.expr(
            "(num div den) * 1000 + ((num - (num div den) * den) * 1000) div den"
        ),
    )
    return bracketed.select(
        "event_type",
        F.expr("t_us div 1000000").alias("hour_start"),
        milli.cast("long").alias("milli"),
        F.when(
            F.col("prev_c").isNotNull() & F.col("next_c").isNotNull(), F.col("den")
        ).alias("span_us"),
    )


def ts_gapfill_interp_oracle_sql() -> str:
    return f"""
WITH {_GRID_SQL},
allr AS (
    SELECT event_type, t_us, 1 AS is_obs, event_id, cents FROM obs
    UNION ALL
    SELECT event_type, hour_start * 1000000 AS t_us, 0 AS is_obs,
           CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS cents
    FROM grid
),
br AS (
    SELECT *,
        last_value(cents IGNORE NULLS) OVER w_fwd AS prev_c,
        last_value(CASE WHEN is_obs = 1 THEN t_us END IGNORE NULLS) OVER w_fwd AS prev_t,
        first_value(cents IGNORE NULLS) OVER w_bwd AS next_c,
        first_value(CASE WHEN is_obs = 1 THEN t_us END IGNORE NULLS) OVER w_bwd AS next_t
    FROM allr
    WINDOW
        w_fwd AS (PARTITION BY event_type
                  ORDER BY t_us ASC, is_obs DESC, event_id ASC NULLS LAST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_bwd AS (PARTITION BY event_type
                  ORDER BY t_us ASC, is_obs DESC, event_id ASC NULLS LAST
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
calc AS (
    SELECT event_type, t_us,
           prev_c * (next_t - t_us) + next_c * (t_us - prev_t) AS num,
           next_t - prev_t AS den,
           prev_c IS NOT NULL AND next_c IS NOT NULL AS ok
    FROM br WHERE is_obs = 0
)
SELECT event_type,
       t_us // 1000000 AS hour_start,
       CASE WHEN ok THEN (num // den) * 1000 + ((num - (num // den) * den) * 1000) // den
       END AS milli,
       CASE WHEN ok THEN den END AS span_us
FROM calc
"""


# ------------------------------------------- seasonal-naive backtest

WEEK_S = 7 * 24 * 3600


def ts_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every forecaster
    must beat, run as a relational operator: forecast(type, hour) =
    the LOCF-filled value at the same hour one week earlier, scored
    against the actual hourly last value with exact-integer absolute
    error. One self-equi-join of the dense LOCF grid at lag 168 h (a
    narrow keyed join on grid-sized relations — no window over the
    week, no per-row lag state). Rows: grid points with BOTH a lagged
    value and an actual observation. Output: (event_type, hour_start,
    actual_cents, forecast_cents, abs_err)."""
    filled = ts_gapfill_locf(spark, sf_dir)
    actual = filled.filter(F.col("obs") == 1).select(
        "event_type", "hour_start", F.col("cents").alias("actual_cents")
    )
    lagged = filled.filter(F.col("cents").isNotNull()).select(
        "event_type",
        (F.col("hour_start") + F.lit(WEEK_S)).alias("hour_start"),
        F.col("cents").alias("forecast_cents"),
    )
    return actual.join(lagged, ["event_type", "hour_start"]).select(
        "event_type",
        "hour_start",
        "actual_cents",
        "forecast_cents",
        F.abs(F.col("actual_cents") - F.col("forecast_cents")).alias("abs_err"),
    )


def ts_seasonal_naive_oracle_sql() -> str:
    locf = ts_gapfill_locf_oracle_sql()
    return f"""
WITH filled AS ({locf}),
actual AS (
    SELECT event_type, hour_start, cents AS actual_cents
    FROM filled WHERE obs = 1
),
lagged AS (
    SELECT event_type, hour_start + {WEEK_S} AS hour_start,
           cents AS forecast_cents
    FROM filled WHERE cents IS NOT NULL
)
SELECT event_type, hour_start, actual_cents, forecast_cents,
       abs(actual_cents - forecast_cents) AS abs_err
FROM actual JOIN lagged USING (event_type, hour_start)
"""
