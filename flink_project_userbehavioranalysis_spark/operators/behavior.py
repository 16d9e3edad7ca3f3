"""Behavior-analytics rollups beyond the reference's fixed queries:
session path mining, multi-model ad attribution, RFM segmentation,
inter-event dwell gaps.

Reference mapping (SURVEY.md §2 [U] — checkout empty): the reference's
five modules (HotItems / NetworkFlow / MarketAnalysis / LoginFail /
OrderPay) are all instances of "windowed keyed rollups over a user
behavior stream"; these operators are the next rollups a user of that
project asks for on the same stream (paths, attribution, segmentation,
dwell), built from the same primitives (sessionization T9, windowed agg
A-family, interval-bounded joins J2).

Determinism contract (driver oracle hashes values): every output column
is integer or exact-DECIMAL-derived; orderings that pick a winner are
keyed by (ts, event_id) which is unique; quantile boundaries use
discrete histogram quantiles (integer arithmetic), never interpolated
float percentiles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.functions import money
from flink_project_userbehavioranalysis_spark.io import load_events
from flink_project_userbehavioranalysis_spark.session import FrameOwner

GAP_SECONDS = 1800  # session inactivity gap (matches relational.user_sessions)

# ------------------------------------------------------------- session paths


def _sessionized(events: DataFrame, gap_s: int) -> DataFrame:
    """Events + session id via gaps-and-islands, one shuffle on user_id.

    The µs-integer gap test matches relational.user_sessions_oracle_sql
    exactly (a seconds-truncated compare would misclassify fractional
    gaps). (ts_us, event_id) is the unique in-session order key.
    """
    by_user = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        events.withColumn("ts_us", F.unix_micros("ts"))
        .withColumn(
            "new_session",
            F.when(
                (F.col("ts_us") - F.lag("ts_us").over(by_user) > gap_s * 1_000_000)
                | F.lag("ts_us").over(by_user).isNull(),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_session").over(
                by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )


def session_paths_topk(
    spark: SparkSession, sf_dir: str, gap_s: int = GAP_SECONDS, k: int = 10
) -> DataFrame:
    """Top-k 3-step event-type paths inside user sessions — the
    "common click paths" query behind every funnel-discovery UI.

    Sessions are 30-min-gap islands per user (T9 semantics, same gap
    test as ``relational.user_sessions``); a path is three consecutive
    events inside one session, ordered by (ts, event_id); the winner
    set is ``rank() ≤ k`` over (count DESC, path ASC) — rank, not
    row_number, so boundary ties are included deterministically.

    Scale shape: sessionize + both leads share ONE sort within the
    user_id partition (single shuffle over (user, ts-pair) rows, the
    event payload never moves); the path agg is partial-aggregated
    into a domain bounded by |event_types|³ (125 here), so the final
    rank window over that aggregate is trivially small at any corpus
    size — no global sort of raw data anywhere.

    Output: (path, cnt, rnk).
    """
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    in_session = Window.partitionBy("user_id", "sid").orderBy("ts_us", "event_id")
    paths = (
        _sessionized(ev, gap_s)
        .withColumn("e2", F.lead("event_type", 1).over(in_session))
        .withColumn("e3", F.lead("event_type", 2).over(in_session))
        .filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = paths.withColumn(
        "rnk", F.rank().over(Window.orderBy(F.desc("cnt"), F.asc("path")))
    )
    return ranked.filter(F.col("rnk") <= k)


def session_paths_topk_oracle_sql(gap_s: int = GAP_SECONDS, k: int = 10) -> str:
    return f"""
WITH t AS (
    SELECT user_id, event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                     - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > {gap_s} * 1000000
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), s AS (
    SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
    FROM t
), g AS (
    SELECT event_type,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
    FROM s
    WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id)
), p AS (
    SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS cnt
    FROM g WHERE e3 IS NOT NULL GROUP BY 1
)
SELECT path, cnt, rnk FROM (
    SELECT path, cnt, rank() OVER (ORDER BY cnt DESC, path) AS rnk FROM p
) WHERE rnk <= {k}
"""


# ------------------------------------------------------------- ad attribution


def ad_attribution(spark: SparkSession, sf_dir: str, horizon_s: int = 86400) -> DataFrame:
    """Per-ad purchase attribution under the three classic integer
    models at once: first-touch, last-touch, and raw touch counts
    (the linear model's exact numerators — kept as integers so the
    oracle hash can't wobble on 1/n float sums).

    A *touch* is a click on ad ``item_id`` by the same user strictly
    before the purchase and within ``horizon_s`` of it. First/last
    per purchase are chosen by the unique (ts, event_id) order, so
    simultaneous clicks can't make the winner nondeterministic.
    ``custom_joins.asof_last_click`` answers the per-purchase ASOF
    form; this is the per-ad rollup across models.

    Scale shape: one equi-join on user_id with a pushed range
    predicate (the horizon bounds each purchase's candidate window, so
    pair blowup is touches-per-day, not lifetime); the first/last
    pick is a window partitioned by purchase event_id (already
    co-partitioned by the join's user hash — no extra exchange of raw
    events); final agg is partial-aggregated over the bounded ad
    domain. A celebrity-user skew lands in the user join — AQE
    skew-join splits it; nothing here forces a broadcast of the
    unbounded side.

    Output: (ad, n_first, n_last, n_touch).
    """
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid"), "item_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    pairs = clicks.join(purchases, "user_id").filter(
        (F.col("cts") < F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr(f"INTERVAL {int(horizon_s)} SECOND"))
    )
    by_purchase = Window.partitionBy("pid")
    flagged = pairs.withColumn(
        "rn_first", F.row_number().over(by_purchase.orderBy("cts", "cid"))
    ).withColumn(
        "rn_last", F.row_number().over(by_purchase.orderBy(F.desc("cts"), F.desc("cid")))
    )
    return (
        flagged.groupBy(F.col("item_id").alias("ad"))
        .agg(
            F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0)).alias("n_first"),
            F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0)).alias("n_last"),
            F.count("*").alias("n_touch"),
        )
    )


def ad_attribution_oracle_sql(horizon_s: int = 86400) -> str:
    return f"""
WITH clicks AS (
    SELECT user_id, ts AS cts, event_id AS cid,
           CAST(json_extract_string(props, '$.k') AS INT) AS ad
    FROM events WHERE event_type = 'click'
), purchases AS (
    SELECT user_id, ts AS pts, event_id AS pid
    FROM events WHERE event_type = 'purchase'
), pairs AS (
    SELECT c.ad, p.pid, c.cts, c.cid,
           row_number() OVER (PARTITION BY p.pid ORDER BY c.cts, c.cid) AS rn_first,
           row_number() OVER (PARTITION BY p.pid ORDER BY c.cts DESC, c.cid DESC) AS rn_last
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id
     AND c.cts < p.pts
     AND c.cts >= p.pts - INTERVAL {int(horizon_s)} SECOND
)
SELECT ad,
       CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
       CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
       count(*) AS n_touch
FROM pairs GROUP BY 1
"""


# ---------------------------------------------------------- RFM segmentation


def rfm_segments(spark: SparkSession, sf_dir: str, mon_bucket: int = 1) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of
    the user base — the canonical marketing segmentation over a
    behavior stream. Per user: recency = whole days between their last
    event and the corpus max event time; frequency = purchase count;
    monetary = exact-DECIMAL purchase value, floored to whole dollars.
    Each metric is scored 1–4 by *discrete histogram quartiles*:
    boundary b_q = smallest metric value whose cumulative user count
    reaches ⌈q·n⌉; score = 1 + Σ_q [v > b_q] (recency inverted: recent
    = good). Integer arithmetic end-to-end — no interpolated float
    percentile can land a user on a different side of a boundary in a
    different engine.

    Scale shape: the per-user rollup is one partial-aggregated shuffle
    on user_id. Boundaries come from a histogram: groupBy(metric,
    value) → counts, then a cumulative window ordered by value *per
    metric*. That window's partition is the metric's value domain —
    days-in-corpus, purchase counts, whole-dollar totals — aggregate
    cardinality that grows with value ranges, not user count, which is
    what makes this formulation viable where a global ntile() sort of
    all users (one-task window) is not. The 9-row boundary table
    broadcast-joins back onto users.

    ``mon_bucket`` is the scale dial for the one domain that can creep
    toward user cardinality: high-variance spend makes distinct
    whole-dollar totals numerous, so the monetary metric is coarsened
    to ``mon_bucket``-dollar buckets (bucket start) BEFORE the
    histogram — boundary selection and boundary application both see
    the coarsened domain, so scores stay consistent quartiles of it.
    Default 1 = whole dollars; at 100 TB pick a width that caps the
    domain (e.g. 100 ⇒ ≤ max_spend/100 distinct values per task).

    Output: (r_score, f_score, m_score, n_users).
    """
    if mon_bucket < 1:
        raise ValueError("mon_bucket must be >= 1")
    ev = load_events(spark, sf_dir)
    is_buy = F.col("event_type") == "purchase"
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.sum(F.when(is_buy, 1).otherwise(0)).alias("freq"),
            F.coalesce(
                F.sum(F.when(is_buy, money("value"))), F.lit(0).cast("decimal(18,2)")
            ).alias("mon"),
        )
    )
    corpus_max = ev.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    users = (
        per_user.crossJoin(F.broadcast(corpus_max))
        .select(
            "user_id",
            ((F.col("max_us") - F.col("last_us")) / F.lit(86_400_000_000)).cast("long").alias("recency"),
            F.col("freq").cast("long").alias("freq"),
            F.expr(
                f"CAST(floor(mon) AS BIGINT) div {int(mon_bucket)} * {int(mon_bucket)}"
            ).alias("mon"),
        )
    )
    melted = users.selectExpr(
        "stack(3, 'r', recency, 'f', freq, 'm', mon) AS (metric, v)"
    )
    hist = melted.groupBy("metric", "v").agg(F.count("*").alias("c"))
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("metric")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn("n", F.sum("c").over(Window.partitionBy("metric")))
    bounds = (
        cum.select(
            "metric",
            "v",
            "cum",
            F.expr("(n + 3) div 4").alias("t25"),
            F.expr("(n + 1) div 2").alias("t50"),
            F.expr("(3 * n + 3) div 4").alias("t75"),
        )
        .groupBy("metric")
        .agg(
            F.min(F.when(F.col("cum") >= F.col("t25"), F.col("v"))).alias("b25"),
            F.min(F.when(F.col("cum") >= F.col("t50"), F.col("v"))).alias("b50"),
            F.min(F.when(F.col("cum") >= F.col("t75"), F.col("v"))).alias("b75"),
        )
    )

    # One wide boundary row (9 values), broadcast onto users — boundary
    # application stays inside the dataflow, nothing collect()ed.
    bounds_row = bounds.groupBy().pivot("metric", ["r", "f", "m"]).agg(
        F.first("b25").alias("b25"),
        F.first("b50").alias("b50"),
        F.first("b75").alias("b75"),
    )

    def score(v, m):
        return (
            F.lit(1)
            + (v > F.col(f"{m}_b25")).cast("int")
            + (v > F.col(f"{m}_b50")).cast("int")
            + (v > F.col(f"{m}_b75")).cast("int")
        )

    scored = users.crossJoin(F.broadcast(bounds_row)).select(
        (F.lit(5) - score(F.col("recency"), "r")).alias("r_score"),
        score(F.col("freq"), "f").alias("f_score"),
        score(F.col("mon"), "m").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_users")
    )


def rfm_segments_oracle_sql(mon_bucket: int = 1) -> str:
    return f"""
WITH per_user AS (
    SELECT user_id,
           max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS freq,
           coalesce(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(18,2)) END),
                    CAST(0 AS DECIMAL(18,2))) AS mon
    FROM events GROUP BY 1
), mx AS (
    SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us FROM events
), users AS (
    SELECT user_id,
           (mx.max_us - last_us) // 86400000000 AS recency,
           CAST(freq AS BIGINT) AS freq,
           CAST(floor(mon) AS BIGINT) // {int(mon_bucket)} * {int(mon_bucket)} AS mon
    FROM per_user, mx
), melted AS (
    SELECT 'r' AS metric, recency AS v FROM users
    UNION ALL SELECT 'f', freq FROM users
    UNION ALL SELECT 'm', mon FROM users
), hist AS (
    SELECT metric, v, count(*) AS c FROM melted GROUP BY 1, 2
), cum AS (
    SELECT metric, v,
           sum(c) OVER (PARTITION BY metric ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY metric) AS n
    FROM hist
), bounds AS (
    SELECT metric,
           min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS b25,
           min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS b50,
           min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS b75
    FROM cum GROUP BY 1
), scored AS (
    SELECT 5 - (1 + CAST(u.recency > br.b25 AS INT)
                  + CAST(u.recency > br.b50 AS INT)
                  + CAST(u.recency > br.b75 AS INT)) AS r_score,
           1 + CAST(u.freq > bf.b25 AS INT)
             + CAST(u.freq > bf.b50 AS INT)
             + CAST(u.freq > bf.b75 AS INT) AS f_score,
           1 + CAST(u.mon > bm.b25 AS INT)
             + CAST(u.mon > bm.b50 AS INT)
             + CAST(u.mon > bm.b75 AS INT) AS m_score
    FROM users u,
         (SELECT * FROM bounds WHERE metric = 'r') br,
         (SELECT * FROM bounds WHERE metric = 'f') bf,
         (SELECT * FROM bounds WHERE metric = 'm') bm
)
SELECT r_score, f_score, m_score, count(*) AS n_users
FROM scored GROUP BY 1, 2, 3
"""


RFM_SEGMENTS_SQL = rfm_segments_oracle_sql(1)


# ------------------------------------------------------------- dwell gaps


def dwell_gaps(spark: SparkSession, sf_dir: str, gap_s: int = GAP_SECONDS) -> DataFrame:
    """Per-event-type dwell time: how long users linger on an event
    before their next action *in the same session* (the time-on-page
    metric; cross-session gaps are idle time, not dwell, and are
    excluded by the same 30-min islands as the path miner).

    Determinism: gaps are integer µs differences; the mean divides the
    exact BIGINT µs sum by the exact count (one IEEE division — same
    convention as functions.exact_avg). Scale shape: sessionize + lead
    share one user_id-partitioned sort; final agg is partial-aggregated
    over the event-type domain.

    Output: (event_type, n_gaps, total_dwell_s, avg_dwell_s).
    """
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    in_session = Window.partitionBy("user_id", "sid").orderBy("ts_us", "event_id")
    gaps = (
        _sessionized(ev, gap_s)
        .withColumn("gap_us", F.lead("ts_us").over(in_session) - F.col("ts_us"))
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(F.count("*").alias("n_gaps"), F.sum("gap_us").alias("sum_us"))
        .select(
            "event_type",
            "n_gaps",
            F.expr("sum_us div 1000000").alias("total_dwell_s"),
            (F.col("sum_us").cast("double") / F.lit(1_000_000) / F.col("n_gaps")).alias(
                "avg_dwell_s"
            ),
        )
    )


def dwell_gaps_oracle_sql(gap_s: int = GAP_SECONDS) -> str:
    return f"""
WITH t AS (
    SELECT user_id, event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                     - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > {gap_s} * 1000000
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), s AS (
    SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
    FROM t
), g AS (
    SELECT event_type,
           lead(us) OVER (PARTITION BY user_id, sid ORDER BY us, event_id) - us AS gap_us
    FROM s
)
SELECT event_type, count(*) AS n_gaps,
       CAST(sum(gap_us) // 1000000 AS BIGINT) AS total_dwell_s,
       (CAST(sum(gap_us) AS DOUBLE) / 1000000) / count(*) AS avg_dwell_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY 1
"""


# ------------------------------------------------------- item co-occurrence


def co_purchase_pairs(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = 2,
    max_basket: int | None = None,
) -> DataFrame:
    """Market-basket item co-occurrence: pairs of ads/items purchased
    by the same user on the same day, with the pair's basket support
    and each item's own basket count — the integer inputs of every
    association metric (lift/confidence are downstream ratios; emitting
    only exact integers keeps the oracle hash airtight).

    A basket is a distinct (user, day, item) triple — repeat purchases
    of one item that day don't inflate co-occurrence. Pairs come from a
    basket self-join on (user, day) with ``item_a < item_b``; supports
    below ``min_support`` are noise and dropped.

    Scale shape: basket distinct + self-join share one (user, day)
    hash partitioning; pair blowup is Σ (items-per-user-day)² — a
    per-basket property bounded by catalog behavior, not corpus size.
    ``max_basket`` makes that bound hold BY CONSTRUCTION instead of by
    AQE rescue: user-days with more than ``max_basket`` distinct items
    (bots, resellers, celebrity accounts) are dropped before the
    self-join — the width filter shares the baskets' (user, day)
    partitioning — and the number of dropped baskets rides every
    output row as ``n_dropped_baskets`` (broadcast 1-row cross join),
    so the cap's blast radius is visible in the result, never silent.
    Item supports (a_n/b_n) are computed over the SAME capped basket
    set, keeping pair_n ≤ min(a_n, b_n) true under the cap. Both final
    aggs are partial-aggregated over the item/pair domain.

    Output: (item_a, item_b, pair_n, a_n, b_n[, n_dropped_baskets]).
    """
    ev = load_events(spark, sf_dir)
    baskets = (
        ev.filter((F.col("event_type") == "purchase") & F.col("item_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"), "item_id")
        .distinct()
    )
    dropped_n = None
    if max_basket is not None:
        width = baskets.groupBy("user_id", "day").agg(F.count("*").alias("bw"))
        kept = width.filter(F.col("bw") <= max_basket).select("user_id", "day")
        dropped_n = width.filter(F.col("bw") > max_basket).agg(
            F.count("*").alias("n_dropped_baskets")
        )
        baskets = baskets.join(kept, ["user_id", "day"])
    item_n = baskets.groupBy("item_id").agg(F.count("*").alias("n"))
    a = baskets.select("user_id", "day", F.col("item_id").alias("item_a"))
    b = baskets.select("user_id", "day", F.col("item_id").alias("item_b"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= min_support)
    )
    out = (
        pairs.join(item_n.select(F.col("item_id").alias("item_a"), F.col("n").alias("a_n")), "item_a")
        .join(item_n.select(F.col("item_id").alias("item_b"), F.col("n").alias("b_n")), "item_b")
        .select("item_a", "item_b", "pair_n", "a_n", "b_n")
    )
    if dropped_n is not None:
        out = out.crossJoin(F.broadcast(dropped_n))
    return out


def co_purchase_pairs_capped(
    spark: SparkSession, sf_dir: str, min_support: int = 2, max_basket: int = 3
) -> DataFrame:
    """Registered form of the basket-width-capped co-purchase rollup
    (the 100 TB posture: per-basket quadratic bounded by construction;
    see ``co_purchase_pairs``)."""
    return co_purchase_pairs(
        spark, sf_dir, min_support=min_support, max_basket=max_basket
    )


def co_purchase_pairs_oracle_sql(
    min_support: int = 2, max_basket: int | None = None
) -> str:
    if max_basket is not None:
        basket_cte = f"""baskets0 AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
           CAST(json_extract_string(props, '$.k') AS INT) AS item_id
    FROM events
    WHERE event_type = 'purchase' AND json_extract_string(props, '$.k') IS NOT NULL
), width AS (
    SELECT user_id, day, count(*) AS bw FROM baskets0 GROUP BY 1, 2
), baskets AS (
    SELECT b.user_id, b.day, b.item_id
    FROM baskets0 b JOIN width w
      ON b.user_id = w.user_id AND b.day = w.day AND w.bw <= {int(max_basket)}
), dropped AS (
    SELECT CAST(count(*) AS BIGINT) AS n_dropped_baskets
    FROM width WHERE bw > {int(max_basket)}
)"""
        tail_cols = ", d.n_dropped_baskets"
        tail_join = " CROSS JOIN dropped d"
    else:
        basket_cte = """baskets AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
           CAST(json_extract_string(props, '$.k') AS INT) AS item_id
    FROM events
    WHERE event_type = 'purchase' AND json_extract_string(props, '$.k') IS NOT NULL
)"""
        tail_cols = ""
        tail_join = ""
    return f"""
WITH {basket_cte}, item_n AS (
    SELECT item_id, count(*) AS n FROM baskets GROUP BY 1
), pairs AS (
    SELECT a.item_id AS item_a, b.item_id AS item_b, count(*) AS pair_n
    FROM baskets a JOIN baskets b
      ON a.user_id = b.user_id AND a.day = b.day AND a.item_id < b.item_id
    GROUP BY 1, 2
    HAVING count(*) >= {min_support}
)
SELECT p.item_a, p.item_b, p.pair_n, na.n AS a_n, nb.n AS b_n{tail_cols}
FROM pairs p
JOIN item_n na ON na.item_id = p.item_a
JOIN item_n nb ON nb.item_id = p.item_b{tail_join}
"""


# ------------------------------------------- point-in-time trailing features


def user_trailing_features(
    spark: SparkSession, sf_dir: str, window_days: int = 7
) -> DataFrame:
    """Point-in-time-correct trailing activity features — the feature-
    generation step of a training pipeline: for EVERY event, the user's
    activity counts over the trailing ``window_days`` ending strictly
    BEFORE the event (so a model trained on these features sees only
    information available at prediction time — no label leakage; the
    strict bound also excludes same-microsecond peers on both engines,
    making the frame definition engine-exact).

    Scale shape: ONE shuffle on user_id; the RANGE frame over the
    µs-integer order is evaluated incrementally (sliding two-pointer
    over each user's sorted events — O(events) per user, not
    O(events²)); both feature columns share the single window. At
    100 TB the user-key partitioning is the natural one (bounded rows
    per user), and the same frame extends to any number of trailing
    aggregates without new shuffles.

    Output: (event_id, user_id, ts_us, n_prev, n_prev_purchases) —
    all exact integers.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-window_days * 86_400 * 1_000_000, -1)
    )
    return (
        load_events(spark, sf_dir)
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
        )
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.count("ts_us").over(w).alias("n_prev"),
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                ).over(w),
                F.lit(0),
            ).cast("long").alias("n_prev_purchases"),
        )
    )


def user_trailing_features_oracle_sql(window_days: int = 7) -> str:
    us = window_days * 86_400 * 1_000_000
    return f"""
SELECT event_id, user_id,
       epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
       count(*) OVER w AS n_prev,
       CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     OVER w, 0) AS BIGINT) AS n_prev_purchases
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN {us} PRECEDING AND 1 PRECEDING)
"""


# ------------------------------------------------------ negative sampling


def negative_sample_pairs(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    catalog_size: int = 20,
    seed: str = "neg1",
) -> DataFrame:
    """Deterministic negative sampling for recommender training — for
    every user, ``k`` popularity-ranked catalog items the user NEVER
    interacted with, ordered by a seeded hash so negatives are
    reproducible across runs/engines and re-seedable per epoch (the
    (user, positive, negative) triple generator of BPR/contrastive
    training, minus the trivial positives join).

    Scale shape: the candidate catalog is the top-``catalog_size``
    items by interaction count (TakeOrderedAndProject + broadcast —
    a bounded dimension no matter the SF); users × catalog explodes to
    |users|·M rows which the interaction anti-join prunes (one shuffle
    on the (user, item) pair); the per-user top-k window sorts ≤ M
    rows per user, never a global sort. No RNG state anywhere: rank =
    md5(seed:user:item) — a pure function of the pair.

    Output: (user_id, item_id, rnk) with rnk 1..k — integers only.
    """
    ev = load_events(spark, sf_dir).filter(F.col("item_id").isNotNull())
    pop = (
        ev.groupBy("item_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("item_id"))
        .limit(int(catalog_size))
        .select("item_id")
    )
    users = ev.select("user_id").distinct()
    inter = ev.select("user_id", "item_id").distinct()
    cand = users.crossJoin(F.broadcast(pop))
    h = F.md5(
        F.concat_ws(":", F.lit(seed), F.col("user_id").cast("string"), F.col("item_id").cast("string")).cast("binary")
    )
    w = Window.partitionBy("user_id").orderBy(h, "item_id")
    return (
        cand.join(inter, ["user_id", "item_id"], "left_anti")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
        .select("user_id", "item_id", F.col("rnk").cast("long").alias("rnk"))
    )


def negative_sample_pairs_oracle_sql(
    k: int = 5, catalog_size: int = 20, seed: str = "neg1"
) -> str:
    return f"""
WITH ev AS (
    SELECT user_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS item_id
    FROM events
    WHERE TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
), pop AS (
    SELECT item_id FROM ev GROUP BY 1
    ORDER BY count(*) DESC, item_id ASC LIMIT {int(catalog_size)}
), users AS (
    SELECT DISTINCT user_id FROM ev
), cand AS (
    SELECT u.user_id, p.item_id FROM users u CROSS JOIN pop p
    WHERE NOT EXISTS (SELECT 1 FROM ev e
                      WHERE e.user_id = u.user_id AND e.item_id = p.item_id)
)
SELECT user_id, item_id, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT user_id, item_id,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY md5('{seed}:' || CAST(user_id AS VARCHAR) || ':'
                            || CAST(item_id AS VARCHAR)), item_id) AS rnk
    FROM cand
) WHERE rnk <= {int(k)}
"""


# ------------------------------------------------------- churn label windows


def churn_labels(
    spark: SparkSession, sf_dir: str, horizon_hours: int = 24
) -> DataFrame:
    """Forward-looking churn-label generation — the LABEL half of a
    training set whose FEATURE half is ``user_trailing_features``: for
    every (user, active hour), did the user go silent for the next
    ``horizon_hours``? Labels look strictly FORWARD (features look
    strictly backward), so joining the two on (user, time) yields a
    leakage-free supervised dataset. Hour grain matches this stream's
    activity cadence (a day-grain label is ~all-negative here: users
    touch the product most days, but ~10% of active hours are followed
    by a >24 h silence — a learnable target).

    Censoring is explicit: an hour less than ``horizon_hours`` before
    the corpus end cannot be labeled (the future is unobserved), so
    those rows are EXCLUDED rather than silently labeled 0 — the
    mistake that poisons churn models with truncated negatives.

    Scale shape: distinct (user, hour) activity + one user-key window
    for the next-active-hour lead (both share one shuffle); the corpus
    end is a 1-row broadcast. All outputs exact integers.

    Output: (user_id, hour_s, next_gap_hours, churned) —
    next_gap_hours NULL when the user never returns (churned = 1).
    """
    ev = load_events(spark, sf_dir)
    hourly = ev.select(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).distinct()
    nxt = Window.partitionBy("user_id").orderBy("h")
    max_h = ev.groupBy().agg(F.date_trunc("hour", F.max("ts")).alias("max_h"))
    horizon = int(horizon_hours) * 3600
    return (
        hourly.withColumn("next_h", F.lead("h").over(nxt))
        .crossJoin(F.broadcast(max_h))
        .filter(F.col("h").cast("long") + horizon <= F.col("max_h").cast("long"))
        .select(
            "user_id",
            F.col("h").cast("long").alias("hour_s"),
            (
                (F.col("next_h").cast("long") - F.col("h").cast("long"))
                / F.lit(3600)
            ).cast("long").alias("next_gap_hours"),
            F.when(
                F.col("next_h").isNull()
                | (F.col("next_h").cast("long") - F.col("h").cast("long") > horizon),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("churned"),
        )
    )


def churn_labels_oracle_sql(horizon_hours: int = 24) -> str:
    horizon = int(horizon_hours) * 3600
    return f"""
WITH hourly AS (
    SELECT DISTINCT user_id,
           CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hs
    FROM events
), mx AS (
    SELECT CAST(epoch(date_trunc('hour', max(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS max_s
    FROM events
), led AS (
    SELECT user_id, hs,
           lead(hs) OVER (PARTITION BY user_id ORDER BY hs) AS next_s
    FROM hourly
)
SELECT user_id, hs AS hour_s,
       CAST((next_s - hs) / 3600 AS BIGINT) AS next_gap_hours,
       CAST(CASE WHEN next_s IS NULL OR next_s - hs > {horizon}
                 THEN 1 ELSE 0 END AS BIGINT) AS churned
FROM led, mx
WHERE hs + {horizon} <= mx.max_s
"""


# ------------------------------------------------------ training-set assembly


def churn_training_set(
    spark: SparkSession,
    sf_dir: str,
    horizon_hours: int = 24,
    feature_days: int = 7,
) -> DataFrame:
    """END-TO-END supervised-dataset assembly in one declarative
    dataflow: for every labeled (user, active hour) from
    ``churn_labels``, the strictly-backward activity features over the
    trailing ``feature_days`` — features end BEFORE the hour starts,
    the label starts AFTER the hour's activity, so the dataset is
    leakage-free by construction on both sides.

    Scale shape: everything runs at (user, hour) aggregate grain — the
    hourly rollup is ONE partial-aggregated shuffle of raw events, and
    the trailing sums are a RANGE window over those hourly aggregates
    (≈ user-hours rows, not events), sharing the same user-key
    clustering as the label window and the final join. No second scan
    of the fact table for features vs labels.

    Output: (user_id, hour_s, n_prev_7d, n_purch_7d, churned) — exact
    integers, one row per labeled example.
    """
    ev = load_events(spark, sf_dir)
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
        )
        .select("user_id", F.col("h").cast("long").alias("hour_s"), "n", "np")
    )
    # strictly-backward frame: hours in [hour_s - feature_days, hour_s)
    horizon_s = int(feature_days) * 86_400
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_s")
        .rangeBetween(-horizon_s, -1)
    )
    feats = hourly.select(
        "user_id",
        "hour_s",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias("n_prev_7d"),
        F.coalesce(F.sum("np").over(w), F.lit(0)).cast("long").alias("n_purch_7d"),
    )
    labels = churn_labels(spark, sf_dir, horizon_hours=horizon_hours).select(
        "user_id", "hour_s", "churned"
    )
    return feats.join(labels, ["user_id", "hour_s"]).select(
        "user_id", "hour_s", "n_prev_7d", "n_purch_7d", "churned"
    )


def churn_training_set_oracle_sql(
    horizon_hours: int = 24, feature_days: int = 7
) -> str:
    labels = churn_labels_oracle_sql(horizon_hours).strip()
    horizon_s = int(feature_days) * 86_400
    return f"""
WITH labels AS ({labels}),
hourly AS (
    SELECT user_id,
           CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_s,
           count(*) AS n,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
    FROM events GROUP BY 1, 2
), feats AS (
    SELECT user_id, hour_s,
           CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS n_prev_7d,
           CAST(coalesce(sum(np) OVER w, 0) AS BIGINT) AS n_purch_7d
    FROM hourly
    WINDOW w AS (PARTITION BY user_id ORDER BY hour_s
                 RANGE BETWEEN {horizon_s} PRECEDING AND 1 PRECEDING)
)
SELECT f.user_id, f.hour_s, f.n_prev_7d, f.n_purch_7d, l.churned
FROM feats f JOIN labels l ON f.user_id = l.user_id AND f.hour_s = l.hour_s
"""


# ------------------------------------------------------- rolling retention


def retention_rolling(
    spark: SparkSession, sf_dir: str, horizons=(1, 7)
) -> DataFrame:
    """Day-grain rolling retention — the other canonical retention
    curve beside the weekly cohort matrix (``cohort_retention``): for
    every calendar day, how many of that day's active users were
    active again exactly ``k`` days later, for each horizon (classic
    D1/D7 retention). Exact integers; rates stay (retained, active)
    pairs so nothing floats.

    Scale shape: ONE distinct pass stages the (user, day) activity
    relation (aggregate cardinality); each horizon is then a narrow
    self-equi-join on (user, day+k) — the join keys are two ints, the
    event payload never appears — followed by a partial-aggregated
    per-day count. Horizons are a handful of constants, so the whole
    curve is |horizons| narrow joins over the SAME staged relation
    (exchange-reuse candidates on the user+day clustering).

    Output: (day, active, retained_1, retained_7) — ISO day string +
    exact BIGINTs; trailing days report the naturally-truncated
    horizon (no future data), matching the oracle.
    """
    ev = load_events(spark, sf_dir)
    with FrameOwner() as own:
        ud = own.persisted(ev.select(F.to_date("ts").alias("d"), "user_id").distinct())
        out = ud.groupBy("d").agg(F.count("*").alias("active"))
        for k in horizons:
            later = ud.select(F.date_sub(F.col("d"), k).alias("d"), "user_id")
            ret = (
                ud.join(later, ["d", "user_id"], "left_semi")
                .groupBy("d")
                .agg(F.count("*").alias(f"retained_{k}"))
            )
            out = out.join(ret, "d", "left")
        return out.select(
            F.col("d").cast("string").alias("day"),
            "active",
            *[
                F.coalesce(f"retained_{k}", F.lit(0)).cast("long").alias(f"retained_{k}")
                for k in horizons
            ],
        ).localCheckpoint(eager=True)


def retention_rolling_oracle_sql(horizons=(1, 7)) -> str:
    rets = []
    joins = []
    for k in horizons:
        rets.append(f"coalesce(r{k}.retained_{k}, 0) AS retained_{k}")
        joins.append(
            f"""LEFT JOIN (
    SELECT a.d, CAST(count(*) AS BIGINT) AS retained_{k}
    FROM ud a JOIN ud b ON a.user_id = b.user_id
                      AND b.d = a.d + CAST({k} AS INTEGER)
    GROUP BY 1
) r{k} ON act.d = r{k}.d"""
        )
    return f"""
WITH ud AS (
    SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id
    FROM events
), act AS (
    SELECT d, CAST(count(*) AS BIGINT) AS active FROM ud GROUP BY 1
)
SELECT CAST(act.d AS VARCHAR) AS day, act.active, {", ".join(rets)}
FROM act {" ".join(joins)}
"""
