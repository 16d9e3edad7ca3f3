"""Stateful streaming processors — the engine's reusable CEP/keyed-state
core (SURVEY §2.7 ST2-ST7, §4.3), built on ``applyInPandasWithState``.

The reference implements these as KeyedProcessFunction /
CoProcessFunction / CEP patterns with ValueState + event-time timers
(OrderTimeout[WithoutCep].scala, TxMatch.scala, LoginFail.scala,
AdClickAnalysis.scala [U]). Spark 4 offers two stateful APIs:
``transformWithStateInPandas`` (multiple named states + multiple
timers, but its state-server protocol needs protobuf, absent in this
environment) and ``applyInPandasWithState`` (Arrow-only, one state
tuple + one event-time timeout per key). We use the latter with the
standard reduction: *the per-key timeout is always set to the earliest
pending deadline, and every invocation first flushes everything whose
deadline the watermark has passed* — semantically identical to
per-item timers, because an event-time timer's only guarantee is
"fires once watermark ≥ deadline".

End-of-input: the replay appends a far-future sentinel row (replay.py)
reproducing Flink's bounded-input ``MAX_WATERMARK``, so all pending
deadlines flush and each processor's finite-input output is *exactly*
its batch twin's — asserted against the same DuckDB oracles.
Processors without timers (``consec_fail_stream``) emit on arrival and
read the plain replay instead: no sentinel, one micro-batch fewer, and
the same chunk files the windowed twins replay.

All processor arithmetic is integer **microseconds** (the precision
the batch operators compare at); state per key is bounded by the
operator's horizon (buffers are GC'd at watermark − horizon/2δ), which
is what keeps state finite under unbounded input at 100 TB.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_project_userbehavioranalysis_spark.streaming.replay import (
    SENTINEL_TYPE,
    events_stream,
    run_append_memory,
)

US = 1_000_000


def _keyed_stream(
    spark: SparkSession,
    sf_dir: str,
    types: list[str] | None,
    n_chunks: int = 4,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sentinel-preserving typed event stream for processor input.

    The sentinel row must flow through the watermark operator (its
    event time is what flushes pending deadlines), so the type filter
    keeps it alongside the operator's real event types. ``types=None``
    means NO type filter — required for processors whose batch twin
    (and oracle) ranges over every event type: a hardcoded type list
    there would silently diverge the day the data grows a new type.
    """
    ev = events_stream(
        spark, sf_dir, n_chunks=n_chunks, sentinel=True, watermark=watermark
    )
    if types is not None:
        ev = ev.filter(F.col("event_type").isin(list(types) + [SENTINEL_TYPE]))
    return ev.select(
        "user_id",
        "event_type",
        "event_id",
        "item_id",
        "ts",
        F.expr("ts_ns div 1000").alias("ts_us"),
    )


def _concat(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return None
    return frames[0] if len(frames) == 1 else pd.concat(frames)


def _rows(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    batch = _concat(pdfs)
    if batch is None:
        return None
    # event_id is unique, so this is the (ts_us, event_id) order
    order = np.lexsort((batch["event_id"].to_numpy(), batch["ts_us"].to_numpy()))
    return batch.iloc[order]


def _set_next_timeout(state: GroupState, deadlines_us: list[int]) -> None:
    """Arm the single per-key timeout at the earliest pending deadline
    (strictly above the watermark, as the API requires)."""
    if deadlines_us:
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(-(-min(deadlines_us) // 1000), wm_ms + 1))


# ------------------------------------------------- ST5/ST6 followed_by_timeout


def followed_by_timeout_func(first: str, second: str, horizon_s: int):
    """CEP ``first followedBy second within(horizon)`` + timeout branch
    (reference OrderTimeout.scala CEP and OrderTimeoutWithoutCep.scala
    :: OrderPayMatchResult [U] — one processor covers both variants).

    Per key: buffer first-events; buffer second-events (they may arrive
    before their first — the out-of-order branch the reference handles
    explicitly); once the watermark passes a first-event's deadline,
    emit matched (earliest second within horizon — all candidates have
    provably arrived) or timeout.
    """
    horizon_us = horizon_s * US

    def fn(key, pdfs, state: GroupState):
        c_ids, c_us, p_us = state.get if state.exists else ([], [], [])
        c_ids, c_us, p_us = list(c_ids), list(c_us), list(p_us)
        batch = None if state.hasTimedOut else _rows(pdfs)
        if batch is not None:
            for r in batch.itertuples(index=False):
                if r.event_type == first:
                    c_ids.append(int(r.event_id))
                    c_us.append(int(r.ts_us))
                elif r.event_type == second:
                    p_us.append(int(r.ts_us))
        wm_us = state.getCurrentWatermarkMs() * 1000
        out = []
        keep_ids, keep_us = [], []
        for cid, cus in zip(c_ids, c_us):
            if cus + horizon_us <= wm_us:  # deadline passed: decidable
                within = [p for p in p_us if cus <= p <= cus + horizon_us]
                if within:
                    out.append((key[0], cid, cus // US, min(within) // US, "payed"))
                else:
                    out.append((key[0], cid, cus // US, None, "timeout"))
            else:
                keep_ids.append(cid)
                keep_us.append(cus)
        p_us = [p for p in p_us if p >= wm_us - horizon_us]  # GC
        if keep_ids or p_us:
            state.update((keep_ids, keep_us, p_us))
            _set_next_timeout(state, [c + horizon_us for c in keep_us])
        else:
            state.remove()
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "order_id", "create_s", "pay_s", "status"]
            )

    return fn


def order_lifecycle_stream(
    spark: SparkSession, sf_dir: str, horizon_s: int = 86400, n_chunks: int = 4
) -> DataFrame:
    """ST5/ST6 streaming-exact: every 'signup' resolves to exactly one
    of {payed, timeout} — equals order_pay_matched ∪ order_timeout."""
    inp = _keyed_stream(spark, sf_dir, ["signup", "purchase"], n_chunks=n_chunks)
    out = inp.groupBy("user_id").applyInPandasWithState(
        followed_by_timeout_func("signup", "purchase", horizon_s),
        outputStructType="user_id BIGINT, order_id BIGINT, create_s BIGINT, pay_s BIGINT, status STRING",
        stateStructType="c_ids ARRAY<BIGINT>, c_us ARRAY<BIGINT>, p_us ARRAY<BIGINT>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    name = f"order_lifecycle_{abs(hash((sf_dir, n_chunks)))}"
    return run_append_memory(out, name, spark).filter(F.col("user_id") >= 0)


def order_lifecycle_oracle_sql(horizon_hours: int = 24) -> str:
    return f"""
SELECT s.user_id, s.event_id AS order_id,
       CAST(floor(epoch(s.ts)) AS BIGINT) AS create_s,
       CAST(floor(epoch(min(p.ts))) AS BIGINT) AS pay_s,
       'payed' AS status
FROM events s
JOIN events p
  ON p.user_id = s.user_id AND p.event_type = 'purchase'
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL {horizon_hours} HOUR
WHERE s.event_type = 'signup'
GROUP BY s.user_id, s.event_id, s.ts
UNION ALL
SELECT s.user_id, s.event_id AS order_id,
       CAST(floor(epoch(s.ts)) AS BIGINT) AS create_s,
       NULL AS pay_s,
       'timeout' AS status
FROM events s
WHERE s.event_type = 'signup'
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
      AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL {horizon_hours} HOUR)
"""


# --------------------------------------------------- ST2 consecutive_events


# Hash buckets that key consec_fail_stream's state: a micro-batch costs
# one vectorized call per touched bucket, not one Python call per user.
STATE_BUCKETS = 16


def consecutive_events_func(fail_type: str, gap_s: int):
    """Streaming-exact v2 consecutive-failure detect (LoginFail.scala
    :: LoginFailWarningAdvanceResult [U]): compare each event with its
    user's previous event (any type) and emit when both are failures
    within the gap. Relies on the replay's time-ordered micro-batches
    (the reference's ascending-watermark assumption); within a batch a
    user's rows are ordered by (ts, event_id).

    Keyed by a hash bucket of users, not by user. A bucket's state is
    three parallel arrays sorted by user — user_id, last event type,
    last ts_us — and the whole bucket is processed with numpy: rows are
    lexsorted by (user, ts, event_id), each row's previous event is the
    row above it within the same user, and each user's first row takes
    its previous event from state (``searchsorted``). The emitted pairs
    are exactly those of a per-user ValueState.

    Scale tradeoff: each trigger rewrites the whole state of every
    bucket it touches — users ÷ ``STATE_BUCKETS`` entries per call —
    where per-user state rewrites only the users that had events."""
    gap_us = gap_s * US

    def fn(key, pdfs, state: GroupState):
        batch = _concat(pdfs)
        if batch is None:
            return
        uid = batch["user_id"].to_numpy(np.int64)
        us = batch["ts_us"].to_numpy(np.int64)
        order = np.lexsort((batch["event_id"].to_numpy(np.int64), us, uid))
        uid, us = uid[order], us[order]
        typ = batch["event_type"].to_numpy(object)[order]
        fail = typ == fail_type
        # previous event of the same user: the row above, or the state
        # entry for the user's first row in this batch
        first = np.r_[True, uid[1:] != uid[:-1]]
        prev_fail = np.r_[False, fail[:-1]]
        prev_us = np.r_[0, us[:-1]]
        prev_fail[first] = False
        s_uid, s_typ, s_us = state.get if state.exists else ([], [], [])
        s_uid = np.asarray(s_uid, np.int64)
        s_typ = np.asarray(s_typ, object)
        s_us = np.asarray(s_us, np.int64)
        rows = np.flatnonzero(first)
        pos = np.searchsorted(s_uid, uid[rows])
        seen = pos < len(s_uid)
        seen[seen] = s_uid[pos[seen]] == uid[rows[seen]]
        rows, pos = rows[seen], pos[seen]
        prev_fail[rows] = s_typ[pos] == fail_type
        prev_us[rows] = s_us[pos]
        hit = fail & prev_fail & (us - prev_us <= gap_us)
        # write back each user's last row, merged with untouched users
        last = np.r_[first[1:], True]
        keep = ~np.isin(s_uid, uid[last])
        n_uid = np.concatenate([s_uid[keep], uid[last]])
        o = np.argsort(n_uid)
        state.update(
            (
                n_uid[o].tolist(),
                np.concatenate([s_typ[keep], typ[last]])[o].tolist(),
                np.concatenate([s_us[keep], us[last]])[o].tolist(),
            )
        )
        if hit.any():
            yield pd.DataFrame(
                {
                    "user_id": uid[hit],
                    "first_fail_s": prev_us[hit] // US,
                    "last_fail_s": us[hit] // US,
                }
            )

    return fn


def consec_fail_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """ST2 streaming-exact — equals the batch lag() formulation.

    No type filter: the batch twin's lag() compares against the
    previous event of ANY type, so the stream must see them all. The
    processor sets no timers and emits on arrival, so it reads the
    plain replay (no end-of-input sentinel)."""
    inp = events_stream(spark, sf_dir, n_chunks=n_chunks).select(
        F.pmod(F.xxhash64("user_id"), F.lit(STATE_BUCKETS)).alias("bucket"),
        "user_id",
        "event_type",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
    )
    out = inp.groupBy("bucket").applyInPandasWithState(
        consecutive_events_func("error", 7200),
        outputStructType="user_id BIGINT, first_fail_s BIGINT, last_fail_s BIGINT",
        stateStructType="user_id ARRAY<BIGINT>, typ ARRAY<STRING>, us ARRAY<BIGINT>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"consec_fail_stream_{abs(hash((sf_dir, n_chunks)))}"
    return run_append_memory(out, name, spark)


# ------------------------------------------------------- ST7 keyed_reconcile


def keyed_reconcile_func(delta_s: int):
    """Two-stream reconciliation (TxMatch.scala :: TxPayMatch
    CoProcessFunction [U]): pays vs receipts per key within ±δ.

    Pairs are emitted when the watermark passes a pay's deadline
    (pay_ts + δ — by then every matchable receipt has arrived);
    receipts that match nothing emit 'unmatched_receipt' at their own
    deadline. Decided receipts stay buffered (flagged) until
    watermark − 2δ so a later-deciding pay can still pair them — the
    same two-sided buffering the reference keeps in payState /
    receiptState."""
    delta_us = delta_s * US

    def fn(key, pdfs, state: GroupState):
        pi, pu, ri, ru, rd = (
            state.get if state.exists else ([], [], [], [], [])
        )
        pays = [list(x) for x in zip(pi, pu)] if pi else []
        recs = [list(x) for x in zip(ri, ru, rd)] if ri else []
        batch = None if state.hasTimedOut else _rows(pdfs)
        if batch is not None:
            for r in batch.itertuples(index=False):
                if r.event_type == "purchase":
                    pays.append([int(r.event_id), int(r.ts_us)])
                elif r.event_type == "click":
                    recs.append([int(r.event_id), int(r.ts_us), 0])
        wm_us = state.getCurrentWatermarkMs() * 1000
        out = []
        # 1) pays whose deadline passed: all matchable receipts arrived
        keep_pays = []
        for pid, pus in pays:
            if pus + delta_us <= wm_us:
                within = [rec for rec in recs if abs(rec[1] - pus) <= delta_us]
                if within:
                    for rec in within:
                        out.append((key[0], pid, rec[0], pus // US, rec[1] // US, "matched"))
                        rec[2] = 1  # decided: matched
                else:
                    out.append((key[0], pid, None, pus // US, None, "unmatched_pay"))
            else:
                keep_pays.append([pid, pus])
        # 2) receipts whose deadline passed and still undecided
        for rec in recs:
            if rec[2] == 0 and rec[1] + delta_us <= wm_us:
                has_pay = any(abs(pus - rec[1]) <= delta_us for _pid, pus in keep_pays)
                if not has_pay:
                    out.append((key[0], None, rec[0], None, rec[1] // US, "unmatched_receipt"))
                # else: the live pay's own deadline will emit the pair
                rec[2] = 1
        # GC decided receipts beyond any live pay's reach
        recs = [rec for rec in recs if not (rec[2] == 1 and rec[1] < wm_us - 2 * delta_us)]
        if keep_pays or recs:
            state.update(
                (
                    [p[0] for p in keep_pays],
                    [p[1] for p in keep_pays],
                    [rec[0] for rec in recs],
                    [rec[1] for rec in recs],
                    [rec[2] for rec in recs],
                )
            )
            pending = [pus + delta_us for _pid, pus in keep_pays]
            pending += [rec[1] + delta_us for rec in recs if rec[2] == 0]
            _set_next_timeout(state, pending)
        else:
            state.remove()
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "pay_id", "receipt_id", "pay_s", "receipt_s", "status"],
            )

    return fn


def tx_reconcile_stream(
    spark: SparkSession, sf_dir: str, delta_s: int = 300, n_chunks: int = 4
) -> DataFrame:
    """ST7 streaming-exact — equals the batch full-outer range join."""
    inp = _keyed_stream(spark, sf_dir, ["purchase", "click"], n_chunks=n_chunks)
    out = inp.groupBy("user_id").applyInPandasWithState(
        keyed_reconcile_func(delta_s),
        outputStructType=(
            "user_id BIGINT, pay_id BIGINT, receipt_id BIGINT, "
            "pay_s BIGINT, receipt_s BIGINT, status STRING"
        ),
        stateStructType=(
            "pi ARRAY<BIGINT>, pu ARRAY<BIGINT>, "
            "ri ARRAY<BIGINT>, ru ARRAY<BIGINT>, rd ARRAY<BIGINT>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    name = f"tx_reconcile_stream_{abs(hash((sf_dir, n_chunks)))}"
    return run_append_memory(out, name, spark).filter(F.col("user_id") >= 0)


# -------------------------------------------------- ST4 threshold_blacklist


def threshold_blacklist_func(threshold: int):
    """Click-fraud blacklist (AdClickAnalysis.scala ::
    FilterBlackListUserResult [U]): per (user, ad) daily click counter,
    fire-once on reaching the threshold. The reference clears state
    with a next-midnight timer; here the day boundary is detected on
    the event path (UTC day of event time) and the timeout clears
    stale state — correctness never depends on timer firing order."""

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # daily reset: midnight passed
            return
        batch = _rows(pdfs)
        if batch is None:
            return
        day_s, cnt, fired = state.get if state.exists else (None, 0, 0)
        out = []
        for r in batch.itertuples(index=False):
            if r.event_type != "click":
                continue
            d = (int(r.ts_us) // (86400 * US)) * 86400
            if d != day_s:
                day_s, cnt, fired = d, 0, 0
            cnt += 1
            if cnt >= threshold and not fired:
                fired = 1
                out.append((d, key[0], key[1]))
        if day_s is not None:
            state.update((day_s, cnt, fired))
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max((day_s + 86400) * 1000, wm_ms + 1))
        if out:
            yield pd.DataFrame(out, columns=["day_start", "user_id", "ad_id"])

    return fn


def blacklist_stream(
    spark: SparkSession, sf_dir: str, threshold: int = 2, n_chunks: int = 4
) -> DataFrame:
    """ST4 streaming-exact fire-once blacklist — key set equals the
    batch HAVING formulation (the batch emits final counts; fire-once
    emits at the crossing, so the keys are the comparable surface)."""
    inp = _keyed_stream(spark, sf_dir, ["click"], n_chunks=n_chunks).filter(
        F.col("item_id").isNotNull() | (F.col("event_type") == SENTINEL_TYPE)
    )
    out = inp.groupBy("user_id", "item_id").applyInPandasWithState(
        threshold_blacklist_func(threshold),
        outputStructType="day_start BIGINT, user_id BIGINT, ad_id BIGINT",
        stateStructType="day_s BIGINT, cnt BIGINT, fired BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    name = f"blacklist_stream_{abs(hash((sf_dir, n_chunks)))}"
    return run_append_memory(out, name, spark).filter(F.col("user_id") >= 0)


def blacklist_stream_oracle_sql(threshold: int = 2) -> str:
    return f"""
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
       user_id,
       TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS ad_id
FROM events
WHERE event_type = 'click'
  AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
GROUP BY 1, 2, 3
HAVING COUNT(*) >= {threshold}
"""


# ----------------------------------------------------- CEP multi-step funnel


def funnel_func(steps: tuple[str, str, str], horizon_s: int):
    """CEP 3-step ``a followedBy b followedBy c within(horizon)`` with
    first-touch semantics — the streaming funnel (batch twin:
    `relational.funnel_conversion`; the reference's CEP module builds
    exactly this shape with Pattern.begin.followedBy.within [U]).

    Per key: the anchor t1 is the running MIN step-a time (a late
    earlier view can only lower it while its timestamp is still above
    the watermark); step-b/c candidates are buffered. Once the
    watermark passes t1 + horizon the whole anchored window is below
    the watermark, every relevant event has provably arrived, and the
    funnel is decided exactly as the batch operator does (earliest b
    after t1, earliest c after that, both within the anchored window).
    A `done` marker survives so stragglers can't re-open a decided
    funnel; buffers are GC'd to the anchored window (with anchor) or
    to watermark − horizon (anchorless), which is what bounds state
    under unbounded input.
    """
    h_us = horizon_s * US
    a, b, c = steps

    def fn(key, pdfs, state: GroupState):
        done, t1, bs, cs = state.get if state.exists else (False, None, [], [])
        bs, cs = list(bs), list(cs)
        batch = None if state.hasTimedOut else _rows(pdfs)
        if batch is not None and not done:
            for r in batch.itertuples(index=False):
                us = int(r.ts_us)
                if r.event_type == a:
                    t1 = us if t1 is None else min(t1, us)
                elif r.event_type == b:
                    bs.append(us)
                elif r.event_type == c:
                    cs.append(us)
        wm_us = state.getCurrentWatermarkMs() * 1000
        out = []
        if not done and t1 is not None and t1 + h_us <= wm_us:
            w_b = [x for x in bs if t1 < x <= t1 + h_us]
            t2 = min(w_b) if w_b else None
            t3 = None
            if t2 is not None:
                w_c = [x for x in cs if t2 < x <= t1 + h_us]
                t3 = min(w_c) if w_c else None
            stage = 3 if t3 is not None else (2 if t2 is not None else 1)
            out.append(
                (
                    key[0],
                    t1 // US,
                    t2 // US if t2 is not None else None,
                    t3 // US if t3 is not None else None,
                    stage,
                )
            )
            done, t1, bs, cs = True, None, [], []
        if done:
            state.update((True, None, [], []))
        elif t1 is not None:
            bs = [x for x in bs if x <= t1 + h_us]
            cs = [x for x in cs if x <= t1 + h_us]
            state.update((False, t1, bs, cs))
            _set_next_timeout(state, [t1 + h_us])
        else:
            bs = [x for x in bs if x > wm_us - h_us]
            cs = [x for x in cs if x > wm_us - h_us]
            if bs or cs:
                state.update((False, None, bs, cs))
            else:
                state.remove()
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "t1_s", "t2_s", "t3_s", "stage"]
            )

    return fn


def funnel_stream(
    spark: SparkSession, sf_dir: str, horizon_s: int = 86400, n_chunks: int = 4
) -> DataFrame:
    """Streaming-exact conversion funnel — same DuckDB oracle as the
    batch `funnel_conversion` (the sentinel's MAX_WATERMARK flushes
    every pending anchor, so finite-input output ≡ batch ≡ oracle)."""
    inp = _keyed_stream(spark, sf_dir, ["view", "click", "purchase"], n_chunks=n_chunks)
    out = inp.groupBy("user_id").applyInPandasWithState(
        funnel_func(("view", "click", "purchase"), horizon_s),
        outputStructType="user_id BIGINT, t1_s BIGINT, t2_s BIGINT, t3_s BIGINT, stage INT",
        stateStructType="done BOOLEAN, t1 BIGINT, bs ARRAY<BIGINT>, cs ARRAY<BIGINT>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    name = f"funnel_stream_{abs(hash((sf_dir, n_chunks)))}"
    return run_append_memory(out, name, spark).filter(F.col("user_id") >= 0)


# ---------------------------------------------- trailing-feature generator


def trailing_features_func(window_days: int = 7):
    """Streaming-exact point-in-time feature generator (the online
    twin of ``behavior.user_trailing_features``): per user, a trailing
    buffer of (ts_us, is_purchase) spanning the feature horizon; each
    arriving event first evicts everything older than its own horizon,
    then emits its features counting ONLY strictly-earlier events
    (same-µs peers excluded — the exact frame the batch RANGE window
    defines), then joins the buffer. State per key is bounded by the
    user's events within ``window_days`` — the horizon-GC invariant
    every processor in this module keeps. Relies on the replay's
    time-ordered micro-batches (same contract as
    ``consecutive_events_func``)."""
    horizon_us = window_days * 86_400 * US

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:  # no timers used; defensive
            return
        batch = _rows(pdfs)
        if batch is None:
            return
        from collections import deque

        ts_buf, purch_buf = state.get if state.exists else ([], [])
        buf = deque(zip(list(ts_buf), list(purch_buf)))
        # running totals + the same-µs tail run make each event O(1)
        # amortized (deque popleft eviction, no per-event buffer scan —
        # the O(events) promise the batch RANGE frame makes). The tail
        # run may span a micro-batch boundary, so it is re-derived from
        # the carried buffer, bounded by same-µs peers (tiny).
        n_buf = len(buf)
        p_buf = sum(p for _, p in buf)
        cur_us, cur_n, cur_p = None, 0, 0
        if buf:
            cur_us = buf[-1][0]
            for t, p in reversed(buf):
                if t != cur_us:
                    break
                cur_n += 1
                cur_p += p
        out = []
        for r in batch.itertuples(index=False):
            if r.event_type == SENTINEL_TYPE:
                continue
            us = int(r.ts_us)
            if us != cur_us:
                cur_us, cur_n, cur_p = us, 0, 0
            while buf and buf[0][0] < us - horizon_us:
                _, p = buf.popleft()
                n_buf -= 1
                p_buf -= p
            out.append((int(r.event_id), key[0], us, n_buf - cur_n, p_buf - cur_p))
            p = 1 if r.event_type == "purchase" else 0
            buf.append((us, p))
            n_buf += 1
            p_buf += p
            cur_n += 1
            cur_p += p
        state.update(([t for t, _ in buf], [p for _, p in buf]))
        if out:
            yield pd.DataFrame(
                out,
                columns=["event_id", "user_id", "ts_us", "n_prev", "n_prev_purchases"],
            )

    return fn


def trailing_features_stream(
    spark: SparkSession, sf_dir: str, window_days: int = 7, n_chunks: int = 4
) -> DataFrame:
    """Streaming-exact trailing features — same DuckDB oracle as the
    batch ``user_trailing_features`` (online feature computation must
    equal the offline training features, or the model trains on a
    distribution it never sees at serving time — the classic
    online/offline skew this twin-oracle setup proves absent).

    No type filter: the batch RANGE frame (and its oracle) counts
    every event type."""
    inp = _keyed_stream(spark, sf_dir, None, n_chunks=n_chunks)
    out = inp.groupBy("user_id").applyInPandasWithState(
        trailing_features_func(window_days),
        outputStructType=(
            "event_id BIGINT, user_id BIGINT, ts_us BIGINT, "
            "n_prev BIGINT, n_prev_purchases BIGINT"
        ),
        stateStructType="ts_buf ARRAY<BIGINT>, purch_buf ARRAY<BIGINT>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"trailing_features_stream_{abs(hash((sf_dir, n_chunks)))}"
    return run_append_memory(out, name, spark).filter(F.col("user_id") >= 0)
