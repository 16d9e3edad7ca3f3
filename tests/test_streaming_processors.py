"""Stateful processor tests: streaming ≡ batch ≡ oracle on finite
input (the ST2/ST4/ST5/ST6/ST7 parity promised by SURVEY §4.3)."""

from collections import defaultdict

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_project_userbehavioranalysis_spark.operators import login as L
from flink_project_userbehavioranalysis_spark.operators import market as M
from flink_project_userbehavioranalysis_spark.operators import order_pay as OP
from flink_project_userbehavioranalysis_spark.streaming import processors as P
from tests.conftest import SF_DIR_MID
from tests.oracle import assert_matches_oracle

US = 1_000_000


class _FakeState:
    """The slice of ``GroupState`` the NoTimeout processors use."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def test_order_lifecycle_stream(spark, sf_dir):
    """ST5/ST6: every signup resolves to exactly one of payed/timeout;
    equals the batch matched-join ∪ anti-join."""
    df = P.order_lifecycle_stream(spark, sf_dir)
    assert_matches_oracle(df, P.order_lifecycle_oracle_sql(), sf_dir)
    # batch twins: timeout branch and matched branch partition the output
    t = OP.order_timeout(spark, sf_dir).count()
    m = OP.order_pay_matched(spark, sf_dir).count()
    assert df.count() == t + m


def test_order_lifecycle_equals_batch_union(spark, sf_dir):
    stream = {
        (r["user_id"], r["order_id"], r["create_s"], r["pay_s"], r["status"])
        for r in P.order_lifecycle_stream(spark, sf_dir).collect()
    }
    batch = {
        (r["user_id"], r["order_id"], r["create_s"], r["pay_s"], "payed")
        for r in OP.order_pay_matched(spark, sf_dir).collect()
    } | {
        (r["user_id"], r["order_id"], r["create_s"], None, "timeout")
        for r in OP.order_timeout(spark, sf_dir).collect()
    }
    assert stream == batch


def test_consec_fail_stream(spark, sf_dir):
    """ST2 streaming-exact equals the batch lag() formulation."""
    df = P.consec_fail_stream(spark, sf_dir)
    assert_matches_oracle(df, L.consec_fail_oracle_sql(), sf_dir)
    batch = {tuple(r) for r in L.consec_fail(spark, sf_dir).collect()}
    assert {tuple(r) for r in df.collect()} == batch


@pytest.mark.parametrize("n_chunks", [1, 7])
def test_consec_fail_stream_equals_batch_mid_scale(spark, n_chunks):
    """Bucketed state crosses every micro-batch boundary: one batch and
    seven batches give the batch lag() rows at sf0.01."""
    batch = sorted(tuple(r) for r in L.consec_fail(spark, SF_DIR_MID).collect())
    df = P.consec_fail_stream(spark, SF_DIR_MID, n_chunks=n_chunks)
    assert sorted(tuple(r) for r in df.collect()) == batch and batch


# ------------------------------------------ consecutive_events_func (no Spark)

GAP_S = 2
N_BUCKETS = 3


def _reference_pairs(batches, gap_s=GAP_S):
    """Per-user ValueState: each batch's rows of a user in (ts_us,
    event_id) order, the previous event carried across batches."""
    prev, out = {}, []
    for batch in batches:
        by_user = defaultdict(list)
        for eid, uid, us, typ in batch:
            by_user[uid].append((us, eid, typ))
        for uid, rows in by_user.items():
            p_typ, p_us = prev.get(uid, (None, None))
            for us, _eid, typ in sorted(rows):
                if typ == "error" and p_typ == "error" and us - p_us <= gap_s * US:
                    out.append((uid, p_us // US, us // US))
                p_typ, p_us = typ, us
            prev[uid] = (p_typ, p_us)
    return sorted(out)


def _bucketed_pairs(batches, gap_s=GAP_S):
    """Drive the bucketed processor as the engine does: one call per
    (micro-batch, bucket), the bucket's rows split over two frames."""
    fn = P.consecutive_events_func("error", gap_s)
    states, out = defaultdict(_FakeState), []
    for batch in batches:
        pdf = pd.DataFrame(batch, columns=["event_id", "user_id", "ts_us", "event_type"])
        for b, grp in pdf.groupby(pdf["user_id"] % N_BUCKETS):
            half = len(grp) // 2
            for res in fn((b,), iter([grp.iloc[:half], grp.iloc[half:]]), states[b]):
                out += [tuple(int(x) for x in r) for r in res.itertuples(index=False)]
            users = states[b].get[0]
            assert list(users) == sorted(set(users))  # sorted, one entry per user
    return sorted(out)


def _split(rows, cuts):
    bounds = [0, *sorted(c % (len(rows) + 1) for c in cuts), len(rows)]
    return [rows[a:b] for a, b in zip(bounds, bounds[1:])]


@st.composite
def _events(draw):
    """(event_id, user_id, ts_us, event_type) rows: few users and a
    half-second grid, so ts ties and gaps of exactly GAP_S are common;
    event ids are a random permutation, so ties need the id order."""
    picks = draw(
        st.lists(
            st.tuples(
                st.integers(0, 5), st.integers(0, 16), st.sampled_from(["error", "login", "view"])
            ),
            max_size=40,
        )
    )
    ids = draw(st.permutations(range(len(picks))))
    return [(eid, u, t * US // 2, typ) for eid, (u, t, typ) in zip(ids, picks)]


@settings(max_examples=200, deadline=None)
@given(rows=_events(), cuts=st.lists(st.integers(0, 40), max_size=4))
def test_consecutive_events_func_matches_per_user_reference(rows, cuts):
    """Random events under random micro-batch splits equal the per-user
    loop; time-ordered splits equal the single-batch (lag) result."""
    assert _bucketed_pairs(_split(rows, cuts)) == _reference_pairs(_split(rows, cuts))
    ordered = sorted(rows, key=lambda r: (r[2], r[0]))
    assert _bucketed_pairs(_split(ordered, cuts)) == _reference_pairs([rows])


@pytest.mark.parametrize(
    "batches, expected",
    [
        pytest.param(
            [[(1, 7, 0, "error")], [(2, 7, US, "error")]],
            [(7, 0, 1)],
            id="pair-straddles-batch-boundary",
        ),
        pytest.param(
            [[(1, 1, 0, "error"), (2, 4, 0, "view")], [(3, 4, US, "error")], [(4, 1, US, "error")]],
            [(1, 0, 1)],
            id="user-absent-from-a-batch",
        ),
        pytest.param(
            [[(9, 2, 0, "error"), (5, 2, US, "error"), (4, 2, US, "login")]],
            [],
            id="ts-tie-broken-by-event-id",
        ),
        pytest.param(
            [[(1, 3, 0, "error"), (2, 3, GAP_S * US, "error"), (3, 3, 2 * GAP_S * US + 1, "error")]],
            [(3, 0, GAP_S)],
            id="gap-exactly-gap_s-included",
        ),
    ],
)
def test_consecutive_events_func_edge_cases(batches, expected):
    assert _bucketed_pairs(batches) == _reference_pairs(batches) == expected


def test_tx_reconcile_stream(spark, sf_dir):
    """ST7 streaming-exact equals the batch full-outer range join —
    including both unmatched side outputs."""
    df = P.tx_reconcile_stream(spark, sf_dir)
    assert_matches_oracle(df, OP.tx_reconcile_oracle_sql(), sf_dir)
    batch = {tuple(r) for r in OP.tx_reconcile(spark, sf_dir).collect()}
    assert {tuple(r) for r in df.collect()} == batch


def test_blacklist_stream_keys_equal_batch(spark, sf_dir):
    """ST4 fire-once: the set of blacklisted (day, user, ad) keys
    equals the batch HAVING formulation's keys."""
    df = P.blacklist_stream(spark, sf_dir)
    assert_matches_oracle(df, P.blacklist_stream_oracle_sql(), sf_dir)
    batch = {
        (r["day_start"], r["user_id"], r["ad_id"])
        for r in M.blacklist(spark, sf_dir).collect()
    }
    assert {tuple(r) for r in df.collect()} == batch


def test_funnel_stream_equals_batch_and_oracle(spark, sf_dir):
    """Streaming CEP funnel is row-for-row the batch operator (sentinel
    MAX_WATERMARK decides every pending anchor), and therefore matches
    the batch oracle too."""
    from flink_project_userbehavioranalysis_spark.operators import relational as R

    st = sorted(tuple(r) for r in P.funnel_stream(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in R.funnel_conversion(spark, sf_dir).collect())
    assert st == b
    assert_matches_oracle(
        P.funnel_stream(spark, sf_dir), R.funnel_conversion_oracle_sql(), sf_dir
    )


def test_trailing_features_stream_equals_batch_oracle(spark, sf_dir):
    """Online/offline feature parity: the stateful streaming generator
    must hash-match the batch RANGE-window oracle exactly — including
    with a different chunking (state crosses micro-batch boundaries)."""
    from flink_project_userbehavioranalysis_spark.operators import behavior as B

    assert_matches_oracle(
        P.trailing_features_stream(spark, sf_dir),
        B.user_trailing_features_oracle_sql(),
        sf_dir,
    )
    assert_matches_oracle(
        P.trailing_features_stream(spark, sf_dir, n_chunks=7),
        B.user_trailing_features_oracle_sql(),
        sf_dir,
    )


def test_trailing_features_func_cross_batch_same_microsecond():
    """Unit-drive the generator across micro-batch boundaries with
    same-µs peers straddling the split — the tail-run re-derivation
    path the real corpus never exercises (no same-user same-µs events
    in the shipped testdata). Frame contract: count strictly-earlier
    events within [us - horizon, us - 1]; same-µs peers excluded;
    t = us - horizon exactly INCLUDED."""
    import pandas as pd

    from flink_project_userbehavioranalysis_spark.streaming.processors import (
        trailing_features_func,
    )

    fn = trailing_features_func(window_days=7)
    horizon = 7 * 86_400 * 1_000_000
    state = _FakeState()

    def run(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts_us", "event_type"]
        ).assign(user_id=1)
        out = list(fn((1,), iter([pdf]), state))
        return list(out[0].itertuples(index=False)) if out else []

    # batch 1: two same-µs events at t=100, one purchase
    r1 = run([(1, 100, "purchase"), (2, 100, "view")])
    assert [(r.n_prev, r.n_prev_purchases) for r in r1] == [(0, 0), (0, 0)]
    # batch 2 REOPENS the same microsecond, then moves on: the third
    # peer at t=100 must still see 0 (state-carried tail run), and the
    # t=200 event sees all three
    r2 = run([(3, 100, "view"), (4, 200, "click")])
    assert [(r.n_prev, r.n_prev_purchases) for r in r2] == [(0, 0), (3, 1)]
    # eviction boundary: t exactly us - horizon is IN the frame;
    # one µs older is OUT
    r3 = run([(5, 100 + horizon, "view")])
    assert [(r.n_prev, r.n_prev_purchases) for r in r3] == [(4, 1)]
    r4 = run([(6, 201 + horizon, "view")])
    # frame [201, 200+horizon]: 100,100,100 AND 200 all evicted
    # (200 < 201); only the event at 100+horizon remains
    assert [(r.n_prev, r.n_prev_purchases) for r in r4] == [(1, 0)]
