"""Semantic + plan properties of the graph pillar (oracle match is
auto-covered by test_operators_oracle)."""

import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_project_userbehavioranalysis_spark.io import load_events
from flink_project_userbehavioranalysis_spark.operators import graph as G
from flink_project_userbehavioranalysis_spark.session import FrameOwner


def test_pagerank_matches_float_power_iteration(spark, sf_dir):
    """The integer-lattice recurrence must track the exact float power
    iteration to within truncation error (≤ a few lattice units per
    contribution, ~1e-6 relative at SCALE=1e9)."""
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "item_id")
    edges = {
        (r["src"], r["dst"]): (r["w"], r["wtot"])
        for r in G._transition_edges(ev, G.GAP_SECONDS).collect()
    }
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    r = {n: 1.0 for n in nodes}
    for _ in range(3):
        contrib = {n: 0.0 for n in nodes}
        for (s, d), (w, wtot) in edges.items():
            contrib[d] += r[s] * w / wtot
        r = {n: 0.15 + 0.85 * contrib[n] for n in nodes}

    got = {row["item_id"]: row["rank_q"] for row in G.item_pagerank(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] / G.SCALE - r[n]) < 1e-4, (n, got[n], r[n])


def test_pagerank_structural_properties(spark, sf_dir):
    rows = G.item_pagerank(spark, sf_dir).collect()
    base = 15 * G.SCALE // 100
    # every node keeps at least the damping base; truncation can only
    # LOSE mass, so the total never exceeds the uniform start
    assert all(r["rank_q"] >= base for r in rows)
    assert sum(r["rank_q"] for r in rows) <= len(rows) * G.SCALE


def test_pagerank_join_strategies(spark, sf_dir):
    # materialize=False keeps the lazy plan (the default localCheckpoint
    # collapses it to an ExistingRDD scan, hiding the joins)
    b = G.item_pagerank(spark, sf_dir, iters=1, rank_join="broadcast", materialize=False)
    plan_b = b._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b
    assert "CartesianProduct" not in plan_b and "BroadcastNestedLoopJoin" not in plan_b

    s = G.item_pagerank(spark, sf_dir, iters=1, rank_join="shuffle", materialize=False)
    plan_s = s._jdf.queryExecution().executedPlan().toString()
    # the rank relation must honor the open-vocabulary form: its join
    # with edges runs as a shuffled hash join, not a broadcast
    assert "ShuffledHashJoin" in plan_s
    rows_b = sorted((r["item_id"], r["rank_q"]) for r in b.collect())
    rows_s = sorted((r["item_id"], r["rank_q"]) for r in s.collect())
    assert rows_b == rows_s  # strategy never changes values


@st.composite
def _graphs(draw):
    """Weighted edge lists (g, src, dst, w, wtot) of 1–3 graphs that share
    node names, with loops, dangling nodes and disconnected components;
    ``part`` is [] for a single graph half of the time."""
    n_parts = draw(st.integers(1, 3))
    weights = draw(
        st.dictionaries(
            st.tuples(st.integers(0, n_parts - 1), st.integers(0, 6), st.integers(0, 6)),
            st.integers(1, 5),
            max_size=16,
        )
    )
    out = Counter()
    for (g, src, _), w in weights.items():
        out[g, src] += w
    edges = [("abc"[g], src, dst, w, out[g, src]) for (g, src, dst), w in weights.items()]
    part = [] if n_parts == 1 and draw(st.booleans()) else ["g"]
    return edges, part, draw(st.integers(0, 4))


def _lattice_loop(edges, iters: int) -> dict:
    """The lattice recurrence as a plain loop: (g, node) -> rank."""
    nodes = {(g, s) for g, s, *_ in edges} | {(g, d) for g, _, d, *_ in edges}
    r = dict.fromkeys(nodes, G.SCALE)
    for _ in range(iters):
        s = Counter()
        for g, src, dst, w, wtot in edges:
            s[g, dst] += r[g, src] * w // wtot
        r = {n: 15 * G.SCALE // 100 + 85 * s[n] // 100 for n in nodes}
    return r


def _keyed(rows, part) -> dict:
    return {(r[0] if part else "a", r[-2]): r[-1] for r in rows}


_EW_SCHEMA = "g string, src long, dst long, w long, wtot long"


@settings(max_examples=12, deadline=None)
@given(
    graph=_graphs(), rank_join=st.sampled_from(["broadcast", "shuffle"]), staged=st.booleans()
)
def test_lattice_rank_matches_reference_loop(spark, graph, rank_join, staged):
    edges, part, iters = graph
    ew = spark.createDataFrame(edges, _EW_SCHEMA).drop(*({"g"} - set(part)))
    with FrameOwner() as own:
        got = G._lattice_rank(ew, part, "node", iters, rank_join, own if staged else None).collect()
    want = _lattice_loop(edges, iters)
    assert _keyed(got, part) == want and len(got) == len(want)


@settings(max_examples=100, deadline=None)
@given(graph=_graphs())
def test_lattice_rank_sql_matches_reference_loop(graph):
    edges, part, iters = graph
    con = duckdb.connect()
    con.execute("CREATE TABLE ew (g VARCHAR, src BIGINT, dst BIGINT, w BIGINT, wtot BIGINT)")
    if edges:
        con.executemany("INSERT INTO ew VALUES (?, ?, ?, ?, ?)", edges)
    sql = f"WITH {G._lattice_rank_sql(part, 'node', iters)} SELECT * FROM r{iters}"
    got = con.execute(sql).fetchall()
    want = _lattice_loop(edges, iters)
    assert _keyed(got, part) == want and len(got) == len(want)


def test_rankers_from_two_threads_equal_sequential(spark, sf_dir):
    """Both rankers on one session from two threads at once give the
    rows they give one after the other, and every frame their owners
    staged is released."""
    entries = [G.item_pagerank, G.keyphrase_textrank]

    def rows(fn):
        return sorted(tuple(r) for r in fn(spark, sf_dir).collect())

    want = [rows(fn) for fn in entries]
    owned0 = FrameOwner.owned
    start = threading.Barrier(len(entries), timeout=120)

    def together(fn):
        start.wait()
        return rows(fn)

    with ThreadPoolExecutor(len(entries)) as pool:
        got = list(pool.map(together, entries))
    assert got == want
    assert FrameOwner.owned == owned0


def test_item_triangles_oracle(spark, sf_dir):
    """Degree-oriented distributed triangle count equals the oracle's
    plain id-ordered enumeration (orientation changes the order, never
    the set) — non-vacuously at sf0.01 (sf0.001's purchase graph is
    triangle-free, which the driver-gate sf is not)."""
    from tests.conftest import SF_DIR_MID
    from tests.oracle import assert_matches_oracle

    assert_matches_oracle(
        G.item_triangles(spark, sf_dir), G.item_triangles_oracle_sql(), sf_dir
    )
    mid = G.item_triangles(spark, SF_DIR_MID)
    assert_matches_oracle(mid, G.item_triangles_oracle_sql(), SF_DIR_MID)
    assert mid.count() > 0


def test_item_triangles_crafted(spark, tmp_path):
    """K4 minus one edge on a crafted basket set: items {1,2,3,4} with
    edges 12,13,14,23,24 (no 34) has exactly two triangles (123, 124);
    corner counts follow. A user with a basket wider than max_basket
    contributes no edges."""
    import shutil

    from flink_project_userbehavioranalysis_spark.io import TABLES

    d = tmp_path / "sf"
    d.mkdir()
    src = "/root/testdata/sf0.001"
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{src}/{t}.parquet", str(d / f"{t}.parquet"))
    rows, eid = [], 0

    def basket(user, items):
        nonlocal eid
        for it in items:
            rows.append(
                (eid, "2024-01-01 01:00:00", user, "purchase", 1.0, '{"k": %d}' % it)
            )
            eid += 1

    basket(10, [1, 2, 3])   # edges 12,13,23 -> triangle 123
    basket(11, [1, 2, 4])   # edges 12,14,24 -> triangle 124
    basket(12, [1, 2, 3, 4, 5, 6])  # width 6 > max_basket: dropped whole
    import pyspark.sql.functions as FF

    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", FF.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        str(tmp_path / "staging")
    )
    import glob as _glob

    part = _glob.glob(f"{tmp_path}/staging/part-*.parquet")[0]
    shutil.copy(part, str(d / "events.parquet"))
    got = sorted(tuple(r) for r in G.item_triangles(spark, str(d), max_basket=5).collect())
    assert got == [(1, 2), (2, 2), (3, 1), (4, 1)]


# ------------------------------------------------ TextRank keyphrases


def test_keyphrase_textrank_matches_oracle(spark, sf_dir):
    from tests.oracle import assert_matches_oracle

    assert_matches_oracle(
        G.keyphrase_textrank(spark, sf_dir),
        G.keyphrase_textrank_oracle_sql(),
        sf_dir,
    )


def test_keyphrase_textrank_contract(spark, sf_dir):
    """Per-lang ranks contiguous from 1; every rank ≥ the damping
    floor 0.15·SCALE; terms pass the content gate."""
    rows = G.keyphrase_textrank(spark, sf_dir).collect()
    assert rows
    per = {}
    for r in rows:
        per.setdefault(r["lang"], []).append(r)
        assert r["rank_q"] >= 15 * G.SCALE // 100
        assert len(r["term"]) >= G._KP_MIN_LEN
    for lang, rs in per.items():
        assert sorted(x["rnk"] for x in rs) == list(range(1, len(rs) + 1))


def test_keyphrase_textrank_plan_no_cartesian(spark, sf_dir):
    plan = (
        G.keyphrase_textrank(spark, sf_dir, materialize=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
