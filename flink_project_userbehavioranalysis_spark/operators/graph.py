"""Graph analytics over the behavior stream and the corpus: PageRank on
the session-transition item graph and TextRank on the per-language
token co-occurrence graph, both run by ONE kernel, ``_lattice_rank``.

No direct reference analog (the closest reference behavior is the
NetworkFlow hot-page ranking, SURVEY §2.5 [U]) — but item-graph
centrality is the canonical "which items anchor browsing sessions"
analytics query, and it exercises the one dataflow shape the rest of
the matrix lacks: an ITERATIVE join-aggregate fixpoint over an edge
relation (near_dup_clusters iterates min-label propagation, but over
candidate pairs, not a weighted transition graph).

Exact-integer formulation (same oracle-ability trick as
``embeddings_ops.kmeans_lloyd``): ranks live on a 1/SCALE lattice as
BIGINTs; the per-edge contribution is ``(r(u) * w(u,v)) div W(u)``
(integer division — Spark ``div`` and DuckDB ``//`` agree on
nonnegative operands), and the damped update is
``(15*SCALE) div 100 + (85*contrib) div 100``. Truncation bleeds
O(out-degree) lattice units of rank mass per node per round —
deterministic on every engine and partial-agg order, which is the
point: the recurrence unrolls to plain SQL (``_lattice_rank_sql``, the
one generator both oracles call) and its result is hash-checked.
Dangling nodes (no out-edges) simply stop forwarding mass — the
standard simplification of the non-normalized power iteration.

Scale shape per round: the rank relation has NODE cardinality (items
or vocabulary, not events). With ``rank_join='broadcast'`` (default —
item catalogs are dimension-sized) each round is a map-only broadcast
join over the static edge relation plus ONE partial-aggregated shuffle
on dst; the edge relation is computed once, persisted, and never
re-shuffled. ``rank_join='shuffle'`` swaps in a SHUFFLE_HASH equi-join
for open-ended node sets (the ``lang_id_naive_bayes`` model_join
pattern) — edges and ranks then co-shuffle on src once per round.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.io import load_events, load_table
from flink_project_userbehavioranalysis_spark.operators.behavior import _sessionized
from flink_project_userbehavioranalysis_spark.session import FrameOwner

GAP_SECONDS = 1800
SCALE = 1_000_000_000


def _transition_edges(events: DataFrame, gap_s: int) -> DataFrame:
    """Weighted item→item session-transition edges + per-src out-mass.

    Item-bearing events per user sessionize with the standard 30-min
    µs-exact gap test (same as behavior._sessionized, applied to the
    item-event subsequence); an edge is each consecutive in-session
    pair. One shuffle on user_id for the sessionize+lead sort, one
    partial-aggregated shuffle to (src, dst) weights; the out-mass
    total rides a src-partitioned window over the aggregated edge
    relation (edge cardinality, not event cardinality).
    """
    # one session definition across pillars: the behavior module's
    # gaps-and-islands helper (µs-exact gap test, (ts_us, event_id)
    # tie-break), applied to the item-event subsequence
    items = _sessionized(
        events.filter(F.col("item_id").isNotNull()).select(
            "user_id", "event_id", "item_id", "ts"
        ),
        gap_s,
    )
    in_session = Window.partitionBy("user_id", "sid").orderBy("ts_us", "event_id")
    edges = (
        items.withColumn("dst", F.lead("item_id").over(in_session))
        .filter(F.col("dst").isNotNull())
        .select(F.col("item_id").alias("src"), "dst")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    return edges.withColumn(
        "wtot", F.sum("w").over(Window.partitionBy("src"))
    )


def _lattice_rank(
    edges: DataFrame,
    part: list[str],
    node: str,
    iters: int,
    rank_join: str,
    stage: FrameOwner | None,
) -> DataFrame:
    """``iters`` damped rounds on the 1/SCALE lattice from a uniform
    SCALE start over ``edges`` (*part, src, dst, w, wtot), one graph per
    ``part`` value, nodes src ∪ dst. Output: (*part, node, r). ``stage``
    is the caller's owner when the call materializes: it persists the
    edges and nodes every round reads. ``None`` persists nothing, since
    the owner would release a persist before an action read the plan."""
    if rank_join not in ("broadcast", "shuffle"):
        raise ValueError(f"rank_join must be 'broadcast' or 'shuffle', got {rank_join!r}")
    persist = stage.persisted if stage is not None else (lambda df: df)
    key = [*part, "src"]
    edges = persist(edges)
    # one pass over the edges for both endpoints (a src/dst union scans twice)
    nodes = persist(edges.select(*part, F.explode(F.array("src", "dst")).alias("src")).distinct())
    ranks = nodes.withColumn("r", F.lit(SCALE).cast("long"))
    for _ in range(int(iters)):
        rk = F.broadcast(ranks) if rank_join == "broadcast" else ranks.hint("SHUFFLE_HASH")
        contribs = (
            edges.join(rk, key)
            .select(
                *part,
                F.col("dst").alias("src"),
                # DECIMAL(38,0): rank can reach the TOTAL lattice mass
                # (nodes × SCALE) under skew, so a BIGINT r*w overflows;
                # `div` truncates back to BIGINT identically on both engines
                F.expr("(cast(r as decimal(38,0)) * w) div wtot").alias("c"),
            )
            .groupBy(*key)
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, key, "left").select(
            *key,
            (
                F.lit(15 * SCALE // 100).cast("long")
                + F.expr("(85 * cast(coalesce(s, 0L) as decimal(38,0))) div 100")
            ).alias("r"),
        )
    return ranks.select(*part, F.col("src").alias(node), "r")


def _lattice_rank_sql(part: list[str], node: str, iters: int) -> str:
    """``_lattice_rank`` unrolled in DuckDB SQL, written apart from it so
    the oracle checks it: CTEs ``nodes, r0 … r{iters}`` over an ``ew``
    CTE (*part, src, dst, w, wtot), each ``r{i}`` (*part, node, r)."""

    def cols(t: str) -> str:
        return "".join(f"{t}.{c}, " for c in part)

    def on(a: str, a_node: str, b: str, b_node: str) -> str:
        return "".join(f"{a}.{c} = {b}.{c} AND " for c in part) + f"{a}.{a_node} = {b}.{b_node}"

    sql = f"""nodes AS (
    SELECT {cols("ew")}src AS {node} FROM ew UNION SELECT {cols("ew")}dst FROM ew
), r0 AS (
    SELECT *, CAST({SCALE} AS BIGINT) AS r FROM nodes
)"""
    for i in range(1, int(iters) + 1):
        sql += f""", c{i} AS (
    SELECT {cols("ew")}ew.dst,
           CAST(sum((CAST(r.r AS HUGEINT) * ew.w) // ew.wtot) AS BIGINT) AS s
    FROM ew JOIN r{i - 1} r ON {on("r", node, "ew", "src")} GROUP BY ALL
), r{i} AS (
    SELECT {cols("n")}n.{node}, CAST({15 * SCALE // 100}
           + (85 * CAST(COALESCE(c.s, 0) AS HUGEINT)) // 100 AS BIGINT) AS r
    FROM nodes n LEFT JOIN c{i} c ON {on("c", "dst", "n", node)}
)"""
    return sql


def item_pagerank(
    spark: SparkSession,
    sf_dir: str,
    iters: int = 3,
    gap_s: int = GAP_SECONDS,
    rank_join: str = "broadcast",
    materialize: bool = True,
) -> DataFrame:
    """Damped PageRank (d=0.85) over the session-transition item graph,
    ``iters`` exact-integer power-iteration rounds from a uniform
    SCALE start. Output: (item_id, rank_q) — rank on the 1/SCALE
    lattice, exact BIGINT."""
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "item_id")
    with FrameOwner() as own:
        ranks = _lattice_rank(
            _transition_edges(ev, gap_s), [], "item_id", iters, rank_join,
            own if materialize else None,
        )
        out = ranks.select("item_id", F.col("r").alias("rank_q"))
        # materialize the final ranks (node-cardinality, distributed) before
        # the owner releases the cached edges and nodes; localCheckpoint
        # also cuts the iters-deep lineage
        return out.localCheckpoint(eager=True) if materialize else out


def _edges_cte(gap_s: int) -> str:
    """Shared WITH-block prefix of the item-graph oracles — the
    sessionize / transition / edge-aggregation pipeline, written ONCE
    so the gap test and tie-break keys cannot diverge between the
    PageRank oracle (its ``ew`` feeds ``_lattice_rank_sql``) and the
    Markov top-k oracle, or from ``_transition_edges``, which they
    mirror. TRY_CAST + post-cast NULL filter matches the Spark side
    exactly (repo convention, hot_items.py oracle): a non-integer props.k
    drops the row on both engines instead of crashing DuckDB's strict
    CAST."""
    return f"""t0 AS (
    SELECT user_id, event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS item_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events
    WHERE TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
), t AS (
    SELECT *,
           CASE WHEN us - lag(us) OVER w > {gap_s * 1_000_000}
                     OR lag(us) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM t0
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM t
), tr AS (
    SELECT item_id AS src,
           lead(item_id) OVER (PARTITION BY user_id, sid
                               ORDER BY us, event_id) AS dst
    FROM s
), e AS (
    SELECT src, dst, count(*) AS w FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2
), ew AS (
    SELECT src, dst, w, sum(w) OVER (PARTITION BY src) AS wtot FROM e
)"""


def item_pagerank_oracle_sql(iters: int = 3, gap_s: int = GAP_SECONDS) -> str:
    """The identical recurrence unrolled in DuckDB SQL: same edges,
    same lattice, same integer truncations (``_lattice_rank_sql``)."""
    return f"""WITH {_edges_cte(gap_s)}, {_lattice_rank_sql([], "item_id", iters)}
SELECT item_id, r AS rank_q FROM r{int(iters)}
"""


def item_next_topk(
    spark: SparkSession, sf_dir: str, k: int = 3, gap_s: int = GAP_SECONDS
) -> DataFrame:
    """First-order Markov next-item table: for every item, the top-``k``
    most likely next items in a session (the "customers who viewed X
    then viewed Y" recommender primitive), with the transition
    probability carried as the EXACT integer pair (w, wtot) instead of
    a float ratio — hash-stable, and the division belongs to the
    serving layer anyway.

    Shares the persisted-shape edge extraction with ``item_pagerank``;
    on top of it this is one rank() window partitioned by src (edge
    cardinality, bounded by catalog², in practice ~sessions·len) —
    rank, not row_number, so probability ties surface both candidates
    deterministically.

    Output: (src, dst, w, wtot, rnk).
    """
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "item_id")
    edges = _transition_edges(ev, gap_s)
    by_src = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    return (
        edges.withColumn("rnk", F.rank().over(by_src))
        .filter(F.col("rnk") <= k)
        .select("src", "dst", "w", "wtot", F.col("rnk").cast("long").alias("rnk"))
    )


def item_next_topk_oracle_sql(k: int = 3, gap_s: int = GAP_SECONDS) -> str:
    return (
        "WITH "
        + _edges_cte(gap_s)
        + f""", ranked AS (
    SELECT src, dst, w, CAST(wtot AS BIGINT) AS wtot,
           rank() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rnk
    FROM ew
)
SELECT src, dst, w, wtot, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {k}
"""
    )


# ---------------------------------------------------------- triangle count


def item_triangles(
    spark: SparkSession, sf_dir: str, max_basket: int = 5
) -> DataFrame:
    """Exact per-item triangle counts on the co-purchase graph — the
    third graph shape next to the PageRank fixpoint and the Markov
    top-k: a self-join cascade whose cost is governed by EDGE
    ORIENTATION, the standard trick that makes distributed triangle
    counting feasible (Suri & Vassilvitskii 2011, "Counting Triangles
    and the Curse of the Last Reducer").

    Graph: vertices are items; an undirected edge joins two items
    purchased by the same user (baskets wider than ``max_basket``
    drop whole — the same deterministic quadratic bound as
    ``co_purchase_pairs_capped``). Every edge is oriented from its
    lower-(degree, id) endpoint to the higher one; a triangle
    x≺y≺z in that total order is enumerated EXACTLY once as the wedge
    (x→y, x→z) closed by the oriented edge y→z. Out-degrees under
    degree orientation are O(√E), so the wedge join — the quadratic
    stage — is bounded per node by the orientation, not by the raw
    degree of hub items: the "last reducer" a popular item would
    otherwise create does ~√E work instead of deg² work.

    Dataflow: one distinct (user, item) pass → basket cap (semi join)
    → one equi-join on user for edges → degree attach (two broadcast-
    or-shuffle joins on the edge relation, EDGE cardinality) → wedge
    self-join on src → LEFT SEMI close on the oriented edge set →
    explode the 3 corners → ONE partial-aggregated count shuffle.
    The oracle counts the same triangles with plain id-ordering —
    orientation changes the enumeration order, never the set.

    Output: (item_id, n_triangles) for items in ≥1 triangle.
    """
    ev = load_events(spark, sf_dir)
    purch = (
        ev.filter((F.col("event_type") == "purchase") & F.col("item_id").isNotNull())
        .select("user_id", "item_id")
        .distinct()
    )
    ok = purch.groupBy("user_id").count().filter(F.col("count") <= max_basket)
    p = purch.join(ok.select("user_id"), "user_id", "left_semi")
    a, b = p.alias("a"), p.alias("b")
    edges = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.item_id") < F.col("b.item_id")))
        .select(F.col("a.item_id").alias("x"), F.col("b.item_id").alias("y"))
        .distinct()
    )
    deg = (
        edges.select(F.col("x").alias("v"))
        .unionAll(edges.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    # orientation key k(v) = (deg, id): a total order, so ties are safe
    e = (
        edges.join(deg.withColumnRenamed("v", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("v", "y").withColumnRenamed("deg", "dy"), "y")
        .select(
            F.when(
                (F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                F.struct(F.col("x").alias("s"), F.col("y").alias("t"),
                         F.col("dx").alias("ds"), F.col("dy").alias("dt")),
            )
            .otherwise(
                F.struct(F.col("y").alias("s"), F.col("x").alias("t"),
                         F.col("dy").alias("ds"), F.col("dx").alias("dt"))
            )
            .alias("o")
        )
        .select("o.s", "o.t", "o.ds", "o.dt")
    )
    w1, w2 = e.alias("w1"), e.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.s") == F.col("w2.s"))
        & (
            (F.col("w1.dt") < F.col("w2.dt"))
            | ((F.col("w1.dt") == F.col("w2.dt")) & (F.col("w1.t") < F.col("w2.t")))
        ),
    ).select(
        F.col("w1.s").alias("vx"), F.col("w1.t").alias("vy"), F.col("w2.t").alias("vz")
    )
    closing = e.select(F.col("s").alias("vy"), F.col("t").alias("vz"))
    tri = wedges.join(closing, ["vy", "vz"], "left_semi")
    return (
        tri.select(F.explode(F.array("vx", "vy", "vz")).alias("item_id"))
        .groupBy("item_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def item_triangles_oracle_sql(max_basket: int = 5) -> str:
    return f"""
WITH purch AS (
    SELECT DISTINCT user_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS item_id
    FROM events
    WHERE event_type = 'purchase'
      AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
), ok AS (
    SELECT user_id FROM purch GROUP BY 1 HAVING count(*) <= {max_basket}
), p AS (
    SELECT purch.user_id, item_id FROM purch JOIN ok USING (user_id)
), e AS (
    SELECT DISTINCT a.item_id AS x, b.item_id AS y
    FROM p a JOIN p b ON a.user_id = b.user_id AND a.item_id < b.item_id
), tri AS (
    SELECT t1.x AS vx, t1.y AS vy, t2.y AS vz
    FROM e t1
    JOIN e t2 ON t2.x = t1.x AND t2.y > t1.y
    JOIN e t3 ON t3.x = t1.y AND t3.y = t2.y
), corners AS (
    SELECT vx AS item_id FROM tri
    UNION ALL SELECT vy FROM tri
    UNION ALL SELECT vz FROM tri
)
SELECT item_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY 1
"""


# ------------------------------------------------ TextRank keyphrases

#: Content-token gate for the co-occurrence graph (TextRank's POS
#: filter stand-in — deterministic and engine-portable).
_KP_MIN_LEN = 3
_KP_ITERS = 3
_KP_TOPK = 10


def _kp_edges(docs: DataFrame) -> DataFrame:
    """Per-language undirected co-occurrence graph of adjacent content
    tokens (window = 2, the TextRank default): positional explode,
    self-join at pos+1 replaced by a lead() window (one shuffle on
    doc_id, no join), both endpoints gated by `_KP_MIN_LEN`, loops
    dropped, then aggregated to weighted edges and SYMMETRIZED (each
    pair emitted both directions — an undirected random walk). Edge
    cardinality is distinct-observed-bigrams per language — vocabulary-
    bounded, corpus-independent once saturated."""
    toks = docs.select(
        "lang",
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "term"),
    ).filter(F.col("term") != "")
    nxt = F.lead("term").over(
        Window.partitionBy("lang", "doc_id").orderBy("pos")
    )
    pairs = (
        toks.withColumn("nxt", nxt)
        .filter(
            (F.length("term") >= _KP_MIN_LEN)
            & (F.length("nxt") >= _KP_MIN_LEN)
            & (F.col("term") != F.col("nxt"))
        )
        .select("lang", F.col("term").alias("a"), F.col("nxt").alias("b"))
    )
    und = pairs.unionByName(
        pairs.select("lang", F.col("b").alias("a"), F.col("a").alias("b"))
    )
    e = und.groupBy("lang", "a", "b").agg(F.count("*").alias("w"))
    wtot = Window.partitionBy("lang", "a")
    return e.withColumn("wtot", F.sum("w").over(wtot)).select(
        "lang", F.col("a").alias("src"), F.col("b").alias("dst"), "w", "wtot"
    )


def keyphrase_textrank(
    spark: SparkSession,
    sf_dir: str,
    iters: int = _KP_ITERS,
    k: int = _KP_TOPK,
    materialize: bool = True,
) -> DataFrame:
    """TextRank keyphrase extraction (Mihalcea & Tarau 2004, from the
    published description): damped weighted PageRank over the per-
    language adjacent-token co-occurrence graph, ``iters`` exact-
    integer rounds on the 1/SCALE lattice (the `item_pagerank`
    arithmetic keyed by (lang, term)), then the top-``k`` terms per
    language. Every number BIGINT, so the full ranking hash-oracles.

    Output: (lang, term, rank_q, rnk).

    100 TB posture: the graph build is one positional explode + lead
    window (shuffle on doc_id — corpus-scale but map-reducible) folded
    to a VOCABULARY-bounded edge relation; the power iteration then
    runs entirely on vocabulary-sized frames (ranks broadcast into the
    edge join per round), and the final top-k is a window over vocab
    rows. The corpus is touched exactly once regardless of iters."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    with FrameOwner() as own:
        ranks = _lattice_rank(
            _kp_edges(docs), ["lang"], "term", iters, "broadcast",
            own if materialize else None,
        )
        by_lang = Window.partitionBy("lang").orderBy(F.desc("r"), F.asc("term"))
        out = (
            ranks.withColumn("rnk", F.row_number().over(by_lang))
            .filter(F.col("rnk") <= k)
            .select(
                "lang",
                "term",
                F.col("r").alias("rank_q"),
                F.col("rnk").cast("long").alias("rnk"),
            )
        )
        # materialize the bounded result (k rows per lang) before the owner
        # releases the cached edge/node relations; localCheckpoint also cuts
        # the iters-deep lineage
        return out.localCheckpoint(eager=True) if materialize else out


def keyphrase_textrank_oracle_sql(iters: int = _KP_ITERS, k: int = _KP_TOPK) -> str:
    """The identical recurrence unrolled in DuckDB, keyed by (lang,
    term): same token gate, same symmetrized edges, same lattice and
    truncations (``_lattice_rank_sql``)."""
    return f"""WITH toks AS (
    SELECT lang, doc_id, pos, term FROM (
        SELECT lang, doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS term
        FROM documents WHERE text IS NOT NULL
    ) WHERE term <> ''
), pairs AS (
    SELECT lang, term AS a,
           lead(term) OVER (PARTITION BY lang, doc_id ORDER BY pos) AS b
    FROM toks
), gated AS (
    SELECT lang, a, b FROM pairs
    WHERE b IS NOT NULL AND length(a) >= {_KP_MIN_LEN}
      AND length(b) >= {_KP_MIN_LEN} AND a <> b
), und AS (
    SELECT lang, a, b FROM gated
    UNION ALL
    SELECT lang, b AS a, a AS b FROM gated
), e AS (
    SELECT lang, a AS src, b AS dst, count(*) AS w
    FROM und GROUP BY 1, 2, 3
), ew AS (
    SELECT lang, src, dst, w,
           sum(w) OVER (PARTITION BY lang, src) AS wtot
    FROM e
), {_lattice_rank_sql(["lang"], "term", iters)}
SELECT lang, term, r AS rank_q, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT lang, term, r,
           row_number() OVER (PARTITION BY lang ORDER BY r DESC, term) AS rnk
    FROM r{int(iters)}
) WHERE rnk <= {k}
"""
