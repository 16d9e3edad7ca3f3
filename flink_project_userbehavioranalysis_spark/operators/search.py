"""Full-text search pillar: inverted-index retrieval over ``documents``.

No reference analog (the Flink project has no search ops) — this is
the retrieval half of the LLM-data story (SURVEY §2.10): the same
postings relation that powers dedup/contamination checks also answers
ranked and phrase queries, and a training-data pipeline needs exactly
that (corpus QA probes, eval-leak hunts, targeted subset pulls).

Design rules for the 100 TB posture:
- The inverted index is a *relation*, not a data structure: postings =
  (term, doc_id, tf) from one explode + one partial-agg shuffle, the
  same shape a Lucene segment stores, but addressable by every Spark
  operator. At 100 TB you bucket it by term (see ``layout.py``) so a
  query's postings probe is a pruned scan, never a full pass.
- QUERY relations (terms, phrases) are tiny literal tables — always
  broadcast; the corpus-sized side is only ever semi-joined/pruned by
  them. No collect anywhere.
- Conjunctive (AND) semantics are a count-match: a doc matches when
  its per-query matched-term count equals the query's term count —
  one partial-agg shuffle on (query, doc), no per-term self-joins.
- RANKING must be cross-engine exact to hash-oracle: tf-idf uses an
  integer-scaled idf — ``(1_000_000 * N) div df`` — so scores are
  exact BIGINTs (libm-free); ties break on doc_id. The float BM25
  variant rides libm ln() and is registered rows-only BY DESIGN with
  its rank parity vs an independent recompute asserted in pytest
  (the value_percentiles_ddsketch precedent).
- PHRASE match is positional-postings algebra, not regex: token t at
  position p matching phrase word j votes for start p - j; a start
  with votes == phrase length is an occurrence. One broadcast join +
  one partial-agg shuffle for ALL phrases at once, and repeated words
  in a phrase fall out correctly (each j can only be matched by the
  unique token at p = start + j).
- The term DICTIONARY (df/cf stats) is a mergeable summary: per-batch
  stats are exact deltas, merge = integer SUM by term — the
  maintained-index pattern (maintained ≡ rebuilt, hash-proven) that
  the incremental dedup/SCD2/MV ops already follow.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.io import load_table
from flink_project_userbehavioranalysis_spark.operators.maintenance import _scratch_dir
from flink_project_userbehavioranalysis_spark.session import FrameOwner, session_key, session_memo

#: Ranked-retrieval query set (conjunctive AND; terms distinct per
#: query). Query 3 includes the corpus's one rare term ('dup', df≈25
#: of 500 at sf0.01) so the idf weighting is exercised on a genuinely
#: selective term, not just the ~uniform head vocabulary.
FTS_QUERIES: list[tuple[int, str]] = [
    (0, "slow query scan"),
    (1, "hash join merge"),
    (2, "customer order group"),
    (3, "dup batch"),
    (4, "spark window agg"),
]

#: Phrase query set. Phrase 4 repeats a word (adjacent-duplicate
#: matching is where naive position joins go wrong); phrase 5 is a
#: trigram (multi-step adjacency).
PHRASES: list[tuple[int, str]] = [
    (0, "slow query"),
    (1, "hash join"),
    (2, "table scan"),
    (3, "window agg"),
    (4, "group group"),
    (5, "the table line"),
]

_IDF_SCALE = 1_000_000

#: Prefix-retrieval query set: each query is ONE prefix, expanded
#: against the term dictionary (match-any semantics over the expanded
#: set). 's' fans out to six terms, 'd' pairs the head term 'data'
#: with the rare 'dup' so the idf contrast inside one expansion is
#: exercised.
FTS_PREFIX_QUERIES: list[tuple[int, str]] = [
    (0, "s"),
    (1, "qu"),
    (2, "d"),
    (3, "gr"),
]

#: Reciprocal-rank-fusion constant (the standard 60 from Cormack et
#: al. SIGIR'09) and the integer scale that keeps fused scores exact.
RRF_K = 60


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())


def _postings(docs: DataFrame) -> DataFrame:
    """The inverted index as a relation: (term, doc_id, tf) — one
    explode + one partial-agg shuffle. At 100 TB this is written once,
    bucketed by term, and every probe below becomes a pruned scan."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    return toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))


def _positional_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, term) — the positional index phrase match needs."""
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).filter(F.col("term") != "")


_TOKS_CTE = """
toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents WHERE text IS NOT NULL
),
post AS (
    SELECT term, doc_id, count(*) AS tf
    FROM toks WHERE term <> '' GROUP BY 1, 2
)"""


def _query_values() -> str:
    return ", ".join(
        f"({qid}, '{t}')" for qid, s in FTS_QUERIES for t in s.split()
    )


# ------------------------------------------------- ranked retrieval (tf-idf)


def fts_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Conjunctive ranked retrieval: for each query, the top-k docs
    containing ALL query terms, ranked by exact-integer tf-idf.

    score(q, d) = Σ_t tf(t, d) · ((1e6 · N) div df(t)) — BIGINT
    arithmetic end to end so Spark and DuckDB agree bit-for-bit
    (integer div, not a libm log). Plan shape: the broadcast query
    relation prunes the postings probe; df is computed for the query's
    terms only (semi-join first — the dictionary is never globally
    aggregated for a lookup); conjunctivity = matched-count equality;
    top-k = WindowGroupLimit on (score desc, doc_id).

    Output: (query_id, doc_id, score, rank).
    """
    docs = _docs(spark, sf_dir)
    post = _postings(docs)
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return _rank_conjunctive(spark, post, dic, n, k)


def _query_frames(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    q = spark.createDataFrame(
        [(qid, t) for qid, s in FTS_QUERIES for t in s.split()],
        "query_id INT, term STRING",
    )
    return q, q.groupBy("query_id").agg(F.count("*").alias("n_terms"))


def _rank_conjunctive(
    spark: SparkSession,
    post: DataFrame,
    dic: DataFrame,
    n: DataFrame,
    k: int,
) -> DataFrame:
    """The scoring tail shared by the derive-in-query and
    persisted-index forms: broadcast query relation prunes the
    postings probe, df looked up for query terms only, conjunctivity
    as matched-count equality, integer tf-idf, WindowGroupLimit."""
    q, qn = _query_frames(spark)
    return _rank_query_frame(post, dic, n, k, q, qn, require_all=True)


def _rank_query_frame(
    post: DataFrame,
    dic: DataFrame,
    n: DataFrame,
    k: int,
    q: DataFrame,
    qn: DataFrame,
    require_all: bool,
) -> DataFrame:
    """Rank an arbitrary (query_id, term) relation against a postings
    relation: broadcast query set prunes the probe, df looked up for
    the query terms only, exact-integer tf-idf, WindowGroupLimit.
    ``require_all`` toggles conjunctive (matched-count equality) vs
    disjunctive (match-any) semantics — OR-mode simply drops the
    count filter, everything else is shared."""
    dfq = dic.join(F.broadcast(q.select("term").distinct()), "term", "left_semi")
    cand = (
        post.join(F.broadcast(q), "term")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(n))
    )
    scored = cand.groupBy("query_id", "doc_id").agg(
        F.sum(F.expr(f"tf * (({_IDF_SCALE} * n_docs) div df)")).alias("score"),
        F.count("*").alias("matched"),
    )
    if require_all:
        scored = scored.join(F.broadcast(qn), "query_id").filter(
            F.col("matched") == F.col("n_terms")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def build_fts_index(spark: SparkSession, sf_dir: str) -> str:
    """The NIGHTLY index build: materialize the postings relation
    PARTITIONED BY TERM, the term dictionary (term, df), and the
    1-row corpus doc count as parquet under a session-keyed scratch
    dir. Term-partitioning is the small-vocabulary stand-in for
    bucketing: a query probe over literal terms becomes a
    PLANNING-TIME partition-pruned scan (asserted in
    tests/test_search.py) — at 100 TB vocabulary you'd bucketBy(term)
    instead and get the same pruned probe. Memoized per (app, sf_dir)
    in the session memo (not cleared between probe runs); production
    runs this as a scheduled job."""
    def build() -> str:
        root = _scratch_dir(spark, "fts-idx", sf_dir)
        _write_fts_index(_docs(spark, sf_dir), root)
        return root

    return session_memo(session_key(spark, sf_dir, "fts-idx"), build)


def _write_fts_index(docs: DataFrame, root: str) -> None:
    """Write the postings index of ``docs`` under ``root``: postings
    partitioned by term, the term dictionary (term, df) and the 1-row
    doc count (n_docs)."""
    post = _postings(docs)
    post.write.mode("overwrite").partitionBy("term").parquet(f"{root}/postings")
    post.groupBy("term").agg(F.count("*").alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{root}/dict")
    docs.agg(F.count("*").alias("n_docs")).write.mode("overwrite").parquet(
        f"{root}/n"
    )


#: The persisted postings layout (data cols + the `term` partition
#: column). Declaring it at read time does two jobs at once: the
#: partition column stays STRING even when every term parses as a
#: number (no type inference — a numeric `term` would silently empty
#: the string isin() probe), and a split side that happened to index
#: ZERO documents reads back as an empty frame instead of failing
#: parquet schema inference (r11 advisory).
_POSTINGS_SCHEMA = "doc_id BIGINT, tf BIGINT, term STRING"


def _read_term_partitioned(spark: SparkSession, *paths: str) -> DataFrame:
    """Read one or more term-partitioned postings trees under the
    DECLARED schema (`_POSTINGS_SCHEMA`), unioned per path so each
    scan keeps its own planning-time partition pruning. The explicit
    schema keeps the read session-safe: it never toggles the
    session-global partitionColumnTypeInference conf, which would leak
    to concurrent reads on the same SparkSession (r11 advisory)."""
    return reduce(
        DataFrame.unionByName,
        (
            spark.read.schema(_POSTINGS_SCHEMA).parquet(p).select("term", "doc_id", "tf")
            for p in paths
        ),
    )


def _fts_probe_roots(spark: SparkSession, k: int, *roots: str) -> DataFrame:
    """The persisted-index probe shared by the nightly, maintained and
    compacted forms: the queried terms' postings from every root (a
    static IN-list per scan ⇒ partition pruning to those terms), the
    term dictionary and doc count — SUM-merged across roots only when
    there is more than one, so a single tree is read as stored — then
    the conjunctive ranking tail."""
    terms = sorted({t for _qid, s in FTS_QUERIES for t in s.split()})
    post = _read_term_partitioned(spark, *(f"{r}/postings" for r in roots)).filter(
        F.col("term").isin(terms)
    )
    if len(roots) == 1:
        dic = spark.read.parquet(f"{roots[0]}/dict")
        n = spark.read.parquet(f"{roots[0]}/n")
    else:
        dic, n = _merged_summaries(spark, *roots)
    return _rank_conjunctive(spark, post, dic, n, k)


def fts_topk_indexed(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """PRODUCTION cost shape of :func:`fts_topk`: probe the PERSISTED
    postings index instead of deriving it in-query. The query terms
    are literals, so the probe applies a static IN-list filter that
    the planner turns into partition pruning — the scan touches only
    the queried terms' partitions, never the corpus. Content-equal to
    the derive form by construction (one `_postings` definition), so
    it shares the same oracle; cost ∝ postings of the queried terms,
    not ∝ corpus."""
    return _fts_probe_roots(spark, k, build_fts_index(spark, sf_dir))


#: Corpus/batch split for the maintained-index lifecycle (every fifth
#: doc arrives as the ingest batch — the term_stats_maintain split).
_FTS_SPLIT_MOD = 5


def build_fts_index_split(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The maintained-index LIFECYCLE's storage: the NIGHTLY base index
    over the stored corpus (doc_id % 5 ≠ 0) plus a committed OVERLAY
    holding the ingest batch's (doc_id % 5 = 0) index rows. The overlay
    commit is the incremental maintenance step: the batch's postings
    are written term-partitioned next to the base (cost ∝ batch — the
    corpus postings are never rewritten), and the dictionary/doc-count
    deltas are exact mergeable summaries (df/cf/N are integer SUMs over
    disjoint immutable doc sets — the term_stats_maintain algebra).
    Probes read base ∪ overlay as one logical index. Memoized per
    (app, sf_dir); production runs the base build as a scheduled job
    and the overlay commit inside each admission run."""
    def build() -> tuple[str, str]:
        docs = _docs(spark, sf_dir)
        base = _scratch_dir(spark, "fts-base", sf_dir)
        overlay = _scratch_dir(spark, "fts-overlay", sf_dir)
        _write_fts_index(docs.filter(F.col("doc_id") % _FTS_SPLIT_MOD != 0), base)
        _write_fts_index(docs.filter(F.col("doc_id") % _FTS_SPLIT_MOD == 0), overlay)
        return base, overlay

    return session_memo(session_key(spark, sf_dir, "fts-split"), build)


def _merged_summaries(spark: SparkSession, *roots: str) -> tuple[DataFrame, DataFrame]:
    """The (term, df) dictionary and the doc count of the union of
    ``roots``, merged by integer SUM (exact: both are mergeable
    summaries over disjoint immutable doc sets)."""
    dic = (
        spark.read.schema("term STRING, df BIGINT")
        .parquet(*(f"{r}/dict" for r in roots))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    n = (
        spark.read.schema("n_docs BIGINT")
        .parquet(*(f"{r}/n" for r in roots))
        .agg(F.sum("n_docs").alias("n_docs"))
    )
    return dic, n


def fts_topk_maintained(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Maintained-index retrieval: probe the nightly BASE postings
    index unioned with the committed batch OVERLAY (see
    :func:`build_fts_index_split`), with the term dictionary and the
    corpus doc count merged by integer SUM at probe time (KB-scale
    relations — the merge is a partial-agg over base ∪ delta rows,
    never a corpus touch). Registered under the FULL-REBUILD oracle
    (:func:`fts_topk_oracle_sql`), so the scoreboard hash proves
    maintained-overlay ≡ rebuilt — the ingest_two_batch_indexed
    contract applied to the search pillar. Probe cost shape identical
    to :func:`fts_topk_indexed`: both scans partition-prune to the
    queried terms."""
    return _fts_probe_roots(spark, k, *build_fts_index_split(spark, sf_dir))


def compact_fts_index(spark: SparkSession, sf_dir: str) -> str:
    """Segment-merge COMPACTION — the third verb of the maintained-index
    lifecycle (build → overlay-commit → compact): fold the committed
    overlay back into a single base tree so probe fan-in stays bounded
    as overlays accumulate. Reads base ∪ overlay postings (a scan of
    the INDEX, cost ∝ index size — the price any merge policy pays,
    which is why production triggers it on overlay-fraction/segment-
    count thresholds rather than per commit; Lucene's tiered-merge
    contract), rewrites them term-partitioned as one tree, and merges
    the dictionary / doc-count summaries by integer SUM (exact: df/N
    are mergeable summaries over disjoint immutable doc sets). The
    rewrite itself is ONE partitioned write with no shuffle beyond the
    partitioning the target layout requires. Memoized per (app,
    sf_dir); the layout invariant (single tree, no overlay) and the
    postings-multiset identity vs base ∪ overlay are pinned in
    tests/test_search.py."""
    def build() -> str:
        base, overlay = build_fts_index_split(spark, sf_dir)
        root = _scratch_dir(spark, "fts-compacted", sf_dir)
        merged = _read_term_partitioned(
            spark, f"{base}/postings", f"{overlay}/postings"
        )
        merged.select("doc_id", "tf", "term").write.mode("overwrite").partitionBy(
            "term"
        ).parquet(f"{root}/postings")
        dic, n = _merged_summaries(spark, base, overlay)
        dic.write.mode("overwrite").parquet(f"{root}/dict")
        n.write.mode("overwrite").parquet(f"{root}/n")
        return root

    return session_memo(session_key(spark, sf_dir, "fts-compact"), build)


def fts_topk_compacted(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Retrieval over the COMPACTED index: identical probe shape to
    :func:`fts_topk_indexed` (partition-pruned scan of the queried
    terms, KB-scale dict/n reads) but against the tree
    :func:`compact_fts_index` produced from base ∪ overlay. Registered
    under the FULL-REBUILD oracle, so the scoreboard hash proves
    compacted ≡ maintained ≡ rebuilt — compaction changes the LAYOUT,
    never the relation."""
    return _fts_probe_roots(spark, k, compact_fts_index(spark, sf_dir))


def _fts_ranked_cte() -> str:
    """The shared WITH-body: tokens → postings → query relation →
    conjunctive integer tf-idf → `ranked`. One definition composed by
    every oracle that consumes the ranking (fts_topk, snippets,
    hybrid) — never derived by string surgery on a rendered query."""
    return f"""{_TOKS_CTE},
q(query_id, term) AS (VALUES {_query_values()}),
qn AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
dfq AS (
    SELECT term, count(*) AS df FROM post
    WHERE term IN (SELECT term FROM q) GROUP BY 1
),
sc AS (
    SELECT q.query_id, p.doc_id,
           sum(p.tf * (({_IDF_SCALE} * n.n_docs) // dfq.df)) AS score,
           count(*) AS matched
    FROM q JOIN post p USING (term) JOIN dfq USING (term) CROSS JOIN n
    GROUP BY 1, 2
),
ranked AS (
    SELECT sc.query_id, sc.doc_id, sc.score,
           row_number() OVER (
               PARTITION BY sc.query_id ORDER BY sc.score DESC, sc.doc_id
           ) AS rank
    FROM sc JOIN qn USING (query_id)
    WHERE sc.matched = qn.n_terms
)"""


def fts_topk_oracle_sql(k: int = 10) -> str:
    return f"""
WITH {_fts_ranked_cte()}
SELECT query_id, doc_id, CAST(score AS BIGINT) AS score,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


# ----------------------------------------- disjunctive (OR) retrieval


def fts_topk_any(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Disjunctive (match-ANY) ranked retrieval: for each query, the
    top-k docs containing AT LEAST ONE query term, ranked by the same
    exact-integer tf-idf as :func:`fts_topk`. OR-mode is the
    conjunctive plan minus the matched-count filter — the candidate
    probe, df lookup, scoring shuffle and WindowGroupLimit are all
    shared (`_rank_query_frame`), so the cost shape is identical; the
    result set is a superset of the AND mode's per query.

    Output: (query_id, doc_id, score, rank).
    """
    docs = _docs(spark, sf_dir)
    post = _postings(docs)
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    q, qn = _query_frames(spark)
    return _rank_query_frame(post, dic, n, k, q, qn, require_all=False)


def fts_topk_any_oracle_sql(k: int = 10) -> str:
    return f"""
WITH {_TOKS_CTE},
q(query_id, term) AS (VALUES {_query_values()}),
n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
dfq AS (
    SELECT term, count(*) AS df FROM post
    WHERE term IN (SELECT term FROM q) GROUP BY 1
),
sc AS (
    SELECT q.query_id, p.doc_id,
           sum(p.tf * (({_IDF_SCALE} * n.n_docs) // dfq.df)) AS score
    FROM q JOIN post p USING (term) JOIN dfq USING (term) CROSS JOIN n
    GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, score,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
           ) AS rank
    FROM sc
)
SELECT query_id, doc_id, CAST(score AS BIGINT) AS score,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------------- prefix retrieval


def fts_prefix_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Prefix retrieval: each query is one prefix, EXPANDED against the
    term dictionary (`term LIKE 'pre%'`) into a concrete term set,
    then ranked with the same match-any exact-integer tf-idf as
    :func:`fts_topk_any`. The expansion touches only the dictionary
    (vocabulary-sized — KBs even for web-scale corpora after the usual
    df floor), and the expanded (query_id, term) set is BROADCAST into
    the postings probe, so the corpus-side plan is unchanged from the
    literal-terms path. At 100 TB the term-partitioned postings layout
    still prunes: the matched-term set is resolved before the probe,
    so the scan touches only matched terms' partitions.

    Output: (query_id, doc_id, score, rank).
    """
    docs = _docs(spark, sf_dir)
    post = _postings(docs)
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    pfx = spark.createDataFrame(FTS_PREFIX_QUERIES, "query_id INT, prefix STRING")
    # dictionary-side expansion: vocabulary × prefixes via a broadcast
    # nested-loop over the SMALL side (the dictionary), never the corpus
    q = (
        dic.select("term")
        .join(F.broadcast(pfx), F.col("term").startswith(F.col("prefix")))
        .select("query_id", "term")
        .distinct()
    )
    qn = q.groupBy("query_id").agg(F.count("*").alias("n_terms"))
    return _rank_query_frame(post, dic, n, k, q, qn, require_all=False)


def fts_prefix_topk_oracle_sql(k: int = 10) -> str:
    pfx_vals = ", ".join(f"({qid}, '{p}')" for qid, p in FTS_PREFIX_QUERIES)
    return f"""
WITH {_TOKS_CTE},
pfx(query_id, prefix) AS (VALUES {pfx_vals}),
dic AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
q AS (
    SELECT DISTINCT pfx.query_id, dic.term
    FROM dic JOIN pfx ON dic.term LIKE pfx.prefix || '%'
),
n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
sc AS (
    SELECT q.query_id, p.doc_id,
           sum(p.tf * (({_IDF_SCALE} * n.n_docs) // dic.df)) AS score
    FROM q JOIN post p USING (term) JOIN dic USING (term) CROSS JOIN n
    GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, score,
           row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
           ) AS rank
    FROM sc
)
SELECT query_id, doc_id, CAST(score AS BIGINT) AS score,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------------- fuzzy retrieval

#: Fuzzy-retrieval query set: every term carries a planted single-edit
#: typo (one substitution/insertion/deletion — a transposition is two
#: edits and correctly matches nothing at radius 1) — the
#: spell-tolerant lookup a real search box needs. 'fash' expands to
#: BOTH 'fast' and 'hash' (the multi-expansion case the distinct
#: scoring exists for); query 2 mixes a clean term with a typo.
FTS_FUZZY_QUERIES: list[tuple[int, str]] = [
    (0, "slo quer"),
    (1, "fash joim"),
    (2, "customer ordr"),
    (3, "dupp batc"),
]


#: Defensive bound on the planning-time fuzzy expansion collect: the
#: matched-expansion set is ≤ |typo terms| · (radius-1 ball ∩ vocab),
#: tiny on any real query batch — a vocabulary pathologically dense in
#: edit-1 neighbors should raise loudly, never OOM the driver (r11
#: advisory).
_FUZZY_EXPANSION_CAP = 10_000


def _fuzzy_expand(dic: DataFrame, qt: DataFrame, k: int = 1) -> DataFrame:
    """Dictionary expansion for fuzzy retrieval as a PassJoin segment
    EQUI-JOIN (Li/Deng/Feng VLDB'11 — the same pigeonhole filter
    :func:`edit_pairs_frame` ships, asymmetric here: the vocabulary is
    the indexed side, the query terms the probe side). Every dictionary
    term of length ≥ k+1 is split into k+1 contiguous segments; ≤ k
    edits leave one segment appearing EXACTLY in the query term,
    position-shifted ≤ k — so candidates come from an equi-join on
    (partner_len, seg_idx, literal segment content) with the tiny query
    relation BROADCAST, never a nested-loop levenshtein over the
    vocabulary (the r11 in-code caveat, now closed: open-vocabulary
    safe — index fan-out is (k+1) rows per dictionary term, linear in
    the vocabulary). Dictionary terms shorter than k+1 (unsegmentable)
    pair only with query terms of length ≤ 2k; that bounded population
    goes through a length-band equi-join. Candidates are verified with
    exact ``levenshtein``, so the output is identical by construction
    to the nested-loop expansion (and to the DuckDB oracle's).

    Output: (query_id, j, term, df), distinct.
    """
    m = k + 1
    d = dic.select("term", "df", F.length("term").alias("ld"))
    seg = (
        d.filter(F.col("ld") >= m)
        .select(
            "term",
            "df",
            F.col("ld").alias("lb"),
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
        )
        .withColumn("base", F.expr(f"lb div {m}"))
        .withColumn("rem", F.col("lb") % m)
        .withColumn(
            "seg_len",
            F.col("base")
            + F.when(F.col("i") >= m - F.col("rem"), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "p",
            F.col("i") * F.col("base")
            + F.greatest(F.lit(0), F.col("i") - (m - F.col("rem"))),
        )
        .select(
            "term",
            "df",
            "lb",
            "i",
            F.expr("substring(term, p + 1, seg_len)").alias("seg"),
        )
    )
    q = qt.select("query_id", "j", "qterm", F.length("qterm").alias("la"))
    probe = (
        q.select(
            "query_id",
            "j",
            "qterm",
            "la",
            # partner (dictionary-term) lengths in the ±k band; the
            # segmentation below is the PARTNER's (length lb), applied
            # to the query term's own characters at shifted positions
            F.explode(
                F.sequence(F.greatest(F.lit(m), F.col("la") - k), F.col("la") + k)
            ).alias("lb"),
        )
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(k))))
        .withColumn("base", F.expr(f"lb div {m}"))
        .withColumn("rem", F.col("lb") % m)
        .withColumn(
            "seg_len",
            F.col("base")
            + F.when(F.col("i") >= m - F.col("rem"), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "p",
            F.col("i") * F.col("base")
            + F.greatest(F.lit(0), F.col("i") - (m - F.col("rem"))),
        )
        .withColumn("qlo", F.greatest(F.lit(0), F.col("p") - k))
        .withColumn("qhi", F.least(F.col("la") - F.col("seg_len"), F.col("p") + k))
        .filter(F.col("qhi") >= F.col("qlo"))
        .withColumn("qpos", F.explode(F.sequence(F.col("qlo"), F.col("qhi"))))
        .select(
            "query_id",
            "j",
            "qterm",
            F.col("lb").alias("plb"),
            F.col("i").alias("pi"),
            F.expr("substring(qterm, qpos + 1, seg_len)").alias("sub"),
        )
    )
    cand = seg.join(
        F.broadcast(probe),
        (F.col("lb") == F.col("plb"))
        & (F.col("i") == F.col("pi"))
        & (F.col("seg") == F.col("sub")),
    ).select("query_id", "j", "qterm", "term", "df")
    # short branch: unsegmentable dictionary terms (ld < m ⇒ ld ≤ k)
    # can only sit within k edits of query terms of length ≤ 2k — a
    # bounded population paired by a length-band equi-join
    qshort = q.filter(F.col("la") <= 2 * k).select(
        "query_id",
        "j",
        "qterm",
        F.explode(
            F.sequence(F.greatest(F.lit(1), F.col("la") - k), F.col("la") + k)
        ).alias("ld"),
    )
    short_cand = (
        d.filter(F.col("ld") < m)
        .join(F.broadcast(qshort), "ld")
        .select("query_id", "j", "qterm", "term", "df")
    )
    return (
        cand.unionByName(short_cand)
        .filter(F.levenshtein("term", "qterm") <= k)
        .select("query_id", "j", "term", "df")
        .distinct()
    )


def fts_fuzzy_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Typo-tolerant ranked retrieval: each query term EXPANDS to the
    dictionary terms within levenshtein ≤ 1, and a doc matches when it
    contains at least one expansion of EVERY original term (fuzzy-AND
    — conjunctivity counted over ORIGINAL terms, not expansions).
    Scoring is the pillar's exact-integer tf-idf over the doc's
    matched expansion terms, each distinct dictionary term counted
    once per query even when it expands from two typos.

    The expansion touches only the DICTIONARY (vocabulary-sized) via
    the PassJoin segment EQUI-JOIN of :func:`_fuzzy_expand` — open-
    vocabulary safe: (k+1) index rows per dictionary term, broadcast
    query probe, exact ``levenshtein`` only on segment-matched
    candidates, never a nested-loop over the vocabulary. The
    corpus-side plan is unchanged from the literal-terms path:
    broadcast expanded set, pruned postings probe, one scoring
    shuffle, WindowGroupLimit. Both engines ship the classic
    levenshtein DP, so the surface hash-oracles end to end.

    Output: (query_id, doc_id, matched_terms, score, rank).
    """
    docs = _docs(spark, sf_dir)
    post = _postings(docs)
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    qt = spark.createDataFrame(
        [(qid, j, t) for qid, s in FTS_FUZZY_QUERIES for j, t in enumerate(s.split())],
        "query_id INT, j INT, qterm STRING",
    )
    # PLANNING-TIME expansion (the Lucene FuzzyQuery model: rewrite
    # against the term dictionary before the probe): one bounded job —
    # the PassJoin segment equi-join of `_fuzzy_expand` — whose OUTPUT
    # (matched expansions, ≤ |typos|·radius-ball) is collected and
    # re-broadcast as a literal relation. Keeping the expansion lazy
    # instead re-derives the postings subtree once per reference
    # (measured 6 explodes / 27 s at sf0.1 vs one / 2 s). The collect
    # is capped: a vocabulary pathologically dense in edit-1 neighbors
    # raises instead of OOMing the driver.
    exp_rows = (
        _fuzzy_expand(dic, qt, k=1).limit(_FUZZY_EXPANSION_CAP + 1).collect()
    )
    if len(exp_rows) > _FUZZY_EXPANSION_CAP:
        raise RuntimeError(
            f"fuzzy expansion exceeded {_FUZZY_EXPANSION_CAP} rows — "
            "vocabulary too dense in edit-1 neighbors for a literal "
            "rebroadcast; keep the expansion as a lazy frame instead"
        )
    if not exp_rows:
        return spark.createDataFrame(
            [],
            "query_id INT, doc_id BIGINT, matched_terms INT, score BIGINT, rank INT",
        )
    exp = spark.createDataFrame(
        [(r["query_id"], r["j"], r["term"], r["df"]) for r in exp_rows],
        "query_id INT, j INT, term STRING, df BIGINT",
    )
    n_terms = {qid: len(s.split()) for qid, s in FTS_FUZZY_QUERIES}
    qn = spark.createDataFrame(
        list(n_terms.items()), "query_id INT, n_terms INT"
    )
    # ONE postings scan: join the literal expansion (term, j, df all
    # riding it), roll up to (query, doc, term) keeping the j-set,
    # then score distinct terms once and count distinct original j's
    per_term = (
        post.join(F.broadcast(exp), "term")
        .groupBy("query_id", "doc_id", "term", "tf", "df")
        .agg(F.collect_set("j").alias("js"))
    )
    scored = (
        per_term.crossJoin(F.broadcast(n))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.expr(f"tf * (({_IDF_SCALE} * n_docs) div df)")).alias("score"),
            F.size(F.array_distinct(F.flatten(F.collect_list("js")))).alias(
                "matched_terms"
            ),
        )
    )
    full = scored.join(F.broadcast(qn), "query_id").filter(
        F.col("matched_terms") == F.col("n_terms")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        full.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("matched_terms").cast("int").alias("matched_terms"),
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def fts_fuzzy_topk_oracle_sql(k: int = 10) -> str:
    qt_vals = ", ".join(
        f"({qid}, {j}, '{t}')"
        for qid, s in FTS_FUZZY_QUERIES
        for j, t in enumerate(s.split())
    )
    return f"""
WITH {_TOKS_CTE},
qt(query_id, j, qterm) AS (VALUES {qt_vals}),
qn AS (SELECT query_id, count(DISTINCT j) AS n_terms FROM qt GROUP BY 1),
dic AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
exp AS (
    SELECT qt.query_id, qt.j, dic.term
    FROM dic JOIN qt ON levenshtein(dic.term, qt.qterm) <= 1
),
exp_terms AS (SELECT DISTINCT query_id, term FROM exp),
n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
sc AS (
    SELECT e.query_id, p.doc_id,
           sum(p.tf * (({_IDF_SCALE} * n.n_docs) // dic.df)) AS score
    FROM exp_terms e JOIN post p USING (term) JOIN dic USING (term) CROSS JOIN n
    GROUP BY 1, 2
),
exp_j AS (SELECT DISTINCT query_id, j, term FROM exp),
m AS (
    SELECT e.query_id, p.doc_id, count(DISTINCT e.j) AS matched_terms
    FROM exp_j e JOIN post p USING (term)
    GROUP BY 1, 2
),
ranked AS (
    SELECT sc.query_id, sc.doc_id, m.matched_terms, sc.score,
           row_number() OVER (
               PARTITION BY sc.query_id ORDER BY sc.score DESC, sc.doc_id
           ) AS rank
    FROM sc
    JOIN m ON m.query_id = sc.query_id AND m.doc_id = sc.doc_id
    JOIN qn ON qn.query_id = sc.query_id
    WHERE m.matched_terms = qn.n_terms
)
SELECT query_id, doc_id, CAST(matched_terms AS INTEGER) AS matched_terms,
       CAST(score AS BIGINT) AS score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


# --------------------------------------- hybrid retrieval (RRF fusion)


def hybrid_topk(
    spark: SparkSession, sf_dir: str, k: int = 10, k_each: int = 20
) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused by reciprocal-rank
    fusion — the RAG/training-data staple the search and embedding
    pillars jointly enable. Query q's LEXICAL list is the conjunctive
    integer-tf-idf top-``k_each`` (:func:`fts_topk`); its SEMANTIC
    list is the cosine top-``k_each`` of query q's embedding (vec_id
    = query_id — the testdata's docs↔embeddings join edge) against
    the whole embeddings table, scored with the knn_topk contract
    (round 9 dp, neighbor-id tie-break) as a broadcast of the FIVE
    query vectors against the corpus — cost ∝ corpus × |queries|, the
    exact-baseline shape (:func:`hybrid_topk_indexed` is the
    unbounded-corpus form: both lists from persisted pruned indexes;
    the fusion algebra is list-source-agnostic).

    RRF keeps only the RANKS: fused(d) = Σ_lists ⌊1e6 / (60 + rank)⌋
    (Cormack et al.'s 1/(k+rank) at integer scale) — so the fused
    ranking is exact BIGINT arithmetic and hash-oracles even though a
    float-scored fusion could not. Full-outer merge on (query, doc):
    docs on one list only score that list's contribution.

    Output: (query_id, doc_id, rrf_scaled, rank).
    """
    lex = fts_topk(spark, sf_dir, k=k_each).select(
        "query_id", "doc_id", F.col("rank").alias("rank_lex")
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x))
    qids = [qid for qid, _s in FTS_QUERIES]
    qv = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), vd.alias("qv"), nrm.alias("qn")
    )
    nb = emb.select(F.col("vec_id").alias("doc_id"), vd.alias("nv"), nrm.alias("nn"))
    dot = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    w_sem = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("doc_id"))
    sem = (
        nb.crossJoin(F.broadcast(qv))
        .filter(F.col("doc_id") != F.col("query_id"))
        .withColumn("cos", F.round(dot / (F.col("qn") * F.col("nn")), 9))
        .withColumn("rank_sem", F.row_number().over(w_sem))
        .filter(F.col("rank_sem") <= k_each)
        .select("query_id", "doc_id", "rank_sem")
    )
    return _rrf_fuse(lex, sem, k)


def _rrf_fuse(lex: DataFrame, sem: DataFrame, k: int) -> DataFrame:
    """The list-source-agnostic RRF merge: full-outer on (query, doc),
    fused(d) = Σ_lists ⌊1e6 / (60 + rank)⌋ in exact BIGINT arithmetic,
    WindowGroupLimit top-k. Shared by the exact and the
    persisted-index hybrid."""
    fused = (
        lex.join(sem, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf_scaled",
            F.coalesce(
                F.expr(f"{_IDF_SCALE} div ({RRF_K} + rank_lex)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{_IDF_SCALE} div ({RRF_K} + rank_sem)"), F.lit(0)
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_scaled"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("rrf_scaled").cast("bigint").alias("rrf_scaled"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def hybrid_topk_indexed(
    spark: SparkSession, sf_dir: str, k: int = 10, k_each: int = 20
) -> DataFrame:
    """The COMPLETE RAG serving path over PERSISTED indexes only — the
    swap-in :func:`hybrid_topk`'s docstring names, now wired (r11
    brief #2): the lexical list probes the persisted term-partitioned
    postings index (:func:`fts_topk_indexed` — planning-time partition
    pruning to the queried terms), the semantic list probes the
    persisted cell-partitioned IVF-Flat index
    (:func:`similarity.ivf_probe_topk` — driver-side probed-cell
    IN-list ⇒ planning-time partition pruning, query batch broadcast),
    and the fusion is the shared exact-integer RRF merge
    (`_rrf_fuse`). NO corpus-scale scan appears anywhere in the
    serving plan — both sides read only pruned index partitions, so
    per-query cost is ∝ (queried-term postings + probed-cell lists),
    corpus-independent: the per-request shape a live retrieval service
    needs at unbounded corpus size.

    Registered rows-only (the semantic side rides engine-specific
    k-means cells); rank parity vs the exact :func:`hybrid_topk` and
    a fused recall@k gate are test-pinned.

    Output: (query_id, doc_id, rrf_scaled, rank).
    """
    from flink_project_userbehavioranalysis_spark.operators.similarity import (
        ivf_probe_topk,
    )

    lex = fts_topk_indexed(spark, sf_dir, k=k_each).select(
        "query_id", "doc_id", F.col("rank").alias("rank_lex")
    )
    qids = [qid for qid, _s in FTS_QUERIES]
    sem = (
        ivf_probe_topk(spark, sf_dir, n_queries=max(qids) + 1, k=k_each)
        .filter(F.col("query_id").isin(qids))
        .select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rn").cast("int").alias("rank_sem"),
        )
    )
    return _rrf_fuse(lex, sem, k)


def hybrid_topk_oracle_sql(k: int = 10, k_each: int = 20) -> str:
    qids = ", ".join(str(qid) for qid, _s in FTS_QUERIES)
    return f"""
WITH {_fts_ranked_cte()},
lex AS (
    SELECT query_id, doc_id, rank AS rank_lex FROM ranked WHERE rank <= {k_each}
),
e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
nv AS (
    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
),
sem_sc AS (
    SELECT qv.vec_id AS query_id, b.vec_id AS doc_id,
           round(list_sum(list_transform(range(len(qv.v)), i -> qv.v[i + 1] * b.v[i + 1]))
                 / (qv.nrm * b.nrm), 9) AS cos
    FROM nv qv JOIN nv b ON b.vec_id <> qv.vec_id
    WHERE qv.vec_id IN ({qids})
),
sem AS (
    SELECT query_id, doc_id, rank_sem FROM (
        SELECT query_id, doc_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, doc_id
               ) AS rank_sem
        FROM sem_sc
    ) WHERE rank_sem <= {k_each}
),
fused AS (
    SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
           coalesce(lex.doc_id, sem.doc_id) AS doc_id,
           coalesce({_IDF_SCALE} // ({RRF_K} + lex.rank_lex), 0)
           + coalesce({_IDF_SCALE} // ({RRF_K} + sem.rank_sem), 0) AS rrf_scaled
    FROM lex FULL OUTER JOIN sem
      ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
)
SELECT query_id, doc_id, CAST(rrf_scaled AS BIGINT) AS rrf_scaled,
       CAST(rank AS INTEGER) AS rank
FROM (
    SELECT query_id, doc_id, rrf_scaled,
           row_number() OVER (
               PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id
           ) AS rank
    FROM fused
)
WHERE rank <= {k}
"""


# ---------------------------------------------------------- phrase search


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search, all phrases in one pass: token t at
    (doc, pos) matching phrase word j votes for start = pos - j; a
    start whose vote count equals the phrase length is one occurrence
    (correct under repeated phrase words — position start + j holds
    exactly one token, so each j is matched at most once per start).

    ONE broadcast join (tokens ⋈ phrase words) + ONE partial-agg
    shuffle on (phrase, doc, start) + one per-doc rollup — no
    per-phrase scan, no regex, no self-join chain whose depth grows
    with phrase length.

    Output: (phrase_id, doc_id, n_occurrences).
    """
    return phrase_occurrences(spark, _docs(spark, sf_dir), PHRASES)


def phrase_occurrences(
    spark: SparkSession, docs: DataFrame, phrases: list[tuple[int, str]]
) -> DataFrame:
    """The vote-counting phrase matcher over an arbitrary docs frame
    (split out so crafted-input tests can drive the algebra directly —
    overlapping matches, adjacent-duplicate words)."""
    toks = _positional_postings(docs)
    pw = spark.createDataFrame(
        [(pid, j, wjw) for pid, s in phrases for j, wjw in enumerate(s.split())],
        "phrase_id INT, j INT, word STRING",
    )
    plen = pw.groupBy("phrase_id").agg(F.count("*").alias("plen"))
    votes = (
        toks.join(F.broadcast(pw), toks["term"] == pw["word"])
        .select("phrase_id", "doc_id", (F.col("pos") - F.col("j")).alias("start"))
        .groupBy("phrase_id", "doc_id", "start")
        .agg(F.count("*").alias("nvotes"))
    )
    occ = votes.join(F.broadcast(plen), "phrase_id").filter(
        F.col("nvotes") == F.col("plen")
    )
    return occ.groupBy("phrase_id", "doc_id").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )


def phrase_search_oracle_sql() -> str:
    pw_vals = ", ".join(
        f"({pid}, {j}, '{wjw}')"
        for pid, s in PHRASES
        for j, wjw in enumerate(s.split())
    )
    return f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents WHERE text IS NOT NULL
),
toks AS (
    SELECT doc_id, i - 1 AS pos, toks[i] AS term
    FROM base, unnest(range(1, len(toks) + 1)) AS r(i)
    WHERE toks[i] <> ''
),
pw(phrase_id, j, word) AS (VALUES {pw_vals}),
plen AS (SELECT phrase_id, count(*) AS plen FROM pw GROUP BY 1),
votes AS (
    SELECT pw.phrase_id, t.doc_id, t.pos - pw.j AS start, count(*) AS nvotes
    FROM toks t JOIN pw ON t.term = pw.word
    GROUP BY 1, 2, 3
)
SELECT v.phrase_id, v.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM votes v JOIN plen USING (phrase_id)
WHERE v.nvotes = plen.plen
GROUP BY 1, 2
"""


# ------------------------------------------------------------------- BM25


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck-Jones), conjunctive.

    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)),
    score  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Registered ROWS-ONLY by design: idf rides libm ln(), which is not
    correctly-rounded cross-engine (the value_percentiles_ddsketch
    precedent) — rank parity vs an independent Python recompute and
    rank agreement with the integer tf-idf twin are asserted in
    ``tests/test_search.py`` instead. Same plan shape as ``fts_topk``
    plus one broadcast doc-length join; score rounded to 6 decimals
    with a doc_id tie-break so the emitted ranking is deterministic.

    Output: (query_id, doc_id, score, rank).
    """
    docs = _docs(spark, sf_dir)
    post = _postings(docs)
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("double").alias("dl")
    )
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count("*").cast("double").alias("n_docs")
    )
    q = spark.createDataFrame(
        [(qid, t) for qid, s in FTS_QUERIES for t in s.split()],
        "query_id INT, term STRING",
    )
    qn = q.groupBy("query_id").agg(F.count("*").alias("n_terms"))
    dfq = (
        post.join(F.broadcast(q.select("term").distinct()), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    cand = (
        post.join(F.broadcast(q), "term")
        .join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    contrib = cand.withColumn(
        "w",
        F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("w"), 6).alias("score"), F.count("*").alias("matched")
    )
    full = scored.join(F.broadcast(qn), "query_id").filter(
        F.col("matched") == F.col("n_terms")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        full.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", F.col("rank").cast("int").alias("rank"))
    )


# ----------------------------------------- term-dictionary maintenance


def term_stats_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental term-dictionary maintenance (maintained ≡ rebuilt):
    the stored dictionary (term, df, cf) for the corpus partition
    (doc_id % 5 ≠ 0) is merged with the ingest batch's delta
    (doc_id % 5 = 0) by integer SUM — df/cf are exact mergeable
    summaries because docs are immutable and batches are disjoint, the
    same algebra the HLL/histogram summaries use. Cost ∝ batch: the
    corpus side is a stored KB-scale dictionary, never re-derived at
    maintenance time (derived here only to simulate it; the bench
    treats it like the other maintained≡rebuilt entries).

    The oracle recomputes the dictionary over ALL docs — proving the
    merge is exactly the rebuild.

    Output: (term, df, cf).
    """

    def stats(docs: DataFrame) -> DataFrame:
        toks = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        ).filter(F.col("term") != "")
        return (
            toks.groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf"))
            .groupBy("term")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        )

    docs = _docs(spark, sf_dir)
    stored = stats(docs.filter(F.col("doc_id") % 5 != 0))
    delta = stats(docs.filter(F.col("doc_id") % 5 == 0))
    return (
        stored.unionByName(delta)
        .groupBy("term")
        .agg(
            F.sum("df").cast("bigint").alias("df"),
            F.sum("cf").cast("bigint").alias("cf"),
        )
    )


def term_stats_maintain_oracle_sql() -> str:
    return f"""
WITH {_TOKS_CTE}
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM post GROUP BY 1
"""


# ------------------------------------- edit-distance similarity join


#: Title grain for the edit-distance join: first N tokens.
_EDIT_NTOK = 12


def _titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, _EDIT_NTOK), " ").alias(
            "title"
        ),
    )


def edit_dup_pairs(spark: SparkSession, sf_dir: str, k: int = 4) -> DataFrame:
    """Edit-distance similarity join over document titles (first
    twelve tokens): all pairs with levenshtein(title_a, title_b) ≤ k —
    the entity-resolution / near-dup-title primitive (catalog titles,
    URLs, citation strings) the char-level side of the dedup family
    lacks.

    Candidate generation is the PIGEONHOLE SEGMENT FILTER (the
    PassJoin scheme, Li/Deng/Feng VLDB'11), which is exact-safe: split
    every title into k+1 contiguous segments; ≤ k edits can touch at
    most k of them, so one segment survives untouched and appears in
    the partner EXACTLY, position-shifted by at most k (each edit
    shifts downstream offsets by ≤ 1). So candidates come from an
    EQUI-JOIN on literal segment content:
      index side — each title's k+1 segments as
        (len, seg_idx, seg_string);
      probe side — for each partner length in the ±k band, each
        segment index, each start within the ±k window, the title's
        substring of that segment's exact length.
    Probe fan-out is (2k+1)·(k+1)·(≤2k+1) ≈ 405 narrow rows per doc —
    LINEAR in the corpus — and segment strings are long (~len/(k+1)
    chars), so posting lists stay sparse even on this corpus's dense
    30-word alphabet, where bigram count-filter lists degenerate
    (measured: the count-filter join materialized 94M rows at sf0.1;
    this plan joins ~2M probe rows against 25k segments). Candidates
    are deduped then verified with exact ``levenshtein`` (JVM codegen;
    DuckDB ships the identical classic DP, so the surface hash-oracles
    end to end against a filter-free recompute — the oracle applies NO
    candidate filter, so a hash match is also the completeness proof).
    Never a cartesian.

    Output: (doc_a, doc_b, dist), doc_a < doc_b.
    """
    return edit_pairs_frame(_titles(spark, sf_dir), k)


def edit_pairs_frame(t: DataFrame, k: int) -> DataFrame:
    """The pigeonhole edit-join over an arbitrary (doc_id, title)
    frame (split out so crafted-input tests can drive completeness
    against a brute-force recompute)."""
    m = k + 1
    tl = t.select("doc_id", "title", F.length("title").alias("l"))
    # The even-partition closed form (first m-rem segments of length
    # base, last rem of length base+1) needs base ≥ 1 — empty segments
    # would match vacuously — so the index side admits only titles of
    # length ≥ m. Pairs touching SHORTER titles are not dropped: a
    # ≤k-edit partner of a title shorter than m is itself shorter than
    # m+k, so every such pair lives among the ≤2k-length titles, and
    # the explicit short-title branch below covers them exactly.
    seg = (
        tl.filter(F.col("l") >= m)
        .select(
            F.col("doc_id").alias("b_id"),
            F.col("l").alias("lb"),
            "title",
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
        )
        .withColumn("base", F.expr("lb div " + str(m)))
        .withColumn("rem", F.col("lb") % m)
        .withColumn(
            "seg_len",
            F.col("base")
            + F.when(F.col("i") >= m - F.col("rem"), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "p",
            F.col("i") * F.col("base")
            + F.greatest(F.lit(0), F.col("i") - (m - F.col("rem"))),
        )
        .select(
            "b_id",
            "lb",
            "i",
            "p",
            F.expr("substring(title, p + 1, seg_len)").alias("seg"),
        )
    )
    probe = (
        tl.select(
            F.col("doc_id").alias("a_id"),
            F.col("l").alias("la"),
            "title",
            F.explode(
                F.sequence(F.greatest(F.lit(m), F.col("l") - k), F.col("l") + k)
            ).alias("lb"),
        )
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(k))))
        .withColumn("base", F.expr("lb div " + str(m)))
        .withColumn("rem", F.col("lb") % m)
        .withColumn(
            "seg_len",
            F.col("base")
            + F.when(F.col("i") >= m - F.col("rem"), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "p",
            F.col("i") * F.col("base")
            + F.greatest(F.lit(0), F.col("i") - (m - F.col("rem"))),
        )
        .withColumn("qlo", F.greatest(F.lit(0), F.col("p") - k))
        .withColumn("qhi", F.least(F.col("la") - F.col("seg_len"), F.col("p") + k))
        .filter(F.col("qhi") >= F.col("qlo"))
        .withColumn("q", F.explode(F.sequence(F.col("qlo"), F.col("qhi"))))
        .select(
            "a_id",
            "lb",
            "i",
            F.expr("substring(title, q + 1, seg_len)").alias("sub"),
        )
    )
    cand = probe.join(
        seg,
        (probe["lb"] == seg["lb"])
        & (probe["i"] == seg["i"])
        & (probe["sub"] == seg["seg"])
        & (probe["a_id"] < seg["b_id"]),
    ).select(F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b"))
    # Short-title branch: if min(|a|,|b|) < m then max(|a|,|b|) ≤
    # min+k ≤ 2k, so BOTH sides of any such pair sit in the ≤2k-length
    # population. Pair them by an equi-join on partner length (the ±k
    # band exploded to literal lengths — the probe side's own trick),
    # then the shared exact verify. The population is bounded by
    # construction (titles of ≤ 2k chars — empty on real title
    # corpora, so the filter prunes this branch to zero rows); overlap
    # with the main branch (both sides in [m, 2k]) is removed by the
    # shared distinct.
    shorts = tl.filter(F.col("l") <= 2 * k)
    short_cand = (
        shorts.select(
            F.col("doc_id").alias("doc_a"),
            F.explode(
                F.sequence(F.greatest(F.lit(0), F.col("l") - k), F.col("l") + k)
            ).alias("lb"),
        )
        .join(
            shorts.select(F.col("doc_id").alias("doc_b"), F.col("l").alias("lb")),
            "lb",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    cand = cand.unionByName(short_cand).distinct()
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("title").alias("ta"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("title").alias("tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("dist", F.levenshtein("ta", "tb"))
        .filter(F.col("dist") <= k)
        .select("doc_a", "doc_b", F.col("dist").cast("int").alias("dist"))
    )


def edit_dup_pairs_oracle_sql(k: int = 4) -> str:
    return f"""
WITH t AS (
    SELECT doc_id,
           array_to_string(string_split(text, ' ')[1:{_EDIT_NTOK}], ' ') AS title
    FROM documents WHERE text IS NOT NULL
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
FROM t a JOIN t b
  ON a.doc_id < b.doc_id
 AND abs(len(a.title) - len(b.title)) <= {k}
WHERE levenshtein(a.title, b.title) <= {k}
"""


def edit_dup_pairs_fast_oracle_sql(k: int = 4) -> str:
    """The segment-filtered recompute for the sf0.1 local matrix: same
    pigeonhole candidate generation as the Spark plan, in SQL (the
    filter is exact-safe, and the equivalence to the filter-free
    registered oracle is pinned at sf0.01 in tests/test_search.py) —
    the quadratic all-pairs levenshtein takes ~2 min at sf0.1, this
    runs in seconds. The driver's registered oracle stays filter-free."""
    m = k + 1
    return f"""
WITH t0 AS (
    SELECT doc_id,
           array_to_string(string_split(text, ' ')[1:{_EDIT_NTOK}], ' ') AS title
    FROM documents WHERE text IS NOT NULL
),
t AS (SELECT doc_id, title, len(title) AS l FROM t0),
segb AS (
    SELECT doc_id AS b_id, l AS lb, i, title,
           i * (l // {m}) + greatest(0, i - ({m} - l % {m})) AS p,
           (l // {m}) + CASE WHEN i >= {m} - (l % {m}) THEN 1 ELSE 0 END AS seg_len
    FROM t, unnest(range(0, {m})) AS r(i)
    WHERE l >= {m}
),
seg AS (SELECT b_id, lb, i, substr(title, p + 1, seg_len) AS seg FROM segb),
pb1 AS (
    SELECT doc_id AS a_id, l AS la, title, lb, i,
           i * (lb // {m}) + greatest(0, i - ({m} - lb % {m})) AS p,
           (lb // {m}) + CASE WHEN i >= {m} - (lb % {m}) THEN 1 ELSE 0 END AS seg_len
    FROM t,
         unnest(range(greatest({m}, l - {k}), l + {k} + 1)) AS r1(lb),
         unnest(range(0, {m})) AS r2(i)
),
pb2 AS (
    SELECT a_id, title, lb, i, seg_len,
           greatest(0, p - {k}) AS qlo, least(la - seg_len, p + {k}) AS qhi
    FROM pb1
),
probe AS (
    SELECT a_id, lb, i, substr(title, q + 1, seg_len) AS sub
    FROM pb2, unnest(range(qlo, qhi + 1)) AS r(q)
    WHERE qhi >= qlo
),
pig AS (
    SELECT p.a_id AS doc_a, s.b_id AS doc_b
    FROM probe p JOIN seg s
      ON p.lb = s.lb AND p.i = s.i AND p.sub = s.seg AND p.a_id < s.b_id
),
short_cand AS (
    -- the Spark plan's short-title branch: both sides ≤ 2k chars
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM t a JOIN t b
      ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= {k}
    WHERE a.l <= {2 * k} AND b.l <= {2 * k}
),
cand AS (SELECT DISTINCT * FROM (SELECT * FROM pig UNION ALL SELECT * FROM short_cand))
SELECT c.doc_a, c.doc_b,
       CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
FROM cand c JOIN t a ON a.doc_id = c.doc_a JOIN t b ON b.doc_id = c.doc_b
WHERE levenshtein(a.title, b.title) <= {k}
"""


# ----------------------------------------------------- result snippets


def search_snippets(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Snippet/highlight generation for the top-k retrieval hits: a
    five-token window centered on the first occurrence of the query's
    RAREST term (min df, term-asc tie-break — the most informative
    anchor). Pure expression-level string algebra over the hits ⋈ docs
    join: array_position finds the anchor (the term is guaranteed
    present — retrieval is conjunctive), slice clamps the window at
    both ends identically in Spark and DuckDB, so the emitted snippet
    STRINGS hash-oracle. The hits relation is k·|queries| rows, so the
    docs join is a broadcast probe of the big side — cost ∝ results,
    not corpus.

    Output: (query_id, doc_id, rank, anchor_term, snippet).
    """
    hits = fts_topk(spark, sf_dir, k=k)
    docs = _docs(spark, sf_dir)
    post = _postings(docs)
    q, _qn = _query_frames(spark)
    dfq = (
        post.join(F.broadcast(q.select("term").distinct()), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    rarest = (
        q.join(dfq, "term")
        .withColumn(
            "rr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("df"), F.asc("term"))
            ),
        )
        .filter(F.col("rr") == 1)
        .select("query_id", F.col("term").alias("anchor_term"))
    )
    joined = (
        hits.join(F.broadcast(rarest), "query_id")
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("toks", F.filter(F.split("text", " "), lambda t: t != ""))
        .withColumn("p", F.expr("array_position(toks, anchor_term)"))
        .withColumn("a", F.greatest(F.lit(1), F.col("p") - 2))
    )
    return joined.select(
        "query_id",
        "doc_id",
        "rank",
        "anchor_term",
        F.array_join(F.slice("toks", F.col("a"), 5), " ").alias("snippet"),
    )


def search_snippets_oracle_sql(k: int = 10) -> str:
    return f"""
WITH {_fts_ranked_cte()},
hits AS (
    SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {k}
),
rarest AS (
    SELECT query_id, term AS anchor_term
    FROM (
        SELECT q.query_id, q.term,
               row_number() OVER (
                   PARTITION BY q.query_id ORDER BY dfq.df, q.term
               ) AS rr
        FROM q JOIN dfq USING (term)
    ) WHERE rr = 1
),
tokd AS (
    SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
    FROM documents WHERE text IS NOT NULL
),
anch AS (
    SELECT h.query_id, h.doc_id, h.rank, r.anchor_term, d.toks,
           greatest(1, list_position(d.toks, r.anchor_term) - 2) AS a
    FROM hits h JOIN rarest r USING (query_id) JOIN tokd d USING (doc_id)
)
SELECT query_id, doc_id, CAST(rank AS INTEGER) AS rank, anchor_term,
       array_to_string(toks[a:least(len(toks), a + 4)], ' ') AS snippet
FROM anch
"""


# -------------------------------------------- term association (lift)


def term_associations(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Query-expansion co-occurrence: for every term, its top-k
    associated terms by document-level LIFT — n_ab·N / (n_a·n_b), the
    exp of PMI — kept exact-integer via the idf-style scaling
    (1e6·n_ab·N) div (n_a·n_b) so the ranking hash-oracles. Pair
    generation is a self-equi-join of the distinct (doc, term)
    relation on doc (pair volume bounded by vocab² per doc; for open
    vocabularies prune to the per-doc top-m informative terms first —
    the standard co-occurrence cap), one partial-agg shuffle on the
    pair, broadcast dictionary joins, WindowGroupLimit per term. Both
    orientations are emitted (a→b and b→a) so every term has a
    complete associate list.

    Output: (term, assoc, n_both, lift_scaled, rank).
    """
    docs = _docs(spark, sf_dir)
    d = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(F.col("a.term").alias("ta"), F.col("b.term").alias("tb"))
        .agg(F.count("*").alias("n_both"))
    )
    dic = d.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    both = pairs.unionByName(
        pairs.select(
            F.col("tb").alias("ta"), F.col("ta").alias("tb"), "n_both"
        )
    )
    scored = (
        both.join(F.broadcast(dic.withColumnRenamed("term", "ta").withColumnRenamed("df", "df_a")), "ta")
        .join(F.broadcast(dic.withColumnRenamed("term", "tb").withColumnRenamed("df", "df_b")), "tb")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "lift_scaled",
            F.expr(f"({_IDF_SCALE} * n_both * n_docs) div (df_a * df_b)"),
        )
    )
    w = Window.partitionBy("ta").orderBy(F.desc("lift_scaled"), F.asc("tb"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("ta").alias("term"),
            F.col("tb").alias("assoc"),
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("lift_scaled").cast("bigint").alias("lift_scaled"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def term_associations_oracle_sql(k: int = 5) -> str:
    return f"""
WITH {_TOKS_CTE},
d AS (SELECT DISTINCT doc_id, term FROM post),
pairs AS (
    SELECT a.term AS ta, b.term AS tb, count(*) AS n_both
    FROM d a JOIN d b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2
),
bidir AS (
    SELECT ta, tb, n_both FROM pairs
    UNION ALL
    SELECT tb AS ta, ta AS tb, n_both FROM pairs
),
dic AS (SELECT term, count(*) AS df FROM d GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
scored AS (
    SELECT b.ta, b.tb, b.n_both,
           ({_IDF_SCALE} * b.n_both * n.n_docs) // (da.df * db.df) AS lift_scaled
    FROM bidir b
    JOIN dic da ON da.term = b.ta
    JOIN dic db ON db.term = b.tb
    CROSS JOIN n
),
ranked AS (
    SELECT ta, tb, n_both, lift_scaled,
           row_number() OVER (
               PARTITION BY ta ORDER BY lift_scaled DESC, tb
           ) AS rank
    FROM scored
)
SELECT ta AS term, tb AS assoc,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(lift_scaled AS BIGINT) AS lift_scaled,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


# ------------------------------------- proximity (sloppy-pair) search

#: Proximity query set: (query_id, term_a, term_b, slop) — docs where
#: the two terms occur within ``slop`` token positions, the Lucene
#: sloppy-PhraseQuery / SpanNearQuery feature. Slops 1–2 discriminate
#: on this corpus (most term pairs co-occur somewhere in most docs;
#: adjacency is rare).
PROX_QUERIES: list[tuple[int, str, str, int]] = [
    (0, "slow", "query", 2),
    (1, "hash", "join", 1),
    (2, "customer", "order", 2),
    (3, "dup", "batch", 3),
]


def phrase_near_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Proximity search: for each (a, b, slop) query, the top-k docs
    by NUMBER OF (posₐ, pos_b) pairs with |posₐ − pos_b| ≤ slop (the
    unordered SpanNear contract: either term may come first), tie on
    doc_id. Exact integer counts, so the surface hash-oracles.

    Plan shape: positional postings are probed ONCE by the broadcast
    term relation (both roles in one pass), split into the a-side and
    b-side by role, then paired with an EQUI-join on (query, doc) —
    the range residual |posₐ−pos_b| ≤ slop evaluates inside the join.
    Per-(query, doc) position lists are short (term frequency), so the
    pair blow-up is bounded by tf_a·tf_b per doc, never corpus-sized;
    at 100 TB the (query, doc) key is the shuffle key and the
    positional index would be the term-partitioned layout the pillar
    already persists.

    Output: (query_id, doc_id, n_pairs, rank).
    """
    docs = _docs(spark, sf_dir)
    toks = _positional_postings(docs)
    q = spark.createDataFrame(
        [(qid, t, role) for qid, a, b, _s in PROX_QUERIES for t, role in ((a, "a"), (b, "b"))],
        "query_id INT, term STRING, role STRING",
    )
    slops = spark.createDataFrame(
        [(qid, s) for qid, _a, _b, s in PROX_QUERIES], "query_id INT, slop INT"
    )
    hits = toks.join(F.broadcast(q), "term")
    a = hits.filter(F.col("role") == "a").select(
        "query_id", "doc_id", F.col("pos").alias("pos_a")
    )
    b = hits.filter(F.col("role") == "b").select(
        F.col("query_id").alias("qb"), F.col("doc_id").alias("db"),
        F.col("pos").alias("pos_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("query_id") == F.col("qb")) & (F.col("doc_id") == F.col("db")),
        )
        .join(F.broadcast(slops), "query_id")
        .filter(F.abs(F.col("pos_a") - F.col("pos_b")) <= F.col("slop"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_pairs"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_pairs"), F.asc("doc_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def phrase_near_topk_oracle_sql(k: int = 10) -> str:
    q_vals = ", ".join(
        f"({qid}, '{a}', '{b}', {s})" for qid, a, b, s in PROX_QUERIES
    )
    return f"""
WITH ptoks AS (
    SELECT doc_id, t.term, t.pos FROM (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS term,
               unnest(range(len(string_split(text, ' ')))) AS pos
        FROM documents WHERE text IS NOT NULL
    ) t WHERE t.term <> ''
),
q(query_id, ta, tb, slop) AS (VALUES {q_vals}),
pairs AS (
    SELECT q.query_id, a.doc_id, count(*) AS n_pairs
    FROM q
    JOIN ptoks a ON a.term = q.ta
    JOIN ptoks b ON b.term = q.tb AND b.doc_id = a.doc_id
    WHERE abs(a.pos - b.pos) <= q.slop
    GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, n_pairs,
           row_number() OVER (
               PARTITION BY query_id ORDER BY n_pairs DESC, doc_id
           ) AS rank
    FROM pairs
)
SELECT query_id, doc_id, CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


# --------------------------------------------- More-Like-This retrieval

#: Seed documents for More-Like-This (doc-as-query retrieval) and the
#: interesting-terms budget (the Lucene MLT maxQueryTerms dial).
MLT_SEEDS: list[int] = [0, 7, 13]
MLT_MAX_TERMS = 5


def more_like_this(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """More-Like-This: for each seed document, the top-k most similar
    docs, scored by shared-term exact-integer tf-idf — the Lucene MLT
    feature (doc-as-query retrieval; dedup review, related-articles,
    training-data neighborhood probes).

    INTERESTING-TERM selection is deterministic: the seed's distinct
    terms ranked by (df ASC, term ASC) — rarest first, the idf-order
    heuristic MLT uses — truncated to ``MLT_MAX_TERMS``. Candidates
    are docs sharing ≥1 interesting term (seed itself excluded);
    score(d) = Σ_t tf_d(t) · ((1e6·N) div df(t)) over the shared
    terms. Everything BIGINT ⇒ hash-oracles.

    Plan shape: the seed relation is tiny (a request batch) and rides
    broadcast joins end to end; per-seed interesting terms come from a
    WindowGroupLimit over the seed's own postings rows (∝ seed doc
    length, never the corpus); the candidate probe is the pillar's
    standard broadcast-pruned postings probe. At 100 TB the probe
    reads only the interesting terms' partitions of the persisted
    postings index.

    Output: (seed_doc, doc_id, score, rank).
    """
    docs = _docs(spark, sf_dir)
    post = _postings(docs)
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    seeds = spark.createDataFrame(
        [(int(s),) for s in MLT_SEEDS], "seed_doc BIGINT"
    )
    seed_terms = post.join(
        F.broadcast(seeds), post["doc_id"] == seeds["seed_doc"]
    ).select("seed_doc", "term")
    wi = Window.partitionBy("seed_doc").orderBy(F.asc("df"), F.asc("term"))
    interesting = (
        seed_terms.join(dic, "term")
        .withColumn("tr", F.row_number().over(wi))
        .filter(F.col("tr") <= MLT_MAX_TERMS)
        .select("seed_doc", "term", "df")
    )
    cand = (
        post.join(F.broadcast(interesting), "term")
        .filter(F.col("doc_id") != F.col("seed_doc"))
        .crossJoin(F.broadcast(n))
        .groupBy("seed_doc", "doc_id")
        .agg(
            F.sum(F.expr(f"tf * (({_IDF_SCALE} * n_docs) div df)")).alias("score")
        )
    )
    w = Window.partitionBy("seed_doc").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "seed_doc",
            "doc_id",
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def more_like_this_oracle_sql(k: int = 10) -> str:
    seed_vals = ", ".join(f"({s})" for s in MLT_SEEDS)
    return f"""
WITH {_TOKS_CTE},
dic AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
seeds(seed_doc) AS (VALUES {seed_vals}),
interesting AS (
    SELECT seed_doc, term, df FROM (
        SELECT s.seed_doc, p.term, dic.df,
               row_number() OVER (
                   PARTITION BY s.seed_doc ORDER BY dic.df ASC, p.term ASC
               ) AS tr
        FROM seeds s
        JOIN post p ON p.doc_id = s.seed_doc
        JOIN dic USING (term)
    ) WHERE tr <= {MLT_MAX_TERMS}
),
cand AS (
    SELECT i.seed_doc, p.doc_id,
           sum(p.tf * (({_IDF_SCALE} * n.n_docs) // i.df)) AS score
    FROM interesting i
    JOIN post p USING (term)
    CROSS JOIN n
    WHERE p.doc_id <> i.seed_doc
    GROUP BY 1, 2
),
ranked AS (
    SELECT seed_doc, doc_id, score,
           row_number() OVER (
               PARTITION BY seed_doc ORDER BY score DESC, doc_id
           ) AS rank
    FROM cand
)
SELECT CAST(seed_doc AS BIGINT) AS seed_doc, doc_id,
       CAST(score AS BIGINT) AS score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------------------ faceted search

def faceted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search: for each registered conjunctive query, the
    FACET COUNTS of its full match set by (lang, source) — the
    drill-down sidebar every search UI ships, and for a corpus
    pipeline the instant source/language profile of any term-defined
    subset ("what feeds the docs matching 'dup batch'?").

    Facets aggregate the FULL match set (not the top-k page): the
    conjunctive match predicate is the pillar's matched-count
    equality, then one partial-agg shuffle on (query, lang, source).
    Cost ∝ matching docs; the facet grid is bounded by the dimension
    cardinalities. Exact counts ⇒ hash-oracles.

    Output: (query_id, lang, source, n_docs).
    """
    docs = _docs(spark, sf_dir)
    post = _postings(docs)
    q, qn = _query_frames(spark)
    matched = (
        post.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("matched"))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("matched") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    return (
        matched.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .groupBy("query_id", "lang", "source")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def faceted_search_oracle_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
q(query_id, term) AS (VALUES {_query_values()}),
qn AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY 1),
matched AS (
    SELECT q.query_id, p.doc_id
    FROM q JOIN post p USING (term)
    GROUP BY 1, 2
    HAVING count(*) = (SELECT n_terms FROM qn WHERE qn.query_id = q.query_id)
)
SELECT m.query_id, d.lang, d.source, CAST(count(*) AS BIGINT) AS n_docs
FROM matched m JOIN documents d USING (doc_id)
GROUP BY 1, 2, 3
"""


# --------------------------------------- field-weighted (boosted) ranking

#: Title length (tokens) and boost for field-weighted ranking — the
#: Lucene per-field boost feature with the synthetic title = the
#: document's first 8 tokens (the corpus has no separate title field).
TITLE_LEN = 8
TITLE_BOOST = 3


def fts_weighted_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Field-weighted conjunctive retrieval: same match set as
    :func:`fts_topk`, but a query term occurring in the TITLE (first
    ``TITLE_LEN`` tokens) counts ``TITLE_BOOST``× — the per-field
    boost every search engine ships (title/anchor/body weighting).

    score(q, d) = Σ_t (tf_d(t) + (BOOST−1)·tf_title(t)) · idf(t),
    all BIGINT ⇒ hash-oracles. tf_title is a row-local array-HOF
    count over the first TITLE_LEN tokens (no second postings
    relation, no extra shuffle: the weighted tf rides the same
    (term, doc) grain as the plain postings probe). Conjunctivity is
    over the FULL text, so the result set equals fts_topk's and only
    the ordering changes (test-pinned).

    Output: (query_id, doc_id, score, rank).
    """
    docs = _docs(spark, sf_dir)
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    title = F.slice(toks, 1, TITLE_LEN)
    pairs = F.transform(
        F.array_distinct(toks),
        lambda t: F.struct(
            t.alias("term"),
            F.size(F.filter(toks, lambda x: x == t)).cast("long").alias("tf"),
            F.size(F.filter(title, lambda x: x == t)).cast("long").alias("tf_title"),
        ),
    )
    post = (
        docs.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.term", "p.tf", "p.tf_title")
    )
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    q, qn = _query_frames(spark)
    dfq = dic.join(F.broadcast(q.select("term").distinct()), "term", "left_semi")
    cand = (
        post.join(F.broadcast(q), "term")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(n))
    )
    scored = (
        cand.groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.expr(
                    f"(tf + {TITLE_BOOST - 1} * tf_title)"
                    f" * (({_IDF_SCALE} * n_docs) div df)"
                )
            ).alias("score"),
            F.count("*").alias("matched"),
        )
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("matched") == F.col("n_terms"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def fts_weighted_topk_oracle_sql(k: int = 10) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           unnest(range(len(string_split(text, ' ')))) AS pos
    FROM documents WHERE text IS NOT NULL
),
post AS (
    SELECT term, doc_id, count(*) AS tf,
           count(*) FILTER (WHERE pos < {TITLE_LEN}) AS tf_title
    FROM toks WHERE term <> '' GROUP BY 1, 2
),
q(query_id, term) AS (VALUES {_query_values()}),
qn AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
dfq AS (
    SELECT term, count(*) AS df FROM post
    WHERE term IN (SELECT term FROM q) GROUP BY 1
),
sc AS (
    SELECT q.query_id, p.doc_id,
           sum((p.tf + {TITLE_BOOST - 1} * p.tf_title)
               * (({_IDF_SCALE} * n.n_docs) // dfq.df)) AS score,
           count(*) AS matched
    FROM q JOIN post p USING (term) JOIN dfq USING (term) CROSS JOIN n
    GROUP BY 1, 2
),
ranked AS (
    SELECT sc.query_id, sc.doc_id, sc.score,
           row_number() OVER (
               PARTITION BY sc.query_id ORDER BY sc.score DESC, sc.doc_id
           ) AS rank
    FROM sc JOIN qn USING (query_id)
    WHERE sc.matched = qn.n_terms
)
SELECT query_id, doc_id, CAST(score AS BIGINT) AS score,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------------- spell suggestion

def spell_suggest(
    spark: SparkSession, sf_dir: str, k: int = 3, max_edit: int = 2
) -> DataFrame:
    """Spell suggestion ("did you mean") — the Lucene
    DirectSpellChecker analog completing the typo-tolerance story next
    to :func:`fts_fuzzy_topk`: for every query term, the top-k
    dictionary suggestions within levenshtein ≤ ``max_edit``, ranked
    by (distance ASC, document frequency DESC, term ASC) — closest
    first, popularity breaks ties, all deterministic ⇒ hash-oracles.

    Candidates come from the same PassJoin segment equi-join as fuzzy
    retrieval (`_fuzzy_expand` at radius 2 ⇒ 3 segments per dictionary
    term — still (max_edit+1) index rows per term, linear in the
    vocabulary, no nested loop); the exact distance is recomputed on
    the matched candidates only. An exact dictionary hit suggests
    itself at distance 0 (rank 1), which callers use as the
    "no correction needed" signal.

    Output: (query_id, j, term, dist, df, rank).
    """
    docs = _docs(spark, sf_dir)
    post = _postings(docs)
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    qt = spark.createDataFrame(
        [(qid, j, t) for qid, s in FTS_FUZZY_QUERIES for j, t in enumerate(s.split())],
        "query_id INT, j INT, qterm STRING",
    )
    cand = _fuzzy_expand(dic, qt, k=max_edit)
    scored = cand.join(F.broadcast(qt), ["query_id", "j"]).withColumn(
        "dist", F.levenshtein("term", "qterm")
    )
    w = Window.partitionBy("query_id", "j").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "j",
            "term",
            F.col("dist").cast("int").alias("dist"),
            F.col("df").cast("bigint").alias("df"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def spell_suggest_oracle_sql(k: int = 3, max_edit: int = 2) -> str:
    qt_vals = ", ".join(
        f"({qid}, {j}, '{t}')"
        for qid, s in FTS_FUZZY_QUERIES
        for j, t in enumerate(s.split())
    )
    return f"""
WITH {_TOKS_CTE},
dic AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
qt(query_id, j, qterm) AS (VALUES {qt_vals}),
cand AS (
    SELECT qt.query_id, qt.j, dic.term,
           levenshtein(dic.term, qt.qterm) AS dist, dic.df
    FROM dic JOIN qt ON levenshtein(dic.term, qt.qterm) <= {max_edit}
),
ranked AS (
    SELECT query_id, j, term, dist, df,
           row_number() OVER (
               PARTITION BY query_id, j ORDER BY dist ASC, df DESC, term ASC
           ) AS rank
    FROM cand
)
SELECT query_id, j, term, CAST(dist AS INTEGER) AS dist,
       CAST(df AS BIGINT) AS df, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


# --------------------------------------------- MMR diversification

#: MMR pool/output sizes and the integer trade-off: the greedy picks
#: argmax of 2·(pool − rank) − maxsim — rank-based relevance (the RRF
#: discipline: ranks fuse across scales, raw scores don't) against the
#: shared-distinct-term overlap with the already-selected set.
MMR_POOL = 20
MMR_K = 5


def fts_topk_diverse(
    spark: SparkSession, sf_dir: str, pool: int = MMR_POOL, k: int = MMR_K
) -> DataFrame:
    """Search-result diversification — Maximal Marginal Relevance
    (Carbonell & Goldstein 1998, from the published description),
    re-expressed as a bounded relational greedy so the full selection
    hash-oracles:

      1. candidate pool = the conjunctive tf-idf top-``pool`` per query
         — the relevance list MMR re-orders. r13: retrieved through the
         PERSISTED postings index (:func:`fts_topk_indexed`, content-
         equal to :func:`fts_topk` by construction — one `_postings`
         definition, same registered oracle), so the pool comes off a
         partition-pruned probe of the queried terms instead of a
         corpus-scale tokenize+aggregate per invocation (guide §6
         pushdown/pruning; the r12 verdict's #4);
      2. pairwise redundancy = |shared distinct terms| between pool
         docs of the same query. r13: the postings for this join are
         derived from the documents PRUNED to the pool's doc ids (a
         literal IN-list — the pool is already a bounded literal), so
         the tokenize runs over ≤ |queries|·pool docs, never the
         corpus (guide §2.3 project/filter before the exchange);
      3. ``k`` greedy rounds: pick argmax of
         ``2·(pool − rank) − max_{s ∈ selected} sim(c, s)``
         (tie → doc_id), exactly the λ=⅔ rank-form MMR on integers.

    Every frame after stage 1 is (queries × pool)-bounded, so the
    greedy's iterated joins cost KBs regardless of corpus size; the
    corpus-scale work is the nightly index build (memoized, the
    ingest_accept_batch_indexed cost-split contract) — the per-request
    serving plan touches only the queried terms' partitions and the
    pool docs' rows.

    Output: (query_id, doc_id, sel_rank, mmr) — mmr is the selection
    objective at pick time (maxsim ≡ 0 for the first pick).
    """
    cand_df = fts_topk_indexed(spark, sf_dir, k=pool).select(
        "query_id", "doc_id", "rank"
    )
    # Materialize the pool as a LITERAL relation first (bounded by
    # contract: |queries|·pool rows — the ivf_probe_topk
    # bounded-collect exception class); its doc ids then prune the
    # overlap join's document scan below.
    n_q = len({qid for qid, _s in FTS_QUERIES})
    cap_c, cap_s = n_q * pool, n_q * pool * pool
    cand_rows = cand_df.collect()
    if len(cand_rows) > cap_c:
        raise RuntimeError(
            f"MMR pool collect exceeded its contract bound: "
            f"{len(cand_rows)}/{cap_c} candidates"
        )
    pool_ids = sorted({r["doc_id"] for r in cand_rows})
    docs = _docs(spark, sf_dir).filter(F.col("doc_id").isin(pool_ids))
    post = _postings(docs).select("term", "doc_id")
    cd = spark.createDataFrame(
        [(r["query_id"], r["doc_id"]) for r in cand_rows],
        "query_id INT, doc_id BIGINT",
    )
    with FrameOwner() as own:
        # one candidate-pruned postings pass, persisted and self-joined —
        # the previous pa/pb pair derived the corpus-scale postings twice
        # (r12; the pruned relation is (queries × pool × doc-terms)-bounded)
        pc = own.persisted(
            post.join(F.broadcast(cd), "doc_id").select("query_id", "doc_id", "term")
        )
        pa = pc.select("query_id", F.col("doc_id").alias("a"), "term")
        pb = pc.select("query_id", F.col("doc_id").alias("b"), "term")
        sims_df = (
            pa.join(pb, ["query_id", "term"])
            .filter(F.col("a") != F.col("b"))
            .groupBy("query_id", "a", "b")
            .agg(F.count("*").alias("shared"))
        )
        # The pairwise overlaps join the pool as the second bounded
        # literal (≤ |queries|·pool² rows). Without these two
        # materializations, each greedy round's frame re-evaluates the
        # whole ranking lineage — the iterated rounds below must run on KB
        # literals.
        sims_rows = sims_df.collect()
    if len(sims_rows) > cap_s:
        raise RuntimeError(
            f"MMR sims collect exceeded its contract bound: "
            f"{len(sims_rows)}/{cap_s} sims"
        )
    # The k greedy rounds run DRIVER-SIDE over those bounded literals —
    # the same bounded-collect exception class as the two collects
    # above (KBs by contract). r12: the previous form unrolled the
    # rounds into ONE lazy relational plan whose lineage doubled per
    # round (the selected union and the remaining anti-join both
    # reference the prior round), ~700 Exchange nodes at k=10 —
    # Catalyst planning plus hundreds of micro-stages dominated the
    # invocation (guide §3.3: very large plans; truncate/materialize).
    # A greedy over ≤ |queries|·pool² integers is a function call; the
    # selection is still proven relationally, because the registered
    # DuckDB oracle replays the identical unrolled greedy and the
    # driver hash-compares the full output.
    from collections import defaultdict

    by_q: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for r in cand_rows:
        by_q[r["query_id"]].append((r["rank"], r["doc_id"]))
    shared: dict[tuple[int, int, int], int] = {
        (r["query_id"], r["a"], r["b"]): r["shared"] for r in sims_rows
    }
    out_rows: list[tuple[int, int, int, int]] = []
    for qid in sorted(by_q):
        rank_of = {d: rk for rk, d in by_q[qid]}
        first = [d for rk, d in by_q[qid] if rk == 1]
        if not first:
            continue
        sel = [first[0]]
        out_rows.append((qid, first[0], 1, 2 * (pool - 1)))
        remaining = {d for _rk, d in by_q[qid] if d != first[0]}
        for step in range(2, int(k) + 1):
            if not remaining:
                break
            best = None
            for d in remaining:
                maxsim = max(
                    (shared.get((qid, d, s), 0) for s in sel), default=0
                )
                mmr = 2 * (pool - rank_of[d]) - maxsim
                key = (-mmr, d)
                if best is None or key < best[0]:
                    best = (key, d, mmr)
            _key, d, mmr = best
            out_rows.append((qid, d, step, mmr))
            sel.append(d)
            remaining.discard(d)
    return spark.createDataFrame(
        out_rows, "query_id INT, doc_id BIGINT, sel_rank INT, mmr BIGINT"
    )


def fts_topk_diverse_oracle_sql(pool: int = MMR_POOL, k: int = MMR_K) -> str:
    """The greedy unrolled in DuckDB: same pool, same pairwise shared
    counts, same integer objective and tie-breaks."""
    parts = [
        f"""{_fts_ranked_cte()},
cand AS (
    SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {pool}
),
sims AS (
    SELECT pa.query_id, pa.doc_id AS a, pb.doc_id AS b, count(*) AS shared
    FROM (SELECT c.query_id, c.doc_id, p.term
          FROM cand c JOIN post p USING (doc_id)) pa
    JOIN (SELECT c.query_id, c.doc_id, p.term
          FROM cand c JOIN post p USING (doc_id)) pb
      ON pa.query_id = pb.query_id AND pa.term = pb.term
         AND pa.doc_id <> pb.doc_id
    GROUP BY 1, 2, 3
),
s1 AS (
    SELECT query_id, doc_id, 1 AS sel_rank,
           CAST(2 * ({pool} - rank) AS BIGINT) AS mmr
    FROM cand WHERE rank = 1
),
r1 AS (
    SELECT c.* FROM cand c LEFT JOIN s1 USING (query_id, doc_id)
    WHERE s1.doc_id IS NULL
)"""
    ]
    for i in range(2, int(k) + 1):
        p = i - 1
        parts.append(
            f"""m{i} AS (
    SELECT r.query_id, r.doc_id, r.rank,
           max(COALESCE(s.shared, 0)) AS maxsim
    FROM r{p} r
    JOIN (SELECT query_id, doc_id AS b FROM (
            {"SELECT query_id, doc_id FROM s1" if p == 1 else " UNION ALL ".join("SELECT query_id, doc_id FROM s" + str(j) for j in range(1, p + 1))}
         )) sel USING (query_id)
    LEFT JOIN sims s ON s.query_id = r.query_id AND s.a = r.doc_id AND s.b = sel.b
    GROUP BY 1, 2, 3
), p{i} AS (
    SELECT query_id, doc_id, {i} AS sel_rank,
           CAST(2 * ({pool} - rank) - maxsim AS BIGINT) AS mmr,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY 2 * ({pool} - rank) - maxsim DESC, doc_id
           ) AS rn
    FROM m{i}
), s{i} AS (
    SELECT query_id, doc_id, sel_rank, mmr FROM p{i} WHERE rn = 1
), r{i} AS (
    SELECT r.query_id, r.doc_id, r.rank
    FROM r{p} r LEFT JOIN s{i} USING (query_id, doc_id)
    WHERE s{i}.doc_id IS NULL
)"""
        )
    union = " UNION ALL ".join(
        f"SELECT query_id, doc_id, sel_rank, mmr FROM s{j}"
        for j in range(1, int(k) + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, doc_id, CAST(sel_rank AS INTEGER) AS sel_rank, mmr
FROM ({union})
"""
    )
