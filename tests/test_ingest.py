"""Composed ingest admission pipeline (operators/ingest.py): oracle
parity, stage-count conservation, progressive short-circuit semantics,
staged-relation reuse, and the drift gate's behavior on a crafted
poisoned-batch fixture (the gate is correctly vacuous on the healthy
synthetic corpus — a health check firing on healthy data would be the
bug — so the fixture is where it is proven live)."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

from flink_project_userbehavioranalysis_spark import session
from flink_project_userbehavioranalysis_spark.operators import ingest as I
from flink_project_userbehavioranalysis_spark.session import FrameOwner
from tests.oracle import assert_matches_oracle

SPLIT = I.INGEST_DEFAULTS["split_id"]


def test_manifest_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        I.ingest_accept_batch(spark, sf_dir), I.ingest_accept_oracle_sql(), sf_dir
    )


def test_audit_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        I.ingest_audit(spark, sf_dir), I.ingest_audit_oracle_sql(), sf_dir
    )


def test_fast_near_oracle_form_equivalent(sf_dir):
    """The inverted-index near-stage form (check_all's sf0.1 override)
    produces an identical manifest to the registered quadratic form."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    a = sorted(map(str, con.execute(I.ingest_accept_oracle_sql()).fetchall()))
    b = sorted(
        map(str, con.execute(I.ingest_accept_oracle_sql(fast_near=True)).fetchall())
    )
    assert a == b and len(a) > 0


def test_stage_count_conservation(spark, sf_dir):
    """Every batch doc appears in the manifest exactly once, and the
    audit's per-stage counts sum back to the batch size."""
    m = I.ingest_accept_batch(spark, sf_dir)
    batch_n = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") >= SPLIT)
        .count()
    )
    assert m.count() == batch_n
    assert m.select("doc_id").distinct().count() == batch_n
    audit_sum = (
        I.ingest_audit(spark, sf_dir).agg(F.sum("n_docs")).collect()[0][0]
    )
    assert audit_sum == batch_n


def test_funnel_nonvacuous(spark, sf_dir):
    """The content-dependent stages all fire on the synthetic corpus
    (thresholds are tuned for that — a pipeline whose gates never
    trigger proves nothing)."""
    counts = {
        r["verdict"]: r["n_docs"] for r in I.ingest_audit(spark, sf_dir).collect()
    }
    for stage in ("blocklist", "gopher", "exact_dup", "near_dup", "accept"):
        assert counts.get(stage, 0) > 0, stage


def test_span_metric_defined_iff_reached(spark, sf_dir):
    """n_words_dup records what the pipeline evaluated: defined (≥0)
    exactly for docs that reached the span stage, NULL for docs
    quarantined earlier; span_dup verdicts satisfy the threshold."""
    pct = I.INGEST_DEFAULTS["span_max_pct"]
    for r in I.ingest_accept_batch(spark, sf_dir).collect():
        reached = r["verdict"] in ("span_dup", "accept")
        assert (r["n_words_dup"] is not None) == reached, r
        if r["verdict"] == "span_dup":
            assert r["n_words_dup"] * 100 > r["n_tokens"] * pct


def test_stage_ckpt_segments_equal_composed(spark, sf_dir):
    """The r13 lazy-localCheckpoint staging (stage_ckpt=True, the
    production default — truncates the quadratic per-join analysis
    cost) computes EXACTLY the rows of the fully-composed lazy tree
    (stage_ckpt=False)."""
    with FrameOwner() as sa:
        fa = I._manifest_frame(spark, sf_dir, sa, stage_ckpt=True)
        a = sorted(map(tuple, fa.localCheckpoint(eager=True).collect()))
    with FrameOwner() as sb:
        fb = I._manifest_frame(spark, sf_dir, sb, stage_ckpt=False)
        b = sorted(map(tuple, fb.collect()))
    assert a == b and len(a) > 0


def test_staged_token_relation_shared(spark, sf_dir):
    """The (doc, token) tf staging pass is persisted and read by BOTH
    the per-doc stats rollup and the drift gate's batch vocabulary —
    the plan shows cache scans instead of a re-explode per stage.
    Inspected on the fully-composed tree (stage_ckpt=False): the
    production form cuts the same logical dataflow into lazy
    localCheckpoint segments, which hide the cache scans from the
    outer plan without changing what is computed."""
    with FrameOwner() as staged:
        frame = I._manifest_frame(spark, sf_dir, staged, stage_ckpt=False)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 2


# --------------------------------------------------------------- fixture


@pytest.fixture(scope="module")
def poisoned_dir(spark, tmp_path_factory):
    """Crafted corpus+batch where every stage — including drift and
    malformed, vacuous on the healthy synthetic corpus — fires, and
    stage ORDER is observable (a doc failing two stages must carry the
    first stage's verdict)."""
    base = "the a of to and in"  # all six Gopher probe stopwords

    def words(prefix, k, start=0):
        return " ".join(f"{prefix}{i:04d}" for i in range(start, start + k))

    corpus_en = [
        # doc 0: heavy blocklist content INSIDE the corpus (corpus is
        # not gated) — batch doc 300 duplicates it exactly
        (0, "en", base + " error error error " + words("wa", 20)),
        (1, "en", base + " " + words("wb", 34)),  # near-dup anchor
        (2, "en", base + " " + words("wc", 34)),  # span anchor
        (3, "en", base + " " + words("wd", 20)),
    ]
    corpus_de = [(4, "de", "der die das und ist ein " + words("ga", 20))]
    # interleavings of existing corpus vocabulary: token SETS are new
    # (novel fingerprints) but almost no novel tokens enter the lang —
    # keeping the en half drift-HEALTHY — and the scrambled word order
    # shares no 3-shingles with the corpus, so they evade the near gate
    # base words are SCATTERED between pairs (a contiguous base prefix
    # would itself be a corpus-matching 4-gram run and trip the span
    # gate on short docs)
    def interleave(tag, k):
        b = base.split(" ")
        out = []
        for i in range(k):
            out.append(b[i % 6])
            out.append(f"wa{i:04d}")
            out.append(f"wd{i:04d}")
        out.append(f"{tag}0000")
        return " ".join(out)

    batch = [
        # 300: exact copy of corpus doc 0 → blocklist fires FIRST
        # (10% blocked > 5%), exact_dup never evaluated
        (300, "en", corpus_en[0][2]),
        # 301: clean exact dup of corpus doc 3 (token-set fingerprint)
        (301, "en", base + " " + words("wd", 20)),
        # 302/303: identical clean token sets, new to the corpus —
        # min-id survivor accepts, the later copy is intra-batch exact
        (302, "en", interleave("we", 9)),
        (303, "en", " ".join(reversed(interleave("we", 9).split(" ")))),
        # 304: near-dup of corpus doc 1 (shares the 36-word prefix →
        # shingle Jaccard ~0.8, different token set)
        (304, "en", base + " " + words("wb", 30) + " " + words("nz", 4)),
        # 305: span-dup — copies an 18-word prefix run of corpus doc 2
        # (18 > 25% of its 28 tokens) but shingle Jaccard stays ~0.33
        (305, "en", base + " " + words("wc", 12) + " " + words("sz", 10)),
        # 306: gopher (too short: 5 tokens < 20)
        (306, "en", "tiny doc too short really"),
        # 307: malformed
        (307, "en", None),
        # 308: clean accept — novel scrambled ordering, one novel token
        (308, "en", interleave("wf", 8)),
        # 309-310: de batch with a fully novel vocabulary → the en
        # half stays healthy, de trips the novel-token drift rule
        (309, "de", "der die das und ist ein " + words("zz", 20)),
        (310, "de", "der die das und ist ein " + words("zy", 20)),
        # 311: a language with NO corpus baseline → growth rule fires
        (311, "xx", base + " " + words("xq", 20)),
    ]
    rows = corpus_en + corpus_de + batch
    out = str(tmp_path_factory.mktemp("ingest-poisoned"))
    spark.createDataFrame(
        [(i, t, lang, "srcT") for i, lang, t in rows],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def test_poisoned_fixture_verdicts(spark, poisoned_dir):
    """End-to-end on the crafted fixture: every stage fires, stage
    order decides multi-fail docs, and the de batch's novel vocabulary
    quarantines BOTH its docs while the en half is untouched."""
    m = {
        r["doc_id"]: r["verdict"]
        for r in I.ingest_accept_batch(spark, poisoned_dir).collect()
    }
    assert m == {
        300: "blocklist",  # also an exact corpus dup — blocklist is first
        301: "exact_dup",
        302: "accept",
        303: "exact_dup",  # intra-batch later copy of 302's token set
        304: "near_dup",
        305: "span_dup",
        306: "gopher",
        307: "malformed",
        308: "accept",
        309: "drift",
        310: "drift",
        311: "drift",
    }


def test_poisoned_fixture_matches_oracle(spark, poisoned_dir):
    """Differential check on the crafted fixture too: the DuckDB
    cascade recompute agrees doc-for-doc (catches a Spark-side stage
    wiring bug that happens to produce plausible verdicts)."""
    got = sorted(
        map(str, (tuple(r) for r in I.ingest_accept_batch(spark, poisoned_dir).collect()))
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{poisoned_dir}/documents.parquet/*.parquet')"
    )
    want = sorted(map(str, con.execute(I.ingest_accept_oracle_sql()).fetchall()))
    assert got == want


def test_stream_prefix_oracle_and_batch_consistency(spark, sf_dir):
    """The streaming prefix twin matches its oracle, and its verdicts
    are consistent with the full batch cascade: prefix-stage verdicts
    identical; a stream 'exact_dup' (corpus probe) is a batch
    'exact_dup'; a stream 'accept' means the batch pipeline judged the
    doc at a downstream stage (intra-batch exact, near, span) or
    accepted it."""
    from flink_project_userbehavioranalysis_spark.operators import ingest as I
    from flink_project_userbehavioranalysis_spark.streaming import windowed as W

    sdf = W.ingest_accept_stream(spark, sf_dir)
    assert_matches_oracle(sdf, I.ingest_prefix_oracle_sql(), sf_dir)
    sm = {r["doc_id"]: r["verdict"] for r in sdf.collect()}
    bm = {
        r["doc_id"]: r["verdict"]
        for r in I.ingest_accept_batch(spark, sf_dir).collect()
    }
    assert set(sm) == set(bm)
    for d, bv in bm.items():
        if bv in ("malformed", "blocklist", "gopher"):
            assert sm[d] == bv
        elif sm[d] == "exact_dup":
            assert bv == "exact_dup"
        else:
            assert sm[d] == "accept"
            assert bv in ("exact_dup", "near_dup", "span_dup", "accept")


def test_ingest_plan_is_equijoin_only(spark, sf_dir):
    """The whole cascade plans as scans + equi-joins + partial aggs: no
    cartesian/nested-loop pair generation anywhere (the LSH probe and
    gram index probes are equi-joins by construction), and no
    row-at-a-time Python in the hot path. Inspected on the
    fully-composed tree (stage_ckpt=False) so the assertion covers
    every operator of the cascade; the production form cuts the same
    logical dataflow into lazy localCheckpoint segments."""
    with FrameOwner() as staged:
        frame = I._manifest_frame(spark, sf_dir, staged, stage_ckpt=False)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan


@pytest.mark.slow  # 135 s (nested two-cascade DuckDB oracle; check_all drives the same oracle); --runslow runs it
def test_two_batch_lifecycle_oracle_and_commit_materiality(spark, sf_dir):
    """The sequential lifecycle matches its nested-cascade oracle, and
    the batch-1 commit MATTERS in both leak directions: (a) at least
    one batch-2 doc is quarantined only because a batch-1 doc was
    accepted into the corpus (vs a corpus0-only run it would accept);
    (b) at least one batch-2 doc is accepted only because its batch-1
    duplicate was QUARANTINED and so never entered the corpus (vs a
    naive everything-before-me corpus it would be flagged)."""
    two_df = I.ingest_two_batch(spark, sf_dir)
    assert_matches_oracle(two_df, I.ingest_two_batch_oracle_sql(), sf_dir)
    two = {r["doc_id"]: r["verdict"] for r in two_df.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    # (a) run 2 against corpus0 only — no batch-1 commit at all
    cte = I._ingest_cascade_cte(
        I.INGEST_DEFAULTS,
        False,
        batch_pred="({a}.doc_id >= 375)",
        corpus_pred="({a}.doc_id < 250)",
    )
    only0 = dict(
        con.execute(
            f"WITH {cte.strip()} SELECT doc_id, verdict FROM manifest"
        ).fetchall()
    )
    assert only0.keys() == two.keys()
    assert any(
        only0[d] == "accept" and two[d] in ("exact_dup", "near_dup", "span_dup")
        for d in two
    )
    # (b) naive everything-before-me corpus (quarantined docs leak in)
    naive = dict(
        con.execute(
            "WITH "
            + I._ingest_cascade_cte(dict(I.INGEST_DEFAULTS, split_id=375), False).strip()
            + " SELECT doc_id, verdict FROM manifest"
        ).fetchall()
    )
    assert any(
        naive[d] in ("exact_dup", "near_dup", "span_dup") and two[d] == "accept"
        for d in two
    )


def test_near_stage_lsh_candidate_recall_is_one(spark, sf_dir):
    """GATE for the registered oracle's recall-1 precondition (r9
    advisory): the cascade's MinHash-LSH candidate generation is
    probabilistic while the DuckDB oracle computes exact Jaccard, so
    the hash-match gate is only sound if the bands surface EVERY
    over-threshold (batch x corpus) pair on THIS corpus at THESE
    params. Asserted here — in the cascade's own test module, over the
    full batch x corpus superset (a superset of any survivor subset
    the cascade actually probes) — so a corpus or param change that
    breaks recall fails loudly here instead of surfacing as a
    mysterious oracle mismatch."""
    from flink_project_userbehavioranalysis_spark.operators.similarity import (
        _banded,
        _shingles,
    )

    p = I.INGEST_DEFAULTS
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    sh_b = _shingles(docs.filter(F.col("doc_id") >= SPLIT), p["shingle_len"]).persist()
    sh_c = _shingles(docs.filter(F.col("doc_id") < SPLIT), p["shingle_len"]).persist()
    sizes_b = sh_b.groupBy("doc_id").agg(F.count("*").alias("sa"))
    sizes_c = (
        sh_c.groupBy("doc_id")
        .agg(F.count("*").alias("sb"))
        .withColumnRenamed("doc_id", "corpus_doc")
    )
    exact = (
        sh_b.join(
            sh_c.select(F.col("doc_id").alias("corpus_doc"), "shingle"), "shingle"
        )
        .groupBy("doc_id", "corpus_doc")
        .agg(F.count("*").alias("n_common"))
        .join(F.broadcast(sizes_b), "doc_id")
        .join(F.broadcast(sizes_c), "corpus_doc")
        .filter(
            F.col("n_common") / (F.col("sa") + F.col("sb") - F.col("n_common"))
            >= p["jaccard_threshold"]
        )
        .select("doc_id", "corpus_doc")
    )
    cand = (
        _banded(sh_b, p["n_hashes"], p["n_bands"])
        .alias("x")
        .join(
            _banded(sh_c, p["n_hashes"], p["n_bands"]).alias("y"),
            ["band_id", "band_key"],
        )
        .select(
            F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("corpus_doc")
        )
        .distinct()
    )
    n_exact = exact.count()
    missed = exact.join(cand, ["doc_id", "corpus_doc"], "left_anti").count()
    sh_b.unpersist()
    sh_c.unpersist()
    assert n_exact > 0, "vacuous recall gate: no over-threshold pairs"
    assert missed == 0, f"LSH missed {missed}/{n_exact} exact pairs"


@pytest.mark.slow  # 62 s (threshold-sweep cascade rebuilds); --runslow runs it
def test_manifest_cache_is_lru_bounded(spark, poisoned_dir):
    """Param-swept admission calls must not pin one checkpointed
    manifest per parameter set forever (r9 advisory): the memo is an
    LRU of _MANIFEST_CACHE_MAX entries, evicted frames release their
    checkpoint blocks (release-path skips are counted, and must not
    occur here), and a re-hit returns the SAME cached frame."""
    I._MANIFEST_CACHE.clear()
    skipped0 = session.RELEASE_SKIPPED
    frames = {}
    for i in range(I._MANIFEST_CACHE_MAX + 2):
        frames[i] = I.ingest_accept_batch(spark, poisoned_dir, min_tokens=5 + i)
    assert len(I._MANIFEST_CACHE) == I._MANIFEST_CACHE_MAX
    assert session.RELEASE_SKIPPED == skipped0, "checkpoint release path skipped"
    # most-recent params re-hit the memo (same object, no recompute)
    last = I._MANIFEST_CACHE_MAX + 1
    assert I.ingest_accept_batch(
        spark, poisoned_dir, min_tokens=5 + last
    ) is frames[last]


@pytest.mark.slow  # 41 s (both lifecycle forms executed); --runslow runs it
def test_two_batch_indexed_equals_rebuild(spark, sf_dir):
    """The production lifecycle (persisted base indexes + overlay
    commit ∝ batch) returns the identical batch-2 manifest as the
    rebuild form — maintained-overlay ≡ rebuilt-corpus, row for row."""
    rebuild = {tuple(r) for r in I.ingest_two_batch(spark, sf_dir).collect()}
    indexed = {
        tuple(r) for r in I.ingest_two_batch_indexed(spark, sf_dir).collect()
    }
    assert indexed == rebuild and len(indexed) > 0


def _ckpt_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_manifest_memo_lru_on_tiny_frames(spark):
    """The manifest memo helper on tiny checkpointed frames: the bound
    holds, the evicted checkpoint's RDD blocks are freed (with no
    release-path skip), and a re-hit returns the SAME object without
    rebuilding."""
    saved = dict(I._MANIFEST_CACHE)
    I._MANIFEST_CACHE.clear()
    skipped0 = session.RELEASE_SKIPPED
    try:
        n = I._MANIFEST_CACHE_MAX + 1
        frames = [
            I._manifest_memo(("tiny", i), lambda i=i: spark.range(i + 1).localCheckpoint())
            for i in range(n)
        ]
        assert len(I._MANIFEST_CACHE) == I._MANIFEST_CACHE_MAX
        assert ("tiny", 0) not in I._MANIFEST_CACHE
        live = _persistent_rdd_ids(spark)
        assert _ckpt_rdd_id(frames[0]) not in live
        assert all(_ckpt_rdd_id(f) in live for f in frames[1:])
        assert session.RELEASE_SKIPPED == skipped0
        # a hit re-inserts as most recent and never calls build
        hit = I._manifest_memo(("tiny", 1), lambda: pytest.fail("rebuilt on a hit"))
        assert hit is frames[1]
        assert next(reversed(I._MANIFEST_CACHE)) == ("tiny", 1)
    finally:
        for f in I._MANIFEST_CACHE.values():
            session.release_frame(f)
        I._MANIFEST_CACHE.clear()
        I._MANIFEST_CACHE.update(saved)


def test_release_staged_frees_lazy_checkpoints(spark, sf_dir):
    """Frames the cascade stages as lazy localCheckpoints belong to the
    owner (uncached, so they take the checkpoint release), and leaving
    the owner frees their RDD blocks."""
    with FrameOwner() as own:
        frame = I._manifest_frame(spark, sf_dir, own, stage_ckpt=True)
        frame.count()
        staged = list(own.frames.values())
        ckpts = [df for df in staged if not df.is_cached]
        assert len(ckpts) == 4  # pre, exact_ids, sh_b, near_ids
        assert {_ckpt_rdd_id(df) for df in ckpts} <= _persistent_rdd_ids(spark)
    assert not {_ckpt_rdd_id(df) for df in ckpts} & _persistent_rdd_ids(spark)
    assert not any(df.is_cached for df in staged)
