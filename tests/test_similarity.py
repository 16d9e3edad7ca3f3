"""Similarity / near-dup operators: oracle-match, LSH recall, and
plan-shape assertions (the 100 TB guarantee: no cartesian products in
any candidate generator)."""

import pyspark.sql.functions as F
import pytest

from flink_project_userbehavioranalysis_spark.operators import similarity as S
from tests.oracle import assert_matches_oracle
from tests.plan_scans import partition_filters


def test_knn_topk(spark, sf_dir):
    df = S.knn_topk(spark, sf_dir)
    assert_matches_oracle(df, S.knn_topk_oracle_sql(), sf_dir)
    # exactly k neighbors per query, ranks 1..k
    n_vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert df.count() == n_vec * 5
    assert df.groupBy("query_id").count().filter(F.col("count") != 5).count() == 0


def test_cosine_dup_pairs_nonvacuous(spark, sf_dir):
    df = S.cosine_dup_pairs(spark, sf_dir)
    assert_matches_oracle(df, S.cosine_dup_pairs_oracle_sql(), sf_dir)
    assert df.count() > 0  # threshold is calibrated, not vacuous


def test_ngram_jaccard_pairs_nonvacuous(spark, sf_dir):
    df = S.ngram_jaccard_pairs(spark, sf_dir)
    assert_matches_oracle(df, S.ngram_jaccard_oracle_sql(), sf_dir)
    assert df.count() > 0  # the corpus has planted near-dups


def test_ngram_jaccard_no_cartesian(spark, sf_dir):
    plan = S.ngram_jaccard_pairs(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shingles_short_doc_truncates_not_crashes(spark):
    # ANSI mode (the Spark 4 default, kept by get_spark) makes
    # element_at THROW past the array end; _shingles must use the
    # try_ variant so a doc shorter than n tokens yields its single
    # truncated shingle instead of crashing the job (r12 ADVICE).
    docs = spark.createDataFrame(
        [(1, "just two"), (2, "one"), (3, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.shingle) for r in S._shingles(docs, 3).collect()}
    assert rows == {
        (1, "just two"),
        (2, "one"),
        (3, "alpha beta gamma"),
        (3, "beta gamma delta"),
    }


def test_minhash_equals_exact(spark, sf_dir):
    """Banded MinHash + exact verify recovers every planted near-dup
    (recall 1 at these band params on this corpus) — so its output is
    bit-identical to the exact shingle-join result."""
    mh = {tuple(r) for r in S.minhash_near_dup(spark, sf_dir).collect()}
    ex = {tuple(r) for r in S.ngram_jaccard_pairs(spark, sf_dir).collect()}
    assert mh == ex
    assert len(mh) > 0


def test_minhash_no_cartesian(spark, sf_dir):
    plan = S.minhash_near_dup(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_incremental(spark, sf_dir):
    """Ingestion-time LSH probe: oracle-match against the independent
    quadratic batch×corpus Jaccard; the emitted set is exactly the
    cross-split slice of the full exact pair set (recall 1 inherited
    from the minhash parity); every pair straddles the split; and the
    probe plan is equi-join only."""
    from tests.oracle import assert_matches_oracle

    split = 250
    df = S.near_dup_incremental(spark, sf_dir, split_id=split)
    assert_matches_oracle(
        df, S.near_dup_incremental_oracle_sql(split_id=split), sf_dir
    )
    got = {(r["corpus_doc"], r["doc_id"]) for r in df.collect()}
    full = {
        (r["doc_a"], r["doc_b"])
        for r in S.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    assert got == {(a, b) for a, b in full if a < split <= b}
    assert all(c < split <= d for c, d in got) and got
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_lsh_recall(spark, sf_dir):
    """Banded sign-LSH kNN: ≥80% of exact top-5 edges recovered with
    the default band params, and the plan is a bucketed equi-join."""
    exact = {(r[0], r[1]) for r in S.knn_topk(spark, sf_dir).collect()}
    ann_df = S.ann_lsh_topk(spark, sf_dir)
    ann = {(r[0], r[1]) for r in ann_df.collect()}
    assert len(ann & exact) / len(exact) >= 0.8
    plan = ann_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ivf_topk_recall(spark, sf_dir):
    """IVF inverted-list kNN: ≥80% of exact top-5 edges at the default
    probe width (measured 0.86-0.87 at sf0.001/0.01/0.1 with the
    32-cell/16-probe defaults), candidates from a cell equi-join (no
    cross join). The sf0.1 gate lives in tools/scale_smoke.py."""
    exact = {(r[0], r[1]) for r in S.knn_topk(spark, sf_dir).collect()}
    ivf_df = S.ivf_topk(spark, sf_dir)
    ivf = {(r[0], r[1]) for r in ivf_df.collect()}
    assert len(ivf & exact) / len(exact) >= 0.8
    plan = ivf_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pq_topk_recall(spark, sf_dir, monkeypatch):
    """IVF-PQ with exact re-rank: ≥80% of exact top-5 edges at the
    default codebook/shortlist (measured 0.861 at sf0.01 — 99.8% of
    the IVF candidate ceiling), no cross join anywhere, and the path
    never touches the driver-collected corpus broadcast."""

    def boom(*a, **kw):
        raise AssertionError("PQ scale path called _corpus_broadcast")

    exact = {(r[0], r[1]) for r in S.knn_topk(spark, sf_dir).collect()}
    monkeypatch.setattr(S, "_corpus_broadcast", boom)
    pq_df = S.pq_topk(spark, sf_dir)
    pq = {(r[0], r[1]) for r in pq_df.collect()}
    assert len(pq & exact) / len(exact) >= 0.8
    plan = pq_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_codebooks_trained_on_bounded_sample(spark, sf_dir, monkeypatch):
    """PQ codebook training shares the bounded `_sample_matrix` path:
    the matrix handed to both quantizer trainers stays ≤ the cap even
    when the corpus doesn't, and the codebook shape matches the model
    contract (m_sub × n_codes × dim/m_sub)."""
    seen = {}
    real = S._sample_matrix

    def spy(spark_, sf_dir_, sample_cap=4096):
        mat = real(spark_, sf_dir_, sample_cap)
        seen["n"] = len(mat)
        seen["cap"] = sample_cap
        return mat

    monkeypatch.setattr(S, "_sample_matrix", spy)
    df = S.pq_topk(spark, sf_dir)
    assert df.count() > 0
    assert seen["n"] <= 3 * seen["cap"]
    books = S._pq_codebooks(real(spark, sf_dir, 256), m_sub=8, n_codes=4)
    assert books.shape[0] == 8 and books.shape[1] <= 4


@pytest.mark.parametrize(
    "path", ["pq_topk", "pq_topk_indexed", "build_ann_index", "build_ann_index_split"]
)
@pytest.mark.parametrize(
    "limit", [{"n_codes": 17}, {"m_sub": 33}], ids=["n_codes17", "m_sub33"]
)
def test_pq_paths_reject_unpackable_codes(spark, sf_dir, path, limit):
    """Codes are packed as 4-bit nibbles into two BIGINTs, so every PQ
    path — in-query, nightly build, split build and the persisted probe
    — refuses more than 16 codes or 32 subspaces before it encodes,
    instead of silently writing codes that overflow their nibble."""
    with pytest.raises(ValueError, match="code packing"):
        getattr(S, path)(spark, sf_dir, **limit)


@pytest.mark.parametrize("path", ["pq_topk", "ivf_topk", "ivf_topk_indexed"])
def test_probe_corpus_smaller_than_cells(spark, tmp_path, path):
    """A 10-vector corpus trains 10 IVF cells (and fewer PQ codewords
    than ``n_codes``), so the default probe width 16 exceeds the cell
    count: every path probes all 10 cells, every pair is a candidate,
    and each returns the exact top-k."""
    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(64)], "x")
        for i in range(10)
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label STRING"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)
    got = getattr(S, path)(spark, sf, k=3, n_cells=32, n_probe=16)
    got = sorted(map(tuple, got.collect()))
    assert got and got == sorted(map(tuple, S.knn_topk(spark, sf, k=3).collect()))


def test_cosine_dup_pairs_lsh_recall(spark, sf_dir, monkeypatch):
    """The LSH-bucketed cosine near-dup twin recovers ≥90% of the exact
    operator's pairs (32 bands ⇒ p≈0.996 per true pair at cosine 0.4),
    every emitted pair is a true pair with the exact score, and the
    path never touches the collected corpus."""

    def boom(*a, **kw):
        raise AssertionError("scale path called _corpus_broadcast")

    exact = {(r[0], r[1]): r[2] for r in S.cosine_dup_pairs(spark, sf_dir).collect()}
    monkeypatch.setattr(S, "_corpus_broadcast", boom)
    lsh_df = S.cosine_dup_pairs_lsh(spark, sf_dir)
    lsh = {(r[0], r[1]): r[2] for r in lsh_df.collect()}
    assert set(lsh) <= set(exact)  # no false positives (verify stage is exact)
    assert len(set(lsh) & set(exact)) / len(exact) >= 0.9
    for k, v in lsh.items():
        assert abs(v - exact[k]) < 1e-9  # emitted scores are the exact scores
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ann_paths_never_collect_corpus(spark, sf_dir, monkeypatch):
    """The 100 TB guarantee for the ANN scale paths: neither
    ann_lsh_topk nor ivf_topk may touch the driver-collected corpus
    broadcast (that would re-impose brute force's memory bound exactly
    where the scale path is supposed to remove it). Stub the broadcast
    helper to explode; both operators must still produce results."""

    def boom(*a, **kw):
        raise AssertionError("ANN scale path called _corpus_broadcast")

    monkeypatch.setattr(S, "_corpus_broadcast", boom)
    assert S.ann_lsh_topk(spark, sf_dir).count() > 0
    assert S.ivf_topk(spark, sf_dir).count() > 0


def test_ivf_indexed_equals_derived(spark, sf_dir):
    """The persisted-index probe reproduces the derive-in-query twin
    BIT-FOR-BIT (same deterministic model, doubles round-trip parquet
    exactly) — so the ≥0.8 recall gate carries over by equality, and
    the probe's plan stays cartesian-free."""
    derived = sorted(map(tuple, S.ivf_topk(spark, sf_dir).collect()))
    idx_df = S.ivf_topk_indexed(spark, sf_dir)
    assert sorted(map(tuple, idx_df.collect())) == derived
    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pq_indexed_equals_derived(spark, sf_dir, monkeypatch):
    """Same contract for the IVF-PQ probe: persisted packed codes +
    reloaded codebooks reproduce pq_topk exactly, never touching the
    collected corpus broadcast."""

    def boom(*a, **kw):
        raise AssertionError("persisted-PQ probe called _corpus_broadcast")

    derived = sorted(map(tuple, S.pq_topk(spark, sf_dir).collect()))
    monkeypatch.setattr(S, "_corpus_broadcast", boom)
    idx_df = S.pq_topk_indexed(spark, sf_dir)
    assert sorted(map(tuple, idx_df.collect())) == derived
    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_index_probe_bounded_queries(spark, sf_dir):
    """The production probe shape: a FIXED query set against the
    corpus-sized index — results restricted to exactly the bounded
    queries, each agreeing with the full-query run (per-query results
    are independent: candidates come from the query's own probe
    rows)."""
    full = {
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in S.ivf_topk_indexed(spark, sf_dir).collect()
    }
    bounded = {
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in S.ivf_topk_indexed(spark, sf_dir, n_queries=50).collect()
    }
    assert {q for q, _, _ in bounded} == set(range(50))
    assert bounded == {t for t in full if t[0] < 50}


def test_ivf_probe_topk_equals_restriction_and_prunes(spark, sf_dir):
    """The bounded-batch production probe returns exactly the
    all-queries derive twin restricted to the batch, and its inverted-
    list scan is PARTITION-PRUNED to the probed cells (the static
    IN-list the driver-side cell computation exists for)."""
    probe_df = S.ivf_probe_topk(spark, sf_dir, n_queries=50)
    probe = sorted(map(tuple, probe_df.collect()))
    full = sorted(
        t for t in map(tuple, S.ivf_topk(spark, sf_dir).collect()) if t[0] < 50
    )
    assert probe == full
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:160]


def test_ann_index_model_tables_bounded(spark, sf_dir):
    """The persisted model relations stay KB-scale regardless of
    corpus size (n_cells and m_sub·n_codes rows), and the inverted
    lists carry exactly one row per corpus vector."""
    root = S.build_ann_index(spark, sf_dir)
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert spark.read.parquet(f"{root}/centroids").count() <= 32
    assert spark.read.parquet(f"{root}/codebooks").count() == 32 * 16
    enc = spark.read.parquet(f"{root}/enc")
    assert enc.count() == n_corpus
    assert enc.select("vec_id").distinct().count() == n_corpus


def test_ivf_training_sample_bounded(spark, sf_dir, monkeypatch):
    """IVF centroid training must cap driver memory: the training
    matrix handed to k-means never exceeds the sample cap even if the
    corpus does."""
    seen = {}
    real = S._ivf_centroids

    def spy(mat, n_cells, iters=8):
        seen["n"] = len(mat)
        return real(mat, n_cells, iters)

    monkeypatch.setattr(S, "_ivf_centroids", spy)
    cents = S._ivf_train_sample(spark, sf_dir, n_cells=16, sample_cap=50)
    # Bernoulli sampling: expected 50, allow generous slack but far
    # below the full corpus size
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert seen["n"] < n_corpus
    assert seen["n"] <= 3 * 50
    assert len(cents) > 0


def test_fast_jaccard_oracle_equals_quadratic(sf_dir):
    """The inverted-index DuckDB oracle (used by check_all at sf0.1)
    and the quadratic list_intersect oracle (registered with the
    driver) are the same function — row-identical on real data."""
    from tests.oracle import duck_con

    con = duck_con(sf_dir)
    slow = sorted(con.execute(S.ngram_jaccard_oracle_sql()).fetchall())
    fast = sorted(con.execute(S.ngram_jaccard_fast_oracle_sql()).fetchall())
    assert slow == fast
    assert len(slow) > 0


def test_simhash64(spark, sf_dir):
    df = S.simhash64(spark, sf_dir)
    assert_matches_oracle(df, S.SIMHASH64_SQL, sf_dir)
    # 16 lowercase hex chars per hash
    bad = df.filter(~F.col("simhash").rlike("^[0-9a-f]{16}$")).count()
    assert bad == 0


def test_simhash_near_dup(spark, sf_dir):
    df = S.simhash_near_dup(spark, sf_dir)
    assert_matches_oracle(df, S.simhash_near_dup_oracle_sql(), sf_dir)
    assert df.count() > 0


def test_simhash_near_dup_overlaps_jaccard(spark, sf_dir):
    """Sanity: hamming-close simhash pairs and high-Jaccard pairs
    substantially agree — the two near-dup definitions see the same
    planted duplicates."""
    sh = {(r[0], r[1]) for r in S.simhash_near_dup(spark, sf_dir).collect()}
    jc = {(r[0], r[1]) for r in S.ngram_jaccard_pairs(spark, sf_dir).collect()}
    assert len(sh & jc) >= len(jc) // 2


def test_near_dup_clusters(spark, sf_dir):
    """Connected components over near-dup edges: oracle-match against
    the recursive-CTE closure, every edge's endpoints share a cluster,
    every cluster id is the min doc_id of its members, and clusters
    are non-trivial (the corpus has planted dup groups)."""
    from tests.oracle import assert_matches_oracle

    df = S.near_dup_clusters(spark, sf_dir)
    assert_matches_oracle(df, S.near_dup_clusters_oracle_sql(), sf_dir)
    labels = {r["doc_id"]: r["cluster_id"] for r in df.collect()}
    for a, b, *_ in S.ngram_jaccard_pairs(spark, sf_dir).collect():
        assert labels[a] == labels[b]
    import collections

    members = collections.defaultdict(list)
    for d, c in labels.items():
        members[c].append(d)
    assert all(c == min(ms) for c, ms in members.items())
    assert any(len(ms) > 1 for ms in members.values())


def test_stop_shingle_cap(spark, sf_dir):
    """The stop-shingle knob: a cap above every shingle's df is
    output-identical to exact; an aggressive cap (hub trimming) still
    recovers the planted near-dup pairs and stays cartesian-free."""
    exact = {(r[0], r[1]) for r in S.ngram_jaccard_pairs(spark, sf_dir).collect()}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    generous = S.ngram_jaccard_pairs(spark, sf_dir, stop_shingle_df_cap=n_docs)
    assert {(r[0], r[1]) for r in generous.collect()} == exact
    aggressive_df = S.ngram_jaccard_pairs(spark, sf_dir, stop_shingle_df_cap=5)
    aggressive = {(r[0], r[1]) for r in aggressive_df.collect()}
    assert len(aggressive & exact) / len(exact) >= 0.9
    plan = aggressive_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_semantic_dedup(spark, sf_dir, monkeypatch):
    """SemDeDup clustered dedup: every removal is a verified true
    near-dup with a lower-id partner (subset of the exact pair set),
    id-recall ≥0.85 vs the exact keep-lowest-id removal set (measured
    0.93 at sf0.001 / 0.96 at sf0.01 with the defaults), deterministic
    across runs, no cartesian product, corpus never collected."""

    exact_pairs = {(r[0], r[1]) for r in S.cosine_dup_pairs(spark, sf_dir).collect()}
    mins: dict[int, int] = {}
    for ia, ib in exact_pairs:
        mins[ib] = min(mins.get(ib, ia), ia)
    exact_removed = {(b, a) for b, a in mins.items()}

    def boom(*a, **kw):
        raise AssertionError("scale path called _corpus_broadcast")

    monkeypatch.setattr(S, "_corpus_broadcast", boom)
    df = S.semantic_dedup(spark, sf_dir)
    got = {(r["vec_id"], r["dup_of"]) for r in df.collect()}
    # soundness: (dup_of, vec_id) is always an exact-verified pair
    assert all((a, b) in exact_pairs for (b, a) in got)
    assert all(a < b for (b, a) in got)
    # recall vs the exact greedy removal set
    removed_ids = {b for b, _ in got}
    exact_ids = {b for b, _ in exact_removed}
    assert len(removed_ids & exact_ids) / max(len(exact_ids), 1) >= 0.85
    # deterministic cell assignment + min-agg: identical rows on re-run
    assert {(r["vec_id"], r["dup_of"]) for r in S.semantic_dedup(spark, sf_dir).collect()} == got
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_cluster_canonical_election(spark, sf_dir):
    """Canonical docs are genuine cluster members, every cluster
    elects exactly one, member counts partition the corpus, and the
    winner really is (max tokens, min id) within its cluster."""
    import pyspark.sql.functions as FF

    from flink_project_userbehavioranalysis_spark.io import load_table

    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in S.near_dup_clusters(spark, sf_dir).collect()
    }
    toks = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", FF.size(FF.split(FF.coalesce("text", FF.lit("")), " ")).alias("n"))
        .collect()
    }
    rows = S.cluster_canonical(spark, sf_dir).collect()
    assert len(rows) == len(set(labels.values()))  # one row per cluster
    assert sum(r["n_members"] for r in rows) == len(labels)
    for r in rows:
        members = [d for d, c in labels.items() if c == r["cluster_id"]]
        assert r["canonical_doc"] in members
        best = max(members, key=lambda d: (toks[d], -d))
        assert r["canonical_doc"] == best
        assert r["canonical_toks"] == toks[best]
        assert r["n_dropped"] == len(members) - 1


def test_near_dup_clusters_incremental_equals_full(spark, sf_dir):
    """Star-contraction maintenance must reproduce the full clustering
    exactly (maintained == rebuilt), and stored labels of clusters the
    batch never touches must pass through byte-identical."""
    inc = {r["doc_id"]: r["cluster_id"]
           for r in S.near_dup_clusters_incremental(spark, sf_dir).collect()}
    full = {r["doc_id"]: r["cluster_id"]
            for r in S.near_dup_clusters(spark, sf_dir).collect()}
    assert inc == full and len(inc) > 0


def test_min_label_cc_pointer_jumping_on_chain(spark):
    """A 64-node path graph has diameter 63 — plain min-label
    propagation would need 63 rounds (and the old loop would have
    returned WRONG labels silently after its budget). Pointer jumping
    must converge within 20 rounds to the single component, and
    non-convergence must raise rather than return partial labels."""
    import pytest

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = S._min_label_cc(nodes, pairs, max_iters=20).collect()
    assert len(out) == n and all(r["cluster_id"] == 0 for r in out)
    with pytest.raises(RuntimeError, match="did not converge"):
        S._min_label_cc(nodes, pairs, max_iters=1).collect()


# --------------------- maintained ANN index (overlay-commit lifecycle)


def test_ann_split_leak_directions(spark, sf_dir):
    """Base lists hold exactly the stored corpus's vectors
    (vec_id%5≠0), the overlay exactly the batch's (vec_id%5=0) —
    neither side leaks, and base ∪ overlay covers every vector."""
    base, overlay = S.build_ann_index_split(spark, sf_dir)
    b = spark.read.schema(S._ENC_SCHEMA).parquet(f"{base}/enc")
    o = spark.read.schema(S._ENC_SCHEMA).parquet(f"{overlay}/enc")
    assert b.filter(F.col("vec_id") % 5 == 0).count() == 0
    assert o.filter(F.col("vec_id") % 5 != 0).count() == 0
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert b.count() + o.count() == n_corpus
    assert o.count() > 0


def test_ann_maintained_equals_rebuilt_encode(spark, sf_dir):
    """The overlay-commit contract: base ∪ overlay is IDENTICAL, row
    for row (vec_id, cell, lo, hi), to a full re-encode of the corpus
    against the SAME frozen models — maintained ≡ rebuilt, so every
    probe over the maintained lists inherits the rebuilt index's
    results exactly."""
    from flink_project_userbehavioranalysis_spark.io import load_table

    base, overlay = S.build_ann_index_split(spark, sf_dir)
    cents, books = S._load_ann_model(spark, base)
    maintained = sorted(
        map(
            tuple,
            S._read_enc(spark, f"{base}/enc", f"{overlay}/enc")
            .select("vec_id", "cell", "lo", "hi")
            .collect(),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rebuilt = sorted(
        map(
            tuple,
            S._encode_with_models(emb, cents, books)
            .select("vec_id", "cell", "lo", "hi")
            .collect(),
        )
    )
    assert maintained == rebuilt and maintained


def test_ivf_probe_maintained_recall_and_pruning(spark, sf_dir):
    """Recall re-gated over base ∪ overlay: the maintained probe keeps
    ≥0.8 of the exact top-5 edges for the query batch (frozen models
    trained on the BASE corpus only — the honest lifecycle), and both
    list scans stay partition-pruned to the probed cells."""
    probe_df = S.ivf_probe_topk_maintained(spark, sf_dir, n_queries=100)
    probe = {(r[0], r[1]) for r in probe_df.collect()}
    exact = {
        (r[0], r[1])
        for r in S.knn_topk(spark, sf_dir).collect()
        if r[0] < 100
    }
    assert len(probe & exact) / len(exact) >= 0.8
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    scans = partition_filters(probe_df, "vec_id")
    assert len(scans) == 2, scans  # the base tree and the overlay tree
    assert all(pf.startswith("cell#") for pf in scans.values()), scans


def test_ann_split_model_tables_bounded(spark, sf_dir):
    """The frozen model persisted with the base index stays KB-scale
    regardless of corpus size."""
    base, _overlay = S.build_ann_index_split(spark, sf_dir)
    assert spark.read.parquet(f"{base}/centroids").count() <= 32
    assert spark.read.parquet(f"{base}/codebooks").count() == 32 * 16


def test_ann_overlay_drift_metrics_and_gate(spark, sf_dir):
    """The re-train gate: on the shipped 1-in-5 split the overlay
    fraction is ~0.2 and cells are balanced, so retrain=False at the
    default thresholds; tightening max_overlay_frac below the actual
    fraction fires the gate — the flag responds to the metric, not a
    constant."""
    row = S.ann_overlay_drift(spark, sf_dir).collect()[0]
    assert abs(row["overlay_frac"] - 0.2) < 0.05
    assert row["n_total"] == row["n_overlay"] + (row["n_total"] - row["n_overlay"])
    assert row["retrain"] is False
    fired = S.ann_overlay_drift(spark, sf_dir, max_overlay_frac=0.1).collect()[0]
    assert fired["retrain"] is True


def test_ann_encode_stream_equals_batch_overlay(spark, sf_dir):
    """Streaming at-ingest encode ≡ the batch overlay commit: the
    emitted (vec_id, cell, lo, hi) set from the stateless streaming
    projection equals the persisted overlay lists bit-for-bit
    (deterministic encode against the same frozen models)."""
    from flink_project_userbehavioranalysis_spark.streaming import windowed as W

    streamed = sorted(
        map(tuple, W.ann_encode_stream(spark, sf_dir).collect())
    )
    _base, overlay = S.build_ann_index_split(spark, sf_dir)
    batch = sorted(
        map(
            tuple,
            spark.read.schema(S._ENC_SCHEMA)
            .parquet(f"{overlay}/enc")
            .select("vec_id", "cell", "lo", "hi")
            .collect(),
        )
    )
    assert streamed == batch and streamed


# ---------------------------------------- ANN compaction + retrain


def test_ann_compacted_layout_and_row_identity(spark, sf_dir):
    """Compaction folds the overlay away: one enc tree + the frozen
    model tables, and the enc row set is bit-for-bit base ∪ overlay
    (deterministic encodes under frozen models)."""
    import os

    base, overlay = S.build_ann_index_split(spark, sf_dir)
    root = S.compact_ann_index(spark, sf_dir)
    assert sorted(os.listdir(root)) == ["centroids", "codebooks", "enc"]
    merged = S._read_enc(spark, f"{base}/enc", f"{overlay}/enc")
    compacted = S._read_enc(spark, f"{root}/enc")
    assert compacted.count() == merged.count()
    assert compacted.exceptAll(merged).count() == 0
    assert merged.exceptAll(compacted).count() == 0


def test_ann_compacted_probe_equals_maintained(spark, sf_dir):
    """The compacted-tree probe is frame-equal to the maintained
    base ∪ overlay probe — compaction is layout, not semantics — and
    its one list scan is partition-pruned to the probed cells."""
    compacted = S.ivf_probe_topk_compacted(spark, sf_dir)
    a = sorted(map(tuple, compacted.collect()))
    b = sorted(map(tuple, S.ivf_probe_topk_maintained(spark, sf_dir).collect()))
    assert a and a == b
    scans = partition_filters(compacted, "vec_id")
    assert len(scans) == 1, scans  # the one compacted tree
    assert all(pf.startswith("cell#") for pf in scans.values()), scans


def test_ann_retrain_roundtrip_recall_gates(spark, sf_dir):
    """Both index generations clear the 0.8 recall bar against exact
    brute force, and retraining on the full corpus does not LOSE
    recall beyond noise (the overlay is distribution-identical here,
    so stale ≈ retrained is the expected flat outcome; under real
    drift the stale row sags and ann_overlay_drift fires first)."""
    rows = {r["variant"]: r for r in S.ann_retrain_roundtrip(spark, sf_dir).collect()}
    assert set(rows) == {"frozen_base_models", "retrained_full_models"}
    n = rows["frozen_base_models"]["n_exact"]
    assert n > 0 and rows["retrained_full_models"]["n_exact"] == n
    stale = rows["frozen_base_models"]["hits"] / n
    fresh = rows["retrained_full_models"]["hits"] / n
    assert stale >= 0.8 and fresh >= 0.8
    assert fresh >= stale - 0.05
