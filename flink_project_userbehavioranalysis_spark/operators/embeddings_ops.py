"""Embedding-column operators for training-data pipelines: per-label
centroids (distributed vector mean), int8 quantization, and a
declarative Lloyd's k-means (the full-data iterative counterpart of
the sampled cell seeding in similarity.py).

No reference analog (SURVEY §2.10 extension pillar) — these are the
vector-side utilities a pretraining/embedding pipeline needs next to
ANN search: cluster/class centroids for diagnostics and IVF-style
seeding, and symmetric int8 quantization to cut a 100 TB embedding
store 4× before serving.

100 TB posture: all pure expression-level dataflows.
- Centroids shuffle (label, dim) pairs with partial aggregation — the
  map-side combine collapses each partition to ≤ labels×dims partial
  sums, so the exchange carries aggregates, not vectors. No driver
  collect, no numpy, no UDF.
- Quantization is a per-row map (zero shuffle): scale/clamp/round via
  array expressions inside whole-stage codegen. The emitted checksum
  columns are exact integers so the DuckDB oracle hash is stable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_project_userbehavioranalysis_spark.io import load_table
from flink_project_userbehavioranalysis_spark.session import FrameOwner

# ------------------------------------------------------- label centroids


def _centroids_by(keyed: DataFrame, key: str) -> DataFrame:
    """Element-wise mean of ``embedding`` per ``key`` column + member
    count. Dataflow: posexplode to (key, dim, value) → ONE
    partial-aggregated shuffle on (key, dim) → re-assemble the vector
    with a deterministic array_sort(collect_list(struct(dim, s))) per
    key.

    Exact-integer checksum pattern (same as ``quantize_embeddings``,
    closing the r5-advice float-rounding gap for good): each float32
    component quantizes ONCE to nano-units (round(v·10⁹) as BIGINT —
    ties are measure-zero over real float data), and everything
    downstream is exact 64-bit integer arithmetic, which is associative
    — Spark's two-phase partial aggregation and the oracle's single
    pass produce bit-identical sums by construction, with no rounding
    boundary anywhere. ``centroid_q`` carries the exact per-dim sums
    (the MERGEABLE aggregate state — the form 100 TB shard rollups
    combine); ``centroid`` derives the mean from those integers with
    one IEEE double divide of identical operands per dim (max |sum| ~
    10¹⁴ ≪ 2⁵³, so the long→double conversion is exact), deterministic
    across engines."""
    per_dim = (
        keyed.select(key, F.posexplode("embedding").alias("dim", "v"))
        .groupBy(key, "dim")
        .agg(
            F.sum(
                F.round(F.col("v").cast("double") * F.lit(1e9)).cast("long")
            ).alias("s"),
            F.count("*").alias("n"),
        )
    )
    return (
        per_dim.groupBy(key)
        .agg(
            F.max("n").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s"))), lambda st: st["s"]
            ).alias("centroid_q"),
        )
        .select(
            key,
            "n_vecs",
            "centroid_q",
            F.transform(
                "centroid_q", lambda x: x / (F.col("n_vecs") * F.lit(1e9))
            ).alias("centroid"),
        )
    )


def _centroids_long(keyed: DataFrame, key: str) -> DataFrame:
    """Long-format (driver-hashable) centroid view: one scalar row per
    (key, dim) instead of one array row per key. Same dataflow as
    ``_centroids_by`` minus the array re-assembly — posexplode → ONE
    partial-aggregated (key, dim) shuffle, done. The REGISTERED surface
    uses this form because the driver's correctness canonicalizer sorts
    a pandas frame by every column, which requires hashable (scalar)
    cells; array cells raised ``unhashable type: 'list'`` and turned a
    correct result into a red scoreboard row (CORRECTNESS_r06).

    Same exact-integer scheme as ``_centroids_by``: ``s_q`` is the
    exact nano-unit BIGINT component sum (the mergeable aggregate
    state); ``mean`` is one IEEE double divide of identical operands on
    both engines, so the hash is stable."""
    return (
        keyed.select(key, F.posexplode("embedding").alias("dim", "v"))
        .groupBy(key, "dim")
        .agg(
            F.sum(
                F.round(F.col("v").cast("double") * F.lit(1e9)).cast("long")
            ).alias("s_q"),
            F.count("*").alias("n_vecs"),
        )
        .select(
            key,
            F.col("dim").cast("long").alias("dim"),
            "n_vecs",
            "s_q",
            (F.col("s_q") / (F.col("n_vecs") * F.lit(1e9))).alias("mean"),
        )
    )


def embedding_centroids_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label + member count — the
    ARRAY-shaped library API (what a pipeline composes with: one vector
    row per label).

    Output: label, n_vecs, centroid_q (array<bigint> — exact per-dim
    nano-unit sums, the mergeable state), centroid (array<double> mean
    derived from the exact integers).
    """
    return _centroids_by(load_table(spark, sf_dir, "embeddings"), "label")


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids, long format — the registered/oracled view
    of ``embedding_centroids_vec`` (see ``_centroids_long`` for why the
    registered surface must emit scalar cells only).

    Output: label, dim, n_vecs, s_q (exact nano-unit BIGINT component
    sum), mean (double component mean derived from the integers).
    """
    return _centroids_long(load_table(spark, sf_dir, "embeddings"), "label")


EMBEDDING_CENTROIDS_SQL = """
WITH ex AS (
    SELECT label,
           generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding) AS v
    FROM embeddings
)
-- nano-unit integer quantization + exact BIGINT sum: associative,
-- order-independent, no rounding boundary (see _centroids_long)
SELECT label, CAST(dim AS BIGINT) AS dim,
       count(*) AS n_vecs,
       CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000000.0) AS BIGINT)) AS BIGINT) AS s_q,
       CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
         / (count(*) * 1000000000.0) AS mean
FROM ex GROUP BY label, dim
"""


# ------------------------------------------------------ int8 quantization


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = 127 / max|x|,
    q_i = clamp(round(x_i * scale), -127, 127).

    Emitted as exact-integer checksums (sum_q, n_sat = components at
    the ±127 clamp) plus the 9 dp scale, rather than the int8 array
    itself — integer outputs make the oracle compare bit-exact while
    still pinning every quantized component through the sum.

    The max component quantizes to exactly ±127 by construction
    (x = max|x| ⇒ x·scale = 127.0 exactly in double), so the
    round-half behavior of Spark (HALF_UP) and DuckDB (ties away from
    zero) only meets a tie on a measure-zero set of float inputs.

    Per-row map, zero shuffle, whole-stage codegen end to end. The
    scale and quantized array are STAGED through explicit projections:
    referencing the scalar ``scale`` expression inside an array lambda
    would inline it per element (Catalyst does not CSE into lambda
    bodies), turning the O(d) row into O(d²) recomputation of the max
    — staged columns are evaluated once per row.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    staged = (
        emb.select(
            "vec_id",
            "embedding",
            F.array_max(F.transform("embedding", lambda x: F.abs(x))).alias("maxabs"),
        )
        .filter(F.col("maxabs") > 0)
        .select("vec_id", "embedding", (F.lit(127.0) / F.col("maxabs")).alias("scale"))
        .select(
            "vec_id",
            "scale",
            F.transform(
                "embedding",
                lambda x: F.least(
                    F.greatest(F.round(x * F.col("scale")), F.lit(-127.0)), F.lit(127.0)
                ).cast("long"),
            ).alias("q"),
        )
    )
    return staged.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("sum_q"),
        F.size(F.filter("q", lambda x: F.abs(x) == 127)).alias("n_sat"),
    )


QUANTIZE_EMBEDDINGS_SQL = """
WITH s AS (
    -- the float32 components MUST be promoted to DOUBLE before the
    -- division: DuckDB otherwise resolves DECIMAL/FLOAT in float32
    -- precision, which diverges from Spark's double math in the 7th
    -- significant digit
    SELECT vec_id, embedding,
           CAST(127.0 AS DOUBLE)
             / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
    FROM embeddings
    WHERE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
), q AS (
    SELECT vec_id, scale,
           list_transform(embedding,
                          x -> CAST(least(greatest(round(x * scale), -127.0), 127.0) AS BIGINT)) AS qv
    FROM s
)
SELECT vec_id, round(scale, 9) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS sum_q,
       CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INTEGER) AS n_sat
FROM q
"""


# ------------------------------------------------- doc-joined centroids


def _lang_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.join(docs, emb.vec_id == docs.doc_id).select("lang", "embedding")


def lang_centroids_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language centroids of the document embeddings — the
    documents↔embeddings join edge: attribute each vector to its
    document's language (vec_id = doc_id where both exist), then the
    same partial-aggregated vector mean as ``embedding_centroids_vec``.
    Array-shaped library API.

    Scale shape: ONE equi-shuffle join on the id (both sides narrow —
    (id, lang) vs (id, vector); Catalyst broadcasts the dim side when
    it fits, shuffles otherwise) followed by the (lang, dim)
    partial-aggregated mean. No vector ever reaches the driver.

    Output: lang, n_vecs, centroid_q (array<bigint> exact nano-unit
    sums), centroid (array<double> mean derived from the integers).
    """
    return _centroids_by(_lang_keyed(spark, sf_dir), "lang")


def lang_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language centroids, long format — the registered/oracled
    view of ``lang_centroids_vec`` (scalar cells only; see
    ``_centroids_long``).

    Output: lang, dim, n_vecs, s_q, mean.
    """
    return _centroids_long(_lang_keyed(spark, sf_dir), "lang")


LANG_CENTROIDS_SQL = """
WITH keyed AS (
    SELECT d.lang AS lang, e.embedding AS embedding
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
), ex AS (
    SELECT lang,
           generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding) AS v
    FROM keyed
)
SELECT lang, CAST(dim AS BIGINT) AS dim,
       count(*) AS n_vecs,
       CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000000.0) AS BIGINT)) AS BIGINT) AS s_q,
       CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
         / (count(*) * 1000000000.0) AS mean
FROM ex GROUP BY lang, dim
"""


# ------------------------------------------------------- Lloyd's k-means


def kmeans_lloyd(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    iters: int = 2,
    grid: int = 10_000,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column — the
    representative ITERATIVE algorithm (the full-data form of the
    sampled k-means that seeds IVF/SemDeDup cells in similarity.py),
    declarative end to end: no driver collect, no numpy, no UDF.

    Exact-integer formulation (what makes a float-iterative algorithm
    ORACLE-CHECKABLE across engines): components quantize once to a
    1/``grid`` lattice (|x| ≤ 1 ⇒ |xq| ≤ grid); distances are exact
    BIGINT sums of squared integer deltas (64 dims × (2·10⁴)² ≈ 2.6e10
    ≪ 2⁶³); centroid updates are exact integer sums truncated back to
    the lattice with ``div`` (Spark) ≡ ``//`` (DuckDB) — both truncate
    toward zero, verified. Argmin ties break on cluster id via struct
    ordering (array_min ≡ list_sort[1], both lexicographic). Seeding is
    deterministic: the k vectors with the smallest md5(vec_id) — a
    distributed top-k (TakeOrderedAndProject), never a full sort.

    Per-iteration dataflow: centroids fold to ONE broadcast row
    (collect_list of k structs); assignment is a map-only pass over
    the points (nested higher-order functions — zip_with inside
    transform — inside whole-stage codegen); the update is one
    partial-aggregated (cid, dim) shuffle, same shape as
    ``embedding_centroids``. Empty clusters keep their previous
    centroid (LEFT JOIN + coalesce on the k-row table). Iteration cost
    at 100 TB: one narrow shuffle per round, points never re-shuffle.

    Output: (cid, n_points, inertia_q, centroid_q) — all exact
    integers on the lattice; one row per non-empty cluster.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    with FrameOwner() as own:
        pts = own.persisted(
            emb.select(
                "vec_id",
                F.transform(
                    "embedding", lambda v: F.round(v.cast("double") * grid).cast("long")
                ).alias("xq"),
            )
        )

        seeds = (
            pts.select("vec_id", "xq", F.md5(F.col("vec_id").cast("string")).alias("h"))
            .orderBy("h", "vec_id")
            .limit(int(k))
        )
        cents = seeds.select(
            F.row_number().over(Window.orderBy("h", "vec_id")).alias("cid"),
            F.col("xq").alias("cq"),
        )

        def assign(cents_df: DataFrame) -> DataFrame:
            one = cents_df.groupBy().agg(
                F.array_sort(F.collect_list(F.struct("cid", "cq"))).alias("cents")
            )
            return (
                pts.crossJoin(F.broadcast(one))
                .select(
                    "vec_id",
                    "xq",
                    F.array_min(
                        F.transform(
                            "cents",
                            lambda c: F.struct(
                                F.aggregate(
                                    F.zip_with(
                                        F.col("xq"), c["cq"], lambda a, b: (a - b) * (a - b)
                                    ),
                                    F.lit(0).cast("long"),
                                    lambda acc, v: acc + v,
                                ).alias("d"),
                                c["cid"].alias("cid"),
                            ),
                        )
                    ).alias("best"),
                )
                .select(
                    "vec_id", "xq", F.col("best.cid").alias("cid"), F.col("best.d").alias("d")
                )
            )

        for _ in range(int(iters)):
            cents = own.persisted(cents)
            upd = (
                assign(cents)
                .select("cid", F.posexplode("xq").alias("dim", "v"))
                .groupBy("cid", "dim")
                .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                .groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("dim", F.expr("s div n").alias("q")))
                        ),
                        lambda st: st["q"],
                    ).alias("cq_new")
                )
            )
            cents = cents.join(upd, "cid", "left").select(
                "cid", F.coalesce("cq_new", "cq").alias("cq")
            )

        final = assign(cents)
        return (
            final.groupBy("cid")
            .agg(F.count("*").alias("n_points"), F.sum("d").alias("inertia_q"))
            .join(cents, "cid")
            .select(
                F.col("cid").cast("long").alias("cid"),
                "n_points",
                "inertia_q",
                F.col("cq").alias("centroid_q"),
            )
            # k-row result: materialize before the owner releases the
            # persisted points and the per-round centroid caches; also cuts
            # the iters-deep lineage
            .localCheckpoint(eager=True)
        )


def kmeans_lloyd_oracle_sql(k: int = 8, iters: int = 2, grid: int = 10_000) -> str:
    """The identical recurrence unrolled: same lattice, same integer
    distance/update arithmetic, same md5 seeding and tie-breaks."""

    def best(cents: str) -> str:
        return (
            "list_sort(list_transform("
            f"(SELECT list(struct_pack(cid := cid, cq := cq) ORDER BY cid) FROM {cents}), "
            "x -> struct_pack(d := CAST(list_sum(list_transform(list_zip(xq, x.cq), "
            "p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT), cid := x.cid)))[1]"
        )

    parts = [
        f"""pts AS (
    SELECT vec_id,
           list_transform(embedding,
                          v -> CAST(round(CAST(v AS DOUBLE) * {int(grid)}) AS BIGINT)) AS xq
    FROM embeddings
), cents0 AS (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid,
           xq AS cq
    FROM pts QUALIFY cid <= {int(k)}
)"""
    ]
    for i in range(1, int(iters) + 1):
        parts.append(
            f"""assign{i} AS (
    SELECT vec_id, xq, best.cid AS cid FROM (
        SELECT vec_id, xq, {best(f"cents{i - 1}")} AS best FROM pts)
), upd{i} AS (
    SELECT cid, list(CAST(s // n AS BIGINT) ORDER BY dim) AS cq_new FROM (
        SELECT cid, dim, sum(v) AS s, count(*) AS n FROM (
            SELECT cid, generate_subscripts(xq, 1) - 1 AS dim, unnest(xq) AS v
            FROM assign{i}
        ) GROUP BY 1, 2
    ) GROUP BY 1
), cents{i} AS (
    SELECT c.cid, coalesce(u.cq_new, c.cq) AS cq
    FROM cents{i - 1} c LEFT JOIN upd{i} u ON c.cid = u.cid
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
, final AS (
    SELECT vec_id, best.cid AS cid, best.d AS d FROM (
        SELECT vec_id, xq, {best(f"cents{int(iters)}")} AS best FROM pts)
)
SELECT CAST(f.cid AS BIGINT) AS cid, count(*) AS n_points,
       CAST(sum(f.d) AS BIGINT) AS inertia_q, c.cq AS centroid_q
FROM final f JOIN cents{int(iters)} c ON f.cid = c.cid
GROUP BY f.cid, c.cq
"""
    )


def kmeans_summary(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    iters: int = 2,
    grid: int = 10_000,
) -> DataFrame:
    """Driver-hashable registered view of ``kmeans_lloyd``: identical
    computation, but the ``centroid_q`` array collapses to an md5
    digest of its comma-joined components (exact integers ⇒ identical
    digit strings ⇒ identical digests on both engines). Scalar cells
    only — the driver's pandas canonicalizer cannot sort array cells
    (see ``_centroids_long``); the array API stays ``kmeans_lloyd``.

    Output: (cid, n_points, inertia_q, centroid_md5).
    """
    out = kmeans_lloyd(spark, sf_dir, k=k, iters=iters, grid=grid)
    return out.select(
        "cid",
        "n_points",
        "inertia_q",
        F.md5(
            F.concat_ws(",", F.transform("centroid_q", lambda x: x.cast("string")))
        ).alias("centroid_md5"),
    )


def kmeans_summary_oracle_sql(
    k: int = 8, iters: int = 2, grid: int = 10_000
) -> str:
    """``kmeans_lloyd_oracle_sql`` with the same array→digest collapse."""
    inner = kmeans_lloyd_oracle_sql(k=k, iters=iters, grid=grid)
    return (
        "SELECT cid, n_points, inertia_q,\n"
        "       md5(array_to_string(list_transform(centroid_q, x -> CAST(x AS VARCHAR)), ',')) AS centroid_md5\n"
        f"FROM ({inner})"
    )


# ------------------------------------------------------------- PCA / whitening


def embedding_pca(
    spark: SparkSession, sf_dir: str, k: int = 4
) -> DataFrame:
    """Distributed PCA projection of the embedding column — the
    classic two-phase map-reduce PCA every large-scale embedding
    pipeline runs before whitening/visualisation/coarse clustering
    (and the standard preprocessing step ahead of SemDeDup-style
    semantic dedup):

    Phase 1 (distributed): per-partition PARTIAL second moments via
    ``mapInPandas`` — each partition emits its d·(d+1)/2 upper-triangle
    Gram entries, its d-vector component sums, and its row count as
    (i, j, s, n) rows. The shuffle therefore carries
    ``num_partitions × O(d²)`` aggregate rows, never the vectors; a
    final partial-aggregated groupBy folds them to ONE d×d summary.

    Phase 2 (driver, bounded by construction): the d(d+1)/2+d+1 ≈ 2.1k
    summary rows (d=64) collect to the driver — same bounded-collect
    class as the k-means seeding sample — where the covariance
    C = E[xxᵀ] − μμᵀ is assembled and eigendecomposed (numpy ``eigh``
    on a 64×64 symmetric matrix, microseconds). The top-``k``
    eigenvectors broadcast back as column LITERALS.

    Phase 3 (map-only): the projection pc_c = (x − μ)·v_c runs as
    zip_with/aggregate array expressions inside whole-stage codegen —
    zero shuffle, no Python in the per-row path.

    Float eigenvectors are engine/blas-specific (sign and last-ulp),
    so this registers rows-only; tests/test_embeddings_ops.py asserts
    equivalence to a single-node numpy PCA up to per-component sign,
    descending explained variance, and component orthonormality.

    Output: (vec_id, label, pc0..pc{k-1}) doubles.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def gram_partials(batches):
        G, mu, n = None, None, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            G = X.T @ X if G is None else G + X.T @ X
            mu = X.sum(axis=0) if mu is None else mu + X.sum(axis=0)
            n += X.shape[0]
        if n == 0:
            return
        d = G.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": np.concatenate([iu, np.arange(d), [-1]]),
                "j": np.concatenate([ju, np.full(d, -1), [-1]]),
                "s": np.concatenate([G[iu, ju], mu, [0.0]]),
                "n": np.concatenate([np.zeros(len(iu) + d, dtype=np.int64), [n]]),
            }
        )

    summary = (
        emb.select("embedding")
        .mapInPandas(gram_partials, schema="i int, j int, s double, n long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()  # bounded: d(d+1)/2 + d + 1 rows regardless of data size
    )
    n_rows = sum(r["n"] for r in summary if r["i"] == -1)
    if not summary or n_rows == 0:
        # empty corpus: nothing to decompose — emit the output schema
        # with zero rows (same totality contract as every operator)
        return emb.select(
            "vec_id", "label", *[F.lit(0.0).alias(f"pc{c}") for c in range(int(k))]
        )
    d = max(r["i"] for r in summary) + 1
    if int(k) > d:
        raise ValueError(
            f"embedding_pca: k={k} exceeds the embedding dimension d={d}"
        )
    G = np.zeros((d, d))
    mu = np.zeros(d)
    for r in summary:
        if r["i"] == -1:
            continue
        if r["j"] == -1:
            mu[r["i"]] = r["s"]
        else:
            G[r["i"], r["j"]] = r["s"]
            G[r["j"], r["i"]] = r["s"]
    mu /= n_rows
    cov = G / n_rows - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][: int(k)]
    V = evecs[:, order]  # d x k
    # deterministic sign convention: largest-|component| entry positive
    for c in range(V.shape[1]):
        piv = int(np.argmax(np.abs(V[:, c])))
        if V[piv, c] < 0:
            V[:, c] = -V[:, c]

    x = F.col("embedding").cast("array<double>")
    cols = []
    for c in range(int(k)):
        vc = F.array(*[F.lit(float(V[i, c])) for i in range(d)])
        dot = F.aggregate(
            F.zip_with(x, vc, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        cols.append((dot - float(mu @ V[:, c])).alias(f"pc{c}"))
    return emb.select("vec_id", "label", *cols)
