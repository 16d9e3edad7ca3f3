"""Table-maintenance operators: incremental materialized-rollup
refresh (dynamic partition overwrite) and small-file compaction.

No reference analog (the reference recomputes every job from raw CSV;
SURVEY §2.1 S1/S2 [U]) — but at 100 TB nothing is recomputed from
scratch: the production pattern is a day-partitioned materialized
rollup where each ingest batch refreshes ONLY the partitions it
touches. Spark expresses the swap natively via
``spark.sql.sources.partitionOverwriteMode=dynamic``: the overwrite
replaces exactly the partitions present in the incoming write and
leaves all other history untouched (no read-modify-write of the whole
table, no append-duplicate risk on re-ingest).

Two properties make this the 100 TB shape:

- **cost ∝ delta, not corpus** — the refresh aggregates one day of
  events and rewrites one directory; the other 364/365ths of the
  store are neither read nor written.
- **idempotent re-ingest** — replaying the same batch swaps the same
  partition to the same content (exercised twice in the registered
  query), which is what makes retry-on-failure safe without a
  transaction log.

``compact_roundtrip`` is the other half of daily maintenance: ingest
leaves behind as many files per partition as there were writer tasks,
and file count — not byte count — is what kills 100 TB scan planning.
The bin-pack rewrite (``layout.compact_small_files``) sizes output
files to a target and the registered query proves the rewrite is
content-preserving by hash-matching an aggregate over the compacted
copy against the raw-table oracle.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_project_userbehavioranalysis_spark import layout
from flink_project_userbehavioranalysis_spark.functions import win_end_s
from flink_project_userbehavioranalysis_spark.io import load_events, load_table
from flink_project_userbehavioranalysis_spark.operators.network_flow import (
    PV_HOURLY_SQL as MV_PV_HOURLY_SQL,  # the MV's contract IS pv_hourly's:
    # maintained ≡ recomputed, so the oracle is shared, not duplicated —
    # an oracle fix there fixes both
)
from flink_project_userbehavioranalysis_spark.operators.network_flow import pv_rollup_frame
from flink_project_userbehavioranalysis_spark.session import FrameOwner


def _scratch_dir(spark: SparkSession, tag: str, sf_dir: str) -> str:
    """Session-keyed scratch path (same keying as session.session_key):
    repeat invocations in one session — the oracle gate, bench loops,
    repeated tests — REUSE and overwrite one directory per (query,
    sf_dir) instead of mkdtemp-leaking a parquet copy per call."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    app = spark.sparkContext.applicationId
    path = os.path.join(tempfile.gettempdir(), f"ubx-maint-{app}-{tag}-{h}")
    os.makedirs(path, exist_ok=True)
    return path

# Read-back schema for the PV materialized view: explicit, so an
# empty view (zero files yet) reads as an empty frame instead of a
# schema-inference error, and the dt partition directory parses as a
# plain string on every engine/config.
_MV_SCHEMA = "window_end BIGINT, pv BIGINT, dt STRING"


def _hourly_pv(events: DataFrame) -> DataFrame:
    """Hourly page-view rollup carrying its day partition key — the
    content of the materialized view. Delegates to
    ``network_flow.pv_rollup_frame`` (the SAME frame ``pv_hourly``
    serves), adding only ``dt`` as the partition column — so MV
    content and the query it answers cannot drift."""
    return pv_rollup_frame(
        events, "view", extra_keys=[F.to_date("ts").cast("string").alias("dt")]
    ).select(win_end_s(), "pv", "dt")


def build_mv(rollup: DataFrame, path: str) -> None:
    """Initial full build: day-partitioned overwrite write."""
    rollup.write.mode("overwrite").partitionBy("dt").parquet(path)


def refresh_mv(spark: SparkSession, delta_rollup: DataFrame, path: str) -> None:
    """Incremental refresh: swap in ONLY the day partitions present in
    ``delta_rollup``, leaving every other day directory untouched."""
    _overwrite_partitions(spark, delta_rollup, path, "dt")


def _overwrite_partitions(spark: SparkSession, df: DataFrame, path: str, col: str) -> None:
    """Dynamic partition overwrite: replace exactly the ``col``
    partitions present in ``df``. Conf is set-and-restored so the
    session's static overwrite semantics are unchanged elsewhere."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(col).parquet(path)
    finally:
        spark.conf.set(key, prev)


def mv_pv_hourly_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered lifecycle query: build the hourly-PV view on history
    (every day but the newest), then incrementally refresh the newest
    day — TWICE, proving the re-ingest swap is idempotent — and return
    the maintained view's content. Oracle = full recompute
    (``PV_HOURLY_SQL``): maintained ≡ recomputed is the correctness
    contract of any incremental MV.

    The max-day probe is a bounded single-row action (the same bound
    class as the replay harness); everything else is declarative.
    """
    ev = load_events(spark, sf_dir)
    maxd = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    if maxd is None:  # empty input: an empty view, total by construction
        return spark.createDataFrame([], _MV_SCHEMA).select("window_end", "pv")
    path = _scratch_dir(spark, "mv", sf_dir)
    hist = ev.filter(F.to_date("ts") < F.lit(maxd))
    delta = ev.filter(F.to_date("ts") >= F.lit(maxd))
    build_mv(_hourly_pv(hist), path)
    refresh_mv(spark, _hourly_pv(delta), path)  # the day's first ingest
    refresh_mv(spark, _hourly_pv(delta), path)  # retry replay: same swap
    back = spark.read.schema(_MV_SCHEMA).parquet(path)
    # eager localCheckpoint decouples the returned frame from the
    # scratch files: the next invocation OVERWRITES the reused dir
    # (see _scratch_dir), which would otherwise invalidate a result a
    # caller is still holding. The view is aggregate-cardinality
    # (hours), so the pinned blocks are tiny.
    return back.select("window_end", "pv").localCheckpoint(eager=True)


def compact_roundtrip(
    spark: SparkSession, sf_dir: str, shatter: int = 64, target_bytes: int = 8 << 20
) -> DataFrame:
    """Registered compaction proof: shatter the events table into
    ``shatter`` writer-task files (what a wide ingest shuffle leaves
    behind), bin-pack-compact them to ``target_bytes`` outputs, and
    return a per-type aggregate over the COMPACTED copy. Oracle = the
    same aggregate over the raw table, so a hash match certifies the
    rewrite lost/duplicated nothing. File-count mechanics are asserted
    in tests/test_maintenance.py."""
    ev = load_events(spark, sf_dir).select("user_id", "item_id", "event_type", "ts")
    frag = _scratch_dir(spark, "frag", sf_dir)
    comp = _scratch_dir(spark, "comp", sf_dir)
    ev.repartition(shatter).write.mode("overwrite").parquet(frag)
    layout.compact_small_files(spark, frag, comp, target_bytes=target_bytes)
    return (
        spark.read.parquet(comp)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("users"),
            F.sum("item_id").alias("item_sum"),
        )
        # eager: the reused scratch dirs are overwritten by the next
        # call; the per-type aggregate is a handful of rows
        .localCheckpoint(eager=True)
    )


COMPACT_ROUNDTRIP_SQL = """
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
           AS item_sum
FROM events
GROUP BY 1
"""


def erase_users_roundtrip(
    spark: SparkSession, sf_dir: str, modulus: int = 101
) -> DataFrame:
    """Registered right-to-be-forgotten sweep (GDPR/CCPA deletion —
    the third leg of table maintenance next to refresh and compaction):
    given an erasure list (deterministic stand-in: ``user_id %
    modulus == 0``), rewrite the events store WITHOUT those users and
    return a per-type aggregate over the scrubbed copy plus the erased
    row counts as an audit column. Oracle = the same aggregates over
    an anti-joined raw table, so a hash match certifies the rewrite
    dropped exactly the listed users' rows and nothing else — the
    compliance property an auditor asks for.

    Scale shape: the erasure predicate is a map-side filter on the
    rewrite scan (at 100 TB the list is a broadcast anti-join against
    a user-key table, and partition pruning limits the rewrite to
    partitions containing listed users — here the whole store is one
    scan either way); the verification aggregate is one
    partial-aggregated shuffle over ≤ |event_types| groups.

    Output: (event_type, n, users, item_sum, n_erased).
    """
    ev = load_events(spark, sf_dir).select("user_id", "item_id", "event_type", "ts")
    # coalesce makes the predicate TOTAL over a nullable user_id: a
    # NULL user is not on any erasure list, so it must be KEPT — the
    # bare `%`-comparison evaluates NULL and would silently drop such
    # rows from BOTH the kept rewrite and the audit (deleting data
    # never listed for erasure, invisibly to the hash check)
    erased = F.coalesce(F.col("user_id") % int(modulus) == 0, F.lit(False))
    path = _scratch_dir(spark, "erase", sf_dir)
    ev.filter(~erased).write.mode("overwrite").parquet(path)
    audit = (
        ev.filter(erased)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_erased"))
    )
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("users"),
            F.sum("item_id").alias("item_sum"),
        )
        .join(audit, "event_type", "left")
        .select(
            "event_type", "n", "users", "item_sum",
            F.coalesce("n_erased", F.lit(0)).alias("n_erased"),
        )
        # eager: the reused scratch dir is overwritten by the next call
        .localCheckpoint(eager=True)
    )


def erase_users_oracle_sql(modulus: int = 101) -> str:
    return f"""
WITH raw AS (
    SELECT user_id, event_type,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS item_id
    FROM events
), kept AS (
    -- NULL user_id is not on any erasure list: kept (totality twin of
    -- the engine-side coalesce)
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
           CAST(sum(item_id) AS BIGINT) AS item_sum
    FROM raw WHERE user_id IS NULL OR user_id % {int(modulus)} <> 0 GROUP BY 1
), er AS (
    SELECT event_type, count(*) AS n_erased
    FROM raw WHERE user_id % {int(modulus)} = 0 GROUP BY 1
)
SELECT k.event_type, k.n, k.users, k.item_sum,
       coalesce(er.n_erased, 0) AS n_erased
FROM kept k LEFT JOIN er USING (event_type)
"""


# ------------------------------------------------------- SCD2 delta MERGE

# Stored SCD2 schema: contract columns + `last_day` (merge bookkeeping:
# the run's most recent event-day, which makes replayed deltas
# detectable) + `ub` (user-bucket partition key — the MERGE's pruning
# unit). Explicit so an empty store reads as an empty frame.
_SCD2_SCHEMA = (
    "user_id BIGINT, tier BIGINT, valid_from STRING, valid_to STRING, "
    "n_days BIGINT, last_day STRING, ub INT"
)
_SCD2_COLS = ["user_id", "tier", "valid_from", "valid_to", "n_days", "last_day"]


def _scd2_bucket(buckets: int) -> F.Column:
    return F.pmod(F.col("user_id"), F.lit(buckets)).cast("int").alias("ub")


def apply_scd2_delta(
    spark: SparkSession, delta: DataFrame, path: str, buckets: int
) -> None:
    """MERGE one day's tier snapshot into the stored SCD2 table.

    ``delta`` is (user_id, d, new_tier) — at most one row per user,
    for a day ``d`` at or past every stored day. Per delta user the
    classic SCD2 MERGE cases, all evaluated in one full-outer join of
    the store's CURRENT rows (valid_to NULL) with the delta:

    - no current row            → INSERT an opening run
    - ``last_day >= d``         → NO-OP (replayed batch: already
                                  counted — the idempotence guard)
    - same tier                 → UPDATE in place (n_days+1, last_day=d)
    - tier changed              → CLOSE current (valid_to=d) + INSERT
                                  the new run

    Closed rows (valid_to set) are immutable and pass through.

    Scale shape (cost ∝ delta, not store): the store is partitioned by
    user bucket, the delta's touched-bucket list is a bounded collect
    (≤ ``buckets`` ints), the read is statically pruned to those
    buckets, and the dynamic-partition-overwrite write swaps ONLY
    those bucket directories — untouched users are neither read nor
    rewritten. The two-row tier-change case is an expression-level
    array+explode, never a second pass. The eager localCheckpoint
    before the write is the read-then-overwrite decoupling (at 100 TB
    a transactional table format's MERGE supplies it instead).
    """
    delta = delta.withColumn("ub", _scd2_bucket(buckets))
    touched = [r[0] for r in delta.select("ub").distinct().collect()]  # ≤ buckets
    if not touched:
        return
    store = spark.read.schema(_SCD2_SCHEMA).parquet(path).filter(
        F.col("ub").isin(touched)
    )
    closed = store.filter(F.col("valid_to").isNotNull())
    current = store.filter(F.col("valid_to").isNull())
    j = current.join(delta, ["user_id", "ub"], "full_outer")

    def row(tier, valid_from, valid_to, n_days, last_day):
        return F.struct(
            tier.cast("long").alias("tier"),
            valid_from.cast("string").alias("valid_from"),
            valid_to.cast("string").alias("valid_to"),
            n_days.cast("long").alias("n_days"),
            last_day.cast("string").alias("last_day"),
        )

    cur = row(F.col("tier"), F.col("valid_from"), F.col("valid_to"),
              F.col("n_days"), F.col("last_day"))
    opened = row(F.col("new_tier"), F.col("d"), F.lit(None), F.lit(1), F.col("d"))
    extended = row(F.col("tier"), F.col("valid_from"), F.lit(None),
                   F.col("n_days") + 1, F.col("d"))
    closing = row(F.col("tier"), F.col("valid_from"), F.col("d"),
                  F.col("n_days"), F.col("last_day"))
    merged = j.select(
        "user_id",
        "ub",
        F.explode(
            F.when(F.col("d").isNull(), F.array(cur))            # untouched user
            .when(F.col("tier").isNull(), F.array(opened))        # brand-new user
            .when(F.col("last_day") >= F.col("d"), F.array(cur))  # replay no-op
            .when(F.col("tier") == F.col("new_tier"), F.array(extended))
            .otherwise(F.array(closing, opened))                  # tier change
        ).alias("r"),
    ).select("user_id", "r.*", "ub")
    out = closed.unionByName(merged).select(*_SCD2_COLS, "ub")
    with FrameOwner() as own:
        # decouple the rewrite from its own input files (see docstring)
        _overwrite_partitions(spark, own.checkpointed(out), path, "ub")


def user_tier_scd2_maintain(
    spark: SparkSession, sf_dir: str, buckets: int = 16
) -> DataFrame:
    """Registered SCD2 MERGE lifecycle: build the tier dimension on
    history (every day but the newest), then MERGE the newest day's
    delta — TWICE, proving replayed ingestion is a no-op — and return
    the maintained table's contract columns. Oracle = the full SCD2
    rebuild over all events (``relational.user_tier_scd2_oracle_sql``):
    maintained ≡ rebuilt is the correctness contract of an incremental
    dimension, exactly as ``mv_pv_hourly_maintain`` pins it for the MV.

    The max-day probe is a bounded single-row action; everything else
    is declarative. Cost model and MERGE mechanics: see
    :func:`apply_scd2_delta`.
    """
    from flink_project_userbehavioranalysis_spark.operators.relational import (
        _daily_counts,
        _scd2_from_daily,
        _tier_of,
    )

    ev = load_events(spark, sf_dir)
    maxd = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    empty = spark.createDataFrame([], _SCD2_SCHEMA).select(*_SCD2_COLS[:5])
    if maxd is None:
        return empty
    path = _scratch_dir(spark, "scd2", sf_dir)
    hist = ev.filter(F.to_date("ts") < F.lit(maxd))
    (
        _scd2_from_daily(_daily_counts(hist), with_meta=True)
        .withColumn("ub", _scd2_bucket(buckets))
        .write.mode("overwrite").partitionBy("ub").parquet(path)
    )
    delta = _daily_counts(ev.filter(F.to_date("ts") >= F.lit(maxd))).select(
        "user_id", "d", _tier_of(F.col("n")).alias("new_tier")
    )
    apply_scd2_delta(spark, delta, path, buckets)  # the day's first ingest
    apply_scd2_delta(spark, delta, path, buckets)  # retry replay: no-op
    back = spark.read.schema(_SCD2_SCHEMA).parquet(path)
    # eager: the reused scratch dir is overwritten by the next call
    return back.select("user_id", "tier", "valid_from", "valid_to", "n_days").localCheckpoint(
        eager=True
    )


# ------------------------------------------------------- CDC changelog apply


def _cdc_feed(events: DataFrame, *extra: F.Column) -> DataFrame:
    """The events table as a CDC change feed: each record upserts the
    user's profile except ``error`` rows, which model DELETEs."""
    return events.select(
        "user_id",
        "ts_ns",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        *extra,
    )


def _cdc_compact(changes: DataFrame) -> DataFrame:
    """Last-write-wins compaction of a CDC changelog slice: per key,
    the record with the max (ts_ns, event_id) ordering key wins — a
    combiner-friendly struct-max (ONE partial-aggregated shuffle, no
    window sort), the same argmax shape as ``cluster_canonical``.
    DELETE tombstones are RETAINED in the compacted state (a deleted
    key can reappear in a later slice); the final reader filters them.
    """
    return changes.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("ts_ns").alias("t"),
                F.col("event_id").alias("e"),
                F.col("op").alias("op"),
                F.col("value").alias("v"),
            )
        ).alias("last"),
        F.count("*").alias("n_changes"),
    )


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply — the warehouse op that turns an ordered
    change feed (upserts + deletes) into a queryable snapshot, and the
    batch analog of the streaming sink's changelog-MERGE
    (``replay.run_update_merge``). The events table stands in as the
    feed: each record is an upsert of the user's profile except
    ``error`` rows, which model DELETEs; the winner per key is the
    latest (ts_ns, event_id).

    Registered as the INCREMENTAL lifecycle, mirroring
    ``user_tier_scd2_maintain``: compact history into a base snapshot,
    compact the newest day separately, then merge the two compacted
    states — tombstones retained until the final read so a delete-
    then-reinsert across the boundary resolves correctly. Oracle = one
    LWW pass over the whole feed, so the hash match certifies
    apply(compact(hist), compact(delta)) ≡ compact(full) — the
    associativity that makes CDC compaction safe to run per ingest
    batch at 100 TB. Every stage is a partial-aggregated struct-max
    shuffle on the key; merging two compacted states re-uses the same
    aggregate (state size ∝ live keys, never feed length).

    Output: (user_id, last_ts_ns, last_value, n_changes) for keys
    whose final operation is not a DELETE.
    """
    ev = load_events(spark, sf_dir)
    maxd = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    feed = _cdc_feed(ev, F.to_date("ts").alias("d"))
    base = _cdc_compact(feed.filter(F.col("d") < F.lit(maxd)))
    delta = _cdc_compact(feed.filter(F.col("d") >= F.lit(maxd)))
    merged = (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(F.max("last").alias("last"), F.sum("n_changes").alias("n_changes"))
    )
    return _cdc_snapshot(merged)


def _cdc_snapshot(state: DataFrame) -> DataFrame:
    """The final read of a compacted CDC state: tombstoned keys drop
    out here, and only here."""
    return state.filter(F.col("last.op") != "D").select(
        "user_id",
        F.col("last.t").alias("last_ts_ns"),
        F.col("last.v").alias("last_value"),
        F.col("n_changes").cast("long").alias("n_changes"),
    )


CDC_APPLY_SQL = """
WITH log AS (
    SELECT user_id, epoch_ns(ts) AS t, event_id AS e,
           CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
           value AS v
    FROM events
), agg AS (
    SELECT user_id,
           max({'t': t, 'e': e, 'op': op, 'v': v}) AS last,
           count(*) AS n_changes
    FROM log GROUP BY 1
)
SELECT user_id,
       last.t AS last_ts_ns,
       last.v AS last_value,
       CAST(n_changes AS BIGINT) AS n_changes
FROM agg WHERE last.op <> 'D'
"""


# ------------------------------------------------------- JSONL ingest hop


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered JSONL interchange hop (S2 sibling — see
    ``sources/jsonl.py``): egress the documents table as JSON-Lines,
    re-ingest it through the schema'd PERMISSIVE reader, and return a
    per-language content checksum over the re-ingested copy. Oracle =
    the same checksum over the raw table, so a hash match certifies
    the convert hop (the once-per-batch JSONL→parquet step every LLM
    corpus pipeline runs) lost, duplicated, and mangled nothing —
    including round-tripping text through JSON string escaping.

    The checksum is content-strong across the WHOLE row: count + id
    sum + the sum of each row's leading-8-hex md5 over the LENGTH-
    PREFIXED row form (doc_id | len(text) | text | len(source) |
    source) as an integer — so a flipped byte in any column, a
    source-column mangle, a value swap BETWEEN rows (doc_id is folded
    into each row's digest), or a coordinated cross-column boundary
    shift (text 'a|b' + source '' vs text 'a' + source 'b|' — the r9
    advisory on the unprefixed form) all move it. lang is the group
    key, so a lang swap moves rows across groups.
    """
    from flink_project_userbehavioranalysis_spark.sources.jsonl import (
        read_docs_jsonl,
        split_quarantine,
        write_docs_jsonl,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = _scratch_dir(spark, "jsonl", sf_dir)
    write_docs_jsonl(docs, path)
    clean, _bad = split_quarantine(read_docs_jsonl(spark, path))
    chk = _row_chk()
    return (
        clean.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.sum(chk).alias("row_chk"),
        )
        # eager: the reused scratch dir is overwritten by the next call
        .localCheckpoint(eager=True)
    )


def _row_chk() -> F.Column:
    """Row-strong interchange digest: leading-8-hex md5 (as a long) of
    the length-prefixed row form ``doc_id | len(text) | text |
    len(source) | source``. The length prefixes make the field
    boundaries part of the digest, so shifting bytes between text and
    source cannot cancel out (r9 advisory); byte-identical to
    :data:`_ROW_REPR_SQL` — both sides count characters, and the text
    is valid UTF-8 in both engines."""
    text = F.coalesce(F.col("text"), F.lit(""))
    source = F.coalesce(F.col("source"), F.lit(""))
    row_repr = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.length(text).cast("string"),
        text,
        F.length(source).cast("string"),
        source,
    )
    return F.conv(
        F.substring(F.md5(row_repr.cast("binary")), 1, 8), 16, 10
    ).cast("long")


def _hex_prefix_int_sql(col: str, n: int) -> str:
    """DuckDB expression: first-``n``-hex-digit md5 prefix as integer
    (the strpos polynomial idiom the stratified/simhash oracles use)."""
    digit = f"(strpos('0123456789abcdef', substr(md5({col}), {{i}}, 1)) - 1)"
    return " + ".join(
        f"{digit.format(i=i + 1)} * {16 ** (n - 1 - i)}" for i in range(n)
    )


_ROW_REPR_SQL = (
    "(CAST(doc_id AS VARCHAR)"
    " || '|' || CAST(length(coalesce(text, '')) AS VARCHAR)"
    " || '|' || coalesce(text, '')"
    " || '|' || CAST(length(coalesce(source, '')) AS VARCHAR)"
    " || '|' || coalesce(source, ''))"
)

JSONL_ROUNDTRIP_SQL = f"""
SELECT lang,
       count(*) AS n,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum({_hex_prefix_int_sql(_ROW_REPR_SQL, 8)}) AS BIGINT) AS row_chk
FROM documents
GROUP BY 1
"""


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange hop — same contract as :func:`jsonl_roundtrip`
    for the other columnar format warehouses exchange (Hive/Trino
    estates are ORC-native; Spark's reader/writer are built in):
    egress the documents table as ORC, re-ingest the schema'd scan,
    return the per-language content checksum. Shares the JSONL hop's
    oracle — one checksum definition certifies every interchange
    format the engine claims."""
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch_dir(spark, "orc", sf_dir)
    docs.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING"
    ).orc(path)
    chk = _row_chk()
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.sum(chk).alias("row_chk"),
        )
        # eager: the reused scratch dir is overwritten by the next call
        .localCheckpoint(eager=True)
    )


def export_shards_roundtrip(
    spark: SparkSession, sf_dir: str, buckets: int = 16, seed: str = "shuf1"
) -> DataFrame:
    """Registered training-shard EXPORT proof (r10) — the step between
    the epoch-shuffle PLAN (``llm_text.corpus_shuffle_order``) and a
    training job's data loader: physically write the corpus as ONE
    hive-partitioned dataset keyed by the planned shard, read the
    files back, and emit a per-shard manifest computed ONLY from what
    landed on disk — doc count, token total, and the md5 over the
    read-order doc_id chain. Oracle = the identical manifest straight
    off the documents table, so a hash match certifies the export
    wrote every doc exactly once, into exactly the planned shard, with
    the planned read order intact (a lost, duplicated, or misrouted
    doc flips n_docs or the chain digest; a scrambled order flips the
    digest alone).

    Scale shape: the plan is the shuffle-order projection (md5 shard +
    one partition-local rank per shard) joined narrowly to the token
    counts; the write is ``partitionBy(shard)`` — each task streams
    its rows into per-shard files with no extra exchange beyond the
    rank's, and shard count is the parallelism dial a 100 TB export
    turns. The manifest agg is a partial-agg rollup at shard grain
    (``buckets`` rows out); the chain digest folds each shard's ids
    AFTER an explicit array_sort on (pos, doc_id), so collect_list's
    arrival nondeterminism cannot leak into the hash."""
    from flink_project_userbehavioranalysis_spark.operators.llm_text import (
        corpus_shuffle_order,
    )

    order = corpus_shuffle_order(spark, sf_dir, seed=seed, buckets=buckets)
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    planned = order.join(toks, "doc_id")
    out = _scratch_dir(spark, "shards", sf_dir)
    planned.write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.parquet(out).withColumn(
        # hive partition-value inference types the shard dir as INT;
        # the manifest contract (and the plan) say BIGINT
        "shard", F.col("shard").cast("long")
    )
    ordered_ids = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "doc_id"))),
        lambda s: s["doc_id"].cast("string"),
    )
    return (
        back.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.md5(F.concat_ws(",", ordered_ids).cast("binary")).alias("ids_md5"),
        )
        # eager: the reused scratch dir is overwritten by the next call
        .localCheckpoint(eager=True)
    )


def export_shards_oracle_sql(buckets: int = 16, seed: str = "shuf1") -> str:
    digit = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    val = f"{digit.format(i=1)} * 16 + {digit.format(i=2)}"
    return f"""
WITH t AS (
    SELECT doc_id, md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS h,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
), b AS (
    SELECT doc_id, n_tokens, h, ({val}) % {int(buckets)} AS shard FROM t
), p AS (
    SELECT doc_id, n_tokens, shard,
           row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
    FROM b
)
SELECT CAST(shard AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
FROM p
GROUP BY shard
"""
