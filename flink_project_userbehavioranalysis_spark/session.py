"""SparkSession construction for the engine.

Every config here exists for a reason that survives the jump from
local[32] to a 1000-executor cluster:

- ``nanosAsLong``: early testdata generations stored events.ts as
  TIMESTAMP(NANOS), which Spark's vectorized parquet reader rejects by
  default; the flag reads those nanos as BIGINT (a no-op for the newer
  timestamp[us] generation). io.normalize_events adapts to whichever
  the scan yields.
- ``session.timeZone=UTC``: all event time is epoch-based; UTC on both
  Spark and the DuckDB oracle removes a whole class of off-by-tz bugs.
- AQE on: runtime coalescing of small shuffle partitions and skew-join
  splitting — the knob that keeps a fixed shuffle-partition count sane
  across scale factors.
- shuffle partitions default to the local core count; on a real cluster
  this is overridden (cores × executors × 2-3) or left to AQE's
  coalescing with a high initial value.
- ``codegen.cache.maxEntries=5000``: one ingest lifecycle op generates
  more than the default 100 distinct classes, so the LRU evicted them
  before the next op could reuse them and every warm op re-ran ~365
  Janino compiles (3.4-4.5 s at sf0.1). A full cache costs ~50 MB of
  heap and ~45 MiB of metaspace. A static conf, read once per JVM, so
  the builder is the only place it can be set; on a cluster every
  executor JVM keeps its own cache (SCALE.md "Generated-code reuse").
- ``codegen.useIdInClassName=false``: the cache is keyed on the
  generated source, and by default each whole-stage class is named
  after its stage id. Ids are numbered per query in plan order, so a
  data-dependent plan change upstream (AQE picking another join)
  renumbers the stages after it and turns identical code into misses.
  Without the id, a warm ingest op compiles 2-4 classes instead of
  10-40 at sf0.1; stack traces lose the stage number.

Beside the builder live the two session-scoped owners: the memo
(``session_memo``), which holds an artifact until the session ends,
and ``FrameOwner``, which holds the frames one call persists or
checkpoints and releases them when the call leaves its ``with``
block, also on error.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


CODEGEN_CACHE_ENTRIES = 5000


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "ubx-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    streaming: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``streaming=True`` additionally switches the state store to RocksDB
    (bounded executor memory at scale; the HDFS-backed default keeps all
    state on-heap, which dies first at 100 TB).
    """
    par = _default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{par}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.default.parallelism", str(par))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if streaming:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) by this JVM's Janino so far. Both
    grow only on a generated-code cache miss, so their difference
    around a call is what the call compiled. The count is
    ``CodegenMetrics``' compilation-time histogram; the time is
    ``CodeGenerator``'s compile-time accumulator, because the histogram
    keeps a sample of the times, not their sum."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


# The one session-keyed memo: persisted scans, broadcasts, index roots
# and replay chunk dirs, each built at most once per (application,
# sf_dir, …). Unbounded and unlocked: every entry is a scratch path,
# a persisted frame or a broadcast that its session owns until it ends.
_MEMO: dict[tuple, Any] = {}


def session_key(spark: SparkSession, sf_dir: str, *parts) -> tuple:
    """Memo key for a session artifact derived from ``sf_dir``. Keyed on
    ``sparkContext.applicationId``, not ``id(spark)``: CPython can
    recycle an id() after a stopped session is garbage-collected, which
    would silently hand back artifacts bound to a dead session. The
    path is absolute, so a relative and an absolute spelling of one
    directory share an entry. ``parts`` name the artifact and its
    parameters."""
    return (spark.sparkContext.applicationId, os.path.abspath(sf_dir), *parts)


def session_memo(key: tuple, build: Callable[[], Any] | None = None) -> Any:
    """Get-or-build: the memoized value for ``key``, calling ``build()``
    and storing its result on a miss. Without ``build`` it is a plain
    lookup (``None`` on a miss)."""
    if key not in _MEMO and build is not None:
        _MEMO[key] = build()
    return _MEMO.get(key)


def session_forget(key: tuple) -> Any:
    """Drop ``key`` from the memo; returns the dropped value or ``None``."""
    return _MEMO.pop(key, None)


# release_frame calls that could NOT free a checkpoint's blocks; tests
# compare it around a call. The lock also guards FrameOwner.owned.
RELEASE_SKIPPED = 0
_COUNT_LOCK = threading.Lock()


def release_frame(df: DataFrame) -> None:
    """Free the storage behind ``df``: unpersist a cached frame, or free
    the blocks of a localCheckpoint (or of the one checkpoint that a
    projection or filter reads). ``unpersist()`` only clears
    cache-manager entries; a checkpoint's blocks belong to the RDD
    behind its ``LogicalRDD`` plan, so an iterative loop that
    re-checkpoints every round would otherwise pin O(rounds × nodes)
    blocks until the session ends (r8 advisory). Best effort, but not
    silent: a plan that does not lead down to one LogicalRDD counts in
    ``RELEASE_SKIPPED`` (r9 advisory), so a Spark upgrade that changes
    the analyzed-plan shape fails a test instead of pinning blocks."""
    global RELEASE_SKIPPED
    if df.is_cached:
        df.unpersist()
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        while plan.children().size() == 1:
            plan = plan.children().head()
        plan.rdd().unpersist(False)
    except Py4JError:
        with _COUNT_LOCK:
            RELEASE_SKIPPED += 1


class FrameOwner:
    """The frames one call persists or checkpoints (``persisted``,
    ``checkpointed``, eager or lazy). Leaving the ``with`` block releases
    them (``release_frame``), also on an exception, newest first, so a
    frame goes before the frames it was built from.

    ``release`` frees one frame early; ``keep`` hands one to the caller
    unreleased and ``adopt`` takes one over from a helper. A frame a
    function returns is not owned: it is a plain eager localCheckpoint,
    and the ContextCleaner frees its blocks once the caller drops it.
    ``owned`` counts the frames of every open owner, for tests."""

    owned = 0

    def __init__(self) -> None:
        self.frames: dict[int, DataFrame] = {}

    def __enter__(self) -> FrameOwner:
        return self

    def __exit__(self, *exc) -> None:
        for df in reversed(list(self.frames.values())):
            self.release(df)

    def adopt(self, df: DataFrame) -> DataFrame:
        self.frames[id(df)] = df
        with _COUNT_LOCK:
            FrameOwner.owned += 1
        return df

    def persisted(self, df: DataFrame) -> DataFrame:
        return self.adopt(df.persist())

    def checkpointed(self, df: DataFrame, eager: bool = True) -> DataFrame:
        return self.adopt(df.localCheckpoint(eager=eager))

    def keep(self, df: DataFrame) -> DataFrame:
        del self.frames[id(df)]
        with _COUNT_LOCK:
            FrameOwner.owned -= 1
        return df

    def release(self, df: DataFrame) -> None:
        release_frame(self.keep(df))
