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
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession


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
