"""Layer probes read from outside the engine.

Each probe reads a public surface: the py4j gateway client, the
returned frame's query-execution tracker, Spark's status tracker and
streaming listener, JMX over py4j, and `/proc`. None of them changes
what the engine computes.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2 :].split()  # fields from `state` on


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` (by parent pid, since a
    multi-threaded parent forks from any of its threads)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                kids.setdefault(int(_stat_fields(int(entry))[1]), []).append(int(entry))
            except OSError:
                pass
    out, todo = [], [pid]
    while todo:
        found = kids.get(todo.pop(), [])
        out += found
        todo += found
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """User + system CPU seconds of `pid`; with `reaped`, also of its
    children that have exited and been waited for."""
    try:
        f = _stat_fields(pid)
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of `pid` in MiB, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def write_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    return 0


class Processes:
    """The driver (this process), the JVM it launched, and the Python
    workers the JVM forks (through the `pyspark.daemon` process)."""

    def __init__(self, spark: SparkSession):
        self.driver = os.getpid()
        self.jvm = spark.sparkContext._gateway.proc.pid

    def workers(self) -> list[int]:
        return [p for p in descendants(self.jvm) if _is_python(p)]

    def snapshot(self) -> dict[str, float]:
        return {
            "driver_cpu": cpu_s(self.driver),
            "jvm_cpu": cpu_s(self.jvm),
            # the daemon reaps finished workers, so their CPU lands in its
            # reaped-children counters; live workers are read directly
            "workers_cpu": sum(cpu_s(p, reaped=True) for p in self.workers()),
            "jvm_write": write_bytes(self.jvm),
        }

    def peak_rss_mb(self) -> float:
        return sum(hwm_mb(p) for p in [self.driver, self.jvm, *self.workers()])


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0", 1)[0]
    except OSError:
        return False


# ---------------------------------------------------------------- py4j


class Py4jCounter:
    """Counts gateway round trips by wrapping the client's `send_command`."""

    def __init__(self, spark: SparkSession):
        self.client = spark.sparkContext._gateway._gateway_client
        self.inner = self.client.send_command
        self.calls = 0

        def counting(*args, **kwargs):
            self.calls += 1
            return self.inner(*args, **kwargs)

        self.client.send_command = counting

    def close(self) -> None:
        self.client.send_command = self.inner


# ---------------------------------------------------------------- catalyst

PHASES = ("analysis", "optimization", "planning")


def catalyst_ms(df: DataFrame) -> dict[str, float]:
    """Phase durations of the frame's query execution, 0 for a phase
    that has not run (a checkpointed frame is planned as a plain scan)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------- scheduler


def job_counts(spark: SparkSession, groups: list[str]) -> dict[str, int]:
    """Jobs, stages and tasks that ran under the given job groups."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def floor_ms(spark: SparkSession, reps: int = 5) -> list[float]:
    """Wall time of a trivial one-task JVM job, `reps` times."""
    jdf = spark.range(0, 1, 1, 1)._jdf
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        jdf.count()
        out.append((time.perf_counter() - t0) * 1e3)
    return out


def gc_ms(spark: SparkSession) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(b.getCollectionTime(), 0) for b in beans))


# ---------------------------------------------------------------- streaming


class ProgressListener(StreamingQueryListener):
    """Keeps every query's progress reports by run id, and which queries
    have started and terminated."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: dict[str, list] = {}
        self.started: set[str] = set()
        self.done: set[str] = set()

    def onQueryStarted(self, event):
        with self.lock:
            self.started.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "start": p.timestamp,
            "trigger_ms": float(p.durationMs.get("triggerExecution", 0)),
            "input_rows": p.numInputRows,
            "commit_ms": float(sum(s.commitTimeMs for s in p.stateOperators)),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "dropped": sum(s.numRowsDroppedByWatermark for s in p.stateOperators),
        }
        with self.lock:
            self.progress.setdefault(str(p.runId), []).append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.done.add(str(event.runId))

    def seen(self) -> set[str]:
        with self.lock:
            return set(self.started)

    def drain(self, before: set[str], expect: bool, timeout_s: float = 10.0) -> dict[str, list]:
        """Progress of the queries started since `before` was taken, once
        each has terminated; with `expect`, waits for at least one (the
        listener bus delivers events asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self.lock:
                new = self.started - before
                if (new or not expect) and new <= self.done or time.monotonic() > deadline:
                    return {r: list(self.progress.get(r, [])) for r in new}
            time.sleep(0.02)
