"""ubx benchmark: one closed-loop client against one warm local session.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

It generates the workload's tables from the seed inside
`.perfbench_work/`, sets the program up several times (median reported
as `setup_s`), warms up, then sends whole rounds of ops until
`--seconds` have passed. Outputs are checked against the DuckDB
oracles after the timed loop. The last stdout line is the result
JSON; `--trace 1` reports the per-layer metrics instead of the
end-to-end ones and writes the spans to `.perfbench_out/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import datagen
import probes as P
from oracle import Oracle
from workloads import WORKLOADS

ROOT = os.getcwd()
ENGINE = "flink_project_userbehavioranalysis_spark"
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "throughput_ops_per_s": "1/s",
    "input_rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "io.cache_events_s": "s",
    "operators.ingest.build_ingest_indexes_s": "s",
    "setup.warmup_s": "s",
    "operators.build_ms": "ms",
    "py4j.calls_per_op": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs_per_op": "count",
    "scheduler.stages_per_op": "count",
    "scheduler.tasks_per_op": "count",
    "scheduler.floor_ms": "ms",
    "client.collect_ms": "ms",
    "client.rows_per_op": "count",
    "driver.cpu_s_per_op": "s",
    "jvm.cpu_s_per_op": "s",
    "python_workers.cpu_s_per_op": "s",
    "jvm.gc_ms_per_op": "ms",
    "storage.jvm_write_bytes_per_op": "bytes",
    "streaming.trigger_ms_p50": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.rows_dropped_by_watermark": "count",
    "host.nproc": "count",
    "trace.latency_p50_ms": "ms",
    "trace.probe_ms_per_op": "ms",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def isolate(work: str) -> None:
    """Keep every file the run writes inside `work`: Python and JVM temp
    files (the engine's `ubx-*` scratch dirs among them), Spark's local
    and warehouse dirs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the engine's deployment dials, pinned so the caller's environment
    # cannot change what is measured
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_GRAFT_STREAM_PARTITIONS", None)
    # for every JVM, the launcher's included: temp files here, no
    # hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.n = nproc()
        self.data_dir = os.path.join(work, "data")
        cls = WORKLOADS[args.workload]
        self.rows = datagen.generate(self.data_dir, args.sf, args.seed, cls.tables)
        self.workload = cls(self.data_dir, self.rows)
        self.spark = None
        self.results: dict[str, tuple] = {}  # op key → first (columns, rows)
        self.layer: dict[str, float] = {}

    # ------------------------------------------------------------ set-up

    def setup(self) -> float:
        """Set up SETUP_REPS times, each on a fresh SparkContext (so every
        session-keyed memo misses), then warm up once. Returns setup_s:
        the median set-up plus the warm-up."""
        from flink_project_userbehavioranalysis_spark.session import get_spark

        reps = []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.n}]",
                shuffle_partitions=self.n,
                streaming=True,
                extra_conf=session_conf(self.work),
            )
            timings = {"session.get_spark_s": time.perf_counter() - t0}
            self.spark.sparkContext.setLogLevel("ERROR")
            timings.update(self.workload.setup(self.spark))
            timings["total"] = time.perf_counter() - t0
            reps.append(timings)
        median = statistics.median(r["total"] for r in reps)
        for k in ("session.get_spark_s", "io.cache_events_s", "operators.ingest.build_ingest_indexes_s"):
            self.layer[k] = statistics.median(r.get(k, 0.0) for r in reps)
        t0 = time.perf_counter()
        for op in self.workload.warmup():
            op.call(self.spark).collect()
        self.layer["setup.warmup_s"] = time.perf_counter() - t0
        log(f"setup reps {[round(r['total'], 2) for r in reps]} warm-up {self.layer['setup.warmup_s']:.2f}s")
        return median + self.layer["setup.warmup_s"]

    # ------------------------------------------------------------ ops

    def run_op(self, op, op_id: int, probes) -> dict:
        """One op: the operator call, then collect. With probes, also the
        per-layer readings around it."""
        rec = {"op_id": op_id, "op": op}
        if probes:
            group = f"perfbench-op-{op_id}"
            self.spark.sparkContext.setJobGroup(group, op.key)
            runs_before = probes.listener.seen()
            before = probes.procs.snapshot()
            gc0 = P.gc_ms(self.spark)
            calls0 = probes.py4j.calls
        t0 = time.perf_counter()
        df = op.call(self.spark)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        rec.update(start=t0, build_s=t1 - t0, collect_s=t2 - t1, latency_s=t2 - t0, rows=len(rows))
        if op.key not in self.results:
            self.results[op.key] = (df.columns, [tuple(r) for r in rows])
        if probes:
            p0 = time.perf_counter()
            rec["py4j_calls"] = probes.py4j.calls - calls0
            after = probes.procs.snapshot()
            rec["gc_ms"] = P.gc_ms(self.spark) - gc0
            rec["proc"] = {k: after[k] - before[k] for k in after}
            rec["catalyst"] = P.catalyst_ms(df)
            rec["streaming"] = probes.listener.drain(runs_before, op.module.startswith("streaming."))
            rec["sched"] = P.job_counts(self.spark, [group, *rec["streaming"]])
            self.spark.sparkContext.setJobGroup("perfbench-idle", "between ops")
            rec["probe_s"] = time.perf_counter() - p0
        return rec

    def loop(self, probes) -> tuple[list[dict], list[str], int]:
        """Whole rounds until --seconds have passed. Returns the completed
        op records, the keys of the ops attempted and the number that raised."""
        records, sequence, failed = [], [], 0
        rounds = self.workload.rounds(self.args.seed)
        t_end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < t_end:
            for op in next(rounds):
                sequence.append(op.key)
                op_id = len(sequence)
                try:
                    records.append(self.run_op(op, op_id, probes))
                except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    failed += 1
                    log(f"op {op_id} {op.key} raised:\n{traceback.format_exc()}")
        return records, sequence, failed

    def check(self, records: list[dict]) -> set[str]:
        """Compare each distinct op's first result with its oracle; returns
        the keys that mismatch."""
        oracle = Oracle(self.data_dir)
        bad = set()
        try:
            for op in {r["op"].key: r["op"] for r in records}.values():
                cols, rows = self.results[op.key]
                msg = oracle.mismatch(cols, rows, op.oracle_sql)
                if msg:
                    bad.add(op.key)
                    log(f"oracle mismatch on {op.key}: {msg}")
        finally:
            oracle.close()
        return bad

    # ------------------------------------------------------------ run

    def run(self) -> dict:
        setup_s = self.setup()
        procs = P.Processes(self.spark)
        probes = _Probes(self.spark, procs) if self.args.trace else None
        floor = P.floor_ms(self.spark)
        t0 = time.perf_counter()
        try:
            records, sequence, failed = self.loop(probes)
        finally:
            if probes:
                probes.close()
        wall = time.perf_counter() - t0
        floor += P.floor_ms(self.spark)
        bad = self.check(records)
        failed += sum(1 for r in records if r["op"].key in bad)
        ok = [r for r in records if r["op"].key not in bad]
        lat_ms = [r["latency_s"] * 1e3 for r in ok] or [0.0]
        busy = sum(r["latency_s"] for r in ok)
        metrics = {
            "setup_s": setup_s,
            "throughput_ops_per_s": len(ok) / busy if busy else 0.0,
            "input_rows_per_s": sum(r["op"].input_rows for r in ok) / busy if busy else 0.0,
            "latency_p50_ms": statistics.median(lat_ms),
            "peak_rss_mb": procs.peak_rss_mb(),
        }
        info = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "nproc": self.n,
            "scheduler.floor_ms": statistics.median(floor),
            "ops": len(sequence),
            "failed": failed,
            "failed_frac": failed / max(len(sequence), 1),
            "loop_wall_s": wall,
            "rows": self.rows,
            "sequence": sequence,
            "latencies_ms": [round(r["latency_s"] * 1e3, 1) for r in records],
        }
        units = END_TO_END
        if self.args.trace:
            units, metrics = PER_LAYER, self.per_layer(ok, statistics.median(floor))
            self.write_trace(records, info, metrics)
        print(json.dumps({"info": info}))
        return {
            "correct": failed == 0,
            "attempted": max(len(sequence), 1),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def per_layer(self, recs: list[dict], floor: float) -> dict[str, float]:
        m = dict(self.layer)
        ms = lambda key: [r[key] * 1e3 for r in recs] or [0.0]  # noqa: E731
        m["operators.build_ms"] = statistics.median(ms("build_s"))
        m["client.collect_ms"] = statistics.median(ms("collect_s"))
        m["client.rows_per_op"] = mean([r["rows"] for r in recs])
        m["py4j.calls_per_op"] = mean([r["py4j_calls"] for r in recs])
        for p in P.PHASES:
            m[f"catalyst.{p}_ms"] = statistics.median([r["catalyst"][p] for r in recs] or [0.0])
        for k in ("jobs", "stages", "tasks"):
            m[f"scheduler.{k}_per_op"] = mean([r["sched"][k] for r in recs])
        m["scheduler.floor_ms"] = floor
        for metric, k in (("driver.cpu_s_per_op", "driver_cpu"), ("jvm.cpu_s_per_op", "jvm_cpu"),
                          ("python_workers.cpu_s_per_op", "workers_cpu"),
                          ("storage.jvm_write_bytes_per_op", "jvm_write")):
            m[metric] = mean([r["proc"][k] for r in recs])
        m["jvm.gc_ms_per_op"] = mean([r["gc_ms"] for r in recs])
        triggers = [t for r in recs for runs in r["streaming"].values() for t in runs]
        finals = [runs[-1] for r in recs for runs in r["streaming"].values() if runs]
        stream_ops = max(sum(1 for r in recs if r["streaming"]), 1)
        m["streaming.trigger_ms_p50"] = statistics.median([t["trigger_ms"] for t in triggers] or [0.0])
        m["streaming.state_commit_ms"] = mean([t["commit_ms"] for t in triggers])
        m["streaming.state_rows"] = mean([f["state_rows"] for f in finals])
        m["streaming.rows_dropped_by_watermark"] = sum(t["dropped"] for t in triggers) / stream_ops
        m["host.nproc"] = self.n
        m["trace.latency_p50_ms"] = statistics.median(ms("latency_s"))
        m["trace.probe_ms_per_op"] = mean([r["probe_s"] * 1e3 for r in recs])
        return m

    def write_trace(self, records: list[dict], info: dict, metrics: dict) -> None:
        """Spans: op → operator call → collect, with the op's Spark jobs
        as counts and its streaming triggers as child spans."""
        spans, by_module = [], {}
        for r in records:
            op, op_span, t0 = r["op"], f"op-{r['op_id']}", r["start"]
            spans.append({"id": op_span, "parent": None, "name": op.key, "start": t0,
                          "end": t0 + r["latency_s"], "attrs": {"module": op.module, **r["sched"],
                          "py4j_calls": r["py4j_calls"], "catalyst_ms": r["catalyst"], "rows": r["rows"]}})
            spans.append({"id": f"{op_span}.call", "parent": op_span, "name": f"{op.module}.{op.name}",
                          "start": t0, "end": t0 + r["build_s"], "attrs": {}})
            spans.append({"id": f"{op_span}.collect", "parent": op_span, "name": "collect",
                          "start": t0 + r["build_s"], "end": t0 + r["latency_s"], "attrs": {}})
            for run_id, triggers in r["streaming"].items():
                for i, t in enumerate(triggers):
                    spans.append({"id": f"{op_span}.trigger-{run_id[:8]}-{i}", "parent": op_span,
                                  "name": "trigger", "start_iso": t["start"],
                                  "duration_ms": t["trigger_ms"], "attrs": t})
            by_module.setdefault(op.module, []).append(r["build_s"] * 1e3)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{self.args.workload}-s{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"info": info, "metrics": metrics, "spans": spans,
                       "operators.build_ms_by_module": {k: statistics.median(v) for k, v in by_module.items()}},
                      f, indent=1, default=str)
        log(f"trace written to {path}")

    def close(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class _Probes:
    """Probes attached for a traced run only."""

    def __init__(self, spark, procs):
        self.spark = spark
        self.procs = procs
        self.listener = P.ProgressListener()
        spark.streams.addListener(self.listener)
        self.py4j = P.Py4jCounter(spark)

    def close(self) -> None:
        self.py4j.close()
        self.spark.streams.removeListener(self.listener)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale of the generated tables")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"run from the repository root: {ENGINE}/ and __spark_entry__.py not found in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(work)
    bench = None
    try:
        bench = Bench(args, work)
        result = bench.run()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
