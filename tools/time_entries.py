"""Same-window A/B helper: time named registered entries as FULL
invocations (construction + execution + materialization per run — the
bench PIPELINES method) in one warm session and print one JSON line.

Usage: python tools/time_entries.py <runs> <name> [name ...]

Run it from two checkouts back-to-back (old tree, new tree) inside one
host window to A/B a restructure; the bench's _MANIFEST_CACHE-clearing
discipline is reproduced so ingest rows time full cascades.

Each entry also reports the Janino compiles and compile milliseconds of
a timed (warm) run, median over the runs: an entry that keeps
compiling when warm inlines a per-call value into its generated code
(SCALE.md "Generated-code reuse").
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> int:
    runs = int(sys.argv[1])
    names = sys.argv[2:]
    import __spark_entry__ as entry_mod
    from flink_project_userbehavioranalysis_spark import get_spark
    from flink_project_userbehavioranalysis_spark.session import codegen_compiles
    from flink_project_userbehavioranalysis_spark.io import cache_events
    from flink_project_userbehavioranalysis_spark.operators.ingest import (
        _MANIFEST_CACHE,
    )

    spark = get_spark(app_name="time-entries", streaming=True)
    spark.sparkContext.setLogLevel("ERROR")
    cache_events(spark, SF_DIR)
    qs = entry_mod.queries()
    # per-run floor: the host is a noisy-neighbor VM (r11/r12 bracket
    # analyses) — two captures are comparable ONLY at similar floors
    spark.range(1).collect()
    floor = statistics.median(
        [_timed(lambda: spark.range(1).collect()) for _ in range(7)]
    )
    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]

        def run_full(f=fn):
            _MANIFEST_CACHE.clear()
            f(spark, SF_DIR).collect()

        run_full()  # warm-up
        ts, compiles, compile_ms = [], [], []
        for _ in range(runs):
            n0, ms0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            run_full()
            ts.append(time.perf_counter() - t0)
            n1, ms1 = codegen_compiles(spark)
            compiles.append(n1 - n0)
            compile_ms.append(ms1 - ms0)
        out[name] = {
            "med": round(statistics.median(ts), 4),
            "min": round(min(ts), 4),
            "compiles": statistics.median(compiles),
            "compile_ms": round(statistics.median(compile_ms), 1),
        }
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps(
        {"sf": SF_DIR, "runs": runs, "floor": round(floor, 4), "entries": out}
    ))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
