"""Dump .explain("formatted") for registered queries to plans/<tag>/.

Usage: python tools/dump_plans.py <tag-dir> <suffix> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each named query (default:
the bench HEADLINE + PIPELINES sets). Queries whose construction runs
eager work (iterative CC, table writes, the ingest admissions) return
a checkpoint, so their plan starts at a ``Scan ExistingRDD`` of
materialized blocks; the file says so in its first line. For
``ingest_accept_batch`` the file holds the composed cascade instead
(``_manifest_frame(..., stage_ckpt=False)``, the uncut tree the
checkpoint was built from), so the ingest scans and their
PartitionFilters show. $SPARK_GRAFT_SF_DIR picks the data (default
sf0.1, matching the bench).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CHECKPOINT_NOTE = (
    "NOTE: the returned frame is a checkpoint; this plan starts at its "
    "materialized blocks (Scan ExistingRDD), not at the scans that built it.\n"
)


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _plan(spark, name: str, fn) -> str:
    if name == "ingest_accept_batch":
        from flink_project_userbehavioranalysis_spark.operators.ingest import _manifest_frame
        from flink_project_userbehavioranalysis_spark.session import FrameOwner

        with FrameOwner() as own:
            return _explain(_manifest_frame(spark, SF_DIR, own, stage_ckpt=False))
    plan = _explain(fn(spark, SF_DIR))
    return CHECKPOINT_NOTE + plan if "Scan ExistingRDD" in plan else plan


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    import __spark_entry__ as entry_mod
    from bench import HEADLINE, PIPELINES
    from flink_project_userbehavioranalysis_spark import get_spark

    names = sys.argv[3:] or (HEADLINE + PIPELINES)
    here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "plans", tag)
    os.makedirs(here, exist_ok=True)
    spark = get_spark(app_name="dump-plans", streaming=True)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"{name}: NOT REGISTERED", file=sys.stderr)
            continue
        try:
            plan = _plan(spark, name, fn)
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN UNAVAILABLE: {type(e).__name__}: {e}"
        with open(os.path.join(here, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
