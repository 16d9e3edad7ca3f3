"""Local mirror of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares
it against its ``oracle_sql()`` via the same normalize-sort-hash logic
as tests/oracle.py. Rows-only entries just assert the query runs.

Usage: python tools/check_all.py [sf_dir] [query_name_or_pattern ...]
(names or fnmatch patterns filter the run, e.g. '*_stream' 'hot_*';
no names = all queries)
"""

from __future__ import annotations

import sys
import time
from fnmatch import fnmatchcase

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod
from flink_project_userbehavioranalysis_spark import get_spark
from tests.oracle import assert_matches_oracle


def _fast_oracle_overrides(sf_dir: str) -> dict[str, str]:
    """At sf ≥ 0.1 the two shingle-pair oracles' quadratic
    list_intersect form takes ~9.5 min each in DuckDB; swap in the
    exact inverted-index formulation (equivalence-tested at sf0.001)
    so the full matrix stays affordable. The driver's registered
    oracles are untouched — it runs at sf0.01 where quadratic is fine."""
    if "sf0.1" not in sf_dir and "sf1" not in sf_dir:
        return {}
    from flink_project_userbehavioranalysis_spark.operators import ingest as I
    from flink_project_userbehavioranalysis_spark.operators import search as SR
    from flink_project_userbehavioranalysis_spark.operators import similarity as S

    fast = S.ngram_jaccard_fast_oracle_sql()
    return {
        "ngram_jaccard_pairs": fast,
        "minhash_near_dup": fast,
        # quadratic all-pairs levenshtein → the exact-safe pigeonhole
        # segment recompute (equivalence pinned at sf0.01 in
        # tests/test_search.py)
        "edit_dup_pairs": SR.edit_dup_pairs_fast_oracle_sql(),
        # the composed admission cascade embeds the same quadratic
        # near stage; the inverted-index form is equivalence-tested in
        # tests/test_ingest.py. The _indexed variants share the
        # rebuild forms' oracles, so they get the same override.
        "ingest_accept_batch": I.ingest_accept_oracle_sql(fast_near=True),
        "ingest_accept_batch_indexed": I.ingest_accept_oracle_sql(fast_near=True),
        "ingest_audit": I.ingest_audit_oracle_sql(fast_near=True),
        "ingest_two_batch": I.ingest_two_batch_oracle_sql(fast_near=True),
        "ingest_two_batch_indexed": I.ingest_two_batch_oracle_sql(fast_near=True),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    spark = get_spark(app_name="check-all", streaming=True)
    qs = entry_mod.queries()
    if only:
        qs = {n: f for n, f in qs.items() if any(fnmatchcase(n, p) for p in only)}
    oracles = entry_mod.oracle_sql()
    oracles.update(_fast_oracle_overrides(sf_dir))
    failed = []
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                assert_matches_oracle(df, oracles[name], sf_dir)
                status = "oracle-match"
            else:
                n = df.count()
                status = f"rows-only ({n} rows)"
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            status = f"FAIL: {type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        print(f"{name:35s} {dt:7.2f}s  {status}")
    print(f"\n{len(qs) - len(failed)}/{len(qs)} pass")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
