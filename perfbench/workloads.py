"""The workloads: what each sets up and which ops it sends.

An op is one call into a registered entry or public operator function
plus materializing its result with `collect()`. Ops come in rounds; a
round holds every op type of the workload in a seeded order, so any
whole number of rounds has the same mix whatever the seed.
"""

from __future__ import annotations

import random
import re
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Op:
    name: str  # registered entry or operator function
    module: str  # operator module the call goes into
    key: str  # distinct-op identity: checked once per run
    call: Callable[[SparkSession], DataFrame]
    oracle_sql: str
    input_rows: int  # events read or documents admitted


# streaming entry → the module that builds it
STREAM_REPLAY = {
    "pv_hourly_stream": "streaming.windowed",
    "consec_fail_stream": "streaming.processors",
}


def materialize_ctes(sql: str) -> str:
    """Compute each CTE once: DuckDB inlines a CTE at every reference by
    default, which makes the nested admission-cascade oracle ~30x slower.
    The result is unchanged."""
    return re.sub(r"(\b\w+ AS) \(\n", r"\1 MATERIALIZED (\n", sql)


class Workload:
    tables: tuple[str, ...]

    def __init__(self, data_dir: str, rows: dict[str, int]):
        self.data_dir = data_dir
        self.rows = rows

    def setup(self, spark: SparkSession) -> dict[str, float]:
        """The program's own set-up step for this workload, timed by layer."""
        raise NotImplementedError

    def warmup(self) -> list[Op]:
        raise NotImplementedError

    def rounds(self, seed: int) -> Iterator[list[Op]]:
        raise NotImplementedError


class StreamReplay(Workload):
    """Rounds of finite file-source replays, each job once per round."""

    tables = ("events",)

    def __init__(self, data_dir: str, rows: dict[str, int]):
        super().__init__(data_dir, rows)
        import __spark_entry__ as entry_mod

        queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
        self.ops = [
            Op(
                name=n,
                module=m,
                key=n,
                call=lambda spark, fn=queries[n]: fn(spark, data_dir),
                oracle_sql=oracles[n],
                input_rows=rows["events"],
            )
            for n, m in STREAM_REPLAY.items()
        ]

    def setup(self, spark: SparkSession) -> dict[str, float]:
        from flink_project_userbehavioranalysis_spark.io import cache_events

        t0 = time.perf_counter()
        cache_events(spark, self.data_dir)
        return {"io.cache_events_s": time.perf_counter() - t0}

    def warmup(self) -> list[Op]:
        # one replay prepares the shared chunk files and warms the
        # micro-batch and state-store path; a warm-up round of every job
        # would not fit the run budget
        return self.ops[:1]

    def rounds(self, seed: int) -> Iterator[list[Op]]:
        rng = random.Random(seed)
        while True:
            yield rng.sample(self.ops, len(self.ops))


class Ingest(Workload):
    tables = ("documents",)

    def setup(self, spark: SparkSession) -> dict[str, float]:
        from flink_project_userbehavioranalysis_spark.operators.ingest import build_ingest_indexes

        t0 = time.perf_counter()
        build_ingest_indexes(spark, self.data_dir)
        return {"operators.ingest.build_ingest_indexes_s": time.perf_counter() - t0}

    def splits(self) -> range:
        """`split2` values for the ops; the one before the range warms up.
        From a fifth of the corpus on, both batches pass the corpus-growth
        drift gate for most languages, so every cascade stage admits or
        rejects documents (1000..1200 at 5000 documents)."""
        from flink_project_userbehavioranalysis_spark.operators.ingest import INGEST_DEFAULTS

        n = self.rows["documents"]
        lo = max(n // 5, INGEST_DEFAULTS["split_id"] + n // 20)
        return range(lo, lo + n // 25 + 1)

    def _op(self, split2: int) -> Op:
        from flink_project_userbehavioranalysis_spark.operators import ingest

        split1 = ingest.INGEST_DEFAULTS["split_id"]
        return Op(
            name="ingest_two_batch_indexed",
            module="operators.ingest",
            key=f"ingest_two_batch_indexed/split2={split2}",
            call=lambda spark: ingest.ingest_two_batch_indexed(spark, self.data_dir, split2=split2),
            oracle_sql=materialize_ctes(ingest.ingest_two_batch_oracle_sql(fast_near=True, split2=split2)),
            input_rows=self.rows["documents"] - split1,
        )

    def warmup(self) -> list[Op]:
        return [self._op(self.splits()[0] - 1)]

    def rounds(self, seed: int) -> Iterator[list[Op]]:
        # distinct splits miss the manifest memo through its own key
        splits = self.splits()
        for s in random.Random(seed).sample(splits, len(splits)):
            yield [self._op(s)]


WORKLOADS = {"ingest": Ingest, "stream_replay": StreamReplay}
