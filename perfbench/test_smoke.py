"""Smoke test of the benchmark itself at sf0.01.

    python3 -m pytest perfbench/test_smoke.py -q     # from the repository root

Each workload runs once untraced and once traced (about 40 s per run).
The tests assert that every metric named in BENCHMARK.json is emitted with
its unit, that no op fails its oracle check, and that the same seed gives
the same inputs and the same op sequence.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
SEED = 7


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--sf", "0.01"]
    cmd[0] = sys.executable
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, info_line, result_line = proc.stdout.strip().splitlines()
    return json.loads(info_line)["info"], json.loads(result_line)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_run_emits_every_metric_and_passes_its_oracles(workload, trace):
    info, result = _run(workload, trace)
    spec = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert sorted(result["metrics"]) == sorted(m["name"] for m in spec)
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in spec)
    assert result["correct"] and result["failed"] == 0 and info["failed_frac"] == 0
    assert result["attempted"] == len(info["sequence"]) >= 1
    assert info["nproc"] >= 1 and info["scheduler.floor_ms"] > 0

    # the run sent the op sequence its seed prescribes
    wl = WORKLOADS[workload]("unused", info["rows"])
    rounds = wl.rounds(SEED)
    expected = []
    while len(expected) < len(info["sequence"]):
        expected += [op.key for op in next(rounds)]
    assert info["sequence"] == expected[: len(info["sequence"])]


def test_same_seed_same_inputs_and_sequence(tmp_path):
    tables = ("events", "documents")
    a = datagen.generate(str(tmp_path / "a"), 0.01, SEED, tables)
    b = datagen.generate(str(tmp_path / "b"), 0.01, SEED, tables)
    c = datagen.generate(str(tmp_path / "c"), 0.01, SEED + 1, tables)
    assert a == b == c == {"events": 10_000, "documents": 500}
    for t in tables:
        ta, tb, tc = (pq.read_table(tmp_path / d / f"{t}.parquet") for d in "abc")
        assert ta.equals(tb)
        assert not ta.equals(tc)
    for name, cls in WORKLOADS.items():
        seq = [[op.key for op in next(cls("unused", a).rounds(s))] for s in (SEED, SEED, SEED + 1)]
        assert seq[0] == seq[1], name
