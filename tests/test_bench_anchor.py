"""bench._prev_bench picks its trend anchor only among records run at
the current core count; a record without ``cpus`` ran at the default
full width."""

import json

import pytest

import bench


@pytest.mark.parametrize("cpus, want", [(8, "BENCH_r01_c8.json"), (32, "BENCH_r02.json")])
def test_prev_bench_anchors_at_same_core_count(tmp_path, monkeypatch, cpus, want):
    def record(name, **extra):
        parsed = {"metric": "warm_query_total", "value": 1.0, "sf": 0.1, "queries": {"q": 1.0}}
        (tmp_path / name).write_text(json.dumps({"parsed": parsed, **extra}))

    record("BENCH_r01_c8.json", cpus=8)
    record("BENCH_r02.json")  # legacy: no cpus field, newer
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "CPUS", cpus)
    path, _data, provenance = bench._prev_bench(0.1)
    assert (path.rsplit("/", 1)[-1], provenance) == (want, "driver-record")
