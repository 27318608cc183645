"""``bench.py`` floor history: only rounds benched at the same scale
factor and core count set a query's quiet floor."""

from __future__ import annotations

import json

import bench


def test_bench_history_scoped_by_sf_and_cpus(tmp_path, monkeypatch):
    def artifact(rnd: int, sf: float, cpus: int) -> None:
        parsed = {"sf": sf, "queries": {"agg_q1": float(rnd)}}
        (tmp_path / f"BENCH_r{rnd:02d}.json").write_text(
            json.dumps({"cpus": cpus, "sf": sf, "parsed": parsed})
        )

    artifact(1, 0.1, 32)
    artifact(2, 0.1, 4)
    artifact(3, 1.0, 4)
    (tmp_path / "BENCH_r04.json").write_text("{not json")
    monkeypatch.setattr(bench, "_repo_dir", lambda: str(tmp_path))

    assert sorted(bench._bench_history()) == [1, 2, 3]
    assert sorted(bench._bench_history(sf=0.1)) == [1, 2]
    assert bench._bench_history(sf=0.1, cpus=4) == {2: {"agg_q1": 2.0}}
    assert bench._bench_history(sf=0.1, cpus=8) == {}
    assert bench._floor_from_history(
        "agg_q1", bench._bench_history(sf=0.1, cpus=32)
    ) == 1.0
