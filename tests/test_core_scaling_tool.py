"""tools/core_scaling_sf1.py: repeated, alternating runs folded into
per-query medians and spreads (bench runs replaced by scripted results)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import core_scaling_sf1  # noqa: E402

#: Scripted per-run (query a, query b) seconds, in run order per core count.
RUNS = {
    32: [(2.0, 1.0), (4.0, 1.2), (3.0, 0.8)],
    8: [(8.0, 2.0), (6.0, 2.4), (7.0, 2.2)],
}


def test_runs_alternate_and_fold_to_medians(monkeypatch, tmp_path):
    order: list[int] = []
    pending = {cpus: iter(runs) for cpus, runs in RUNS.items()}

    def fake_run_bench(tier: str, cpus: int) -> dict:
        order.append(cpus)
        a, b = next(pending[cpus])
        return {"queries": {"a": a, "b": b}, "value": a + b, "load1_at_start": 0.5}

    monkeypatch.setattr(core_scaling_sf1, "run_bench", fake_run_bench)
    monkeypatch.setattr(core_scaling_sf1, "steal_cs", lambda: 0)
    out = tmp_path / "scaling.json"
    monkeypatch.setattr(
        sys, "argv", ["core_scaling_sf1.py", "--tier", str(tmp_path), "--out", str(out)]
    )
    core_scaling_sf1.main()
    doc = json.loads(out.read_text())

    assert order == [32, 8] * core_scaling_sf1.REPEATS
    assert doc["queries_32c"] == {"a": 3.0, "b": 1.0}
    assert doc["queries_8c"] == {"a": 7.0, "b": 2.2}
    assert doc["spread_32c"] == {"a": round(2.0 / 3.0, 3), "b": 0.4}
    assert doc["spread_8c"] == {"a": round(2.0 / 7.0, 3), "b": round(0.4 / 2.2, 3)}
    assert doc["per_query_ratio_8c_over_32c"] == {"a": 2.33, "b": 2.2}
    assert doc["runs_total_sec"] == {"32c": [3.0, 5.2, 3.8], "8c": [10.0, 8.4, 9.2]}
    assert doc["total_32c_sec"] == 3.8 and doc["total_8c_sec"] == 9.2
    assert doc["total_ratio_8c_over_32c"] == round(9.2 / 3.8, 2)
