#!/usr/bin/env python
"""Core-scaling evidence at sf1 (round-10 verdict item 6).

The driver's 8-vs-32-core comparison runs at sf0.1, where every bench query
is dominated by fixed per-job/per-task overhead — the round-9 scaling block
measured the SCHEDULER, not the engine (8 cores beat 32 in total). This tool
produces the compute-bound version of the same evidence: it builds the
sf1.0 tier (tools/build_sf1.py — 10x sf0.1 through the same loaders), then
runs the UNMODIFIED bench harness (bench.py, frozen this round) via its own
env contract — SPARK_GRAFT_CPUS=32 and =8, ``REPEATS`` runs each, the two
core counts alternating so host drift lands on both — and writes the
per-query median, spread and ratio table to docs/CORE_SCALING_sf1_r10.json.

Nothing is cached across invocations: each bench run is a fresh process
computing from the sf1 parquet; the tier itself is regenerated testdata
(deterministic generator), not derived query results.

Usage: python tools/core_scaling_sf1.py [--tier /tmp/scale_tier/sf1.0]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: bench.py runs per core count.
REPEATS = 3


def steal_cs() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_bench(tier: str, cpus: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = tier
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
    )
    if out.returncode != 0:
        raise RuntimeError(
            f"bench at {cpus} cpus exited {out.returncode}:\n{out.stderr[-2000:]}"
        )
    for line in reversed(out.stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            doc = json.loads(line)
            if "queries" in doc and "value" in doc:
                return doc
            raise RuntimeError(f"bench at {cpus} cpus: result line lacks queries/value: {line}")
    raise RuntimeError(f"bench at {cpus} cpus produced no JSON:\n{out.stderr[-2000:]}")


def spread(xs: list[float]) -> float:
    """(max - min) / median of repeated timings."""
    med = statistics.median(xs)
    return round((max(xs) - min(xs)) / med, 3) if med > 0 else 0.0


def fold(runs: list[dict]) -> dict:
    """Repeated bench results at one core count -> per-query and total
    median seconds and spreads."""
    names = sorted(set.intersection(*(set(r["queries"]) for r in runs)))
    per_query = {n: [r["queries"][n] for r in runs] for n in names}
    totals = [r["value"] for r in runs]
    return {
        "total_sec": statistics.median(totals),
        "total_spread": spread(totals),
        "queries": {n: statistics.median(xs) for n, xs in per_query.items()},
        "spread": {n: spread(xs) for n, xs in per_query.items()},
        "runs_total_sec": totals,
        "load1_at_start": [r["load1_at_start"] for r in runs],
    }


def measure(tier: str) -> dict:
    """``REPEATS`` bench runs at 32 and at 8 cores, alternating 32/8."""
    runs: dict[int, list[dict]] = {32: [], 8: []}
    s0 = steal_cs()
    for _ in range(REPEATS):
        for cpus in (32, 8):
            runs[cpus].append(run_bench(tier, cpus))
    s1 = steal_cs()
    b32, b8 = fold(runs[32]), fold(runs[8])
    ratios = {
        name: round(b8["queries"][name] / b32["queries"][name], 2)
        for name in b32["queries"]
        if name in b8["queries"] and b32["queries"][name] > 0
    }
    return {
        "what": "bench.py (frozen harness) at sf1.0, 32 vs 8 cores — "
        "compute-bound core-scaling evidence; ratio = t8/t32 (4.0 = ideal) "
        f"of per-query medians over {REPEATS} runs each, alternating 32/8; "
        "spread = (max - min) / median",
        "tier": tier,
        "repeats": REPEATS,
        "total_32c_sec": b32["total_sec"],
        "total_8c_sec": b8["total_sec"],
        "total_ratio_8c_over_32c": round(b8["total_sec"] / b32["total_sec"], 2),
        "total_spread": {"32c": b32["total_spread"], "8c": b8["total_spread"]},
        "per_query_ratio_8c_over_32c": ratios,
        "queries_32c": b32["queries"],
        "queries_8c": b8["queries"],
        "spread_32c": b32["spread"],
        "spread_8c": b8["spread"],
        "runs_total_sec": {"32c": b32["runs_total_sec"], "8c": b8["runs_total_sec"]},
        "load1_at_start": {"32c": b32["load1_at_start"], "8c": b8["load1_at_start"]},
        "steal_cs_during": s1 - s0,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tier", default="/tmp/scale_tier/sf1.0")
    ap.add_argument("--out", default=os.path.join(REPO, "docs", "CORE_SCALING_sf1_r10.json"))
    args = ap.parse_args()

    if not os.path.isdir(args.tier):
        print(f"building sf1 tier at {args.tier} ...", file=sys.stderr)
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "build_sf1.py"), "--out", args.tier],
            check=True,
            cwd=REPO,
        )

    doc = measure(args.tier)
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps({k: doc[k] for k in
                      ("total_32c_sec", "total_8c_sec", "total_ratio_8c_over_32c")}))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
