#!/usr/bin/env python
"""Core-scaling evidence at sf1 (round-10 verdict item 6).

The driver's 8-vs-32-core comparison runs at sf0.1, where every bench query
is dominated by fixed per-job/per-task overhead — the round-9 scaling block
measured the SCHEDULER, not the engine (8 cores beat 32 in total). This tool
produces the compute-bound version of the same evidence: it builds the
sf1.0 tier (tools/build_sf1.py — 10x sf0.1 through the same loaders), then
runs the UNMODIFIED bench harness (bench.py, frozen this round) twice via
its own env contract — SPARK_GRAFT_CPUS=32 and =8 — and writes the
per-query ratio table to docs/CORE_SCALING_sf1_r10.json.

Nothing is cached across invocations: each bench run is a fresh process
computing from the sf1 parquet; the tier itself is regenerated testdata
(deterministic generator), not derived query results.

Usage: python tools/core_scaling_sf1.py [--tier /tmp/scale_tier/sf1.0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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

    s0 = steal_cs()
    b32 = run_bench(args.tier, 32)
    b8 = run_bench(args.tier, 8)
    s1 = steal_cs()

    ratios = {
        name: round(b8["queries"][name] / b32["queries"][name], 2)
        for name in sorted(b32["queries"])
        if name in b8["queries"] and b32["queries"][name] > 0
    }
    doc = {
        "what": "bench.py (frozen harness) at sf1.0, 32 vs 8 cores — "
        "compute-bound core-scaling evidence; ratio = t8/t32 (4.0 = ideal)",
        "tier": args.tier,
        "total_32c_sec": b32["value"],
        "total_8c_sec": b8["value"],
        "total_ratio_8c_over_32c": round(b8["value"] / b32["value"], 2),
        "per_query_ratio_8c_over_32c": ratios,
        "queries_32c": b32["queries"],
        "queries_8c": b8["queries"],
        "load1_at_start": {"32c": b32["load1_at_start"], "8c": b8["load1_at_start"]},
        "steal_cs_during": s1 - s0,
    }
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps({k: doc[k] for k in
                      ("total_32c_sec", "total_8c_sec", "total_ratio_8c_over_32c")}))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
