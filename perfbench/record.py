#!/usr/bin/env python3
"""Record the traced run of each workload into ``perfbench/results/``.

    python3 perfbench/record.py [--seed 7] [--seconds 10] [workload ...]

For each workload: one untraced run, then one traced run on the same seed.
The traced run's detail (per-layer metrics, per-query or per-micro-batch
table, span summary, run conditions) is stored with the tracing overhead,
the traced end-to-end figures minus the untraced ones.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int, out: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if out:
        cmd += ["--trace-out", out]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed ({proc.returncode}):\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in args.workloads:
        untraced = {k: v["value"] for k, v in _run(w, args.seed, args.seconds, 0)["metrics"].items()}
        path = os.path.join(HERE, "results", f"{w}.json")
        _run(w, args.seed, args.seconds, 1, path)
        with open(path) as fh:
            detail = json.load(fh)
        traced = detail["end_to_end_traced"]
        detail["end_to_end_untraced"] = untraced
        detail["tracing_overhead"] = {k: traced[k] - untraced[k] for k in untraced if k in traced}
        with open(path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(w, json.dumps(detail["tracing_overhead"]))


if __name__ == "__main__":
    main()
