"""Per-layer metrics of a traced run.

Every layer metric is reported for every workload; a layer a workload does
not exercise reads 0 there. A batch "unit" is one measured pass and a
stream unit is one measured micro-batch; each metric is the median over
units of that unit's total.
"""

from __future__ import annotations

import statistics

import eventlog
from harness import quantile

#: name -> unit, in the order the traced run prints them.
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.import_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.busy_ratio": "ratio",
    "exec.serial_stage_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.gc_s": "s",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "B",
    "sources.load_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.idle_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.state_commit_ms": "ms",
    "streaming.backlog_files_max": "count",
    "streaming.alarm_transitions": "count",
    "gen.late_p99_ms": "ms",
    "mem.jvm_hwm_mb": "MB",
    "mem.python_workers_hwm_mb": "MB",
    "warmup_s": "s",
}

_EXEC_FROM_LOG = {
    "exec.jobs": "jobs",
    "exec.stages": "stages",
    "exec.tasks": "tasks",
    "exec.task_s": "task_s",
    "exec.serial_stage_s": "serial_stage_s",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.spill_bytes": "spill_bytes",
    "exec.gc_s": "gc_s",
}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _outer_load_s(tracer, **match) -> float:
    """Time in ``sources.load`` spans not nested in another one."""
    spans = tracer.spans
    total = 0.0
    for s in spans:
        if s["name"] != "sources.load" or any(s["attrs"].get(k) != v for k, v in match.items()):
            continue
        parent = spans[s["parent"]] if s["parent"] is not None else None
        if parent is None or parent["name"] != "sources.load":
            total += s["end"] - s["start"]
    return total


def _base(setup: dict, res: dict) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.get_spark_s"] = setup["session.get_spark_s"]
    out["plans.import_s"] = setup["plans.import_s"]
    out["warmup_s"] = res["warmup"]["warmup_s"]
    out["mem.jvm_hwm_mb"] = res["measured"]["rss_hwm_mb"]["jvm"]
    out["mem.python_workers_hwm_mb"] = res["measured"]["rss_hwm_mb"]["python_workers"]
    return out


def batch_layers(res: dict, jobs: dict[int, dict], tracer, setup: dict, cores: int):
    """Per-layer metrics plus a per-query table for a batch workload."""
    groups = res["trace"]["groups"]
    by_group: dict[str, list[dict]] = {}
    for job in jobs.values():
        by_group.setdefault(job["group"], []).append(job)
    units = sorted({label for _, _, label in groups.values() if label.startswith("m")})

    per_unit = []
    for u in units:
        exec_jobs = [j for g, (ph, _, lab) in groups.items() if lab == u and ph == "exec" for j in by_group.get(g, [])]
        all_jobs = [j for g, (_, _, lab) in groups.items() if lab == u for j in by_group.get(g, [])]
        t = eventlog.totals(exec_jobs)
        exec_s = tracer.total("exec.noop_write", unit=u)
        row = {
            "plans.build_s": tracer.total("plans.build", unit=u),
            "plans.build_jobs": sum(n for g, n in res["trace"]["build_jobs"].items() if groups[g][2] == u),
            "exec.s": exec_s,
            "exec.busy_ratio": t["task_s"] / (exec_s * cores) if exec_s else 0.0,
            "sources.load_s": _outer_load_s(tracer, unit=u),
        }
        row.update({k: t[v] for k, v in _EXEC_FROM_LOG.items()})
        scan = eventlog.totals(all_jobs)
        row["sources.scan_rows"] = scan["scan_rows"]
        row["sources.scan_bytes"] = scan["scan_bytes"]
        per_unit.append(row)

    out = _base(setup, res)
    for k in per_unit[0] if per_unit else ():
        out[k] = _med(r[k] for r in per_unit)

    queries = {}
    for name in sorted({n for _, n, _ in groups.values()}):
        rows = []
        for u in units:
            ex = by_group.get(f"exec:{name}:{u}", [])
            t = eventlog.totals(ex)
            rows.append(
                {
                    "build_s": tracer.total("plans.build", query=name, unit=u),
                    "build_jobs": res["trace"]["build_jobs"].get(f"build:{name}:{u}", 0),
                    "exec_s": tracer.total("exec.noop_write", query=name, unit=u),
                    "load_s": _outer_load_s(tracer, query=name, unit=u),
                    **{k.split(".", 1)[1]: t[v] for k, v in _EXEC_FROM_LOG.items()},
                    "scan_rows": t["scan_rows"],
                    "scan_bytes": t["scan_bytes"],
                }
            )
        first = units[0] if units else None
        queries[name] = {
            **({k: round(_med(r[k] for r in rows), 4) for k in rows[0]} if rows else {}),
            "serial_stages": eventlog.serial_stages(by_group.get(f"exec:{name}:{first}", [])),
            "build_time_jobs": eventlog.job_summaries(by_group.get(f"build:{name}:{first}", [])),
        }
    return out, {"per_query_median": queries}


def canary_layers(res: dict, jobs: dict[int, dict], tracer, setup: dict, cores: int):
    """Per-layer metrics plus a per-batch table for the canary stream."""
    tr = res["trace"]
    progress = tr["progress"]
    by_batch: dict[int, list[dict]] = {}
    for job in jobs.values():
        if job["batch"] is not None:
            by_batch.setdefault(job["batch"], []).append(job)

    rows = []
    for i, p in enumerate(progress):
        d = p["durationMs"]
        ops = p.get("stateOperators") or [{}]
        bj = by_batch.get(p["batchId"], [])
        t = eventlog.totals(bj)
        exec_s = sum((j["end"] or j["submit"]) - j["submit"] for j in bj)
        start, end = tr["starts_ends"][i]
        nxt = tr["starts_ends"][i + 1][0] if i + 1 < len(progress) else None
        rows.append(
            {
                "streaming.trigger_ms": d.get("triggerExecution", 0),
                "streaming.add_batch_ms": d.get("addBatch", 0),
                "streaming.latest_offset_ms": d.get("latestOffset", 0),
                "streaming.query_planning_ms": d.get("queryPlanning", 0),
                "streaming.wal_commit_ms": d.get("walCommit", 0),
                "streaming.idle_ms": 1000.0 * (nxt - end) if nxt is not None else None,
                "streaming.rows_per_batch": p["numInputRows"],
                "streaming.state_rows": ops[0].get("numRowsTotal", 0),
                "streaming.state_memory_bytes": ops[0].get("memoryUsedBytes", 0),
                "streaming.state_commit_ms": ops[0].get("commitTimeMs", 0),
                "exec.s": exec_s,
                "exec.busy_ratio": t["task_s"] / (exec_s * cores) if exec_s else 0.0,
                "sources.scan_rows": t["scan_rows"],
                "sources.scan_bytes": t["scan_bytes"],
                **{k: t[v] for k, v in _EXEC_FROM_LOG.items()},
            }
        )

    out = _base(setup, res)
    for k in rows[0] if rows else ():
        out[k] = _med(r[k] for r in rows if r[k] is not None)
    out["plans.build_s"] = tracer.total("plans.build", query="canary")
    out["plans.build_jobs"] = tr["build_jobs"]["build:canary"]
    out["streaming.backlog_files_max"] = max(tr["waiting"], default=0)
    out["streaming.alarm_transitions"] = tr["transitions"]
    out["gen.late_p99_ms"] = 1000.0 * quantile(tr["gen_late_s"], 0.99) if tr["gen_late_s"] else 0.0
    return out, {"per_batch": rows}
