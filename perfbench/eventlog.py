"""Spark event-log reader for the traced run.

The traced run launches the JVM with ``spark.eventLog.enabled``; after the
session stops, this module folds the log into per-job records (job group,
streaming batch id, stages, task time, shuffle, spill, GC, scan input) so
the benchmark can attribute execution cost to queries and micro-batches.
"""

from __future__ import annotations

import glob
import json
import os
import re

STAGE_KEYS = (
    "tasks",
    "task_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "scan_rows",
    "scan_bytes",
)


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return {
        "tasks": 1,
        "task_s": m.get("Executor Run Time", 0) / 1000.0,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "scan_rows": inp.get("Records Read", 0),
        "scan_bytes": inp.get("Bytes Read", 0),
    }


def _short_site(name: str) -> str:
    """A call site with its file paths cut to the file name, so a record
    reads the same from any checkout."""
    return re.sub(r"(?:\S*/)+(\S+)", r"\1", name)


def _operators(rdds: list[dict]) -> str:
    """The plan operators a stage runs, input side first, taken from the
    scopes of its RDDs (``Exchange > WholeStageCodegen (2) > ...``)."""
    names: list[str] = []
    for rdd in sorted(rdds, key=lambda r: r.get("RDD ID", 0)):
        try:
            scope = json.loads(rdd.get("Scope") or "{}").get("name")
        except ValueError:
            scope = None
        if scope and (not names or names[-1] != scope):
            names.append(scope)
    return " > ".join(names)


def read_jobs(lines) -> dict[int, dict]:
    """Fold event-log lines into ``{job_id: job}``.

    A job carries its ``name`` (the call site that started it), ``group`` (``spark.jobGroup.id``), ``batch`` (the
    streaming ``streaming.sql.batchId``), ``submit``/``end`` epoch seconds
    and a ``stages`` map ``{stage_id: stage}``; each stage has its name,
    plan operators, task count, wall time and the summed task metrics in
    ``STAGE_KEYS``.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            infos = ev.get("Stage Infos") or [{}]
            result_stage = max(infos, key=lambda i: i.get("Stage ID", -1))
            job = {
                "name": _short_site(result_stage.get("Stage Name", "")),
                "group": props.get("spark.jobGroup.id"),
                "batch": int(batch) if batch is not None else None,
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
                "stages": {},
            }
            jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], dict.fromkeys(STAGE_KEYS, 0))
            for k, v in _task_metrics(ev).items():
                st[k] += v
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            st = stages.setdefault(sid, dict.fromkeys(STAGE_KEYS, 0))
            st["name"] = _short_site(info.get("Stage Name", ""))
            st["operators"] = _operators(info.get("RDD Info") or [])
            st["num_tasks"] = info.get("Number of Tasks", 0)
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            st["wall_s"] = (done - sub) / 1000.0 if sub and done else 0.0
            job_id = stage_job.get(sid)
            if job_id in jobs:
                jobs[job_id]["stages"][sid] = st
    return jobs


def load(log_dir: str) -> dict[int, dict]:
    """Read the application log written into ``log_dir``: one file, or the
    numbered parts of a rolling log."""
    paths = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p)),
        key=lambda p: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", os.path.basename(p))],
    )
    if not paths:
        raise RuntimeError(f"no event log in {log_dir}")

    def lines():
        for p in paths:
            with open(p) as fh:
                yield from fh

    return read_jobs(lines())


def totals(jobs: list[dict]) -> dict:
    """Sum a set of jobs: counts, task metrics, and single-task stage wall."""
    out = dict.fromkeys(STAGE_KEYS, 0)
    out.update(jobs=len(jobs), stages=0, serial_stage_s=0.0)
    for job in jobs:
        for st in job["stages"].values():
            out["stages"] += 1
            for k in STAGE_KEYS:
                out[k] += st[k]
            if st.get("num_tasks") == 1:
                out["serial_stage_s"] += st["wall_s"]
    return out


def job_summaries(jobs: list[dict]) -> list[dict]:
    """One line per job: its wall time, stage count and the plan operators
    of its last stage, which name what the job computed."""
    rows = []
    for job in jobs:
        last = job["stages"][max(job["stages"])] if job["stages"] else {}
        rows.append(
            {"wall_s": round((job["end"] or job["submit"]) - job["submit"], 3),
             "stages": len(job["stages"]), "operators": last.get("operators", "")}
        )
    return rows


def serial_stages(jobs: list[dict]) -> list[dict]:
    """Single-task stages of a set of jobs, slowest first."""
    rows = [
        {"stage": sid, "name": st["name"], "operators": st.get("operators", ""),
         "wall_s": round(st["wall_s"], 3), "task_s": round(st["task_s"], 3)}
        for job in jobs
        for sid, st in job["stages"].items()
        if st.get("num_tasks") == 1
    ]
    return sorted(rows, key=lambda r: -r["wall_s"])
