"""Shared plumbing: session lifecycle, memory sampling, run conditions,
statistics and the span recorder used by the traced run."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platform without affinity masks
        return os.cpu_count() or 1


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


# --------------------------------------------------------------------------
# /proc readers
# --------------------------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def load1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


class RunConditions:
    """Host state bracketing a run: load average and CPU steal share."""

    def __init__(self) -> None:
        self.load1_start = load1()
        self._jiffies = cpu_jiffies()

    def finish(self, **extra) -> dict:
        total, steal = cpu_jiffies()
        d_total = max(1, total - self._jiffies[0])
        return {
            "nproc": cores(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "load1_start": round(self.load1_start, 2),
            "load1_end": round(load1(), 2),
            "cpu_steal_pct": round(100.0 * (steal - self._jiffies[1]) / d_total, 3),
            **extra,
        }


def rss_high_water_mb(jvm_pid: int) -> tuple[float, float]:
    """(JVM ``VmHWM``, summed ``VmHWM`` of the Python workers it forked) in
    MB. Workers are reused across tasks, so reading their high-water marks
    while the session is still up covers the run without sampling."""
    workers = sum(_status_kb(p, "VmHWM") for p in descendants(jvm_pid))
    return _status_kb(jvm_pid, "VmHWM") / 1024.0, workers / 1024.0


# --------------------------------------------------------------------------
# session lifecycle
# --------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the launcher exits when its stdin closes
        except Exception:
            pass
        try:
            proc.wait(timeout_s)
        except Exception:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, run id,
    attributes); counts ride along as attributes. Nothing is written until
    ``spans`` is read at the end of the run."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self._spans: list[dict] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        sid = len(self._spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self._spans.append(rec)
        stack.append(sid)
        try:
            yield attrs
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a micro-batch)."""
        if self.enabled:
            self._spans.append(
                {"id": len(self._spans), "name": name, "parent": None,
                 "run": self.run_id, "start": start, "end": end, "attrs": attrs}
            )

    @property
    def spans(self) -> list[dict]:
        return self._spans

    def total(self, name: str, **match) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self._spans
            if s["name"] == name and all(s["attrs"].get(k) == v for k, v in match.items())
        )

    def summary(self) -> dict:
        """Per span name: count, total, and self time (duration minus the
        part covered by child spans)."""
        child_time: dict[int, float] = {}
        for s in self._spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self._spans:
            d = s["end"] - s["start"]
            o = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            o["count"] += 1
            o["total_s"] += d
            o["self_s"] += d - child_time.get(s["id"], 0.0)
        return {k: {kk: round(vv, 4) for kk, vv in v.items()} for k, v in sorted(out.items())}
