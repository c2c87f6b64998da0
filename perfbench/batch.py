"""Closed-loop batch workloads: one client runs a fixed query suite, pass
after pass, each query built through its registry builder and written to
the ``noop`` sink. The run seed sets the query order of every pass."""

from __future__ import annotations

import random
import statistics
import time

from harness import geomean, quantile

#: The healthcheck core and TPC-H shapes (scans, joins and aggregation over
#: ``events``, ``lineitem`` and ``orders``; no jobs at build time), then one
#: query per corpus operator module (``text_quality``: textstats,
#: ``dedup_minhash_lsh``: dedup and its LSH self-join,
#: ``ann_topk_bruteforce``: similarity) and ``bpe_merge_learn``, which fires
#: 12 jobs while its plan is built. The corpus queries ride in this suite
#: because a third workload, at 45 s a run, does not fit the time a
#: benchmark round may take; the per-query table of a traced run keeps the
#: two groups apart.
CORE_BATCH = (
    "health_lag_alarm",
    "consumer_metrics",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "asof_view_before_purchase",
    "user_sessions",
    "text_quality",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "bpe_merge_learn",
)

#: The cold check pass is the warm-up. Passes keep getting faster for three
#: or four more ``noop`` passes (10.7, 8.7, 8.2, 6.4 s for the ten core
#: queries on a 4-vCPU VM), which a benchmark round cannot afford in every
#: run, so the measured passes include the end of the warm-up, the same way
#: in every run. With one measured pass, ``latency_p90_ms`` rests on single
#: samples of the slowest queries and spread 0.25 (quartile distance over
#: median) across ten seeds; two passes bring it near the other metrics.
MIN_MEASURED_PASSES = 2


class BatchRun:
    def __init__(self, spark, queries, names, sf_dir, expected, tracer, seed):
        self.spark = spark
        self.queries = queries
        self.names = names
        self.sf_dir = sf_dir
        self.expected = expected
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        #: job group -> (phase, query, pass label); filled in traced runs.
        self.groups: dict[str, tuple[str, str, str]] = {}
        self.build_jobs: dict[str, int] = {}

    def _group(self, phase: str, name: str, label: str) -> None:
        if self.tracer.enabled:
            g = f"{phase}:{name}:{label}"
            self.groups[g] = (phase, name, label)
            self.spark.sparkContext.setJobGroup(g, g)

    def _build(self, name: str, label: str):
        self._group("build", name, label)
        with self.tracer.span("plans.build", query=name, unit=label):
            df = self.queries[name].builder(self.spark, self.sf_dir)
        if self.tracer.enabled:
            g = f"build:{name}:{label}"
            self.build_jobs[g] = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(g))
        return df

    def check_pass(self) -> float:
        """Collect every query once, digest it and compare with its DuckDB
        twin. Runs cold, so it is also the first warm-up pass."""
        from check import frame_digest

        t0 = time.perf_counter()
        for name in self.rng.sample(self.names, len(self.names)):
            self.attempted += 1
            try:
                df = self._build(name, "check")
                self._group("exec", name, "check")
                with self.tracer.span("check.collect", query=name, unit="check"):
                    got = frame_digest(df.toPandas())
            except Exception as exc:  # a query that raises is a failure
                self.failed += 1
                self.mismatches.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            if got != self.expected[name]:
                self.failed += 1
                self.mismatches.append(f"{name}: got {got}, want {self.expected[name]}")
        return time.perf_counter() - t0

    def noop_pass(self, label: str) -> tuple[float, dict[str, float]]:
        per_query: dict[str, float] = {}
        t0 = time.perf_counter()
        with self.tracer.span("pass", unit=label):
            for name in self.rng.sample(self.names, len(self.names)):
                self.attempted += 1
                q0 = time.perf_counter()
                try:
                    df = self._build(name, label)
                    self._group("exec", name, label)
                    with self.tracer.span("exec.noop_write", query=name, unit=label):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    self.failed += 1
                    self.mismatches.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                    continue
                per_query[name] = time.perf_counter() - q0
        return time.perf_counter() - t0, per_query


def run(ctx, names) -> dict:
    """Check pass, then measured passes for ``ctx.seconds``."""
    b = BatchRun(ctx.spark, ctx.queries, list(names), ctx.sf_dir, ctx.expected, ctx.tracer, ctx.seed)
    check_s = b.check_pass()

    passes: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    t0 = time.perf_counter()
    while len(passes) < MIN_MEASURED_PASSES or time.perf_counter() - t0 < ctx.seconds:
        wall, pq = b.noop_pass(f"m{len(passes)}")
        passes.append(wall)
        for n, s in pq.items():
            per_query[n].append(s)

    samples = [s for v in per_query.values() for s in v]
    # Percentiles are taken over the per-query medians: over raw samples the
    # p50 falls between whichever two queries straddle it in a given run.
    medians = [statistics.median(v) for v in per_query.values() if v]
    return {
        "metrics": {
            "pass_s": statistics.median(passes),
            "latency_p50_ms": 1000.0 * quantile(medians, 0.5),
            "latency_p90_ms": 1000.0 * quantile(medians, 0.9),
            "latency_geomean_ms": 1000.0 * geomean(medians),
            # A closed loop offers the next query only when the last one is
            # done, so it completes all it offers unless a query fails.
            "keepup_ratio": 1.0 - b.failed / max(1, b.attempted),
        },
        "attempted": b.attempted,
        "failed": b.failed,
        "errors": b.mismatches,
        "warmup": {"check_pass_s": check_s, "warmup_s": check_s},
        "measured": {
            "passes_s": passes,
            "query_median_s": {n: statistics.median(v) for n, v in per_query.items() if v},
            "samples": len(samples),
        },
        "trace": {"groups": b.groups, "build_jobs": b.build_jobs},
    }
