#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload core_batch --seed 1 --seconds 10 --trace 0

Runs one workload against the engine in the enclosing checkout on
``local[nproc]`` and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run is traced
(spans around every layer call, Spark event log on) and the metrics are
the per-layer ones. ``--trace-out FILE`` also writes the traced run's
detail (per query or per micro-batch, span summary, run conditions).

The line before the result is a JSON run record: run conditions, warm-up,
sample counts and any check failures. The batch workloads read the
engine's sf0.1 tables (``$SPARK_GRAFT_SF_DIR``, else the engine's default
directory). Everything the run writes goes under ``.perfbench/`` in the
checkout; the digests of the queries' DuckDB twins are cached there.

Exit codes: 0 correct, 1 a check failed, 2 the engine or its input tables
could not be set up.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import harness  # noqa: E402

PACKAGE = "amazon_kinesis_data_streams_health_check_spark"
WORKLOADS = ("canary_stream", "core_batch")
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "latency_geomean_ms": "ms",
    "keepup_ratio": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="write the traced run's detail here")
    return ap.parse_args(argv)


def prepare_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(harness.cores()))
    # The engine sizes its heap from the host's free memory by default,
    # which moves with whatever else runs; a fixed heap keeps memory
    # figures comparable between runs and hosts.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    confs = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir says.
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def start_session():
    """Import the engine, start its session and load the query registry.
    The engine import (which pulls in pyspark) counts as set-up."""
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    session = __import__(f"{PACKAGE}.session", fromlist=["get_spark"])
    t1 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    registry = __import__(f"{PACKAGE}.plans.registry", fromlist=["all_queries"])
    queries = registry.all_queries()
    t3 = time.perf_counter()
    return spark, queries, {
        "setup_s": t3 - t0,
        "session.get_spark_s": t2 - t1,
        "plans.import_s": t3 - t2,
    }


def input_tables() -> str:
    """The engine's sf0.1 tables: ``$SPARK_GRAFT_SF_DIR``, else the engine's
    default directory. Raises if a table is missing."""
    tables = importlib.import_module(f"{PACKAGE}.sources.tables")
    schemas = importlib.import_module(f"{PACKAGE}.schemas")
    missing = [t for t in schemas.TESTDATA_TABLES if not os.path.isfile(f"{tables.DEFAULT_SF_DIR}/{t}.parquet")]
    if missing:
        raise FileNotFoundError(f"tables {missing} not found in {tables.DEFAULT_SF_DIR} (set SPARK_GRAFT_SF_DIR)")
    return tables.DEFAULT_SF_DIR


def wrap_sources(tracer) -> None:
    """Route every ``load_table`` / ``parallel_scan`` reference in the
    engine's modules through a span, for the traced run only."""
    tables = sys.modules[f"{PACKAGE}.sources.tables"]
    originals = {n: getattr(tables, n) for n in ("load_table", "parallel_scan")}

    def wrapped(fn):
        def call(spark, sf_dir, name, *a, **kw):
            with tracer.span("sources.load", table=name, fn=fn.__name__):
                return fn(spark, sf_dir, name, *a, **kw)

        return call

    replacement = {id(fn): wrapped(fn) for fn in originals.values()}
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE):
            for attr, value in list(vars(mod).items()):
                if id(value) in replacement and value in originals.values():
                    setattr(mod, attr, replacement[id(value)])


def _inherit_unit(tracer) -> None:
    """Give ``sources.load`` spans the query/unit of their enclosing build."""
    spans = tracer.spans
    for s in spans:
        if s["name"] == "sources.load":
            p = s["parent"]
            while p is not None and spans[p]["name"] == "sources.load":
                p = spans[p]["parent"]
            if p is not None:
                for k in ("query", "unit"):
                    s["attrs"].setdefault(k, spans[p]["attrs"].get(k))


def run_workload(args, run_dir: str):
    conditions = harness.RunConditions()
    spark, queries, setup = start_session()
    tracer = harness.Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    try:
        ctx = types.SimpleNamespace(
            spark=spark, queries=queries, tracer=tracer, seed=args.seed,
            seconds=args.seconds, work_dir=run_dir, sf_dir=None, expected=None,
        )
        if args.workload == "canary_stream":
            import canary

            runner = canary.run
        else:
            import batch
            import check

            names = batch.CORE_BATCH
            ctx.sf_dir = input_tables()
            ctx.expected = check.expected_digests(
                {n: queries[n].oracle for n in names}, ctx.sf_dir, os.path.join(WORK_ROOT, "expected.json")
            )
            runner = lambda c: batch.run(c, names)  # noqa: E731
        if args.trace:
            wrap_sources(tracer)
        res = runner(ctx)
        jvm_mb, workers_mb = harness.rss_high_water_mb(harness.jvm_pid(spark))
        res["measured"]["rss_hwm_mb"] = {"jvm": jvm_mb, "python_workers": workers_mb}
    finally:
        harness.stop_session(spark)
    res["metrics"]["setup_s"] = setup["setup_s"]
    res["setup"] = setup
    res["conditions"] = conditions.finish(
        gen_late_p99_ms=res["measured"].get("gen_late_p99_ms"),
    )
    return res, tracer


def traced_metrics(args, res, tracer, run_dir):
    import eventlog
    import layers

    jobs = eventlog.load(os.path.join(run_dir, "eventlog"))
    _inherit_unit(tracer)
    fn = layers.canary_layers if args.workload == "canary_stream" else layers.batch_layers
    per_layer, detail = fn(res, jobs, tracer, res["setup"], harness.cores())
    detail.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        end_to_end_traced=res["metrics"],
        per_layer=per_layer,
        spans=tracer.summary(),
        conditions=res["conditions"],
        warmup=res["warmup"],
        measured=res["measured"],
        setup=res["setup"],
    )
    return {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in per_layer.items()}, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, bool(args.trace))
    try:
        try:
            res, tracer = run_workload(args, run_dir)
        except Exception as exc:
            print(f"perfbench: run failed: {type(exc).__name__}: {exc}", file=sys.stderr)
            return 2
        if args.trace:
            metrics, detail = traced_metrics(args, res, tracer, run_dir)
            if args.trace_out:
                with open(args.trace_out, "w") as fh:
                    json.dump(detail, fh, indent=1, sort_keys=True, default=float)
                    fh.write("\n")
        else:
            metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = res["failed"] == 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "conditions": res["conditions"],
        "setup": res["setup"],
        "warmup": res["warmup"],
        "measured": res["measured"],
        "failed_ratio": res["failed"] / res["attempted"],
        "errors": res["errors"],
    }
    print(json.dumps({"run_record": record}, default=float))
    print(
        json.dumps(
            {"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
