"""Open-loop canary stream: the paper's health-check pipeline end to end.

A generator thread in the benchmark process drops one kinesis-event JSON
file every ``PERIOD_S`` into the consumer's input directory (write, then
rename), on a fixed schedule that never waits for the engine. The schedule
starts once the engine has consumed a first, priming file: the cold first
micro-batch takes several seconds, and a schedule running through it would
leave a backlog that takes several more to drain. Each file
holds ``RECORDS_PER_FILE`` golden-shape records whose payload instant and
``approximateArrivalTimestamp`` are the record's creation time; the run
seed assigns records to ``N_KEYS`` stream keys. The engine runs
``consumer_stream -> alarm_state_stream -> alerts_foreach_batch_sink``.

Latency is per record: from the moment its file was due to the end of the
micro-batch that consumed it. The file source reads one row per file and
takes new files oldest first, so the k-th file written belongs to the
micro-batch whose running ``numInputRows`` total first exceeds k.
"""

from __future__ import annotations

import base64
import json
import os
import random
import statistics
import threading
import time
from datetime import datetime, timezone

from harness import geomean, quantile

PERIOD_S = 0.1
RECORDS_PER_FILE = 20
N_KEYS = 16
KEYS = tuple(f"canary-{k:02d}" for k in range(N_KEYS))
THRESHOLD_S = 1.0
TIMEOUT_MS = 60_000
#: High enough that one trigger always takes the whole backlog.
MAX_FILES_PER_TRIGGER = 1_000_000
#: Warm-up ends at the first micro-batch after the priming one whose size
#: is within SETTLE_FILES of its predecessor's: each trigger takes every
#: file that arrived while the last one ran, so batch sizes change while
#: trigger times still move and stay put once they have settled.
MAX_WARMUP_S = 40.0
SETTLE_FILES = 1
DRAIN_S = 60.0
SEQ_BASE = 49545115243490985018280067714973144582180062593244200961
VALID_TRANSITIONS = {("OK", "ALARM"), ("ALARM", "OK")}


def _iso_ms(t: float) -> str:
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def record(seq: int, key: str, created: float) -> dict:
    """One golden-shape kinesis record carrying a tracer for ``created``."""
    instant = _iso_ms(created)
    payload = json.dumps({"currentInstant": instant}, separators=(",", ":"))
    seq_s = str(SEQ_BASE + seq)
    return {
        "kinesis": {
            "kinesisSchemaVersion": "1.0",
            "partitionKey": instant,
            "sequenceNumber": seq_s,
            "data": base64.b64encode(payload.encode()).decode(),
            "approximateArrivalTimestamp": round(created, 3),
        },
        "eventSource": "aws:kinesis",
        "eventVersion": "1.0",
        "eventID": f"shardId-000000000000:{seq_s}",
        "eventName": "aws:kinesis:record",
        "invokeIdentityArn": "arn:aws:iam::123456789012:role/lambda-role",
        "awsRegion": "us-east-2",
        "eventSourceARN": f"arn:aws:kinesis:us-east-2:123456789012:stream/{key}",
    }


class Generator(threading.Thread):
    """Writes the priming file 0 at once, then, from when ``primed`` is set,
    file k at ``start + k * PERIOD_S`` for every k due before ``stop_at``,
    which the caller sets once it knows the window."""

    def __init__(self, events_dir: str, staging_dir: str, seed: int, tracer):
        super().__init__(daemon=True, name="canary-generator")
        self.events_dir = events_dir
        self.staging_dir = staging_dir
        self.stop_at = float("inf")
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.start_s = 0.0
        self.primed = threading.Event()
        self.due: list[float] = []
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def _write(self, k: int, due: float) -> None:
        created = time.time()
        recs = [
            record(k * RECORDS_PER_FILE + i, self.rng.choice(KEYS), created)
            for i in range(RECORDS_PER_FILE)
        ]
        name = f"f{k:06d}.json"
        with self.tracer.span("gen.write_file", file=k):
            staged = os.path.join(self.staging_dir, name)
            with open(staged, "w") as fh:
                fh.write(json.dumps({"records": recs}))
            os.rename(staged, os.path.join(self.events_dir, name))
        self.due.append(due)
        self.late_s.append(created - due)

    def run(self) -> None:
        try:
            self._write(0, time.time())
            self.primed.wait()
            self.start_s = time.time()
            k = 1
            while (due := self.start_s + k * PERIOD_S) < self.stop_at:
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                self._write(k, due)
                k += 1
        except BaseException as exc:  # surfaced by the caller as a failure
            self.error = exc


def batch_ends(progress: list[dict]) -> list[tuple[int, float, float]]:
    """(files, start, end) per micro-batch in batch order; end is the
    progress ``timestamp`` (trigger start) plus ``triggerExecution``."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        start = _epoch(p["timestamp"])
        out.append((int(p["numInputRows"]), start, start + p["durationMs"]["triggerExecution"] / 1000.0))
    return out


def file_latencies(due: list[float], progress: list[dict]) -> list[float | None]:
    """Latency of each file written (``None`` if no batch consumed it)."""
    ends: list[float] = []
    for n, _, end in batch_ends(progress):
        ends.extend([end] * n)
    return [ends[k] - d if k < len(ends) else None for k, d in enumerate(due)]


def keepup_ratio(progress: list[dict], w0: float, w1: float) -> float:
    """Consumption rate over offered rate, over the micro-batches ending
    inside ``[w0, w1]``: the least-squares slope of files consumed against
    batch end time, times ``PERIOD_S``. A batch takes what arrived while the
    previous one ran, so a sustainable rate reads 1.0, an engine that
    consumes a file slower than one arrives reads below it (its batches
    grow), and one still draining a backlog reads above it. The fit uses
    every batch, so one slow first or last batch moves it less than a
    two-point rate."""
    ends, files, total = [], [], 0
    for n, _, end in batch_ends(progress):
        total += n
        if w0 <= end <= w1:
            ends.append(end)
            files.append(total)
    if len(ends) < 2:
        return 0.0
    return statistics.linear_regression(ends, files).slope * PERIOD_S


class _Collector:
    """Builds a StreamingQueryListener that keeps every progress event
    (``recentProgress`` keeps only the newest 100)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        collector = self
        self.progress: list[dict] = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                collector.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def consumed(self) -> int:
        return sum(int(p["numInputRows"]) for p in list(self.progress))


def settled_at(progress: list[dict]) -> float | None:
    """End of the first micro-batch, third or later, whose file count is
    within ``SETTLE_FILES`` of the one before it."""
    batches = batch_ends([p for p in progress if int(p["numInputRows"]) > 0])
    for i in range(2, len(batches)):
        if abs(batches[i][0] - batches[i - 1][0]) <= SETTLE_FILES:
            return batches[i][2]
    return None


def settle(collector: "_Collector", gen: Generator, query, t_start: float) -> tuple[float, bool]:
    """Release the schedule once the priming file is consumed, then wait
    out the warm-up; return the window start and whether the stream settled
    within ``MAX_WARMUP_S``."""
    def waiting() -> bool:
        return time.time() - t_start < MAX_WARMUP_S and query.isActive and gen.error is None

    while collector.consumed() < 1 and waiting():
        time.sleep(0.02)
    gen.primed.set()
    while waiting():
        end = settled_at(list(collector.progress))
        if end is not None:
            return end, True
        time.sleep(0.05)
    return time.time(), False


def run(ctx) -> dict:
    from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
        alerts_foreach_batch_sink,
        consumer_stream,
    )
    from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
        alarm_state_stream,
    )

    spark, tracer = ctx.spark, ctx.tracer
    dirs = {k: os.path.join(ctx.work_dir, k) for k in ("events", "staging", "ckpt", "alerts")}
    for k in ("events", "staging"):
        os.makedirs(dirs[k])
    # The alarm uses processing-time timeouts, which make Spark run empty
    # micro-batches back to back; with them off the drained query idles, so
    # stop() never lands inside a batch. While files arrive every 100 ms
    # there is always new data, so measured batches are unaffected.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    collector = _Collector()
    spark.streams.addListener(collector.listener)

    t_start = time.time()
    if tracer.enabled:
        spark.sparkContext.setJobGroup("build:canary", "build:canary")
    with tracer.span("plans.build", query="canary"):
        metrics = consumer_stream(spark, dirs["events"], max_files_per_trigger=MAX_FILES_PER_TRIGGER)
        alarms = alarm_state_stream(metrics, threshold=THRESHOLD_S, timeout_ms=TIMEOUT_MS)
        query = alerts_foreach_batch_sink(alarms, dirs["alerts"], dirs["ckpt"])
    build_jobs = (
        len(spark.sparkContext.statusTracker().getJobIdsForGroup("build:canary"))
        if tracer.enabled
        else 0
    )
    gen = Generator(dirs["events"], dirs["staging"], ctx.seed, tracer)
    gen.start()
    w0, settled = settle(collector, gen, query, t_start)
    w1 = w0 + ctx.seconds
    gen.stop_at = w1
    gen.join()
    warmup_s = w0 - t_start  # query start to the start of the measured window

    written = len(gen.due)
    deadline = time.time() + DRAIN_S
    while collector.consumed() < written and time.time() < deadline and query.isActive:
        time.sleep(0.05)
    while query.isActive and query.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.02)
    engine_error = query.exception()
    query.stop()
    spark.streams.removeListener(collector.listener)
    progress = [p for p in collector.progress if int(p["numInputRows"]) > 0]

    # -- correctness ------------------------------------------------------
    consumed = sum(int(p["numInputRows"]) for p in progress)
    errors: list[str] = []
    failed = max(0, written - consumed)
    if consumed != written:
        errors.append(f"consumed {consumed} of {written} files")
    if engine_error is not None or gen.error is not None:
        errors.append(f"engine: {engine_error}; generator: {gen.error}")
        failed = max(failed, 1)
    transitions = []
    if os.path.isdir(dirs["alerts"]):
        transitions = [r.asDict() for r in spark.read.parquet(dirs["alerts"]).collect()]
    bad = [
        r
        for r in transitions
        if not r["transitioned"]
        or r["stream_name"] not in KEYS
        or (r["prev_state"], r["state"]) not in VALID_TRANSITIONS
    ]
    if bad:
        failed += len(bad)
        errors.append(f"{len(bad)} invalid transition rows, e.g. {bad[0]}")

    # -- end-to-end metrics ----------------------------------------------
    lat = file_latencies(gen.due, progress)
    window = [x for x, d in zip(lat, gen.due) if w0 <= d < w1 and x is not None]
    per_record = [x for x in window for _ in range(RECORDS_PER_FILE)]
    batches = batch_ends(progress)
    files_before = 0
    measured = []  # (batch progress, files waiting when it started, start, end)
    for p, (n, start, end) in zip(sorted(progress, key=lambda p: p["batchId"]), batches):
        dues = gen.due[files_before : files_before + n]
        if dues and dues[-1] >= w0 and dues[0] < w1:
            waiting = sum(1 for d in gen.due if d <= start) - files_before
            measured.append((p, waiting, start, end))
        files_before += n
    triggers = [p["durationMs"]["triggerExecution"] / 1000.0 for p, *_ in measured]
    metrics_out = {
        "pass_s": statistics.median(triggers) if triggers else 0.0,
        "latency_p50_ms": 1000.0 * quantile(per_record, 0.5) if per_record else 0.0,
        "latency_p90_ms": 1000.0 * quantile(per_record, 0.9) if per_record else 0.0,
        "latency_geomean_ms": 1000.0 * geomean(per_record) if per_record else 0.0,
        "keepup_ratio": keepup_ratio(progress, w0, w1),
    }

    for p, _, start, end in measured:
        tracer.add("streaming.batch", start, end, batch=p["batchId"], files=p["numInputRows"])
    return {
        "metrics": metrics_out,
        "attempted": max(1, written),
        "failed": failed,
        "errors": errors,
        "warmup": {
            "warmup_s": warmup_s,
            "settled": settled,
            "batch_files": [n for n, _, end in batches if end <= w0],
        },
        "measured": {
            "files": len(window),
            "records": len(per_record),
            "batches": len(measured),
            "gen_late_p99_ms": 1000.0 * quantile(gen.late_s, 0.99) if gen.late_s else 0.0,
        },
        "trace": {
            "progress": [p for p, *_ in measured],
            "waiting": [w for _, w, *_ in measured],
            "starts_ends": [(s, e) for _, _, s, e in measured],
            "transitions": len(transitions),
            "build_jobs": {"build:canary": build_jobs},
            "gen_late_s": gen.late_s,
        },
    }
