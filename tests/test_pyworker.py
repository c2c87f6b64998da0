"""The Python-worker contract: lazy zip-cache invalidation on Spark workers.

The first tests drive the backport directly, with no Spark job, by raising
the worker flag that ``setup_spark_files`` sets in a real worker. The last
one runs engine UDFs and checks, from inside every task, that the backport
is in place there and nowhere on the driver.
"""

from __future__ import annotations

import importlib
import os
import pathlib
import sys
import time
import zipfile
import zipimport

import pytest
from pyspark.core.files import SparkFiles
from pyspark.sql import GroupedData
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark import pyworker
from amazon_kinesis_data_streams_health_check_spark.operators.multimodal import (
    decode_media,
    synthesize_media,
)
from amazon_kinesis_data_streams_health_check_spark.sources.tables import load_table
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import replay_feed
from amazon_kinesis_data_streams_health_check_spark.streaming.stateful_alarm import (
    alarm_state_stream,
)

STDLIB = pyworker._STDLIB_INVALIDATE
PROBE = "pyworker_probe_mod"

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip invalidation is lazy in the stdlib"
)


@pytest.fixture
def on_worker(monkeypatch):
    """Pose as a Spark Python worker; the stdlib method comes back after."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STDLIB)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    yield
    sys.modules.pop(PROBE, None)


def _write_archive(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{PROBE}.py", f"VALUE = {value!r}\n")


def _import_probe():
    sys.modules.pop(PROBE, None)
    return importlib.import_module(PROBE)


def test_changed_archive_is_reread(on_worker, tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    _write_archive(archive, "one")
    monkeypatch.syspath_prepend(str(archive))
    assert pyworker.ready()
    assert _import_probe().VALUE == "one"

    _write_archive(archive, "second")
    importlib.invalidate_caches()
    assert _import_probe().VALUE == "second"

    # An archive that cannot be stat'ed falls through to the stdlib method.
    archive.unlink()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        _import_probe()
    _write_archive(archive, "third")
    importlib.invalidate_caches()
    assert _import_probe().VALUE == "third"


def test_unchanged_archive_is_not_reread(on_worker, tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    _write_archive(archive, "one")
    monkeypatch.syspath_prepend(str(archive))
    _import_probe()
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    importlib.invalidate_caches()
    assert str(archive) in reads  # the stdlib re-reads on every call

    assert pyworker.ready()
    importlib.invalidate_caches()  # first call records each importer's signature
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert _import_probe().VALUE == "one"


def test_install_is_idempotent(on_worker):
    assert pyworker.ready() and pyworker.ready()
    importlib.reload(pyworker)
    assert pyworker.ready()
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is STDLIB
    assert pyworker._STDLIB_INVALIDATE is STDLIB


def test_install_only_on_workers_below_3_13(on_worker, monkeypatch):
    monkeypatch.setattr(pyworker, "_LAZY_IN_STDLIB", True)
    assert not pyworker.ready()
    assert zipimport.zipimporter.invalidate_caches is STDLIB
    monkeypatch.setattr(pyworker, "_LAZY_IN_STDLIB", False)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    assert not pyworker.ready()
    assert zipimport.zipimporter.invalidate_caches is STDLIB


def _reporting(func, report_dir: str):
    """Wrap a UDF so each call first records, in ``report_dir``, its task
    and whether this worker runs the backport. Imports nothing of the
    engine: only the wrapped engine UDF may bring the backport in."""

    def report() -> None:
        import uuid
        import zipimport

        from pyspark import TaskContext

        ctx = TaskContext.get()
        active = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        with open(os.path.join(report_dir, uuid.uuid4().hex), "w") as f:
            f.write(f"{ctx.stageId()}:{ctx.partitionId()} {int(active)}")

    if func.__code__.co_argcount == 3:  # (key, pdfs, state)

        def stateful(key, pdfs, state):
            report()
            return func(key, pdfs, state)

        return stateful

    def batches(it):
        report()
        return func(it)

    return batches


def _reports(report_dir: str) -> tuple[set[str], list[str]]:
    """(distinct ``stage:partition`` tasks, one '1'/'0' per UDF call)."""
    lines = [p.read_text().split() for p in pathlib.Path(report_dir).iterdir()]
    return {task for task, _ in lines}, [active for _, active in lines]


def test_engine_udfs_run_the_backport_on_every_worker(spark, sf_small, tmp_path, monkeypatch):
    """An alarm drive and a ``mapInPandas`` pass: every task of both, more
    tasks than cores, reports the backport, and the driver keeps the stdlib
    method. Fails when an engine UDF body does not reference the engine."""
    report_dir = str(tmp_path / "reports")
    os.mkdir(report_dir)
    data_frame = type(spark.range(1))  # the session's concrete DataFrame class
    for cls, name in ((GroupedData, "applyInPandasWithState"), (data_frame, "mapInPandas")):
        real = getattr(cls, name)
        monkeypatch.setattr(
            cls,
            name,
            lambda self, func, *a, _real=real, **kw: _real(
                self, _reporting(func, report_dir), *a, **kw
            ),
        )

    chunks = [
        spark.range(32).select(
            F.concat(F.lit("stream-"), (F.col("id") % 16).cast("string")).alias("stream_name"),
            (F.col("id") * 0.1 + i).alias("value"),
        )
        for i in range(3)
    ]
    metrics, _ = replay_feed(spark, chunks, "pyworker_feed_")
    # Processing-time timeouts keep the query running no-data batches (an
    # ``availableNow`` drive never ends), so stop once every chunk is in.
    expected = 16 * len(chunks)
    query = (
        alarm_state_stream(metrics)
        .writeStream.format("memory")
        .queryName("pyworker_alarm")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 300
        while spark.table("pyworker_alarm").count() < expected and time.time() < deadline:
            time.sleep(1)
    finally:
        query.stop()
    assert spark.table("pyworker_alarm").count() == expected

    media = synthesize_media(load_table(spark, sf_small, "documents")).repartition(8)
    assert decode_media(media).count() == media.count()

    tasks, active = _reports(report_dir)
    stages = {t.split(":")[0] for t in tasks}
    assert len(stages) >= 2 and len(tasks) > spark.sparkContext.defaultParallelism
    assert active and set(active) == {"1"}, (
        f"{active.count('0')} of {len(active)} calls ran without the backport"
    )
    assert zipimport.zipimporter.invalidate_caches is STDLIB
