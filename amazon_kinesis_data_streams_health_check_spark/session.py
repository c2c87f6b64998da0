"""SparkSession construction and the engine's session contract.

All timestamps in the engine are UTC instants (the reference works purely in
UTC: ``Instant.now()`` / ``SimpleDateFormat(...UTC...)``, see
HealthCheckConsumerHandler.java:102-107). The session contract is the set of
runtime confs in ``RUNTIME_CONFS``, applied by ``configure_session`` in
exactly two places:

* ``get_spark`` — sessions the engine builds (tests, bench, CLI, tools);
* ``plans.registry`` — every ``Query.builder`` applies it before building,
  which covers sessions the caller owns (the driver contract in
  ``__spark_entry__.py``) without any per-plan prologue.

Three confs are correctness-critical (``CRITICAL_CONFS``: UTC session zone,
ANSI off, ``nanosAsLong``); ``configure_session`` raises if one of them cannot
be set. The rest are best-effort.
"""

from __future__ import annotations

import atexit
import os
import pathlib
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

#: The session contract: runtime-settable confs applied even to sessions we
#: did not build.
#: ANSI off: the reference swallows every malformed-input error and drops the
#: record (HealthCheckConsumerHandler.java:87-93); null-on-error parse
#: semantics reproduce that (and match the DuckDB oracle's TRY_CAST twins).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # The driver's parquet carries TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as nano-longs and let the table loader restore
    # TimestampType (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Newer testdata vintages ship TIMESTAMP_NTZ(MICROS). Inferring them as
    # session-zone TIMESTAMP at the reader (legacy behavior) keeps one
    # timestamp type engine-wide with ZERO per-row casts and intact
    # timestamp predicate pushdown; sources/tables.restore_timestamp stays
    # as the fallback for deployments where this conf is immutable.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Whole-stage codegen gives up on plans with more than maxFields (100)
    # fields, silently dropping the SimHash vote aggregations (129 columns)
    # and every other wide operator to interpreted expression evaluation —
    # measured 2.2x slower on the signature aggregate at sf0.1 (guide
    # section 1/4: keep the hot path in codegen). 256 covers the hot
    # aggregates/projections at bits=128 (129-131 fields). Known carve-out
    # (round-9 ADVICE): the centered-signature crossJoin stage outputs
    # raw(130) + drift(129) = 259 fields, so that single broadcast-join
    # stage still evaluates interpreted at bits=128; raising the cap to 512
    # was measured (round 10) at no bench delta — the join stage folds
    # n_docs rows once, not the token stream — so 256 stays.
    "spark.sql.codegen.maxFields": "256",
}

#: The RUNTIME_CONFS whose values outputs depend on: lags are computed between
#: UTC instants, malformed input must parse to NULL instead of raising, and the
#: driver's TIMESTAMP(NANOS) columns are unreadable without ``nanosAsLong``.
#: ``inferTimestampNTZ`` has the ``restore_timestamp`` fallback and
#: ``codegen.maxFields`` only affects speed, so those two stay best-effort.
CRITICAL_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

#: Build-time confs for sessions we own (tests, bench).
BUILD_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the few pandas_udf / applyInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: keep pushdown on (default, but pinned explicitly since
    # the oracle-parity contract depends on reading the driver's parquet).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    # The generated-class cache (CodeGenerator.cache) holds 100 entries by
    # default; this engine's 20-query bench suite alone produces several
    # hundred distinct codegen units, so consecutive queries evict each
    # other's compiled classes and every pass re-generates, re-compiles and
    # re-JITs them (measured: 3-pass rotation totals 129/35/37s at the
    # default vs 95/26/30s at 5000; per-query minima match isolated-loop
    # timings only with the larger cache). Static conf — build-time only.
    # Sized by the workload's plan count, not by deployment scale: the cache
    # holds soft references to compiled classes, so the ceiling is a
    # bounded-memory insurance policy, not a tuning constant.
    "spark.sql.codegen.cache.maxEntries": "5000",
}


#: applicationIds the package zip has already been shipped to.
_SHIPPED_APPS: set[str] = set()

#: This process's directory for the shipped package zip (``_ship_package``).
_SHIP_DIR: str | None = None


def _default_driver_mem() -> str:
    """Driver-heap default sized from the host: half of MemAvailable,
    clamped to [2g, 24g]. 24g is right for the 128 GiB design box; a flat
    24g on a 4 GiB container would just be an unservable -Xmx."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(24, avail_gib // 2))}g"
    except OSError:
        pass
    return "4g"


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Every engine UDF body references the engine (``pyworker.ready()``, the
    Python-worker contract in ``pyworker.py``), so workers must be able to
    import it. The driver may own the session and run from any cwd, so we
    ship a zip of the package via ``addPyFile`` — the same mechanism a real
    cluster submit would use (``--py-files``).

    Spark may fetch the zip at any point while the context lives, so it
    stays until the driver process exits: it is written into one
    ``tempfile.mkdtemp()`` directory per process, which an ``atexit`` hook
    removes.
    """
    global _SHIP_DIR
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_APPS:
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    if _SHIP_DIR is None:
        _SHIP_DIR = tempfile.mkdtemp(prefix=f"{pkg_dir.name}-pyfiles-")
        atexit.register(shutil.rmtree, _SHIP_DIR, ignore_errors=True)
    zip_path = os.path.join(_SHIP_DIR, f"{pkg_dir.name}.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(pathlib.Path(pkg_dir.name) / py.relative_to(pkg_dir)))
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # e.g. Spark Connect sessions without addPyFile support
    _SHIPPED_APPS.add(app_id)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the session contract (``RUNTIME_CONFS``) to a session.

    Called by ``get_spark`` and by every registry ``Query.builder``; plan
    code never calls it. Raises ``RuntimeError`` naming the conf when one of
    ``CRITICAL_CONFS`` cannot be set or reads back a different value. A
    best-effort conf that the deployment refuses is left as it is.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            if k in CRITICAL_CONFS:
                raise RuntimeError(f"cannot set session conf {k}={v}: {e}") from e
    for k in CRITICAL_CONFS:
        got = spark.conf.get(k)
        if got != RUNTIME_CONFS[k]:
            raise RuntimeError(
                f"session conf {k} reads back {got!r}, need {RUNTIME_CONFS[k]!r}"
            )
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "kinesis-healthcheck-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``)
    so bench and tests share one entry point. Shuffle partitions default to the
    core count — right-sized for local mode; a real cluster deployment would
    rely on AQE coalescing from a larger initial value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    # Local mode puts ALL executor threads in the driver JVM, whose default
    # 1g heap starves 32 concurrent tasks at sf>=1.0 (observed: GCLocker
    # retry storms, then executor deaths that cascade into missing-shuffle-
    # file errors). Size the heap like a real executor would be sized —
    # but from the HOST's available memory (round-6 ADVICE: a flat 24g
    # default misbehaves on small containers), clamped to [2g, 24g].
    # Only effective if the JVM is not already running (getOrCreate reuse).
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
    )
    for k, v in BUILD_CONFS.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    return configure_session(spark)
