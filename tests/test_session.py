"""The session contract: critical confs fail loudly, and every registry
builder re-applies the contract to a session it did not build."""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile

import pytest

from amazon_kinesis_data_streams_health_check_spark import session
from amazon_kinesis_data_streams_health_check_spark.plans.registry import get
from amazon_kinesis_data_streams_health_check_spark.session import (
    RUNTIME_CONFS,
    configure_session,
)


class _Conf:
    """``spark.conf`` stand-in: refuses to set ``refuse``, reads back
    ``readback`` overrides, and delegates everything else."""

    def __init__(self, conf, refuse=(), readback=None):
        self._conf, self._refuse, self._readback = conf, refuse, readback or {}

    def set(self, key, value):
        if key in self._refuse:
            raise RuntimeError(f"conf {key} is immutable here")
        self._conf.set(key, value)

    def get(self, key):
        return self._readback.get(key, self._conf.get(key))


class _Session:
    def __init__(self, spark, **conf_kw):
        self.conf = _Conf(spark.conf, **conf_kw)
        self.sparkContext = spark.sparkContext


def test_configure_session_critical_conf_loud_best_effort_quiet(spark):
    tz = "spark.sql.session.timeZone"
    with pytest.raises(RuntimeError, match=tz):
        configure_session(_Session(spark, refuse=(tz,)))
    # codegen.maxFields is perf-only: a refusal leaves the contract applied.
    configure_session(_Session(spark, refuse=("spark.sql.codegen.maxFields",)))
    assert spark.conf.get(tz) == "UTC"


def test_configure_session_raises_on_critical_readback_mismatch(spark):
    ansi = "spark.sql.ansi.enabled"
    with pytest.raises(RuntimeError, match=ansi):
        configure_session(_Session(spark, readback={ansi: "true"}))


def test_registry_builder_reapplies_contract_to_foreign_session(spark, sf_small):
    tz, ansi = "spark.sql.session.timeZone", "spark.sql.ansi.enabled"
    spark.conf.set(tz, "America/Los_Angeles")
    spark.conf.set(ansi, "true")
    try:
        get("health_lag_alarm").builder(spark, sf_small)
        assert spark.conf.get(tz) == RUNTIME_CONFS[tz] == "UTC"
        assert spark.conf.get(ansi) == RUNTIME_CONFS[ansi] == "false"
    finally:
        configure_session(spark)


class _ShipContext:
    applicationId = "app-ship-test"

    def __init__(self):
        self.py_files: list[str] = []

    def addPyFile(self, path):
        self.py_files.append(path)


class _ShipSession:
    def __init__(self):
        self.sparkContext = _ShipContext()


def test_shipped_package_zip_is_removed_at_exit(monkeypatch, tmp_path):
    """The zip outlives the call (Spark fetches it while the context lives)
    and the one exit hook removes it with its directory."""
    hooks = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: hooks.append((fn, a, kw)))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_SHIPPED_APPS", set())
    monkeypatch.setattr(session, "_SHIP_DIR", None)
    fake = _ShipSession()
    session._ship_package(fake)
    session._ship_package(fake)  # same application: shipped once

    (zip_path,) = fake.sparkContext.py_files
    assert os.path.dirname(os.path.dirname(zip_path)) == str(tmp_path)
    with zipfile.ZipFile(zip_path) as zf:
        assert "amazon_kinesis_data_streams_health_check_spark/pyworker.py" in zf.namelist()
    ((fn, args, kwargs),) = hooks
    fn(*args, **kwargs)
    assert os.listdir(tmp_path) == []
