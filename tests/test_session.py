"""apply_runtime_conf: a key the build refuses is skipped with a warning;
any other failure propagates. ensure_worker_imports: a package zip that
cannot be built is skipped with a warning; any other failure propagates."""

from __future__ import annotations

import logging
import tempfile

import pytest
from pyspark.errors import AnalysisException

from batch_processing_iac_aws_spark import session
from batch_processing_iac_aws_spark.session import (
    RUNTIME_CONF,
    apply_runtime_conf,
)


class _StubConf:
    def __init__(self, exc: Exception | None, bad_key: str):
        self.exc, self.bad_key, self.set_keys = exc, bad_key, []

    def set(self, key, value):
        if key == self.bad_key:
            raise self.exc
        self.set_keys.append(key)


class _StubSession:
    def __init__(self, conf):
        self.conf = conf


def test_apply_runtime_conf_skips_refused_key_with_warning(caplog):
    bad = "spark.sql.session.timeZone"
    conf = _StubConf(AnalysisException("[CANNOT_MODIFY_CONFIG]"), bad)
    session = _StubSession(conf)
    with caplog.at_level(logging.WARNING):
        assert apply_runtime_conf(session) is session
    assert conf.set_keys == [k for k in RUNTIME_CONF if k != bad]
    assert any(bad in r.getMessage() for r in caplog.records)


def test_apply_runtime_conf_propagates_other_errors():
    conf = _StubConf(RuntimeError("boom"), next(iter(RUNTIME_CONF)))
    with pytest.raises(RuntimeError, match="boom"):
        apply_runtime_conf(_StubSession(conf))


class _StubContext:
    def __init__(self, exc: Exception | None = None):
        self.exc, self.shipped = exc, []

    def addPyFile(self, path):
        if self.exc is not None:
            raise self.exc
        self.shipped.append(path)


class _StubSparkSession:
    def __init__(self, sc):
        self.sparkContext = sc


def test_ensure_worker_imports_warns_when_zip_cannot_be_built(
    monkeypatch, caplog
):
    def no_tmp(*args, **kwargs):
        raise OSError("read-only file system")

    monkeypatch.setattr(session, "_PYFILES_SHIPPED", set())
    monkeypatch.setattr(tempfile, "mkstemp", no_tmp)
    sc = _StubContext()
    with caplog.at_level(logging.WARNING):
        session.ensure_worker_imports(_StubSparkSession(sc))
        session.ensure_worker_imports(_StubSparkSession(sc))
    assert sc.shipped == []
    # one-shot per context: the second call neither retries nor warns
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1
    assert "read-only file system" in warned[0].getMessage()


def test_ensure_worker_imports_propagates_add_py_file_errors(monkeypatch):
    monkeypatch.setattr(session, "_PYFILES_SHIPPED", set())
    sc = _StubContext(RuntimeError("file server down"))
    with pytest.raises(RuntimeError, match="file server down"):
        session.ensure_worker_imports(_StubSparkSession(sc))
