"""apply_runtime_conf: a key the build refuses is skipped with a warning;
any other failure propagates."""

from __future__ import annotations

import logging

import pytest
from pyspark.errors import AnalysisException

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
