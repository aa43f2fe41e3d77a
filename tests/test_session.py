"""persist_reuse: a failed CacheManager probe falls back to a plain
persist and says so in the log; other errors are not swallowed."""

from __future__ import annotations

import logging

import pytest
from py4j.protocol import Py4JError

from white_elephant_spark.session import persist_reuse


class _ProbeFails:
    """A frame whose CacheManager probe raises ``exc``."""

    def __init__(self, exc: Exception):
        self.exc = exc
        self.persisted: list = []

    @property
    def sparkSession(self):  # noqa: N802 (DataFrame API)
        raise self.exc

    def persist(self, level=None):
        self.persisted.append(level)
        return self


@pytest.mark.parametrize("exc", [AttributeError("no _jsparkSession"), Py4JError("gateway gone")])
def test_probe_failure_persists_and_logs(exc, caplog):
    df = _ProbeFails(exc)
    with caplog.at_level(logging.WARNING, logger="white_elephant_spark.session"):
        assert persist_reuse(df, "MEMORY_ONLY") is df
    assert df.persisted == ["MEMORY_ONLY"]
    records = [r for r in caplog.records if r.name == "white_elephant_spark.session"]
    assert len(records) == 1 and records[0].exc_info[1] is exc


def test_unexpected_probe_error_propagates():
    df = _ProbeFails(RuntimeError("bug"))
    with pytest.raises(RuntimeError):
        persist_reuse(df)
    assert df.persisted == []
