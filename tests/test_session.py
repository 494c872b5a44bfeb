"""`configure_session` on a session it cannot fully configure: a key the
session refuses is logged by name and skipped, and any other error
propagates."""

from __future__ import annotations

import logging
from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException

from steam_prices_data_engineering_spark.session import configure_session

REFUSED = "spark.sql.ansi.enabled"


class _Conf:
    def __init__(self, error):
        self.error = error
        self.values = {}

    def set(self, key, value):
        if key == REFUSED:
            raise self.error
        self.values[key] = value


def test_refused_key_is_logged_and_the_rest_are_set(caplog):
    conf = _Conf(AnalysisException(message="[CANNOT_MODIFY_CONFIG] refused"))
    with caplog.at_level(logging.WARNING, logger="steam_prices_spark"):
        configure_session(SimpleNamespace(conf=conf))
    assert [r.getMessage() for r in caplog.records if REFUSED in r.getMessage()]
    assert REFUSED not in conf.values
    assert conf.values["spark.sql.session.timeZone"] == "UTC"
    assert conf.values["spark.sql.parquet.outputTimestampType"] == "TIMESTAMP_MICROS"


def test_other_errors_propagate():
    with pytest.raises(TypeError):
        configure_session(SimpleNamespace(conf=_Conf(TypeError("bad value"))))
