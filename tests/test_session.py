"""`configure_session` on a session it cannot fully configure: a key the
session refuses is logged by name and skipped, and any other error
propagates. A `get_spark` session writes nothing into its working
directory."""

from __future__ import annotations

import logging
import os
import subprocess
import sys
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


def test_get_spark_catalog_leaves_the_working_directory_empty(tmp_path):
    """The catalog's warehouse is fixed under SPARK_LOCAL_DIRS, not the
    default `<cwd>/spark-warehouse` that the first catalog call makes."""
    cwd, local = tmp_path / "cwd", tmp_path / "local"
    cwd.mkdir()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from steam_prices_data_engineering_spark.session import get_spark\n"
        "s = get_spark(master='local[1]')\n"
        "s.catalog.tableExists('no_such_table')\n"
        "s.catalog.listTables()\n"
        "print(s.conf.get('spark.sql.warehouse.dir'))\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=cwd, env=env, check=True,
        capture_output=True, text=True, timeout=300,
    ).stdout
    assert os.listdir(cwd) == []
    assert str(local) in out
