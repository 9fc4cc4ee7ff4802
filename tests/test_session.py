"""Engine session defaults."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import session

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_dataframe_call_site_capture_is_off(spark):
    """The engine session turns PySpark's per-call call-site capture off;
    an analysis error still names the bad column."""
    assert spark.conf.get(DEBUGGING) == "false"
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(3).select("no_such_col")


class _Builder:
    """Records what ``get_spark`` configures instead of starting Spark."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def test_extra_conf_turns_call_site_capture_back_on(monkeypatch):
    """The flag is a static conf, so it is set when the session is built;
    ``extra_conf`` overrides it like any other engine default."""
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    assert session.get_spark(master="local[1]").conf[DEBUGGING] == "false"
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    on = session.get_spark(master="local[1]", extra_conf={DEBUGGING: "true"})
    assert on.conf[DEBUGGING] == "true"
