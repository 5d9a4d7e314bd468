"""get_spark's construction-cost default: PySpark's per-call origin
capture is off, so building Column expressions costs a few py4j round
trips instead of dozens, while analysis errors still name the culprit."""

from __future__ import annotations

import pytest


def test_dataframe_debugging_off_in_get_spark_session(spark):
    from pyspark.errors.utils import is_debugging_enabled

    conf = spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
    assert conf == "false"
    # PySpark caches this flag per process on first use
    assert is_debugging_enabled() is False


def test_column_building_round_trips(spark, monkeypatch):
    """F.col and F.lit cost three round trips each (package reflect,
    member reflect, call) and ``+`` one; origin capture would add a
    session lookup, a conf read and PySparkCurrentOrigin set/clear per
    call (27 in total)."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F

    F.col("x") + F.lit(1)  # warm any one-time lookups
    calls = []
    orig = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls.append(command)
        return orig(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    F.col("x") + F.lit(1)
    monkeypatch.undo()
    assert len(calls) <= 7, calls


def test_missing_column_still_names_it(spark):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(3).select("no_such_column")
