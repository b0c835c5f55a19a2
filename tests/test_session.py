"""The session factory's posture."""

from __future__ import annotations


def test_dataframe_debugging_is_off(spark):
    """``get_spark`` turns off PySpark's per-Column call-site capture."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
