"""The session factory's settings that change driver behaviour."""

import pytest
from pyspark.errors import AnalysisException


def test_dataframe_debugging_is_off(spark):
    """engine_defaults turns off PySpark's per-call origin capture
    (a stack walk and two py4j calls around every functions/Column
    call); PySpark caches the value for the process, so the builder
    must carry it."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_missing_column_still_raises_naming_it(spark):
    """Without the Python call site in the query context, analysis
    errors still raise with Spark's own message."""
    df = spark.range(3)
    with pytest.raises(AnalysisException, match="no_such_col"):
        df.select("no_such_col").collect()
