"""Session settings the engine relies on."""

import pandas as pd
import pytest
from pyspark.errors import AnalysisException

from historical_obs_platform_spark.operators import qaqc as Q


def test_dataframe_debugging_off(spark):
    """get_spark turns off PySpark's per-call call-site capture, which
    costs extra JVM round trips on every DataFrame and Column call."""
    conf = spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
    assert conf == "false"


def test_missing_column_still_named(spark):
    """Without the call-site context, an analysis error still names
    the column a check needs and the frame lacks."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "station": ["A"],
                "time": [pd.Timestamp("2020-01-01")],
                "tas": [400.0],
            }
        )
    )
    with pytest.raises(AnalysisException, match="tas_eraqc"):
        Q.world_record_check(df)
