"""Session defaults that change how errors surface."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F


def test_unresolved_column_still_raises_without_call_site_debugging(spark):
    """DataFrame call-site debugging is off for plan-build speed; analysis
    errors must still raise, only without the Python call-site fragment."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException):
        spark.range(3).select(F.col("no_such_column")).collect()
