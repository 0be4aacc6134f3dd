"""Build-time confs of the tuned session (``session.get_spark``)."""

from __future__ import annotations

import traceback

import pytest
from pyspark.errors import AnalysisException


def _select_missing(df):
    return df.select("no_such_column")


def test_call_site_capture_off_and_analysis_errors_stay_located(spark):
    """Per-call call-site capture is off, yet an unresolved column still
    raises AnalysisException at the caller's own line: classic mode
    analyzes eagerly, so the traceback locates the error without it."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException) as info:
        _select_missing(spark.range(1))
    frames = traceback.extract_tb(info.tb)
    line = _select_missing.__code__.co_firstlineno + 1
    assert any(f.filename == __file__ and f.lineno == line for f in frames), frames
