"""Settings get_spark must give every session it builds."""

from __future__ import annotations


def test_console_progress_bar_off(spark):
    # read once at context start, so it must be set as the session is built; its
    # "\r[Stage ..." prefixes would otherwise garble stderr lines
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"
