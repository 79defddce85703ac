"""Time-format labeling (SURVEY.md P6/A4): the 6 anchored patterns in
reference priority order (validation.py:148-162), case-insensitive months,
empty-after-trim invalid, DD-MMM-YYYY accepted (but absent from the error
message — rules/model.py preserves that verbatim)."""

from __future__ import annotations

import pytest

from ndap_data_validator_spark.functions.timeformat import (
    TIME_LABELS,
    time_format_label,
)
from pyspark.sql import functions as F


CASES = [
    ("2021", "YYYY"),
    ("2021-22", "YYYY-YY"),
    ("Mar-2021", "MMM-YYYY"),
    ("mar-2021", "MMM-YYYY"),  # case-insensitive month
    ("MAR-2021", "MMM-YYYY"),
    ("Jan-Mar, 2021", "MMM-MMM, YYYY"),
    ("Jan-Mar,2021", "MMM-MMM, YYYY"),  # \s* allows no space
    ("Jan - Mar, 2021", "MMM - MMM, YYYY"),
    ("05-Mar-2021", "DD-MMM-YYYY"),
    ("5-Mar-2021", "DD-MMM-YYYY"),  # 0? optional leading zero
    ("31-dec-1999", "DD-MMM-YYYY"),
    ("32-Mar-2021", None),  # day out of range
    ("Q1 2021", None),
    ("2021-5", None),  # YY must be 2 digits
    ("  2021  ", "YYYY"),  # trimmed before match
    ("", None),
    ("   ", None),
    ("March-2021", None),  # full month names not accepted
    (None, None),
]


@pytest.mark.parametrize("value,expected", CASES)
def test_label(spark, value, expected):
    df = spark.createDataFrame([(value,)], "v string")
    got = df.select(F.expr(time_format_label("v")).alias("l")).first()["l"]
    assert got == expected


def test_label_domain_is_closed(spark):
    assert len(TIME_LABELS) == 6
    assert TIME_LABELS[0] == "YYYY" and TIME_LABELS[-1] == "DD-MMM-YYYY"
