"""spread_scan fails closed: a split size it cannot turn into a positive
byte count leaves the plan unchanged instead of raising."""

from __future__ import annotations

import pytest

from harvesting_validator_spark.queries.common import spread_scan, tbl

MPB = "spark.sql.files.maxPartitionBytes"


class _ConfOnly:
    """Session stand-in whose conf returns a raw value. Spark's own setter
    rejects ``0.5g`` and junk, so only the parse itself is under test."""

    def __init__(self, value: str):
        self.conf = self
        self._value = value

    def get(self, key, default=None):
        return self._value


@pytest.mark.parametrize("value", ["0.5g", "junk"])
def test_unparseable_split_size_returns_df(spark, sf_dir, value):
    df = tbl(spark, sf_dir, "documents")
    assert spread_scan(_ConfOnly(value), sf_dir, "documents", df) is df


def test_zero_split_size_returns_df(spark, sf_dir):
    df = tbl(spark, sf_dir, "documents")
    prev = spark.conf.get(MPB)
    try:
        spark.conf.set(MPB, "0")
        assert spread_scan(spark, sf_dir, "documents", df) is df
        # control: a parseable size the tiny table fits in one split of
        # does spread the scan, so the cases above test the guard
        spark.conf.set(MPB, "1g")
        assert spread_scan(spark, sf_dir, "documents", df) is not df
    finally:
        spark.conf.set(MPB, prev)
