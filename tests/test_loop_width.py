"""``runtime.loop_width``, the one owner of an iterative loop's shuffle
width: it never widens the session, has a floor of 8, and restores the
session's width however the block exits."""

from __future__ import annotations

import pytest

from harvesting_validator_spark.runtime import loop_width

_KEY = "spark.sql.shuffle.partitions"


@pytest.fixture
def session_width(spark):
    """Sets the session's shuffle width for one test, restoring it after."""
    prev = spark.conf.get(_KEY)
    yield lambda n: spark.conf.set(_KEY, str(n))
    spark.conf.set(_KEY, prev)


def test_loop_width_never_widens_the_session(spark, session_width):
    session_width(4)
    with loop_width(spark, 1000) as width:
        assert width == 4
        assert spark.conf.get(_KEY) == "4"
    assert spark.conf.get(_KEY) == "4"

    session_width(64)
    with loop_width(spark, 1) as width:
        assert width == 8
        assert spark.conf.get(_KEY) == "8"
    assert spark.conf.get(_KEY) == "64"


def test_loop_width_restores_after_an_exception(spark, session_width):
    session_width(64)
    with pytest.raises(ValueError, match="boom"):
        with loop_width(spark, 20):
            assert spark.conf.get(_KEY) == "20"
            raise ValueError("boom")
    assert spark.conf.get(_KEY) == "64"
