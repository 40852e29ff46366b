"""tools/check_oracle.py fails closed when the Spark session dies during a
collect. No Spark needed: the session and the frames are stubs."""

from __future__ import annotations

from types import SimpleNamespace

import duckdb
import pytest

from tools import check_oracle


def _session(is_stopped):
    """Stub down to ``spark.sparkContext._jsc.sc().isStopped()``."""
    sc = SimpleNamespace(isStopped=is_stopped)
    return SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: sc))
    )


def _frame(rows):
    return SimpleNamespace(columns=["x"], collect=lambda: rows)


def _gateway_gone():
    raise ConnectionRefusedError("gateway gone")


def test_collect_returns_rows_from_live_session():
    rows = check_oracle._collect(_session(lambda: False), _frame([(1,), (2,)]))
    assert rows == [(1,), (2,)]


@pytest.mark.parametrize("is_stopped", [lambda: True, _gateway_gone])
def test_collect_fails_closed_when_session_died(is_stopped):
    with pytest.raises(
        RuntimeError, match=r"spark session died during collect \(2 rows received\)"
    ):
        check_oracle._collect(_session(is_stopped), _frame([(1,), (2,)]))


def test_check_sf_stops_at_the_dead_session(tmp_path):
    """The query whose collect outlived the session is one FAIL; the rest
    are not run against the dead gateway."""
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"COPY (SELECT 1 AS x) TO '{tmp_path}/{t}.parquet' (FORMAT parquet)")
    alive = [True]
    ran = []

    def query(name):
        def fn(spark, sf_dir):
            ran.append(name)
            alive[0] = False
            return _frame([(1,)])
        return fn

    entry = SimpleNamespace(
        queries=lambda: {n: query(n) for n in ("q1", "q2", "q3")},
        oracle_sql=lambda: {n: "SELECT 1 AS x" for n in ("q1", "q2", "q3")},
    )
    spark = _session(lambda: not alive[0])
    failures = check_oracle.check_sf(spark, entry, str(tmp_path), set())
    assert failures == [f"q1@{tmp_path.name}"]
    assert ran == ["q1"]
