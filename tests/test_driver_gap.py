"""tools/driver_gap.py on a tiny synthetic event log: job counts, busy wall
as the union of job intervals, the driver gap and the plan sizes."""

from __future__ import annotations

import json

import pytest

from tools import driver_gap

SQL = "org.apache.spark.sql.execution.ui."


def _job(jid, t, group=None, execution=None):
    props = {}
    if group:
        props["spark.jobGroup.id"] = group
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage Infos": [], "Properties": props}


def _end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t,
            "Job Result": {"Result": "JobSucceeded"}}


def _sql(eid, t, plan, group=None):
    return {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": eid,
            "description": "q", "physicalPlanDescription": "x" * plan,
            "time": t, "jobGroupId": group}


def _replan(eid, plan):
    return {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
            "executionId": eid, "physicalPlanDescription": "x" * plan}


# op1: execution 0 starts at 1.0 s, its jobs run 1.5-2.5 s and 2.0-3.0 s
# (overlapping: busy 1.5 s), execution 1 starts at 4.0 s with a job from
# 4.5 s to 5.0 s -> wall 4.0 s, busy 2.0 s, gap 2.0 s. op2: one job with
# no SQL execution, 10.0-10.5 s. The ungrouped job runs 20.0-21.0 s.
EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    _sql(0, 1000, 300, group="op1"),
    _job(0, 1500, "op1", 0), _job(1, 2000, "op1", 0),
    _end(0, 2500), _replan(0, 500), _end(1, 3000),
    _sql(1, 4000, 1200),  # no jobGroupId field value: grouped via its job
    _job(2, 4500, "op1", 1), _end(2, 5000),
    _job(3, 10000, "op2"), _end(3, 10500),
    _job(4, 20000), _end(4, 21000),
]


def _write(path, events):
    path.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events))


def test_groups_from_a_rolled_log(tmp_path):
    rolled = tmp_path / "eventlog_v2_local-1"
    rolled.mkdir()
    # rolled parts are read in index order, not name order
    _write(rolled / "events_2_local-1", EVENTS[6:])
    _write(rolled / "events_10_local-1", [])
    _write(rolled / "events_1_local-1", EVENTS[:6])
    (rolled / "appstatus_local-1").write_text("")
    apps = driver_gap._log_files(str(tmp_path))
    assert list(apps) == ["eventlog_v2_local-1"]
    rows = {r["group"]: r for r in driver_gap.table(apps["eventlog_v2_local-1"])}
    assert list(rows) == ["op1", "op2", "-"]
    op1 = rows["op1"]
    assert op1["jobs"] == 3
    assert op1["wall_s"] == 4.0 and op1["busy_s"] == 2.0 and op1["gap_s"] == 2.0
    assert op1["max_plan"] == 1200
    assert op1["plan_mb"] == (300 + 500 + 1200) / 1e6
    assert (rows["op2"]["jobs"], rows["op2"]["gap_s"], rows["op2"]["max_plan"]) == (1, 0.0, 0)
    assert rows["-"]["jobs"] == 1


def test_time_windows_and_cli(tmp_path, capsys):
    _write(tmp_path / "local-2", EVENTS)
    rows = driver_gap.table([str(tmp_path / "local-2")], window=5)
    # windows start at the first event (1.0 s): [1, 6), [6, 11), [16, 21)
    assert [(r["group"], r["jobs"]) for r in rows] == [("t+0s", 3), ("t+5s", 1), ("t+15s", 1)]
    assert driver_gap.main([str(tmp_path)]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "local-2" and out[1].split()[0] == "group"
    assert out[2].split()[:5] == ["op1", "3", "4.00", "2.00", "2.00"]


def test_empty_dir_is_an_error(tmp_path):
    assert driver_gap.main([str(tmp_path)]) == 1


def test_log_cut_short_is_an_error(tmp_path, capsys):
    """A log cut mid-line (e.g. at a file-size limit) must not pass for a
    whole run: the cut line fails the table and the CLI exits 1."""
    lines = [json.dumps(e, separators=(",", ":")) for e in EVENTS]
    cut = "\n".join(lines[:4]) + "\n" + lines[4][: len(lines[4]) // 2]
    (tmp_path / "local-3").write_text(cut)
    with pytest.raises(ValueError, match="local-3:5"):
        driver_gap.table([str(tmp_path / "local-3")])
    assert driver_gap.main([str(tmp_path)]) == 1
    err = capsys.readouterr()
    assert "cut short" in err.err and err.out == ""
