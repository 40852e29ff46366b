"""Driver-gap table from a Spark event log: how much of each job group's
wall time ran no Spark job at all.

    python tools/driver_gap.py <event-log dir> [--window SECONDS]

Reads every application log under the directory (plain event-log files
and rolled ``eventlog_v2_*`` directories; uncompressed, as written with
``spark.eventLog.compress=false``) and prints, per application, one row
per job group (``spark.jobGroup.id``; jobs without one fall into the
``-`` row), or per fixed time window with ``--window``:

    jobs      Spark jobs started in the group
    wall_s    first SQL execution start or job submission -> last job end
    busy_s    union of the job intervals
    gap_s     wall_s - busy_s: driver time between jobs (plan
              construction and rendering, probes, py4j round-trips)
    max_plan  largest ``physicalPlanDescription`` of the group's
              ``SparkListenerSQLExecutionStart`` events, in chars
    plan_mb   plan text the group rendered for the event listeners,
              execution starts and adaptive re-plans together, in MB

A log cut short mid-line is an error (exit 1), not a partial table.
Standard library only, so it runs wherever the log can be copied to.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from collections import defaultdict

SQL = "org.apache.spark.sql.execution.ui."
WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd",
          SQL + "SparkListenerSQLExecutionStart",
          SQL + "SparkListenerSQLAdaptiveExecutionUpdate")
_PREFIXES = tuple('{"Event":"%s"' % e for e in WANTED)


def _log_files(path: str) -> dict[str, list[str]]:
    """Application name -> its event-log files in write order."""
    apps: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if os.path.isdir(full):
            parts = [f for f in os.listdir(full) if f.startswith("events_")]
            parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
            if parts:
                apps[entry] = [os.path.join(full, f) for f in parts]
        elif not entry.startswith("."):
            apps[entry] = [full]
    return apps


def _events(files: list[str]):
    for name in files:
        with open(name, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                if line.startswith(_PREFIXES):
                    try:
                        yield json.loads(line)
                    except ValueError as exc:
                        # a log cut short mid-line: numbers from the part
                        # before the cut would pass for the whole run's
                        raise ValueError(
                            f"{name}:{lineno}: undecodable event, log cut short?"
                        ) from exc


def _union_s(intervals: list[tuple[int, int]]) -> float:
    busy, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            busy += hi - lo
            end = hi
        elif hi > end:
            busy += hi - end
            end = hi
    return busy / 1000


def table(files: list[str], window: float | None = None) -> list[dict]:
    """One dict per group, in order of the group's first event."""
    jobs: dict[int, list] = {}            # job id -> [group, submit ms, end ms]
    exec_group: dict[int, str] = {}       # SQL execution id -> group
    exec_start: dict[int, int] = {}       # SQL execution id -> start ms
    plans: dict[int, list[int]] = defaultdict(list)  # execution -> plan lengths
    t0 = None
    for ev in _events(files):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or "-"
            jobs[ev["Job ID"]] = [group, ev["Submission Time"], None]
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
            t0 = min(t0 or ev["Submission Time"], ev["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][2] = ev["Completion Time"]
        else:
            eid = ev["executionId"]
            plans[eid].append(len(ev.get("physicalPlanDescription") or ""))
            if kind.endswith("ExecutionStart"):
                exec_start[eid] = ev["time"]
                t0 = min(t0 or ev["time"], ev["time"])
                if ev.get("jobGroupId"):
                    exec_group[eid] = ev["jobGroupId"]

    def key(group: str, ms: int) -> str:
        if window is None:
            return group
        lo = int((ms - t0) / 1000 // window * window)
        return f"t+{lo}s"

    rows: dict[str, dict] = {}

    def row(k: str) -> dict:
        return rows.setdefault(k, {"group": k, "jobs": 0, "intervals": [],
                                   "first": None, "last": None,
                                   "max_plan": 0, "plan_chars": 0})

    for group, submit, end in jobs.values():
        r = row(key(group, submit))
        r["jobs"] += 1
        end = submit if end is None else end
        r["intervals"].append((submit, end))
        r["first"] = submit if r["first"] is None else min(r["first"], submit)
        r["last"] = end if r["last"] is None else max(r["last"], end)
    for eid, lengths in plans.items():
        start = exec_start.get(eid)
        if start is None:
            continue
        r = row(key(exec_group.get(eid, "-"), start))
        r["max_plan"] = max(r["max_plan"], lengths[0])
        r["plan_chars"] += sum(lengths)
        r["first"] = start if r["first"] is None else min(r["first"], start)
        r["last"] = start if r["last"] is None else max(r["last"], start)
    out = []
    for r in sorted(rows.values(), key=lambda r: r["first"]):
        wall = (r["last"] - r["first"]) / 1000
        busy = _union_s(r["intervals"])
        out.append({"group": r["group"], "jobs": r["jobs"], "wall_s": wall,
                    "busy_s": busy, "gap_s": wall - busy,
                    "max_plan": r["max_plan"],
                    "plan_mb": r["plan_chars"] / 1e6})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log_dir", help="spark.eventLog.dir of the run(s)")
    ap.add_argument("--window", type=float, default=None,
                    help="group jobs by time windows of this many seconds")
    args = ap.parse_args(argv)
    apps = _log_files(args.log_dir)
    if not apps:
        print(f"no event log under {args.log_dir}", file=sys.stderr)
        return 1
    for app, files in apps.items():
        try:
            rows = table(files, args.window)
        except ValueError as exc:
            print(exc, file=sys.stderr)
            return 1
        print(app)
        print(f"{'group':<24}{'jobs':>6}{'wall_s':>9}{'busy_s':>9}{'gap_s':>9}"
              f"{'max_plan':>11}{'plan_mb':>9}")
        for r in rows:
            print(f"{r['group']:<24}{r['jobs']:>6}{r['wall_s']:>9.2f}{r['busy_s']:>9.2f}"
                  f"{r['gap_s']:>9.2f}{r['max_plan']:>11}{r['plan_mb']:>9.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
