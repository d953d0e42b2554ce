#!/usr/bin/env python3
"""Job table from a Spark event log.

Prints one row per SQL execution, in start order: its start offset from the
application start, its duration, the Spark jobs and tasks it ran, and the
first ``graft.*`` frames of its call site. A job that ran outside any SQL
execution (partition-discovery listing, RDD actions) gets a row of its own,
marked ``job``.

With ``--by-site`` it prints one row per first ``graft.*`` frame instead:
the executions (and stray jobs) whose call site starts there, their jobs,
tasks and seconds, the costliest site first. ``secs`` sums the rows'
durations; ``wall`` is the length of the union of their intervals, so
executions of one site that ran at the same time count once.

Usage:
    python3 scripts/joblog.py EVENT_LOG [--frames N] [--by-site]

EVENT_LOG is an uncompressed event log: run with
``-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/graft-ev
-Dspark.eventLog.compress=false`` and pass ``/tmp/graft-ev/<app>/events_*``
(a rolled log's parts, in order) or a single-file log.
"""

import argparse
import json
import re
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def graft_frames(call_site, n):
    """The first ``n`` stack frames of ``call_site`` in a ``graft.`` class."""
    frames = [line.strip() for line in (call_site or "").splitlines()]
    return [f for f in frames if f.startswith("graft.")][:n]


def log_order(path):
    """Sort key putting a rolled log's ``events_<n>_<app>`` parts in order."""
    m = re.search(r"events_(\d+)_", path)
    return (int(m.group(1)) if m else 0, path)


def read_events(paths):
    for path in sorted(paths, key=log_order):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def job_table(events, frames=3):
    """Rows ``{kind, id, start_s, dur_s, jobs, tasks, site}`` in start order.

    ``start_s`` counts from the application start (the first event's time
    when the log has no application-start event)."""
    app_start = None
    execs = {}     # execution id -> row
    jobs = {}      # job id -> row of its own, or the execution row it joins
    stage_row = {}  # stage id -> row it counts tasks into
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = e["Timestamp"]
        elif kind == SQL_START:
            execs[e["executionId"]] = {
                "kind": "sql", "id": e["executionId"], "t0": e["time"],
                "t1": None, "jobs": 0, "tasks": 0,
                "site": graft_frames(e.get("details"), frames)}
        elif kind == SQL_END:
            row = execs.get(e["executionId"])
            if row is not None:
                row["t1"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            row = execs.get(int(exec_id)) if exec_id is not None else None
            if row is None:
                infos = e.get("Stage Infos") or [{}]
                row = {"kind": "job", "id": e["Job ID"], "t0": e["Submission Time"],
                       "t1": None, "jobs": 0, "tasks": 0,
                       "site": graft_frames(infos[-1].get("Details"), frames)}
            row["jobs"] += 1
            jobs[e["Job ID"]] = row
            for sid in e.get("Stage IDs", []):
                stage_row[sid] = row
        elif kind == "SparkListenerJobEnd":
            row = jobs.get(e["Job ID"])
            if row is not None and row["kind"] == "job":
                row["t1"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            row = stage_row.get(e["Stage ID"])
            if row is not None:
                row["tasks"] += 1
    rows = list(execs.values()) + [r for r in {id(r): r for r in jobs.values()}.values()
                                   if r["kind"] == "job"]
    if app_start is None:
        app_start = min((r["t0"] for r in rows), default=0)
    out = []
    for r in sorted(rows, key=lambda r: (r["t0"], r["kind"], r["id"])):
        out.append({
            "kind": r["kind"], "id": r["id"],
            "start_s": (r["t0"] - app_start) / 1000.0,
            "dur_s": None if r["t1"] is None else (r["t1"] - r["t0"]) / 1000.0,
            "jobs": r["jobs"], "tasks": r["tasks"], "site": r["site"]})
    return out


def format_table(rows):
    lines = [f"{'start_s':>8} {'dur_s':>7} {'kind':<4} {'id':>5} {'jobs':>4} {'tasks':>5}  site"]
    for r in rows:
        dur = "-" if r["dur_s"] is None else f"{r['dur_s']:.3f}"
        lines.append(f"{r['start_s']:8.3f} {dur:>7} {r['kind']:<4} {r['id']:>5} "
                     f"{r['jobs']:>4} {r['tasks']:>5}  {' < '.join(r['site']) or '-'}")
    jobs = sum(r["jobs"] for r in rows)
    tasks = sum(r["tasks"] for r in rows)
    lines.append(f"{len(rows)} rows, {jobs} jobs, {tasks} tasks")
    return "\n".join(lines)


def union_length(intervals):
    """Total length covered by ``(start, end)`` intervals, overlaps once."""
    total, reach = 0.0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total


def by_site(rows):
    """Rows ``{site, execs, jobs, tasks, secs, wall}``, one per first
    ``graft.*`` frame (``-`` when a row has none), by seconds descending.
    ``secs`` sums the durations, ``wall`` is the union of the rows'
    intervals; an execution that never finished counts 0 in both."""
    sites = {}
    spans = {}
    for r in rows:
        key = r["site"][0] if r["site"] else "-"
        agg = sites.setdefault(key, {"site": key, "execs": 0, "jobs": 0,
                                     "tasks": 0, "secs": 0.0})
        agg["execs"] += 1
        agg["jobs"] += r["jobs"]
        agg["tasks"] += r["tasks"]
        agg["secs"] += r["dur_s"] or 0.0
        if r["dur_s"] is not None:
            spans.setdefault(key, []).append((r["start_s"], r["start_s"] + r["dur_s"]))
    for key, agg in sites.items():
        agg["wall"] = union_length(spans.get(key, []))
    return sorted(sites.values(), key=lambda a: (-a["secs"], a["site"]))


def format_sites(sites):
    lines = [f"{'secs':>8} {'wall':>8} {'execs':>5} {'jobs':>4} {'tasks':>5}  site"]
    for a in sites:
        lines.append(f"{a['secs']:8.3f} {a['wall']:8.3f} {a['execs']:>5} {a['jobs']:>4} "
                     f"{a['tasks']:>5}  {a['site']}")
    lines.append(f"{len(sites)} sites, {sum(a['jobs'] for a in sites)} jobs, "
                 f"{sum(a['tasks'] for a in sites)} tasks")
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("logs", nargs="+", help="uncompressed event log file(s)")
    ap.add_argument("--frames", type=int, default=3,
                    help="graft.* call-site frames shown per row (default 3)")
    ap.add_argument("--by-site", action="store_true",
                    help="one row per first graft.* frame, by seconds")
    args = ap.parse_args(argv)
    rows = job_table(read_events(args.logs), args.frames)
    print(format_sites(by_site(rows)) if args.by_site else format_table(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
