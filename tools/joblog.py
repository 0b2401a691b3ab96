#!/usr/bin/env python3
"""Summarize a Spark event log: jobs, tasks and wall time per job group,
each job attributed to the engine frame that launched it.

Usage: python3 tools/joblog.py <eventlog dir or events file> [--min 0.2]

Run a main (or perfbench, through JAVA_TOOL_OPTIONS) with
  -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev
and pass the `eventlog_v2_<app-id>` dir Spark writes there, or one
events file from it. Rolled `events_<n>_*` files are read in order;
`.zstd` files (Spark 4's default) are decompressed with the `zstd` CLI.

A job inside a SQL execution is attributed to the first `graft.operators`
frame of that execution's call site (`SparkListenerSQLExecutionStart`
details); a job outside any SQL execution (schema inference, say) to the
first such frame of its first stage's call site, and is marked `no-sql`.
Jobs are grouped by job group (`spark.jobGroup.id`; perfbench sets one
per traced call, described by the call's name).
"""
import collections
import json
import os
import re
import subprocess
import sys


def event_files(path):
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    def index(n):
        m = re.match(r"events_(\d+)_", n)
        return int(m.group(1)) if m else 0
    return [os.path.join(path, n) for n in sorted(names, key=index)]


def lines_of(path):
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True).stdout
        return out.decode("utf-8").splitlines()
    for codec in (".lz4", ".lzf", ".snappy"):
        if path.endswith(codec):
            sys.exit(f"{path}: {codec} event logs are not supported; "
                     "run with -Dspark.eventLog.compression.codec=zstd")
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def engine_frame(stack):
    """The first graft.operators frame of a call-site stack, else the
    first graft frame, else None."""
    frames = [l.strip() for l in (stack or "").splitlines()]
    for prefix in ("graft.operators.", "graft."):
        for fr in frames:
            if fr.startswith(prefix):
                return fr[len("graft."):]
    return None


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    path = sys.argv[1]
    min_sec = float(sys.argv[sys.argv.index("--min") + 1]) if "--min" in sys.argv else 0.0
    jobs, order, stage_tasks, sql_site = {}, [], {}, {}
    for f in event_files(path):
        for line in lines_of(f):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event", "")
            if e.endswith("SparkListenerSQLExecutionStart"):
                sql_site[str(ev["executionId"])] = (
                    engine_frame(ev.get("details")) or ev.get("description", ""))
            elif e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                stages = ev.get("Stage Infos") or []
                first = stages[0] if stages else {}
                exec_id = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "group": props.get("spark.jobGroup.id") or "(none)",
                    "group_desc": props.get("spark.job.description", ""),
                    "exec": exec_id,
                    "stack_site": engine_frame(first.get("Details"))
                    or first.get("Stage Name", "?"),
                    "stages": ev.get("Stage IDs", []),
                }
                order.append(ev["Job ID"])
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stage_tasks[si["Stage ID"]] = si.get("Number of Tasks", 0)

    rows = []
    for jid in order:
        j = jobs[jid]
        if "end" not in j:
            continue
        if j["exec"] is not None:
            site = sql_site.get(j["exec"], "?")
        else:
            site = "no-sql " + j["stack_site"]
        tasks = sum(stage_tasks.get(s, 0) for s in j["stages"])
        rows.append((jid, j["group"], site, tasks, (j["end"] - j["start"]) / 1000.0))
    group_desc = {}
    for jid in order:
        group_desc.setdefault(jobs[jid]["group"], jobs[jid]["group_desc"])

    print(f"{len(rows)} jobs, {sum(r[3] for r in rows)} tasks, "
          f"sum of job wall times {sum(r[4] for r in rows):.1f}s")
    groups = collections.OrderedDict()
    for r in rows:
        groups.setdefault(r[1], []).append(r)
    print("\n-- by job group (first-seen order): jobs, tasks, job wall --")
    for g, rs in groups.items():
        desc = group_desc.get(g, "")
        print(f"  {len(rs):4d} {sum(r[3] for r in rs):6d} {sum(r[4] for r in rs):8.2f}s  "
              f"{g}{'  ' + desc if desc and desc != g else ''}")
        sites = collections.OrderedDict()
        for r in rs:
            sites.setdefault(r[2], []).append(r)
        for site, ss in sites.items():
            print(f"      {len(ss):4d} {sum(r[3] for r in ss):6d} "
                  f"{sum(r[4] for r in ss):8.2f}s  {site[:110]}")
    if min_sec > 0:
        print(f"\n-- chronological, jobs >= {min_sec:.2f}s --")
        for jid, g, site, tasks, dur in rows:
            if dur >= min_sec:
                print(f"  job {jid:4d} {dur:8.2f}s {tasks:5d} tasks  [{g}]  {site[:90]}")


if __name__ == "__main__":
    main()
