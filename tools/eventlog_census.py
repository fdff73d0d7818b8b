"""Spark job census from an event log: jobs, tasks and duration per
``spark.job.description``.

Reads one uncompressed, non-rolling Spark event log (a JSON-lines file
written with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``; the log is written even with
the UI disabled). For each job description (the engine labels task
bodies ``task <entity>.<task>`` and pipe ingests
``pipe <name> ingest``) it
prints the number of jobs, their tasks and their summed wall duration.
It also flags the jobs that produce no rows of their own:

* ``no_sql``: jobs with no ``spark.sql.execution.id``. A DataFrame
  action always runs under a SQL execution; a job outside one is
  driver-side work such as parquet schema inference
  (``spark.read.parquet`` with no schema) or ``rdd`` actions.
* ``listing``: "Listing leaf files and directories" jobs, which Spark
  launches when one read names more directories than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold``.

Usage:

    python tools/eventlog_census.py <event-log-file> [--group PREFIX] [--flagged]

``--group PREFIX`` keeps only the jobs whose ``spark.jobGroup.id``
starts with PREFIX (the perfbench tracer sets one per layer path, e.g.
``perfbench:wake/...`` for the weekly wake-ups). ``--flagged`` also lists every flagged job with
its group and stage name. Tasks are attributed to the first job
that lists their stage. Standard library only; the log is only read.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import defaultdict

LISTING_PREFIX = "Listing leaf files and directories"


def load_jobs(path: str) -> dict[int, dict]:
    """Job id -> {label, group, sql, stage, tasks, start, end}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, int] = defaultdict(int)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                infos = ev.get("Stage Infos") or []
                jid = ev["Job ID"]
                jobs[jid] = {
                    "label": props.get("spark.job.description") or "(none)",
                    "group": props.get("spark.jobGroup.id") or "(none)",
                    "sql": "spark.sql.execution.id" in props,
                    "stage": infos[-1]["Stage Name"] if infos else "",
                    "start": ev["Submission Time"],
                    "end": ev["Submission Time"],
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]] += 1
    for jid in jobs:
        jobs[jid]["tasks"] = 0
    for sid, n in tasks.items():
        if stage_job.get(sid) in jobs:
            jobs[stage_job[sid]]["tasks"] += n
    for job in jobs.values():
        job["listing"] = job["label"].startswith(LISTING_PREFIX)
    return jobs


def census(jobs: dict[int, dict]) -> dict[str, dict]:
    """Description -> {jobs, tasks, duration_s, no_sql, listing}; the
    listing jobs share one row."""
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "duration_s": 0.0, "no_sql": 0, "listing": 0}
    )
    for job in jobs.values():
        row = out[LISTING_PREFIX if job["listing"] else job["label"]]
        row["jobs"] += 1
        row["tasks"] += job["tasks"]
        row["duration_s"] += (job["end"] - job["start"]) / 1000.0
        row["no_sql"] += not job["sql"]
        row["listing"] += job["listing"]
    return dict(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="uncompressed, non-rolling Spark event log file")
    ap.add_argument("--group", default="", help="keep jobs whose group starts with this")
    ap.add_argument("--flagged", action="store_true", help="list each flagged job")
    args = ap.parse_args(argv)

    jobs = {k: j for k, j in load_jobs(args.log).items() if j["group"].startswith(args.group)}
    rows = census(jobs)
    width = max([len(k) for k in rows] + [len("description")])
    print(f"{'description':<{width}}  {'jobs':>5} {'tasks':>6} {'dur_s':>8} {'no_sql':>6} {'listing':>7}")
    for key, r in sorted(rows.items(), key=lambda kv: (-kv[1]["jobs"], kv[0])):
        print(
            f"{key:<{width}}  {r['jobs']:>5} {r['tasks']:>6} {r['duration_s']:>8.2f}"
            f" {r['no_sql']:>6} {r['listing']:>7}"
        )
    t = {k: sum(r[k] for r in rows.values()) for k in ("jobs", "tasks", "duration_s", "no_sql", "listing")}
    print(
        f"{'total':<{width}}  {t['jobs']:>5} {t['tasks']:>6} {t['duration_s']:>8.2f}"
        f" {t['no_sql']:>6} {t['listing']:>7}"
    )
    if args.flagged:
        print()
        for jid, job in sorted(jobs.items()):
            if job["listing"] or not job["sql"]:
                kind = "listing" if job["listing"] else "no_sql"
                print(f"job {jid:>5} {kind:<7} tasks={job['tasks']:<4} {job['group']} | {job['stage']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
