#!/usr/bin/env python3
"""Per-micro-batch cost breakdown of a Spark event log.

Usage: python3 tools/stage_breakdown.py EVENT_LOG [--where KEY=VALUE ...]
                                        [--totals | --by-callsite]

EVENT_LOG is an uncompressed Spark event log (one JSON event per line),
as written by a JVM started with

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=/some/dir"

either a single file or a rolling log's `eventlog_v2_<app>` directory,
whose `events_<n>_<app>` parts are read in order.

Every job is attributed through its local properties: streaming jobs
carry `sql.streaming.queryId` and `streaming.sql.batchId`; anything else
(driver-side reads, set-up) is grouped under query "-". One row per
(query, batch) reports

  jobs          jobs started
  job_s         summed wall time of those jobs, submission to completion,
                seconds
  stages        stages that ran (skipped stages are not counted)
  tasks         tasks that ended
  task_s        summed executor run time of those tasks, seconds
  task_cpu_s    summed executor CPU time of those tasks, seconds; the gap
                to task_s is time the tasks spent waiting (I/O, locks,
                forked processes, compilation on another thread)
  deser_s       summed executor deserialize time of those tasks, seconds:
                the time each task spends deserializing its task binary
                (the stage's RDD and closure) before it runs, which a job
                pays once per task
  state_tasks   tasks that opened a state store (the stateful operator's
                "number of state store instances" metric); a stage that
                only reads a cached batch lists the StateStoreRDD among
                its RDDs too, so RDD membership alone would overcount
  listing_jobs  parallel file-listing jobs ("Listing leaf files ...")

followed by per-query totals and the grand total. `--where` keeps only
jobs whose local property KEY equals VALUE (repeatable), e.g.
`--where perfbench.phase=timed`; `--totals` prints the totals only.

`--by-callsite` prints instead, per call site, the jobs started there
and their job-seconds (submission to completion), slowest first. The
jobs of a streaming query (those carrying `sql.streaming.queryId`) fold
into one row, `stream <query id prefix>`, whatever their batch, so the
jobs beside a stream (a reader's, say) show under their own call sites.
Any other job's call site is, in order of preference:

  1. its `spark.job.description`, when the code set one (e.g.
     `graft.schema <path>`, `graft.gram <dir>`);
  2. the description of the SQL execution it ran for (its
     `spark.sql.execution.id`), which Spark sets to the user-code line
     of the action (e.g. `collect at Similarity.scala:869`). Jobs that
     adaptive query execution submits from its own threads get their
     stage names from those threads, so this is the only place their
     user call site survives;
  3. the name of its first stage, which Spark sets to the line that
     launched it (e.g. `parquet at Tables.scala:20`).
"""
import argparse
import json
import os
from collections import defaultdict

QUERY = "sql.streaming.queryId"
BATCH = "streaming.sql.batchId"
STATE_STORES = "number of state store instances"
COLS = ("jobs", "job_s", "stages", "tasks", "task_s", "task_cpu_s", "deser_s", "state_tasks",
        "listing_jobs")


def breakdown(lines, where):
    stage_owner = {}   # stage id -> (query, batch) of the latest job listing it
    ran = {}           # (stage id, attempt) -> (query, batch) it ran for
    started = {}       # job id -> ((query, batch), submission time in ms)
    rows = defaultdict(lambda: dict.fromkeys(COLS, 0))
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if any(props.get(k) != v for k, v in where):
                for sid in e["Stage IDs"]:
                    stage_owner.pop(sid, None)
                continue
            key = (props.get(QUERY, "-"), props.get(BATCH, "-"))
            row = rows[key]
            row["jobs"] += 1
            started[e["Job ID"]] = (key, e.get("Submission Time", 0))
            if props.get("spark.job.description", "").startswith("Listing leaf files"):
                row["listing_jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_owner[sid] = key
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in started:
            key, t0 = started.pop(e["Job ID"])
            rows[key]["job_s"] += (e.get("Completion Time", t0) - t0) / 1e3
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = stage_owner.get(info["Stage ID"])
            if key is not None:
                ran[(info["Stage ID"], info["Stage Attempt ID"])] = key
                rows[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = ran.get((e["Stage ID"], e["Stage Attempt ID"]))
            if key is not None:
                row = rows[key]
                row["tasks"] += 1
                metrics = e.get("Task Metrics") or {}
                row["task_s"] += metrics.get("Executor Run Time", 0) / 1e3
                row["task_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
                row["deser_s"] += metrics.get("Executor Deserialize Time", 0) / 1e3
                accs = (e.get("Task Info") or {}).get("Accumulables", [])
                if any(a.get("Name") == STATE_STORES for a in accs):
                    row["state_tasks"] += 1
    return rows


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def by_callsite(lines, where):
    started = {}       # job id -> (call site, submission time in ms)
    executions = {}    # SQL execution id -> its description
    rows = defaultdict(lambda: {"jobs": 0, "job_s": 0.0})
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == SQL_START:
            executions[str(e["executionId"])] = e.get("description")
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if any(props.get(k) != v for k, v in where):
                continue
            stages = e.get("Stage Infos") or []
            site = ("stream " + props[QUERY][:8] if QUERY in props
                    else props.get("spark.job.description")
                    or executions.get(props.get("spark.sql.execution.id"))
                    or (stages[0]["Stage Name"] if stages else "-"))
            started[e["Job ID"]] = (site, e.get("Submission Time", 0))
            rows[site]["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in started:
            site, t0 = started.pop(e["Job ID"])
            rows[site]["job_s"] += (e.get("Completion Time", t0) - t0) / 1e3
    return rows


def event_lines(path):
    if not os.path.isdir(path):
        with open(path) as f:
            yield from f
        return
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    for name in sorted(parts, key=lambda n: int(n.split("_")[1])):
        with open(os.path.join(path, name)) as f:
            yield from f


def batch_order(key):
    query, batch = key
    return (query == "-", query, int(batch) if batch.isdigit() else -1)


def fmt(label, batch, row):
    return "%-36s %6s %5d %6.2f %6d %6d %8.2f %10.2f %7.2f %11d %12d" % (
        label, batch, row["jobs"], row["job_s"], row["stages"], row["tasks"], row["task_s"],
        row["task_cpu_s"], row["deser_s"], row["state_tasks"], row["listing_jobs"])


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("log")
    p.add_argument("--where", action="append", default=[], metavar="KEY=VALUE")
    p.add_argument("--totals", action="store_true")
    p.add_argument("--by-callsite", action="store_true")
    args = p.parse_args()
    where = [w.split("=", 1) for w in args.where]
    if args.by_callsite:
        sites = by_callsite(event_lines(args.log), where)
        print("%5s %8s  %s" % ("jobs", "job_s", "callsite"))
        for site in sorted(sites, key=lambda k: (-sites[k]["job_s"], k)):
            print("%5d %8.2f  %s" % (sites[site]["jobs"], sites[site]["job_s"], site))
        print("%5d %8.2f  %s" % (sum(r["jobs"] for r in sites.values()),
                                 sum(r["job_s"] for r in sites.values()), "total"))
        return
    rows = breakdown(event_lines(args.log), where)

    print("%-36s %6s %5s %6s %6s %6s %8s %10s %7s %11s %12s" % (("query", "batch") + COLS))
    per_query = defaultdict(lambda: dict.fromkeys(COLS, 0))
    batches = defaultdict(int)
    for key in sorted(rows, key=batch_order):
        query, batch = key
        for c in COLS:
            per_query[query][c] += rows[key][c]
        batches[query] += 1
        if not args.totals:
            print(fmt(query, batch, rows[key]))
    print()
    total = dict.fromkeys(COLS, 0)
    for query in sorted(per_query, key=lambda q: (q == "-", q)):
        for c in COLS:
            total[c] += per_query[query][c]
        label = query if query == "-" else "%s (%d batches)" % (query[:8], batches[query])
        print(fmt(label, "all", per_query[query]))
    print(fmt("total", "all", total))


if __name__ == "__main__":
    main()
