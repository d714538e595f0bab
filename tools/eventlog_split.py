#!/usr/bin/env python3
"""Split a Spark event log into the driver-side layers of each job group.

    python3 tools/eventlog_split.py <event log file or rolling-log dir> [--json] [--stages]

The log may be plain JSON lines or zstd-compressed (`.zstd`/`.zst`, read
through the `zstd` command). A rolling log directory (`eventlog_v2_*`) is
read in its file order. For every job group (jobs without one fall under
"(none)") it prints, after the group's job description:

- the SQL executions and jobs that ran in it;
- planning: per SQL execution, the time from its start to its first job
  (an execution that runs no job counts its whole wall), summed;
- the wall of each job, submission to completion;
- the driver gaps: time between one job's end and the next job's start
  in the group, when no job of the group is running.

With `--stages` it also prints, under each group, one row per stage
attempt that ran in it, in submission order: the stage's tasks, its wall
(submission to completion), the executor run time and executor CPU time
summed over its tasks, its longest task (launch to finish) and the
shuffle bytes its tasks wrote. A stage whose wall is far below its summed
run time ran its tasks in parallel; of two stages with the same wall, the
one with little CPU was waiting.

Each stage is labelled with the operation scopes of its RDDs, in lineage
order (`Exchange > WholeStageCodegen (5) > Exchange`): Spark names every
SQL stage after the same thread-pool call site, so the scopes are what
tell one SQL stage from another. A `WholeStageCodegen (n)` scope is
followed by the plan nodes fused into that codegen stage, in data-flow
order (`{ShuffledHashJoin, Project, HashAggregate}`), taken from the
latest plan of the stage's SQL execution (its start event, then each
adaptive update) in which a node of that name has a metric the stage's
tasks updated. A stage can also compute a localCheckpointed Dataset's
own lineage, whose codegen stages are numbered in another plan: the
metric check, and labelling only the last of two same-named scopes
(that lineage's RDDs come first), keep those scopes bare.

Spark writes such a log when the JVM gets
`-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<existing dir>`
(for a JVM you do not launch yourself, put them in `JAVA_TOOL_OPTIONS`).
"""
import argparse
import json
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_PLAN = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
CODEGEN = "WholeStageCodegen ("
NONE = "(none)"


def log_files(path):
    p = Path(path)
    if not p.is_dir():
        return [p]

    def index(f):
        # rolling logs name their parts events_<n>_<app id>[.codec]
        parts = f.name.split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0
    return sorted((f for f in p.iterdir() if f.name.startswith("events_")), key=index)


def lines(path):
    for f in log_files(path):
        if f.suffix in (".zstd", ".zst"):
            # an in-progress log may end mid-frame: keep what decodes
            out = subprocess.run(["zstd", "-dcq", str(f)], stdout=subprocess.PIPE,
                                 stderr=subprocess.DEVNULL).stdout
            text = out.decode("utf-8", errors="replace")
        else:
            text = f.read_text(errors="replace")
        yield from text.splitlines()


def scopes(rdd_infos):
    """The distinct operation scope names of a stage's RDDs, in RDD id
    (lineage) order."""
    seen, names = set(), []
    for r in sorted(rdd_infos, key=lambda r: r.get("RDD ID", 0)):
        try:
            scope = json.loads(r.get("Scope") or "null")
        except ValueError:
            continue
        if scope and scope.get("id") not in seen:
            seen.add(scope.get("id"))
            names.append(scope.get("name") or "")
    return names


def codegen_nodes(plan, name, accums):
    """Plan nodes fused into the codegen stage `name`, in data-flow
    order, from the first node of that name in `plan` with a metric in
    `accums`; None when there is no such node."""
    def fused(node):
        # a codegen stage ends at its InputAdapters and at nested stages
        out = []
        for c in node.get("children", []):
            if c["nodeName"] != "InputAdapter" and not c["nodeName"].startswith(CODEGEN):
                out += fused(c) + [c["nodeName"]]
        return out
    stack = [plan]
    while stack:
        node = stack.pop()
        if node["nodeName"] == name and any(
                m.get("accumulatorId") in accums for m in node.get("metrics", [])):
            return fused(node)
        stack.extend(node.get("children", []))
    return None


def label(stage, plans):
    """A stage's scopes, each codegen scope with its fused plan nodes."""
    parts = []
    for i, name in enumerate(stage["scopes"]):
        nodes = None
        # an earlier plan's lineage (a checkpointed Dataset's) has the
        # lower RDD ids, so of two same-named scopes the last is this
        # execution's
        if name.startswith(CODEGEN) and name not in stage["scopes"][i + 1:]:
            for plan in reversed(plans.get(stage["exec"], [])):
                nodes = codegen_nodes(plan, name, stage["accums"])
                if nodes is not None:
                    break
        parts.append(f"{name} {{{', '.join(nodes)}}}" if nodes else name)
    return " > ".join(parts)


def read(path):
    """Jobs, SQL executions, stage attempts and SQL plans of the log."""
    jobs, execs, stages, plans = {}, {}, {}, defaultdict(list)
    for line in lines(path):
        try:
            e = json.loads(line)
        except ValueError:
            continue  # a torn last line of an in-progress log
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"], "end": None,
                "group": props.get("spark.jobGroup.id") or NONE,
                "label": props.get("spark.job.description") or "",
                "exec": int(ex) if ex not in (None, "") else None}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == SQL_START:
            execs[e["executionId"]] = {"start": e["time"], "end": None,
                                       "group": e.get("jobGroupId") or None}
            if e.get("sparkPlanInfo"):
                plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind == SQL_PLAN:
            plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind == SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerStageSubmitted":
            info, props = e["Stage Info"], e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "id": info["Stage ID"], "name": info.get("Stage Name") or "",
                "group": props.get("spark.jobGroup.id") or NONE,
                "exec": int(ex) if ex not in (None, "") else None,
                "scopes": scopes(info.get("RDD Info") or []), "accums": set(),
                "start": info.get("Submission Time"), "end": None, "tasks": 0,
                "run_ms": 0, "cpu_ms": 0.0, "max_task_ms": 0, "shuffle_write_bytes": 0}
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.get((info["Stage ID"], info["Stage Attempt ID"]))
            if st is not None:
                st["end"] = info.get("Completion Time")
                st["accums"] = {a.get("ID") for a in info.get("Accumulables") or []}
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            if st is None:
                continue
            info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            if info.get("Finish Time") and info.get("Launch Time"):
                st["max_task_ms"] = max(st["max_task_ms"], info["Finish Time"] - info["Launch Time"])
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return jobs, execs, stages, plans


def split(jobs, execs, stages=None, plans=None):
    """Per job group: executions, jobs, planning, job walls, driver gaps;
    with `stages`, also each stage attempt that ran in the group,
    labelled from the SQL `plans`."""
    # an execution without a recorded group takes its first job's group
    for j in sorted(jobs.values(), key=lambda j: j["start"]):
        x = execs.get(j["exec"])
        if x is not None and x["group"] is None:
            x["group"] = j["group"]
    groups = defaultdict(lambda: {"executions": 0, "jobs": [], "planning_ms": 0})
    first_job = {}
    for j in jobs.values():
        if j["exec"] is not None:
            first_job[j["exec"]] = min(first_job.get(j["exec"], j["start"]), j["start"])
        groups[j["group"]]["jobs"].append(j)
    for xid, x in execs.items():
        g = groups[x["group"] or NONE]
        g["executions"] += 1
        stop = first_job.get(xid, x["end"])
        if stop is not None:
            g["planning_ms"] += max(0, stop - x["start"])
    out = {}
    for name, g in groups.items():
        js = sorted(g["jobs"], key=lambda j: j["start"])
        walls = [j["end"] - j["start"] for j in js if j["end"] is not None]
        gaps, busy_until = [], None
        for j in js:
            if busy_until is not None:
                gaps.append(max(0, j["start"] - busy_until))
            end = j["end"] if j["end"] is not None else j["start"]
            busy_until = end if busy_until is None else max(busy_until, end)
        out[name] = {"label": js[0]["label"] if js else "",
                     "first_ms": js[0]["start"] if js else None,
                     "executions": g["executions"], "jobs": len(js),
                     "planning_ms": g["planning_ms"], "job_wall_ms": walls,
                     "driver_gap_ms": gaps}
    for st in sorted((stages or {}).values(), key=lambda st: (st["start"] or 0, st["id"])):
        if st["group"] not in out:
            continue  # every stage runs for a job, so this is a torn log
        row = {k: st[k] for k in ("id", "name", "tasks", "run_ms", "max_task_ms",
                                  "shuffle_write_bytes")}
        row["cpu_ms"] = round(st["cpu_ms"])
        row["label"] = label(st, plans or {})
        row["wall_ms"] = st["end"] - st["start"] if st["end"] and st["start"] else None
        out[st["group"]].setdefault("stages", []).append(row)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="event log file, or a rolling event log directory")
    ap.add_argument("--json", action="store_true", help="print one JSON object")
    ap.add_argument("--stages", action="store_true",
                    help="add one row per stage: its scopes and codegen plan nodes, "
                         "tasks, wall, run and CPU time, longest task, "
                         "shuffle bytes written")
    args = ap.parse_args()
    jobs, execs, stages, plans = read(args.log)
    result = split(jobs, execs, stages if args.stages else None, plans)
    if args.json:
        print(json.dumps(result, sort_keys=True))
        return
    # groups in the order their first job started
    for name in sorted(result, key=lambda n: (result[n]["first_ms"] is None,
                                              result[n]["first_ms"] or 0, n)):
        r = result[name]
        label = f" ({r['label']})" if r["label"] else ""
        print(f"{name}{label}: {r['executions']} SQL executions, {r['jobs']} jobs, "
              f"planning {r['planning_ms']} ms, "
              f"job walls {sum(r['job_wall_ms'])} ms {r['job_wall_ms']}, "
              f"driver gaps {sum(r['driver_gap_ms'])} ms {r['driver_gap_ms']}")
        for st in r.get("stages", []):
            wall = "?" if st["wall_ms"] is None else st["wall_ms"]
            print(f"  stage {st['id']} [{st['label']}] ({st['name']}): "
                  f"{st['tasks']} tasks, wall {wall} ms, "
                  f"run {st['run_ms']} ms, cpu {st['cpu_ms']} ms, "
                  f"max task {st['max_task_ms']} ms, "
                  f"shuffle write {st['shuffle_write_bytes']} B")


if __name__ == "__main__":
    sys.exit(main())
