"""Reduce a Spark event log to per-job, per-stage and per-task times.

    python tools/eventlog_breakdown.py EVENT_LOG [--json]

``EVENT_LOG`` is one uncompressed, non-rolling event-log file, as written
with ``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false``
and ``spark.eventLog.rolling.enabled=false``. The reduction is:

- per job: wall time (submission to completion), job group, result and
  stage ids;
- per stage: task count and wall time;
- per task: executor run, deserialize and CPU time, all in ms.

The default output is a text table: one line per job, one per stage with
its task times summed and at their median and maximum. ``--json`` prints
the whole reduction, every task included.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections.abc import Iterable


def reduce_event_log(lines: Iterable[str]) -> dict:
    """``{"jobs", "stages", "tasks"}`` lists from the event-log ``lines``
    (one JSON event per line). Events of other kinds are skipped; a job
    or stage that never completed keeps ``wall_ms`` None."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            jobs[event["Job ID"]] = {
                "job_id": event["Job ID"],
                "group": event.get("Properties", {}).get("spark.jobGroup.id"),
                "stage_ids": event["Stage IDs"],
                "submitted": event["Submission Time"],
                "wall_ms": None,
                "result": None,
            }
        elif kind == "SparkListenerJobEnd" and event["Job ID"] in jobs:
            job = jobs[event["Job ID"]]
            job["wall_ms"] = event["Completion Time"] - job["submitted"]
            job["result"] = event["Job Result"]["Result"]
        elif kind == "SparkListenerStageCompleted":
            info = event["Stage Info"]
            submitted, completed = info.get("Submission Time"), info.get("Completion Time")
            stages[info["Stage ID"], info["Stage Attempt ID"]] = {
                "stage_id": info["Stage ID"],
                "attempt": info["Stage Attempt ID"],
                "name": info["Stage Name"],
                "n_tasks": info["Number of Tasks"],
                "wall_ms": completed - submitted if submitted and completed else None,
            }
        elif kind == "SparkListenerTaskEnd" and event.get("Task Metrics"):
            metrics = event["Task Metrics"]
            tasks.append({
                "stage_id": event["Stage ID"],
                "attempt": event["Stage Attempt ID"],
                "task_id": event["Task Info"]["Task ID"],
                "run_ms": metrics["Executor Run Time"],
                "deserialize_ms": metrics["Executor Deserialize Time"],
                "cpu_ms": metrics["Executor CPU Time"] / 1e6,  # logged in ns
            })
    for job in jobs.values():
        del job["submitted"]
    return {
        "jobs": sorted(jobs.values(), key=lambda j: j["job_id"]),
        "stages": sorted(stages.values(), key=lambda s: (s["stage_id"], s["attempt"])),
        "tasks": tasks,
    }


def _ms(x) -> str:
    return "-" if x is None else f"{x:.0f}"


def render(breakdown: dict) -> str:
    """The text table of ``reduce_event_log``'s result."""
    out = [f"{'job':>5} {'wall_ms':>8}  {'result':<13} {'group':<24} stages"]
    for j in breakdown["jobs"]:
        out.append(f"{j['job_id']:>5} {_ms(j['wall_ms']):>8}  {j['result'] or '-':<13} "
                   f"{j['group'] or '-':<24} {','.join(map(str, j['stage_ids']))}")
    out.append("")
    out.append(f"{'stage':>7} {'tasks':>5} {'wall_ms':>8} "
               f"{'run_sum':>8} {'run_p50':>8} {'run_max':>8} "
               f"{'deser_sum':>9} {'cpu_sum':>8}  name")
    for s in breakdown["stages"]:
        ts = [t for t in breakdown["tasks"]
              if (t["stage_id"], t["attempt"]) == (s["stage_id"], s["attempt"])]
        runs = [t["run_ms"] for t in ts]
        out.append(
            f"{s['stage_id']:>5}.{s['attempt']} {s['n_tasks']:>5} {_ms(s['wall_ms']):>8} "
            f"{_ms(sum(runs)):>8} {_ms(statistics.median(runs) if runs else None):>8} "
            f"{_ms(max(runs, default=None)):>8} "
            f"{_ms(sum(t['deserialize_ms'] for t in ts)):>9} "
            f"{_ms(sum(t['cpu_ms'] for t in ts)):>8}  {s['name']}"
        )
    return "\n".join(out)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("event_log")
    parser.add_argument("--json", action="store_true", help="print the full reduction")
    args = parser.parse_args(argv)
    with open(args.event_log) as fh:
        breakdown = reduce_event_log(fh)
    print(json.dumps(breakdown, indent=1) if args.json else render(breakdown))
    return 0


if __name__ == "__main__":
    sys.exit(main())
