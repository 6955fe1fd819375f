"""Per-layer metrics taken from outside the package.

Spans are the benchmark's own windows around each call into the package
(``accounting.Spans``). Spark's event log gives every job's submission
and completion time and every task's CPU time and shuffle bytes; a
``StreamingQueryListener`` gives micro-batch progress with state-store
sizes. A job belongs to the span whose window holds its submission time:
tagging jobs with a job group would miss the jobs ``run_ingest`` submits
from its own thread pool, whose threads do not inherit the caller's
group. A micro-batch belongs to the span whose window holds its trigger
time.
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import os

SPAN_METRICS = ("wall_s", "jobs", "tasks", "executor_cpu_s", "shuffle_mb",
                "driver_gap_s")
STREAM_METRICS = ("micro_batches", "state_rows", "state_mb")
UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "executor_cpu_s": "s",
         "shuffle_mb": "MB", "driver_gap_s": "s", "micro_batches": "count",
         "state_rows": "count", "state_mb": "MB"}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """``get_spark(extra_conf=...)`` settings that make Spark write an
    uncompressed event log under ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the one application log under ``log_dir`` into
    ``jobs = {job_id: {"submit": s, "end": s, "stages": [...]}}`` and
    ``stages = {stage_id: {"tasks": n, "cpu_s": s, "shuffle_bytes": b}}``
    (times in epoch seconds). Read after the session has stopped, so the
    log is complete."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # Spark 4 writes a rolling log: a directory of event files per app.
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:  # a line cut short by a killed JVM
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(
                        ev["Stage ID"], {"tasks": 0, "cpu_s": 0.0, "shuffle_bytes": 0}
                    )
                    st["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
    return jobs, stages


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_metrics(spans: list[tuple[str, float, float]], jobs: dict,
                 stages: dict) -> dict[str, dict[str, float]]:
    """Fold jobs and tasks into the spans by job submission time. A stage
    listed by several jobs (a reused shuffle) counts once, under the
    first job that lists it."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    out: dict[str, dict[str, float]] = {}
    for name, t0, t1 in spans:
        mine = [j for j, v in jobs.items() if t0 <= v["submit"] <= t1]
        mine_set = set(mine)
        sts = [stages[s] for s, j in owner.items() if j in mine_set and s in stages]
        running = [(jobs[j]["submit"], jobs[j]["end"] or t1) for j in mine]
        out[name] = {
            "wall_s": t1 - t0,
            "jobs": float(len(mine)),
            "tasks": float(sum(s["tasks"] for s in sts)),
            "executor_cpu_s": sum(s["cpu_s"] for s in sts),
            "shuffle_mb": sum(s["shuffle_bytes"] for s in sts) / 1e6,
            "driver_gap_s": (t1 - t0) - _covered(running, t0, t1),
        }
    return out


def stream_metrics(spans: list[tuple[str, float, float]],
                   progress: list[tuple[float, str, int, int]]) -> dict[str, dict]:
    """Fold micro-batch progress ``(trigger_time, run_id, state_rows,
    state_bytes)`` into the spans: batches are counted, and state size is
    each query run's last reading, summed over the runs in the span."""
    out: dict[str, dict[str, float]] = {}
    for name, t0, t1 in spans:
        last: dict[str, tuple[float, int, int]] = {}
        n = 0
        for ts, run_id, rows, nbytes in progress:
            if t0 <= ts <= t1:
                n += 1
                if run_id not in last or ts >= last[run_id][0]:
                    last[run_id] = (ts, rows, nbytes)
        out[name] = {
            "micro_batches": float(n),
            "state_rows": float(sum(v[1] for v in last.values())),
            "state_mb": sum(v[2] for v in last.values()) / 1e6,
        }
    return out


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every micro-batch's trigger
    time and state-store totals in memory (``.progress``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[tuple[float, str, int, int]] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = _dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            ops = p.stateOperators or []
            self.progress.append((
                ts.timestamp(), str(p.runId),
                sum(o.numRowsTotal for o in ops),
                sum(o.memoryUsedBytes for o in ops),
            ))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Listener()
