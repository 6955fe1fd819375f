"""Per-query wall-clock profiler: run one declared query with the Spark
event log enabled, then break its time down by job/stage from the log.

Usage: python tools/profile_query.py <sf_dir> <query> [query ...]

For each query: two passes (the second is the steady-state one — split
artifacts, JIT, and session warmup are paid in the first), each pass's
Janino compile count and generated-source KB (on a small box most
first-pass CPU is JIT and Janino compilation), then a job-by-job table
from the event log: submission gaps (driver/planning time between
jobs), stage execution time, task time sums, and the top stages by wall
clock. This is the guide-§1 "empirical" loop for a
headless harness: the event log carries the same numbers the UI shows.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _codegen(spark) -> tuple[int, float]:
    """(Janino compiles, generated source KB) so far in this JVM, read
    from Spark's ``CodegenMetrics`` histograms. The KB is the sum of the
    source-size samples, so it is exact only while the histogram's
    reservoir (1028 samples) holds every compile; past that it is NaN."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    size = cm.METRIC_SOURCE_CODE_SIZE()
    snap = size.getSnapshot()
    kb = sum(snap.getValues()) / 1024 if snap.size() == size.getCount() else float("nan")
    return cm.METRIC_COMPILATION_TIME().getCount(), kb


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    log_dir = "/tmp/spark-events-profile"
    os.makedirs(log_dir, exist_ok=True)

    from wetsa_cams_solrad_timeseries_spark.plans.registry import QUERIES
    from wetsa_cams_solrad_timeseries_spark.session import get_spark

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    app_id = spark.sparkContext.applicationId

    for name in names:
        spec = QUERIES[name]
        spark.catalog.clearCache()
        c0 = _codegen(spark)
        t0 = time.time()
        spec.fn(spark, sf_dir).count()
        t1 = time.time()
        c1 = _codegen(spark)
        spark.sparkContext.setJobDescription(None)
        spark.sparkContext.setLocalProperty("profile.marker", name)
        import gc

        gc.collect()
        spark.catalog.clearCache()
        # marker job so the log slice for the timed pass is findable
        spark.sparkContext.setJobDescription(f"__MARK__{name}")
        spark.range(1).count()
        spark.sparkContext.setJobDescription(None)
        c2 = _codegen(spark)
        t2 = time.time()
        spec.fn(spark, sf_dir).count()
        t3 = time.time()
        c3 = _codegen(spark)
        spark.sparkContext.setJobDescription(f"__MARK__end_{name}")
        spark.range(1).count()
        spark.sparkContext.setJobDescription(None)
        print(f"\n=== {name}: pass1 {t1 - t0:.2f}s  pass2 {t3 - t2:.2f}s")
        for label, (n0, kb0), (n1, kb1) in (("pass1", c0, c1), ("pass2", c2, c3)):
            print(f"    {label} janino: {n1 - n0} compiles, "
                  f"{kb1 - kb0:.1f} KB generated source")

    spark.stop()
    time.sleep(1.0)

    # ---- parse the event log (plain file, or v2 rolling dir + zstd) ----
    def _event_lines():
        import glob
        import io

        cands = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
        if not cands:
            print(f"no event log for {app_id}")
            return
        path = cands[0]
        files = (
            sorted(glob.glob(os.path.join(path, "events_*")))
            if os.path.isdir(path)
            else [path]
        )
        for fp in files:
            if fp.endswith(".zstd"):
                import zstandard

                with open(fp, "rb") as raw:
                    rd = zstandard.ZstdDecompressor().stream_reader(raw)
                    yield from io.TextIOWrapper(rd)
            else:
                with open(fp) as f:
                    yield from f

    jobs = {}
    stages = {}
    if True:
        for line in _event_lines():
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:70],
                    "wall": (comp - sub) / 1000.0 if sub and comp else 0.0,
                    "ntasks": si.get("Number of Tasks", 0),
                }

    marks = sorted(
        (j["start"], jid)
        for jid, j in jobs.items()
        if j["desc"].startswith("__MARK__")
    )
    mark_names = {
        jid: jobs[jid]["desc"][len("__MARK__"):] for _, jid in marks
    }
    # slice: jobs after each marker belong to that query's pass2
    bounds = [(mark_names[jid], t) for t, jid in marks] + [("__end__", 1e18)]
    for i, (qname, t_lo) in enumerate(bounds[:-1]):
        if qname.startswith("end_"):
            continue
        t_hi = bounds[i + 1][1]
        sel = [
            (jid, j)
            for jid, j in jobs.items()
            if t_lo < j["start"] < t_hi
            and not j["desc"].startswith("__MARK__")
        ]
        sel.sort(key=lambda kv: kv[1]["start"])
        if not sel:
            continue
        print(f"\n##### {qname} — pass2: {len(sel)} jobs")
        prev_end = None
        total_gap = total_run = 0.0
        rows = []
        for jid, j in sel:
            end = j.get("end", j["start"])
            gap = (j["start"] - prev_end) / 1000.0 if prev_end else 0.0
            run = (end - j["start"]) / 1000.0
            total_gap += max(gap, 0.0)
            total_run += run
            sw = sum(
                stages.get(s, {}).get("wall", 0.0) for s in j["stages"]
            )
            rows.append((jid, gap, run, sw, len(j["stages"])))
            prev_end = end
        print(
            f"  driver gaps total {total_gap:.2f}s, job run total "
            f"{total_run:.2f}s"
        )
        rows.sort(key=lambda r: -(r[1] + r[2]))
        print("  top jobs (jid, gap_before, run, stage_wall, n_stages):")
        for jid, gap, run, sw, ns in rows[:14]:
            print(
                f"    j{jid:<5} gap {gap:6.2f}s  run {run:6.2f}s  "
                f"stages {sw:6.2f}s x{ns}"
            )
        sel_stage_ids = {s for _, j in sel for s in j["stages"]}
        by_wall = sorted(
            ((stages[s]["wall"], s) for s in sel_stage_ids if s in stages),
            reverse=True,
        )
        print("  top stages (wall, ntasks, name):")
        for wall, s in by_wall[:10]:
            st = stages[s]
            print(f"    s{s:<5} {wall:7.2f}s x{st['ntasks']:<4} {st['name']}")


if __name__ == "__main__":
    main()
