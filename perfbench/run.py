"""Benchmark entry point.

    python3 perfbench/run.py --workload solar_chain --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository. Generates the
workload's inputs from ``--seed`` (untimed), starts the engine's session,
runs passes of the workload until ``--seconds`` of measuring have
elapsed (at least one pass, so with a short window ``wall_s`` is the
first pass in a fresh process), checks every output, and prints one JSON
line: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Run as a script, this directory would come first on sys.path and its
# modules (trace, ...) would shadow the standard library's.
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT

import numpy  # noqa: E402,F401 — imported before the generator, so counted in setup_s
import pandas  # noqa: E402,F401

PACKAGE = "wetsa_cams_solrad_timeseries_spark"

SOLAR_SPANS = [
    "pipelines.ingest.run_ingest",
    "pipelines.compile.compile_solar",
    "sinks.netcdf.write_netcdf",
    "pipelines.compare.run_compare",
    "sinks.plots.render_compare_png",
]
# The descent ladder uses checkpoint_async (ROADMAP item 2) and is one of
# item 3's gate -> ladder family; the streaming query drains through
# streaming/_drain.drain_partitions (item 2's session-conf mutation).
LADDER_QUERIES = ["q272_capped_descent_ladder"]
DRAIN_QUERIES = ["q89_streaming_ttl_eviction"]

# Solar corpus: 10 stations x 2 sky types, one day of 1-minute rows.
SOLAR_STATIONS = 10
SOLAR_DAYS = 1.0
# Query tables: sf0.01-sized events, 500 vectors.
EVENTS, USERS, VECTORS = 10_000, 150, 500

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}


def _process_age() -> float:
    """Seconds since this process started, from /proc (clock ticks)."""
    with open("/proc/self/stat") as fh:
        data = fh.read()
    start_ticks = int(data[data.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit) over all workloads."""
    from perfbench import queries
    from perfbench.trace import SPAN_METRICS, STREAM_METRICS, UNITS

    names = [("session.get_spark.wall_s", "s"), ("trace.pass_wall_s", "s"),
             ("host.steal_s", "s")]
    for span in SOLAR_SPANS + [queries.span_name(q) for q in LADDER_QUERIES]:
        names += [(f"{span}.{m}", UNITS[m]) for m in SPAN_METRICS]
    for q in DRAIN_QUERIES:
        span = queries.span_name(q)
        names += [(f"{span}.{m}", UNITS[m]) for m in SPAN_METRICS + STREAM_METRICS]
    return names


class Solar:
    """EP1 -> EP2 -> EP3 on the generated CAMS corpus."""

    def __init__(self, work: str, seed: int) -> None:
        from perfbench import corpus

        self.work = work
        self.inputs = corpus.write_solar_corpus(
            os.path.join(work, "solar"), seed, SOLAR_DAYS, SOLAR_STATIONS
        )
        self.outs: list[dict] = []

    def run_pass(self, spark, ops, spans) -> None:
        from perfbench import solar

        out_dir = os.path.join(self.work, f"pass{len(self.outs)}")
        self.outs.append(solar.run_chain(spark, self.inputs, out_dir, ops, spans))

    def check(self, ops) -> list[str]:
        from perfbench import solar

        problems = []
        for out in self.outs:
            for op, why in solar.check_chain(self.inputs, out).items():
                ops.wrong(op, why)
                problems.append(f"{op}: {why}")
        return problems


class Queries:
    """A slice of the query registry on generated ``events``/``embeddings``."""

    def __init__(self, work: str, seed: int, names: list[str]) -> None:
        from perfbench import corpus

        self.sf_dir = os.path.join(work, "sf")
        corpus.write_query_tables(self.sf_dir, seed, EVENTS, USERS, VECTORS)
        self.names = names
        self.passes: list[dict] = []

    def run_pass(self, spark, ops, spans) -> None:
        from perfbench import queries

        self.passes.append(queries.run_queries(spark, self.sf_dir, self.names, ops, spans))

    def check(self, ops) -> list[str]:
        from perfbench import queries

        problems = []
        for q, why in queries.check_queries(self.sf_dir, self.passes).items():
            ops.wrong(q, why)
            problems.append(f"{q}: {why}")
        return problems


WORKLOADS = {
    "solar_chain": Solar,
    "ladder_drain": functools.partial(Queries, names=LADDER_QUERIES + DRAIN_QUERIES),
}


def _jvm_alive(spark) -> bool:
    proc = spark.sparkContext._gateway.proc
    return proc is None or proc.poll() is None


def _shutdown(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has exited."""
    from perfbench import procfs

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = procfs.descendants(proc.pid) if proc else []
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        procfs.reap(workers)


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    from perfbench import procfs, trace
    from perfbench.accounting import Ops, Spans

    pre_setup = _process_age()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp"),
                         ("SPARK_GRAFT_WAREHOUSE", "warehouse")):
            os.environ[var] = os.path.join(work, sub)
            os.makedirs(os.environ[var], exist_ok=True)
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        # Keep the JVM's temp files (extracted native libraries) and its
        # perf-data file inside the work directory too.
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        )))
        import tempfile

        tempfile.tempdir = None  # drop a cached /tmp so TMPDIR above is used

        wl = WORKLOADS[workload](work, seed)  # inputs: outside every timer

        ops, spans = Ops(), Spans()
        t_setup = time.time()
        from wetsa_cams_solrad_timeseries_spark.session import get_spark

        extra = trace.event_log_conf(os.path.join(work, "eventlog")) if traced else None
        with spans.span("session.get_spark"):
            spark = get_spark("perfbench", extra_conf=extra)
        setup_s = pre_setup + (time.time() - t_setup)
        listener = None
        if traced:
            listener = trace.progress_listener()
            spark.streams.addListener(listener)
        jvm = procfs.HwmWatcher(spark.sparkContext._gateway.proc.pid)

        walls, cpus, steals = [], [], []
        t_window = time.time()
        while not walls or time.time() - t_window < seconds:
            steal0 = procfs.steal_seconds()
            cpu0, t0 = procfs.tree_cpu_seconds(os.getpid()), time.time()
            wl.run_pass(spark, ops, spans)
            walls.append(time.time() - t0)
            cpus.append(procfs.tree_cpu_seconds(os.getpid()) - cpu0)
            steals.append(procfs.steal_seconds() - steal0)
            if not _jvm_alive(spark):
                break
        problems = wl.check(ops)
        peak = jvm.close() + (procfs.vm_hwm_mb(os.getpid()) or 0.0)
        try:
            if listener is not None:
                spark.streams.removeListener(listener)
            _shutdown(spark)
        except Exception as ex:  # noqa: BLE001 — a dead JVM cannot stop cleanly
            problems.append(f"shutdown: {ex!r}"[:300])

        result = {
            "ops": ops, "problems": problems, "setup_s": setup_s,
            "wall_s": statistics.median(walls), "cpu_s": statistics.median(cpus),
            "peak_rss_mb": peak, "passes": len(walls),
            "steal_s": statistics.median(steals),
        }
        if traced:
            jobs, stages = trace.read_event_log(os.path.join(work, "eventlog"))
            layers = trace.span_metrics(spans.items, jobs, stages)
            layers.update({
                k: {**layers.get(k, {}), **v}
                for k, v in trace.stream_metrics(spans.items, listener.progress).items()
            })
            result["layers"] = layers
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def metric_line(result: dict, traced: bool) -> dict:
    ops = result["ops"]
    if traced:
        layers = result["layers"]
        metrics = {}
        for name, unit in per_layer_names():
            if name == "trace.pass_wall_s":
                value = result["wall_s"]
            elif name == "host.steal_s":
                value = result["steal_s"]
            else:
                span, _, m = name.rpartition(".")
                value = layers.get(span, {}).get(m, 0.0)
            metrics[name] = {"value": value, "unit": unit}
    else:
        values = dict(result)
        values["ok_frac"] = (ops.attempted - ops.failed) / ops.attempted
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": ops.failed == 0 and not result["problems"],
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    from perfbench import procfs

    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    line = metric_line(result, bool(args.trace))
    host = procfs.host_info()
    print(f"# host cpus={host['cpus']} mem_total_gb={host['mem_total_gb']} "
          f"SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS')} "
          f"passes={result['passes']} steal_s={result['steal_s']:.2f} "
          f"attempted={line['attempted']} "
          f"failed={line['failed']}")
    for p in result["problems"] + result["ops"].errors:
        print(f"# problem: {p}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
