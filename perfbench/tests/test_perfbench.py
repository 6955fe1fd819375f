"""Tests of the benchmark's own code: input generation, span attribution,
failure accounting and the metric line.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus, run, trace  # noqa: E402
from perfbench.accounting import Ops, Spans  # noqa: E402


def _tree_files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    )


def test_generator_is_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for path, seed in ((a, 7), (b, 7), (c, 8)):
        corpus.write_solar_corpus(str(path / "solar"), seed, days=0.2, n_stations=4)
        corpus.write_query_tables(str(path / "sf"), seed, 300, 20, 40)
    files = _tree_files(a)
    assert files == _tree_files(b) == _tree_files(c)
    assert len(files) == 1 + 4 * 2 + 4 + 2
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert "solar/raw/raw_1min_Makassar_observed_cloud.csv" in mismatch


def test_generator_shapes(tmp_path):
    inputs = corpus.write_solar_corpus(str(tmp_path), 3, days=1.0, n_stations=4)
    assert corpus.EXCLUDED_STATION in inputs["stations"]
    raw = open(os.path.join(inputs["raw_dir"], corpus.raw_name("Makassar", "observed_cloud"))).read()
    lines = raw.splitlines()
    head = [ln for ln in lines if ln.startswith("#")]
    assert head[-1] == "# " + ";".join(corpus.EXPERT_COLS)
    rows = lines[len(head):]
    assert len(rows) < 1440  # missing minutes
    assert any(";;" in r or r.endswith(";") for r in rows)  # empty cells
    clear = open(os.path.join(inputs["raw_dir"], corpus.raw_name("Makassar", "clear"))).read()
    assert "Cloud coverage" not in clear
    import pandas as pd

    stamps = []
    for st in inputs["stations"]:
        g = pd.read_csv(os.path.join(inputs["ground_dir"], corpus.ground_name(st)))
        assert list(g.columns[4:]) == corpus.FLAG_COLS
        assert (g["DHI"] == 0).any()
        stamps.append(g["Datetime (UTC)"].iloc[0])
    assert any(s.endswith("+00:00") for s in stamps)
    assert any(not s.endswith("+00:00") for s in stamps)
    assert sum(
        (pd.read_csv(os.path.join(inputs["ground_dir"], corpus.ground_name(st)))
         [corpus.FLAG_COLS].sum(axis=1) > 0).sum()
        for st in inputs["stations"]
    ) > 0


def _write_log(path, events):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "events_1_local-1"), "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def _job(jid, submit_ms, end_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit_ms,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _task(stage, cpu_ns, read=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor CPU Time": cpu_ns,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
    }}


def test_span_attribution_by_submission_time(tmp_path):
    # Span A: [100, 110] s. Job 0 from the caller's thread, job 1 from a
    # pool thread with another job group, overlapping job 0. Span B:
    # [110, 120] s holds job 2, which re-lists job 0's stage 0 (a reused
    # shuffle) plus its own stage 2. Job 3 falls outside both spans.
    events = (
        _job(0, 101_000, 103_000, [0], group="caller")
        + _job(1, 102_000, 105_000, [1], group="pool-thread")
        + _job(2, 111_000, 112_500, [0, 2])
        + _job(3, 130_000, 131_000, [3])
        + [_task(0, 2_000_000_000, written=3_000_000), _task(0, 1_000_000_000),
           _task(1, 500_000_000, read=1_000_000), _task(2, 250_000_000, read=2_000_000),
           _task(3, 9_000_000_000)]
    )
    _write_log(str(tmp_path / "app"), events)
    jobs, stages = trace.read_event_log(str(tmp_path))
    got = trace.span_metrics([("A", 100.0, 110.0), ("B", 110.5, 120.0)], jobs, stages)
    a, b = got["A"], got["B"]
    assert a["jobs"] == 2 and a["tasks"] == 3
    assert a["executor_cpu_s"] == pytest.approx(3.5)
    assert a["shuffle_mb"] == pytest.approx(4.0)
    assert a["driver_gap_s"] == pytest.approx(10.0 - 4.0)  # jobs cover 101..105
    assert a["wall_s"] == pytest.approx(10.0)
    assert b["jobs"] == 1 and b["tasks"] == 1  # stage 0 stays with job 0
    assert b["executor_cpu_s"] == pytest.approx(0.25)
    assert b["driver_gap_s"] == pytest.approx(9.5 - 1.5)


def test_stream_metrics_take_each_runs_last_state():
    progress = [(10.0, "r1", 5, 1_000_000), (11.0, "r1", 8, 2_000_000),
                (12.0, "r2", 1, 500_000), (30.0, "r3", 99, 9)]
    got = trace.stream_metrics([("S", 9.0, 20.0)], progress)["S"]
    assert got == {"micro_batches": 3.0, "state_rows": 9.0, "state_mb": 2.5}


def test_one_raising_fetch_is_one_failed_task(tmp_path):
    """A fetch that raises for one (station, sky type) fails exactly that
    task row; the rest of the chain still runs and checks clean."""
    from perfbench import solar
    from wetsa_cams_solrad_timeseries_spark.session import get_spark

    spark = get_spark("perfbench-tests", extra_conf={"spark.sql.shuffle.partitions": "4"})
    inputs = corpus.write_solar_corpus(str(tmp_path / "in"), 5, days=0.1, n_stations=4)
    raw_dir = inputs["raw_dir"]

    def fetch(task):
        if task["station"] == "Kupang" and task["sky_type"] == "clear":
            raise RuntimeError("simulated CDS outage")
        return f"{raw_dir}/raw_1min_{task['station']}_{task['sky_type']}.csv"

    ops, spans = Ops(), Spans()
    out = solar.run_chain(spark, inputs, str(tmp_path / "out"), ops, spans, fetch_fn=fetch)
    assert ops.failed == 1, ops.errors
    assert ops.errors[0].startswith("task:Kupang/clear")
    # 7 stages + one row per (station, sky type)
    assert ops.attempted == 4 + len(solar.SAMPLE_STATIONS) + 4 * 2
    assert [name for name, _, _ in spans.items] == run.SOLAR_SPANS
    bad = solar.check_chain(inputs, out)
    assert list(bad) == ["task:Kupang/clear"]


def test_unfinished_operations_count_failed(tmp_path):
    """A first stage that raises (as when the JVM is gone) fails every
    task row and stage after it, so the denominator stays the same."""
    from perfbench import solar

    inputs = corpus.write_solar_corpus(str(tmp_path / "in"), 5, days=0.05, n_stations=4)
    ops = Ops()
    solar.run_chain(None, inputs, str(tmp_path / "out"), ops, Spans())
    n = 1 + 4 * 2 + 3 + len(solar.SAMPLE_STATIONS)
    assert (ops.attempted, ops.failed) == (n, n)
    bad = solar.check_chain(inputs, {"processed": str(tmp_path / "none"),
                                     "compiled": str(tmp_path / "none"),
                                     "netcdf": "", "pngs": {}, "stats": None})
    for op, why in bad.items():
        ops.wrong(op, why)
    assert (ops.attempted, ops.failed) == (n, n)


def test_metric_line_carries_every_name_and_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ops = Ops()
    with ops.op("q"):
        pass
    result = {"ops": ops, "problems": [], "setup_s": 1.5, "wall_s": 2.5, "cpu_s": 3.5,
              "peak_rss_mb": 100.0, "passes": 1, "steal_s": 0.5,
              "layers": {"pipelines.ingest.run_ingest": {"jobs": 4.0}}}
    line = run.metric_line(result, traced=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["attempted"] == 1 and line["failed"] == 0
    want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert line["metrics"]["ok_frac"]["value"] == 1.0

    line = run.metric_line(result, traced=True)
    want = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert line["metrics"]["pipelines.ingest.run_ingest.jobs"]["value"] == 4.0
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)


def test_failed_operations_are_counted():
    ops = Ops()
    with ops.op("a") as ok:
        raise ValueError("boom")
    assert not ok
    ops.task_rows([{"station": "X", "sky_type": "clear", "ok": True},
                   {"station": "Y", "sky_type": "clear", "ok": False, "error": "e"}])
    with ops.op("b"):
        pass
    ops.wrong("a", "counted once already")
    ops.wrong("b", "wrong rows")
    ops.fail_rest(["c", "d"])
    assert (ops.attempted, ops.failed) == (6, 5)
    line = run.metric_line({"ops": ops, "problems": [], "setup_s": 1, "wall_s": 1,
                            "cpu_s": 1, "peak_rss_mb": 1}, traced=False)
    assert not line["correct"] and line["failed"] == 5
    assert line["metrics"]["ok_frac"]["value"] == pytest.approx(1 / 6)
