"""bench.py adjudication plumbing (no Spark needed): the historical-best
baseline merges every committed record by per-query minimum, the outlier
trigger is tighter for streaming/iterative queries, and history updates
fold new minima without ever raising a recorded best."""

import json

import bench


def test_outlier_factor_classes():
    assert bench._outlier_factor("q71_streaming_sessions") == 2.0
    assert bench._outlier_factor("q99_stream_stream_join") == 2.0
    assert bench._outlier_factor("q192_pagerank_converged") == 2.0
    assert bench._outlier_factor("q161_pagerank") == 2.0
    assert bench._outlier_factor("q01_pricing_summary") == 3.0
    assert bench._outlier_factor("q216_ann_serving_sla") == 3.0


def test_historical_best_is_min_across_sources(tmp_path, monkeypatch):
    hist = tmp_path / "BENCH_HISTORY.json"
    local = tmp_path / "BENCH_LOCAL.json"
    hist.write_text(json.dumps({"sf": 0.1, "queries": {"qa": 2.0, "qb": 1.0}}))
    local.write_text(json.dumps({"sf": 0.1, "queries": {"qa": 1.5, "qc": 4.0}}))
    monkeypatch.setattr(bench, "_HISTORY_PATH", str(hist))
    monkeypatch.setattr(bench, "_ROOT", str(tmp_path))
    best = bench._historical_best(0.1)
    assert best == {"qa": 1.5, "qb": 1.0, "qc": 4.0}
    # different SF records are not a valid baseline
    assert bench._historical_best(0.01) == {}


def test_update_history_never_raises_a_best(tmp_path, monkeypatch):
    hist = tmp_path / "BENCH_HISTORY.json"
    # legacy single-SF layout must be upgraded in place, not dropped
    hist.write_text(json.dumps({"sf": 0.1, "queries": {"qa": 1.0}}))
    monkeypatch.setattr(bench, "_HISTORY_PATH", str(hist))
    monkeypatch.setattr(bench, "_ROOT", str(tmp_path))
    # a slower run must not overwrite the historical best; a faster run
    # and a new query must land; error sentinels (-1) are ignored
    bench._update_history(0.1, {"qa": 5.0, "qb": 0.5, "qc": -1.0})
    got = json.loads(hist.read_text())["0.1"]
    assert got == {"qa": 1.0, "qb": 0.5}


def test_update_history_is_keyed_by_sf(tmp_path, monkeypatch):
    """Round-10 ADVICE (medium): an sf0.01 iteration run must not wipe
    the accumulated sf0.1 minima, and the -1.0 unknown-SF sentinel must
    never be recorded."""
    hist = tmp_path / "BENCH_HISTORY.json"
    hist.write_text(json.dumps({"0.1": {"qa": 1.0}}))
    monkeypatch.setattr(bench, "_HISTORY_PATH", str(hist))
    monkeypatch.setattr(bench, "_ROOT", str(tmp_path))
    bench._update_history(0.01, {"qa": 9.0})
    got = json.loads(hist.read_text())
    assert got == {"0.1": {"qa": 1.0}, "0.01": {"qa": 9.0}}
    # the sf0.1 baseline is still served untouched
    assert bench._historical_best(0.1) == {"qa": 1.0}
    # unknown-SF sentinel: no write at all
    before = hist.read_text()
    bench._update_history(-1.0, {"qa": 0.001})
    assert hist.read_text() == before


def test_warehouse_sweep_removes_only_dead_siblings(tmp_path, monkeypatch):
    import os

    from wetsa_cams_solrad_timeseries_spark import session as S

    # fake /tmp layout: one dir for a dead pid, one for our own pid
    dead = tmp_path / "spark-graft-warehouse-999999999"
    mine = tmp_path / f"spark-graft-warehouse-{os.getpid()}"
    dead.mkdir()
    mine.mkdir()

    import glob as _glob

    real_glob = _glob.glob
    monkeypatch.setattr(
        _glob, "glob",
        lambda pat: (
            [str(dead), str(mine)]
            if pat == "/tmp/spark-graft-warehouse-*"
            else real_glob(pat)
        ),
    )
    S._sweep_dead_warehouses()
    assert not dead.exists()  # dead sibling collected
    assert mine.exists()  # our own generation untouched


def test_core_count_defaults_to_host_cores():
    # With SPARK_GRAFT_CPUS unset, local[N] and the shuffle partitions
    # both take the cores this process may run on, not a fixed count.
    import os
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "from wetsa_cams_solrad_timeseries_spark import session as S; "
         "print(S.CPUS, S.PERF_CONF['spark.sql.shuffle.partitions'])"],
        env=env, cwd=root, capture_output=True, text=True, check=True,
    )
    host = str(len(os.sched_getaffinity(0)))
    assert out.stdout.split() == [host, host]
