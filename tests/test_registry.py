"""Registry contract tests: every declared query runs at sf0.001 with a
stable schema, and the entry-point wiring matches the driver contract."""

import os
import time

import pytest

import __spark_entry__ as entry
from wetsa_cams_solrad_timeseries_spark.plans.registry import QUERIES


def test_oracle_keys_subset_of_queries():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(QUERIES)


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _active_jobs(spark, timeout_s: float = 5.0) -> list[int]:
    """Spark job ids still running, polled until empty or timeout — a
    single read races the listener bus that retires finished jobs."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_s
    ids = list(tracker.getActiveJobsIds())
    while ids and time.monotonic() < deadline:
        time.sleep(0.1)
        ids = list(tracker.getActiveJobsIds())
    return ids


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_and_schema_stable(spark, sf_dir, name):
    spec = QUERIES[name]
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    views = _temp_views(spark)
    failure = None
    try:
        df = spec.fn(spark, sf_dir)
        cols = df.columns
        assert len(cols) == len(set(cols)), "duplicate column names"
        # The driver's canonicalizer pandas-sorts result columns and cannot
        # hash list/map/struct cells (q126 was red in round 5 for exactly
        # this) — declared outputs must be flat scalars; flatten with
        # posexplode per q93's convention.
        nested = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        assert not nested, f"nested output column(s) {nested} break the driver hash"
        df.limit(5).collect()  # executes the plan
    except BaseException as ex:
        failure = ex
        raise
    finally:
        # Lifecycle: nothing the query started may outlive it, on the
        # error path too. A query that raised keeps its own exception as
        # the reported failure, with any leak attached as a note.
        leaks = []
        if spark.streams.active:
            leaks.append("streaming query left running")
        if spark.conf.get("spark.sql.shuffle.partitions") != partitions:
            leaks.append("spark.sql.shuffle.partitions not restored")
        if _temp_views(spark) != views:
            leaks.append("temp views leaked")
        if _active_jobs(spark):
            leaks.append("Spark job left running")
        if failure is not None:
            for msg in leaks:
                failure.add_note(f"lifecycle: {msg}")
        else:
            assert not leaks, leaks


def test_pins_name_declared_queries():
    """Every _PIN_FIRST entry must be a declared query. _collect() now
    raises at import on an unknown pin (a silent no-op pin is how round 7
    shipped q192-q194 with no driver correctness row); this test keeps
    the invariant visible and guards the assert itself from deletion."""
    from wetsa_cams_solrad_timeseries_spark.plans import registry

    assert set(registry._PIN_FIRST) <= set(QUERIES)
    # And the enforcement is live: a fabricated unknown pin must raise.
    real = registry._PIN_FIRST
    registry._PIN_FIRST = real + ("q999_not_a_query",)
    try:
        with pytest.raises(AssertionError, match="q999_not_a_query"):
            registry._collect()
    finally:
        registry._PIN_FIRST = real


def test_worker_imports_survive_foreign_cwd():
    """Regression for the cwd trap: a driver process launched OUTSIDE the
    repo must still run worker-side kernels (cloudpickle references the
    package by name; ship_package's addPyFile makes workers import it).
    Runs a streaming stateful query — the class that broke — in a
    subprocess with cwd=/tmp."""
    import subprocess
    import sys

    # The checkout root goes on the probe process's sys.path only:
    # PYTHONPATH would also reach the Python workers and mask the
    # addPyFile path.
    root = os.path.dirname(os.path.abspath(entry.__file__))
    code = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "import __spark_entry__ as e\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[4]')"
        ".appName('cwd-probe').getOrCreate()\n"
        "n = e.queries()['q53_streaming_stateful']"
        "(spark, '/root/testdata/sf0.001').count()\n"
        "assert n > 0, n\n"
        "print('CWD_PROBE_OK', n)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "CWD_PROBE_OK" in out.stdout, out.stderr[-2000:]


def test_round6_nudge_convention():
    """Structural guard for the cross-engine rounding rule (_spec.round6):
    every 6-digit rounding in plans/ must carry the +1e-9 nudge, in the
    Spark expressions AND in the oracle SQL — a raw round(x, 6) is exactly
    the tie-flake bug the convention exists to prevent."""
    import pathlib
    import re

    plans = pathlib.Path("wetsa_cams_solrad_timeseries_spark/plans")
    bad = []
    for path in sorted(plans.glob("*.py")):
        src = path.read_text()
        # Spark side: capture each F.round( span to its closing paren.
        for m in re.finditer(r"F\.round\(", src):
            depth, i = 1, m.end()
            while depth and i < len(src):
                depth += {"(": 1, ")": -1}.get(src[i], 0)
                i += 1
            span = src[m.start():i]
            if re.search(r",\s*6\s*,?\s*\)$", span) and "1e-9" not in span:
                bad.append(f"{path.name}: {span[:70]}")
        # SQL side: any round(expr, 6) without a nudge inside the span.
        for m in re.finditer(r"(?<!F\.)\bround\(", src):
            depth, i = 1, m.end()
            while depth and i < len(src):
                depth += {"(": 1, ")": -1}.get(src[i], 0)
                i += 1
            span = src[m.start():i]
            if re.search(r",\s*6\s*\)$", span) and "1e-9" not in span:
                bad.append(f"{path.name}: {span[:70]}")
    assert not bad, "round(x, 6) without +1e-9 nudge:\n" + "\n".join(bad)
