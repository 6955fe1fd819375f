"""The ``solar_chain`` workload: the paper's EP1 ingest -> EP2 compile ->
EP3 compare chain, called through the package's public functions, and
the pandas/numpy checks of its outputs."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

from perfbench import corpus
from perfbench.accounting import Ops, Spans

# Stations whose processed files and figures are checked or rendered.
SAMPLE_STATIONS = ("Makassar", "Kupang", "Padang_Pariaman")
COMPONENTS = (("GHI", "GHI"), ("DHI", "DHI"), ("DNI", "BNI"))


def make_fetch_fn(raw_dir: str):
    """A ``fetch_fn`` that returns the pre-generated raw file: there is
    no network. It closes over one string only, so it ships to the
    executors by value."""

    def fetch(task: dict) -> str:
        import os as _os

        path = _os.path.join(
            raw_dir, f"raw_1min_{task['station']}_{task['sky_type']}.csv"
        )
        if not _os.path.exists(path):
            raise FileNotFoundError(path)
        return path

    return fetch


def run_chain(spark, inputs: dict, out_dir: str, ops: Ops, spans: Spans,
              fetch_fn=None) -> dict:
    """One pass of the chain. Every stage is one operation and every
    ``run_ingest`` task row is one more; a stage that raises is counted
    failed and the stages that need its output are counted failed too."""
    from pyspark.sql import functions as F

    from wetsa_cams_solrad_timeseries_spark.pipelines.compare import run_compare
    from wetsa_cams_solrad_timeseries_spark.pipelines.compile import (
        compile_solar,
        write_compiled_parquet,
    )
    from wetsa_cams_solrad_timeseries_spark.pipelines.ingest import run_ingest
    from wetsa_cams_solrad_timeseries_spark.sinks.netcdf import write_netcdf
    from wetsa_cams_solrad_timeseries_spark.sinks.plots import (
        plot_inputs,
        render_compare_png,
    )

    processed = os.path.join(out_dir, "processed")
    os.makedirs(processed, exist_ok=True)
    compiled_path = os.path.join(out_dir, "compiled.parquet")
    nc_path = os.path.join(out_dir, "compiled.nc")
    out: dict = {"processed": processed, "compiled": compiled_path,
                 "netcdf": nc_path, "pngs": {}, "stats": None}
    fetch_fn = fetch_fn or make_fetch_fn(inputs["raw_dir"])
    stages = ["ingest", "compile", "netcdf", "compare"] + [
        f"plot:{s}" for s in SAMPLE_STATIONS
    ]

    with spans.span("pipelines.ingest.run_ingest"), ops.op("ingest") as ok:
        rows = [
            r.asDict()
            for r in run_ingest(
                spark, inputs["locations"], fetch_fn, processed
            ).collect()
        ]
    if not ok:
        ops.fail_rest([f"task:{s}/{sky}" for s in inputs["stations"]
                       for sky in corpus.SKY_TYPES] + stages[1:])
        return out
    ops.task_rows(rows)

    with spans.span("pipelines.compile.compile_solar"), ops.op("compile") as ok:
        compiled = compile_solar(
            spark,
            os.path.join(processed, "processed_10min_*_observed_cloud.csv"),
            inputs["locations"],
        )
        write_compiled_parquet(compiled, compiled_path)
    if not ok:
        ops.fail_rest(stages[2:])
        return out

    with spans.span("sinks.netcdf.write_netcdf"), ops.op("netcdf"):
        write_netcdf(spark.read.parquet(compiled_path), nc_path)

    with spans.span("pipelines.compare.run_compare"), ops.op("compare") as ok:
        ground = (
            spark.read.option("header", True)
            .option("inferSchema", False)
            .csv(os.path.join(inputs["ground_dir"], "QC_*_2024_flagged.csv"))
        )
        ground = ground.select(
            F.regexp_extract(
                F.input_file_name(), r"QC_(.*?)_2024_flagged\.csv", 1
            ).alias("station"),
            F.col("Datetime (UTC)"),
            *[F.col(c).cast("double") for c in ("GHI", "DHI", "DNI")],
            *[F.col(c).cast("int") for c in corpus.FLAG_COLS],
        )
        cams = spark.read.parquet(compiled_path).select(
            "station", F.col("time_utc").alias("time"), "GHI", "DHI", "DNI"
        )
        merged, stats = run_compare(ground, cams)
        out["stats"] = stats
    if not ok:
        ops.fail_rest(stages[4:])
        return out

    with spans.span("sinks.plots.render_compare_png"):
        for station in SAMPLE_STATIONS:
            png = os.path.join(out_dir, f"compare_{station}.png")
            with ops.op(f"plot:{station}"):
                render_compare_png(plot_inputs(merged, stats, station), png)
                out["pngs"][station] = png
    return out


# ---------------------------------------------------------------- checks


def _read_raw(path: str) -> pd.DataFrame:
    """Independent pandas read of an F2 file."""
    header = None
    with open(path) as fh:
        for line in fh:
            if not line.startswith("#"):
                break
            header = line.lstrip("#").strip()
    names = [c.strip() for c in header.split(";")]
    pdf = pd.read_csv(path, comment="#", sep=";", header=None, names=names)
    pdf["time"] = pd.to_datetime(pdf["Observation period"].str.split("/").str[0])
    return pdf


def expected_processed(raw_path: str) -> pd.DataFrame:
    """The reference transform: ``resample('10min').mean()`` including
    empty buckets."""
    return (
        _read_raw(raw_path).set_index("time").select_dtypes(include="number")
        .resample("10min").mean()
    )


def _close(a, b, rel: float = 1e-9) -> bool:
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    return a.shape == b.shape and bool(
        np.all((np.isnan(a) & np.isnan(b)) | np.isclose(a, b, rtol=rel, atol=0))
    )


def check_chain(inputs: dict, out: dict) -> dict[str, str]:
    """Compare one pass's outputs with the pandas/numpy oracles. Returns
    {operation name: first problem} for every operation whose output is
    wrong; empty when all are correct."""
    from wetsa_cams_solrad_timeseries_spark.sinks.netcdf3 import read_netcdf3

    bad: dict[str, str] = {}
    names = inputs["stations"]
    kept = sorted(s for s in names if s != corpus.EXCLUDED_STATION)
    raw = inputs["raw_dir"]
    cams = {
        s: expected_processed(os.path.join(raw, corpus.raw_name(s, "observed_cloud")))
        for s in names
    }

    # Processed files of the sample stations equal pandas resample.
    for station in SAMPLE_STATIONS:
        for sky in corpus.SKY_TYPES:
            op = f"task:{station}/{sky}"
            exp = cams[station] if sky == "observed_cloud" else expected_processed(
                os.path.join(raw, corpus.raw_name(station, sky)))
            p = os.path.join(out["processed"], f"processed_10min_{station}_{sky}.csv")
            if not os.path.exists(p):
                bad[op] = "processed file missing"
                continue
            got = pd.read_csv(p, parse_dates=["time"])
            if list(got["time"]) != list(exp.index):
                bad[op] = "10-minute grid differs"
            elif any(c not in got or not _close(got[c], exp[c]) for c in exp.columns):
                bad[op] = "bucket means differ"

    # Compiled row count and station set.
    try:
        compiled = pd.read_parquet(out["compiled"])
    except (OSError, ValueError) as ex:
        return {**bad, "compile": f"compiled parquet unreadable: {ex}"}
    compiled["station"] = compiled["station"].astype(str)
    want_rows = sum(len(cams[s]) for s in kept)
    if sorted(compiled["station"].unique()) != kept:
        bad["compile"] = "station set differs"
    elif len(compiled) != want_rows:
        bad["compile"] = f"{len(compiled)} rows, expected {want_rows}"

    # The NetCDF file read back equals the (time x station) pivot of the
    # compiled table, NaN fill included.
    try:
        nc = read_netcdf3(out["netcdf"])
        strlen = nc["dims"]["name_strlen"]
        chars = nc["vars"]["station"]["values"]
        axis = [chars[i * strlen:(i + 1) * strlen].rstrip(b"\x00").decode()
                for i in range(nc["dims"]["station"])]
        times = pd.to_datetime(np.asarray(nc["vars"]["time"]["values"]), unit="s")
        for var, _src in COMPONENTS:
            pivot = compiled.pivot(index="time_utc", columns="station", values=var)
            pivot = pivot.sort_index().reindex(columns=kept)
            if axis != kept:
                bad["netcdf"] = "station axis differs"
            elif list(times) != list(pivot.index):
                bad["netcdf"] = "time axis differs"
            elif not _close(nc["vars"][var]["values"], pivot.to_numpy().ravel(), rel=0):
                bad["netcdf"] = f"{var} grid differs"
    except (OSError, ValueError, KeyError) as ex:
        bad["netcdf"] = f"unreadable: {ex}"

    # Per (station, component) OLS equals numpy on the pandas join.
    got_stats = {(s["station"], s["component"]): s for s in out["stats"] or []}
    if len(got_stats) != len(kept) * len(COMPONENTS):
        bad["compare"] = f"{len(got_stats)} regression rows"
    for station in kept:
        g = pd.read_csv(os.path.join(inputs["ground_dir"], corpus.ground_name(station)))
        g = g[g[corpus.FLAG_COLS].sum(axis=1) == 0]
        g = g.assign(timestamp=pd.to_datetime(g["Datetime (UTC)"], utc=True)
                     .dt.tz_localize(None))
        c = cams[station].reset_index().rename(columns={"time": "timestamp"})
        cam_cols = [f"{comp}_cams" for comp, _ in COMPONENTS]
        for comp, src in COMPONENTS:
            c[f"{comp}_cams"] = c[src] * 60.0
        m = g.merge(c[["timestamp"] + cam_cols], on="timestamp").dropna(
            subset=[comp for comp, _ in COMPONENTS] + cam_cols)
        for comp, _src in COMPONENTS:
            s = got_stats.get((station, comp))
            x, y = m[comp].to_numpy(), m[f"{comp}_cams"].to_numpy()
            slope, intercept = np.polyfit(x, y, 1)
            r2 = np.corrcoef(x, y)[0, 1] ** 2
            if s is None or s["n"] != len(m) or not all(
                math.isclose(s[k], v, rel_tol=1e-9)
                for k, v in (("slope", slope), ("intercept", intercept), ("r2", r2))
            ):
                bad.setdefault("compare", f"regression {station}/{comp} differs")

    for station in SAMPLE_STATIONS:
        png = out["pngs"].get(station)
        if png is None or not os.path.exists(png):
            bad[f"plot:{station}"] = "no figure"
            continue
        with open(png, "rb") as fh:
            if fh.read(8) != b"\x89PNG\r\n\x1a\n":
                bad[f"plot:{station}"] = "bad PNG signature"
    return bad
