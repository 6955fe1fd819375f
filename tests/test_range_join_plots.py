"""Range join vs pandas interval oracle + plot-layer computation."""

import numpy as np
import pandas as pd
import pytest

from wetsa_cams_solrad_timeseries_spark.operators.joins import range_join
from wetsa_cams_solrad_timeseries_spark.pipelines.compare import run_compare
from wetsa_cams_solrad_timeseries_spark.sinks.plots import (
    fitted_line,
    plot_inputs,
    render_compare_png,
)


def test_range_join_matches_pandas_intervals(spark):
    rng = np.random.RandomState(11)
    left = pd.DataFrame(
        {
            "g": rng.randint(0, 3, 60),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.randint(0, 90 * 24, 60), unit="h"),
            "eid": range(60),
        }
    )
    starts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        rng.randint(0, 80, 10), unit="D"
    )
    right = pd.DataFrame(
        {
            "g": rng.randint(0, 3, 10),
            "start": starts,
            "end": starts + pd.to_timedelta(rng.randint(1, 20, 10), unit="D"),
            "rid": range(10),
        }
    )
    got = {
        (r["eid"], r["rid"])
        for r in range_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            left_ts="ts",
            right_start="start",
            right_end="end",
            by=["g"],
            bucket="7 days",
        ).collect()
    }
    exp = set()
    for _, l in left.iterrows():
        for _, r in right.iterrows():
            if l.g == r.g and r.start <= l.ts < r.end:
                exp.add((l.eid, r.rid))
    assert got == exp


def test_fitted_line_endpoints():
    line = fitted_line(slope=2.0, intercept=1.0, x_max=10.0)
    assert line["x"] == [0.0, 10.0]
    assert line["y"] == [1.0, 21.0]  # B3: slope*x + intercept at both ends


def test_plot_inputs_and_gated_render(spark, tmp_path):
    rng = np.random.RandomState(13)
    t = pd.date_range("2024-01-01", periods=50, freq="10min")
    ground = pd.DataFrame(
        {
            "Datetime (UTC)": t.astype(str),
            "GHI": rng.uniform(0, 900, 50),
            "DHI": rng.uniform(1, 400, 50),
            "DNI": rng.uniform(0, 800, 50),
            "flag_ghi": 0,
        }
    )
    cams = pd.DataFrame(
        {
            "time": t.astype(str),
            "GHI": rng.uniform(0, 15, 50),
            "DHI": rng.uniform(0, 7, 50),
            "BNI": rng.uniform(0, 13, 50),
            "Cloud coverage": rng.uniform(0, 100, 50),
        }
    )
    merged, stats = run_compare(
        spark.createDataFrame(ground), spark.createDataFrame(cams)
    )
    inputs = plot_inputs(merged, stats)
    assert set(inputs["components"]) == {"GHI", "DHI", "DNI"}
    ghi = inputs["components"]["GHI"]
    assert len(ghi["scatter"]) == 50
    assert ghi["axis_max"] >= ghi["scatter"]["ground"].max()
    assert ghi["line"] is not None and len(ghi["line"]["x"]) == 2  # B3
    assert "bias_vs_cloud" in inputs and len(inputs["bias_vs_cloud"]) == 50  # B4
    assert "ratio_series" in inputs and inputs["ratio_series"]["GHI_DHI_ratio"].notna().all()  # B5
    # The render hop always executes now (matplotlib layout when present,
    # else the pure-Python rasterizer) — check the PNG is real: signature,
    # decodable zlib scanlines, expected dimensions (5 stacked panels).
    render_compare_png(inputs, str(tmp_path / "cmp.png"))
    raw = (tmp_path / "cmp.png").read_bytes()
    assert raw[:8] == b"\x89PNG\r\n\x1a\n"
    try:
        import matplotlib  # noqa: F401
    except ImportError:
        import struct
        import zlib

        w, h = struct.unpack(">II", raw[16:24])
        assert (w, h) == (480, 5 * 240)
        idat_start = raw.index(b"IDAT") + 4
        (idat_len,) = struct.unpack(">I", raw[idat_start - 8 : idat_start - 4])
        scan = zlib.decompress(raw[idat_start : idat_start + idat_len])
        assert len(scan) == h * (1 + 3 * w)
        assert any(b not in (0, 255) for b in scan)  # colored marks present


def test_plot_inputs_is_one_collect(spark, count_jobs):
    """plot_inputs collects the merged frame once, whatever the number of
    panels: its jobs equal those of one collect of the merged frame, with
    three components or with one."""
    rng = np.random.RandomState(17)
    t = pd.date_range("2024-01-01", periods=40, freq="10min")
    ground = pd.DataFrame(
        {
            "Datetime (UTC)": t.astype(str),
            "GHI": rng.uniform(0, 900, 40),
            "DHI": rng.uniform(1, 400, 40),
            "DNI": rng.uniform(0, 800, 40),
        }
    )
    cams = pd.DataFrame(
        {
            "time": t.astype(str),
            "GHI": rng.uniform(0, 15, 40),
            "DHI": rng.uniform(0, 7, 40),
            "BNI": rng.uniform(0, 13, 40),
            "Cloud coverage": rng.uniform(0, 100, 40),
        }
    )
    merged, stats = run_compare(
        spark.createDataFrame(ground), spark.createDataFrame(cams)
    )
    one_collect = count_jobs(lambda: merged.toPandas())
    assert one_collect >= 1
    ghi_only = merged.drop("DHI_ground", "DHI_cams", "DNI_ground", "DNI_cams")
    for frame, n_components in ((merged, 3), (ghi_only, 1)):
        inputs = {}
        jobs = count_jobs(lambda: inputs.update(plot_inputs(frame, stats)))
        assert len(inputs["components"]) == n_components
        assert "bias_vs_cloud" in inputs and "ratio_series" in inputs
        assert jobs == one_collect
