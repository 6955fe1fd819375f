"""Plot layer (K4 — reference: code/solrad-compare.py:94-190).

The reference renders an 8-panel PNG per station: scatter + fitted line
per component (B3), bias-vs-cloud scatter (B4), and the GHI/DHI ratio
series (B5). Presentation is NOT an engine concern — everything plotted
is computed in Spark (the compare pipeline's merged table and regression
stats), collected as a SMALL pandas frame, and rendered driver-side.

matplotlib is not part of this environment; the render step is gated the
same way as the NetCDF writer: ``plot_inputs`` (the full data/stat
computation, including the fitted-line endpoints of B3) always works and
is tested; ``render_compare_png`` raises ``NotImplementedError`` without
matplotlib.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPONENTS = ("GHI", "DHI", "DNI")


def fitted_line(slope: float, intercept: float, x_max: float) -> dict[str, Any]:
    """B3 — evaluate the regression line at [0, x_max] (driver-side
    arithmetic on two endpoints; reference: solrad-compare.py:139-141)."""
    return {
        "x": [0.0, x_max],
        "y": [intercept, slope * x_max + intercept],
    }


def plot_inputs(
    merged: DataFrame, stats: list[dict], station: str | None = None
) -> dict[str, Any]:
    """Everything the 8-panel figure needs, computed in Spark and
    collected small — in ONE collect of every column the panels use,
    sliced per panel in pandas (a collect per panel would re-execute the
    whole merged join plan once per panel):

    - per-component scatter frames (ground vs cams) + axis max (A3)
    - fitted line endpoints per component (B3)
    - bias-vs-cloud scatter (B4) when cloud_cover exists
    - GHI/DHI ratio series (B5), in timestamp order
    """
    df = merged
    if station is not None and "station" in df.columns:
        df = df.filter(F.col("station") == station)

    comps = [
        comp for comp in COMPONENTS
        if f"{comp}_ground" in df.columns and f"{comp}_cams" in df.columns
    ]
    bias = "cloud_cover" in df.columns and "GHI_bias" in df.columns
    ratio = "GHI_DHI_ratio" in df.columns
    cols = ["timestamp"] if comps or ratio else []
    cols += [f"{comp}_{side}" for comp in comps for side in ("ground", "cams")]
    cols += ["cloud_cover", "GHI_bias"] if bias else []
    cols += ["GHI_DHI_ratio"] if ratio else []
    pdf = df.select(*cols).toPandas()

    out: dict[str, Any] = {"station": station, "components": {}}
    for comp in comps:
        g, c = f"{comp}_ground", f"{comp}_cams"
        scatter = pdf[["timestamp", g, c]].rename(columns={g: "ground", c: "cams"})
        axis_max = (
            float(max(scatter["ground"].max(), scatter["cams"].max()))
            if len(scatter)
            else 0.0
        )
        matches = [
            s
            for s in stats
            if s["component"] == comp
            and (station is None or s.get("station") == station)
        ]
        if station is None and len(matches) > 1:
            # Multi-station stats with no station filter: pooling every
            # station's scatter under ONE arbitrary station's fitted
            # line is a silently wrong figure — make the caller pick.
            raise ValueError(
                f"plot_inputs: stats carry {len(matches)} stations for "
                f"{comp}; pass station=... to plot one station's panel"
            )
        stat = matches[0] if matches else None
        out["components"][comp] = {
            "scatter": scatter,
            "axis_max": axis_max,
            "stats": stat,
            "line": fitted_line(stat["slope"], stat["intercept"], axis_max)
            if stat and stat["slope"] is not None
            else None,
        }
    if bias:
        out["bias_vs_cloud"] = pdf[["cloud_cover", "GHI_bias"]]  # B4
    if ratio:
        out["ratio_series"] = (
            pdf[["timestamp", "GHI_DHI_ratio"]]
            .sort_values("timestamp", kind="stable")
            .reset_index(drop=True)
        )  # B5
    return out


def render_compare_png(inputs: dict[str, Any], path: str, dpi: int = 300) -> None:
    """Render the multi-panel comparison figure (reference layout:
    3 scatter+fit panels, bias-vs-cloud, ratio series).

    With matplotlib present the full annotated layout renders; without it
    (this environment) the pure-Python fallback (sinks/png.py) rasterizes
    the same panels — scatter, fitted line, ratio series — into a real
    PNG, so the render hop always executes. The computation half
    (``plot_inputs``) is the engine's responsibility either way."""
    try:
        import matplotlib
    except ImportError:
        _render_fallback_png(inputs, path)
        return

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt  # noqa: F401 — real layout goes here

    n = len(inputs["components"]) + (1 if "bias_vs_cloud" in inputs else 0) + (
        1 if "ratio_series" in inputs else 0
    )
    fig, axes = plt.subplots(max(n, 1), 1, figsize=(8, 4 * max(n, 1)))
    axes = axes if isinstance(axes, (list, tuple)) or hasattr(axes, "__len__") else [axes]
    i = 0
    for comp, payload in inputs["components"].items():
        ax = axes[i]
        ax.scatter(payload["scatter"]["ground"], payload["scatter"]["cams"], s=4)
        if payload["line"]:
            ax.plot(payload["line"]["x"], payload["line"]["y"])
        ax.set_title(comp)
        i += 1
    if "bias_vs_cloud" in inputs:
        axes[i].scatter(inputs["bias_vs_cloud"]["cloud_cover"], inputs["bias_vs_cloud"]["GHI_bias"], s=4)
        i += 1
    if "ratio_series" in inputs:
        axes[i].plot(inputs["ratio_series"]["timestamp"], inputs["ratio_series"]["GHI_DHI_ratio"])
    fig.savefig(path, dpi=dpi)
    plt.close(fig)


def _render_fallback_png(inputs: dict[str, Any], path: str) -> None:
    """Rasterize the panel content with the dependency-free PNG encoder:
    same panels and series as the matplotlib layout, minimal styling."""
    from wetsa_cams_solrad_timeseries_spark.sinks.png import PanelCanvas, write_png

    panels = len(inputs["components"])
    panels += 1 if "bias_vs_cloud" in inputs else 0
    panels += 1 if "ratio_series" in inputs else 0
    canvas = PanelCanvas(max(panels, 1))
    i = 0
    for comp, payload in inputs["components"].items():
        lim = (0.0, payload["axis_max"] or 1.0)
        canvas.draw_axes(i)
        canvas.scatter(
            i, payload["scatter"]["ground"], payload["scatter"]["cams"], lim, lim
        )
        if payload["line"]:
            canvas.line(i, payload["line"]["x"], payload["line"]["y"], lim, lim)
        i += 1
    if "bias_vs_cloud" in inputs:
        pdf = inputs["bias_vs_cloud"].dropna()
        if len(pdf):
            xlim = (float(pdf["cloud_cover"].min()), float(pdf["cloud_cover"].max()))
            ylim = (float(pdf["GHI_bias"].min()), float(pdf["GHI_bias"].max()))
            canvas.draw_axes(i)
            canvas.scatter(i, pdf["cloud_cover"], pdf["GHI_bias"], xlim, ylim)
        i += 1
    if "ratio_series" in inputs:
        pdf = inputs["ratio_series"].dropna()
        if len(pdf):
            xs = pdf["timestamp"].astype("int64") / 1e9
            ylim = (float(pdf["GHI_DHI_ratio"].min()), float(pdf["GHI_DHI_ratio"].max()))
            xlim = (float(xs.min()), float(xs.max()))
            canvas.draw_axes(i)
            canvas.line(i, xs, pdf["GHI_DHI_ratio"], xlim, ylim)
    write_png(path, canvas.img)
