"""A1 tumbling-mean semantics vs the pandas ``resample('10min').mean()``
oracle — including the empty-bucket grid divergence (SURVEY.md §2.5)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.operators.window_agg import (
    time_grid,
    tumbling_mean,
    with_dense_grid,
)


def _fixture_pdf():
    # 1-minute data with a 25-minute gap and some NaNs — exercises
    # closed/label-left buckets, NaN-skipping means, and empty buckets.
    ts = pd.date_range("2024-01-01 00:00", periods=30, freq="1min").tolist()
    ts += pd.date_range("2024-01-01 00:55", periods=10, freq="1min").tolist()
    vals = [float(i) if i % 7 else np.nan for i in range(len(ts))]
    return pd.DataFrame({"time": ts, "ghi": vals})


def test_tumbling_mean_matches_pandas_resample(spark):
    pdf = _fixture_pdf()
    sdf = spark.createDataFrame(pdf)
    got = (
        tumbling_mean(sdf, ts_col="time", value_cols=["ghi"])
        .orderBy("bucket_start")
        .toPandas()
    )
    exp = pdf.set_index("time").resample("10min").mean().dropna(how="all")
    assert list(got["bucket_start"]) == list(exp.index)
    np.testing.assert_allclose(got["ghi"].to_numpy(), exp["ghi"].to_numpy(), rtol=1e-12)


def test_dense_grid_reproduces_pandas_empty_buckets(spark):
    pdf = _fixture_pdf()
    sdf = spark.createDataFrame(pdf)
    agg = tumbling_mean(sdf, ts_col="time", value_cols=["ghi"])
    grid = time_grid(
        sdf,
        lo=F.date_trunc("minute", F.min("time")),  # already bucket-aligned
        hi=F.expr("date_add(MINUTE, -(minute(max(time)) % 10), date_trunc('minute', max(time)))"),
    )
    dense = with_dense_grid(agg, grid).orderBy("bucket_start").toPandas()
    exp = pdf.set_index("time").resample("10min").mean()  # keeps empty buckets as NaN
    assert list(dense["bucket_start"]) == list(exp.index)
    np.testing.assert_allclose(
        dense["ghi"].to_numpy(), exp["ghi"].to_numpy(), rtol=1e-12, equal_nan=True
    )


def test_grouped_tumbling_mean_counts(spark):
    pdf = _fixture_pdf()
    pdf["station"] = ["A" if i % 2 else "B" for i in range(len(pdf))]
    sdf = spark.createDataFrame(pdf)
    got = tumbling_mean(
        sdf, ts_col="time", value_cols=["ghi"], group_cols=["station"], counts=True
    )
    total = got.agg(F.sum("n_rows")).first()[0]
    assert total == len(pdf)
    exp = (
        pdf.set_index("time")
        .groupby("station")["ghi"]
        .resample("10min")
        .mean()
        .dropna(how="all")
    )
    got_pd = got.orderBy("station", "bucket_start").toPandas()
    np.testing.assert_allclose(
        got_pd["ghi"].to_numpy(), exp.to_numpy(), rtol=1e-12, equal_nan=True
    )


def test_ungrouped_grid_plan_is_unchanged(spark):
    """time_grid and with_dense_grid build exactly the ungrouped plan (a
    global aggregate and a join on the bucket alone), so q12_dense_grid's
    plan does not move."""
    import re

    sdf = spark.createDataFrame(_fixture_pdf())
    lo, hi = F.min("time"), F.max("time")
    agg = tumbling_mean(sdf, ts_col="time", value_cols=["ghi"])
    ungrouped = sdf.agg(lo.alias("__lo"), hi.alias("__hi")).select(
        F.explode(F.sequence("__lo", "__hi", F.expr("INTERVAL 10 minutes")))
        .alias("bucket_start")
    )

    def plan(df):
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", text)

    assert plan(time_grid(sdf, lo=lo, hi=hi)) == plan(ungrouped)
    assert plan(with_dense_grid(agg, time_grid(sdf, lo=lo, hi=hi))) == plan(
        ungrouped.join(agg, on="bucket_start", how="left")
    )
