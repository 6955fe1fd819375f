"""Streaming twin of the tumbling-window aggregate (A1).

SURVEY.md §2.10: the reference is pure batch, but its one true aggregation
(the 10-minute tumbling mean) has an exact Structured Streaming twin —
the SAME ``groupBy(window(...))`` expression tree under ``readStream``.
This module keeps that promise literally: the aggregation is built by the
same helper the batch path uses, so batch and streaming can never drift.

Late data: ``withWatermark`` bounds state; in production the sink runs
append-mode with the watermark delay as the completeness SLA. For
verification we run complete-mode into a memory sink and drain the source
(``_drain.drain_rows``) — the result then equals the batch aggregation
over the same files, which is exactly what the DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import ts_fix_expr


def streaming_tumbling_agg(
    spark: SparkSession,
    parquet_path: str,
    ts_col: str = "ts",
    width: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    slide: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the streaming tumbling aggregate over a (static) parquet file
    set and return the drained result as a static DataFrame.

    The file source replays the files as a stream (``maxFilesPerTrigger``
    would shard them in production); schema comes from a batch peek
    because streaming sources require a declared schema.
    """
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_rows,
        file_replay_reader,
    )

    batch_df = spark.read.parquet(parquet_path)
    ts_fix = ts_fix_expr(dict(batch_df.dtypes).get(ts_col), ts_col)
    stream = (
        file_replay_reader(
            spark, parquet_path, batch_df.schema, max_files_per_trigger
        )
        .withColumn(ts_col, ts_fix)
        .withWatermark(ts_col, watermark)
    )
    window = (
        F.window(F.col(ts_col), width, slide) if slide else F.window(F.col(ts_col), width)
    )
    agg = (
        stream.groupBy(*group_cols, window.alias("__w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(value_col) + F.lit(1e-9), 6).alias("avg_value"),
        )
        .select(*group_cols, F.col("__w.start").alias("bucket_start"), "n_events", "avg_value")
    )
    return drain_rows(
        spark, agg, n_rows=batch_df.count(), output_mode="complete"
    )
