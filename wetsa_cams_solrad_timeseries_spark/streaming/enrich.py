"""Stream–static enrichment join: the micro-batch form of the q57 batch
dimension chain (events → customer → nation → region), promised by that
query's docstring and delivered here as a real ``readStream`` plan.

Structured Streaming joins a stream against a STATIC DataFrame without
any state store: the static side is planned per micro-batch like any
batch relation (broadcast when small — dimension refresh is free and
automatic because each micro-batch re-resolves the plan). Only the
downstream windowed aggregate keeps state, bounded by the watermark.
This is the third streaming join class next to stream-stream interval
join (q99) and stateful per-key aggregation (q53): no buffering of the
stream side at all.

At 100 TB the identical plan runs with a Kafka/file-stream source and a
slowly-changing dimension table; the drain harness below replays the
static parquet corpus through the file source and returns the finished
aggregate for the oracle gate (equal to the batch join+agg by
construction, which is exactly what the DuckDB twin checks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import ts_fix_expr


def streaming_enriched_agg(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    *,
    stream_key: str = "user_id",
    dim_key: str = "user_key",
    ts_col: str = "ts",
    width: str = "1 day",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("region_name", "event_type"),
    value_col: str = "value",
) -> DataFrame:
    """Drain a watermarked windowed aggregate over the stream–static
    join of the events file-stream with ``dim`` and return the result as
    a static DataFrame.

    ``dim`` must be a static frame keyed by ``dim_key``; the caller
    decides its broadcast policy (size-gated upstream — a pre-joined
    dimension chain stays dimension-sized, but it may scale with SF).
    """
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_rows,
        file_replay_reader,
    )

    batch_df = spark.read.parquet(events_path)
    ts_fix = ts_fix_expr(dict(batch_df.dtypes).get(ts_col), ts_col)
    stream = (
        file_replay_reader(spark, events_path, batch_df.schema)
        .withColumn(ts_col, ts_fix)
        .withWatermark(ts_col, watermark)
    )
    joined = stream.join(dim, stream[stream_key] == dim[dim_key], "inner")
    agg = (
        joined.groupBy(
            F.window(F.col(ts_col), width).alias("__w"), *group_cols
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col) + F.lit(1e-9), 6).alias("sum_value"),
        )
        .select(
            F.col("__w.start").alias("bucket_start"),
            *group_cols,
            "n_events",
            "sum_value",
        )
    )

    return drain_rows(
        spark, agg, n_rows=batch_df.count(), output_mode="complete"
    )
