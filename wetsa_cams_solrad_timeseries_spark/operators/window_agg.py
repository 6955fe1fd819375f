"""Tumbling-window aggregation (A1) and the dense-grid reindex.

The reference's core aggregation is ``resample('10min').mean()``
(reference: code/get-cams-solrad-ts.py:94): tumbling buckets
``[t, t+10min)``, closed/label left, NaN-skipping per-column mean, with
*empty buckets emitted as NaN rows* (a regular grid).

Spark mapping:
- ``groupBy(window(ts, width))`` has the same closed/label-left bucket
  semantics and the same null-skipping ``avg``. It is a single hash
  aggregation with map-side partial aggregation — one shuffle keyed by
  (group keys, bucket), which is the minimal shuffle for this op at any
  scale. AQE coalesces/splits the post-shuffle partitions.
- Spark omits empty buckets. When the caller needs pandas' regular grid
  (the reference CSV outputs depend on it), ``with_dense_grid`` left-joins
  the aggregate against a generated ``sequence()`` grid. The grid is tiny
  (one row per bucket per group) and generated on the executors — no
  driver-side materialization, no cross join against the fact table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_mean(
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    width: str = "10 minutes",
    group_cols: Sequence[str] = (),
    bucket_col: str = "bucket_start",
    counts: bool = False,
) -> DataFrame:
    """Per-bucket NaN-skipping mean of ``value_cols``, keyed by
    ``group_cols`` + the tumbling window over ``ts_col``.

    A per-entity loop becomes a group key (q02 keys on ``event_type``),
    so every group is aggregated in one distributed plan instead of N
    sequential pandas runs (SURVEY.md §2.5 A1). EP1 resamples each file
    in pandas inside its fetch task (``pipelines.ingest.resample_file``).
    """
    aggs = [F.avg(c).alias(c) for c in value_cols]
    if counts:
        aggs.append(F.count(F.lit(1)).alias("n_rows"))
    out = (
        df.groupBy(*group_cols, F.window(F.col(ts_col), width).alias("__w"))
        .agg(*aggs)
        .select(
            *group_cols,
            F.col("__w.start").alias(bucket_col),
            *[c for c in ([*value_cols, "n_rows"] if counts else value_cols)],
        )
    )
    return out


def time_grid(
    df: DataFrame,
    lo: F.Column | str,
    hi: F.Column | str,
    width: str = "10 minutes",
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """One-column DataFrame of bucket starts from ``lo`` to ``hi``
    inclusive, step ``width``. ``lo``/``hi`` are aggregate expressions over
    ``df`` (e.g. min/max of the raw timestamp floored to the bucket)."""
    lo_c = F.col(lo) if isinstance(lo, str) else lo
    hi_c = F.col(hi) if isinstance(hi, str) else hi
    return (
        df.agg(lo_c.alias("__lo"), hi_c.alias("__hi"))
        .select(
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"INTERVAL {width}"))
            ).alias(bucket_col)
        )
    )


def with_dense_grid(
    agg_df: DataFrame,
    grid_df: DataFrame,
    bucket_col: str = "bucket_start",
    fill_zero_cols: Sequence[str] = (),
) -> DataFrame:
    """Left-join the (sparse) window aggregate onto the dense grid so empty
    buckets appear as null rows — pandas ``resample`` parity
    (SURVEY.md §2.5 A1 divergence).

    ``fill_zero_cols`` (e.g. counts) are coalesced to 0; mean columns stay
    null, matching pandas NaN. The aggregate side is post-aggregation (one
    row per bucket) so this join is trivially broadcastable when the grid
    spans less than years; Catalyst/AQE picks broadcast automatically.
    """
    out = grid_df.join(agg_df, on=bucket_col, how="left")
    for c in fill_zero_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out
