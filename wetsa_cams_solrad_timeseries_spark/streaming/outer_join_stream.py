"""Watermarked stream-stream LEFT OUTER interval join — the append-mode
outer case q99's inner join deliberately avoided.

Outer stream-stream joins are semantically harder than inner: a left row
with no match cannot emit until the engine can PROVE no on-time match
will ever arrive — i.e. when the global watermark (min across both
inputs' per-source watermarks, minus delay) passes the end of the row's
join window. Two consequences this module makes explicit:

- The replay must be CHRONOLOGICAL. q99's repartition split feeds each
  batch rows spanning the whole time range, which forces a replay-wide
  watermark delay — and a watermark that never advances never emits an
  outer null row. ``chrono_split`` range-splits events into time-ordered
  files named so the file source replays them in event-time order
  (FileStreamSource orders by (modification time, path); the files are
  written sequentially AND named part-0000i), letting a production-small
  delay advance the watermark batch by batch.

- The final answer is NOT the batch left join: left rows whose join
  window ends inside the final watermark's blind spot (the last
  ``delay + interval`` of the stream) are still buffered in the state
  store when the replay ends, awaiting a proof that can no longer
  arrive. The oracle reproduces exactly this: unmatched rows qualify
  only when ``left_ts + interval < min(max_left_ts, max_right_ts) -
  delay``. That cut IS the documented semantics of append-mode outer
  joins on a finite prefix, not an approximation.

Scale shape: state = both sides' rows within their watermark retention
window, keyed by join key in the state store — bounded by the interval +
delay, evicted by watermark; the drain's task count is volume-sized as
everywhere else (_drain.size_partitions).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import ts_fix_expr


def chrono_split(spark: SparkSession, sf_dir: str, n_files: int = 2) -> str:
    """Materialize events as ``n_files`` parquet files covering
    CONTIGUOUS, ascending time ranges, named part-0000i so the streaming
    file source replays them in event-time order. Cached per process+SF
    via the shared artifact lifecycle (sweep + atexit).

    Two files is the minimum that exercises the outer join's essential
    behavior — the watermark advances across a batch boundary, so
    batch-1 left rows emit their outer nulls under batch-2's watermark —
    and the blind-spot oracle depends only on the FINAL watermark, not
    the file count. Each extra file costs a full micro-batch of join
    state-store and checkpoint overhead without new semantics."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import tmp_generation

    def write(split_dir: str) -> None:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_fix = ts_fix_expr(dict(ev.dtypes).get("ts"))
        ev = ev.withColumn("ts", ts_fix)
        # Exact ts quantiles give equal-count contiguous time slices; each
        # per-slice write funnels through one task (slices are
        # harness-sized), then the single part file is renamed into the
        # sequential replay name.
        ev = ev.withColumn("__ts_d", F.col("ts").cast("double"))
        qs = [i / n_files for i in range(1, n_files)]
        cuts = ev.approxQuantile("__ts_d", qs, 0.0)
        lo = float("-inf")
        os.makedirs(split_dir, exist_ok=True)
        for i in range(n_files):
            hi = cuts[i] if i < len(cuts) else float("inf")
            part = ev.where(
                (F.col("__ts_d") > F.lit(lo)) & (F.col("__ts_d") <= F.lit(hi))
            ).drop("__ts_d")
            tmp = os.path.join(split_dir, f"__tmp_{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            os.replace(src, os.path.join(split_dir, f"part-{i:05d}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)
            lo = hi
        # The writer's own done marker: the generation gate checks it.
        with open(os.path.join(split_dir, "_SUCCESS"), "w"):
            pass

    # n_files participates in the cache identity (see vector._split_events).
    return tmp_generation(sf_dir, "chrono_split", write, suffix=f"_f{n_files}")


def streaming_left_outer_interval_join(
    spark: SparkSession,
    split_dir: str,
    *,
    left_type: str = "purchase",
    right_type: str = "error",
    interval: str = "10 minutes",
    delay: str = "1 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream join: each left event joined to the same
    user's right events in (left_ts, left_ts + interval]; unmatched left
    rows emit with nulls once the watermark proves no match can arrive.
    Asserts >1 micro-batch fed rows AND at least one outer (null) row
    was emitted through watermark-driven eviction."""
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_rows,
        file_replay_reader,
    )

    batch_df = spark.read.parquet(split_dir)

    def side(event_type: str, prefix: str):
        return (
            file_replay_reader(
                spark, f"{split_dir}/part-*.parquet", batch_df.schema, 1
            )
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("value").alias(f"{prefix}_value"),
            )
            .withWatermark(f"{prefix}_ts", delay)
        )

    left, right = side(left_type, "l"), side(right_type, "r")
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {interval}")),
        "left_outer",
    ).select(
        F.col("l_user").alias("user_id"),
        F.col("l_id").alias("purchase_id"),
        F.col("l_ts").alias("purchase_ts"),
        F.col("l_value").alias("purchase_value"),
        F.col("r_id").alias("error_id"),
        F.col("r_ts").alias("error_ts"),
        F.col("r_value").alias("error_value"),
    )

    out = drain_rows(
        spark,
        joined,
        n_rows=batch_df.count(),
        output_mode="append",
        min_fed_batches=2,
        what="outer join (cross-batch state)",
    )
    if out.where(F.col("error_id").isNull()).limit(1).count() == 0:
        raise RuntimeError(
            "no outer null row emitted — watermark-driven eviction did "
            "not run (replay not chronological, or delay too large?)"
        )
    return out
