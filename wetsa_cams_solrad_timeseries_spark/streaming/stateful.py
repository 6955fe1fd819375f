"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming surface (SURVEY.md §2.10); the engine's
north star requires custom stateful operators for stream processing. This
module implements the canonical one — per-key running aggregates that
survive across micro-batches — with Arrow-batched state transitions
(``applyInPandasWithState``), the Structured Streaming equivalent of a
keyed state store.

State per key is a fixed-width tuple (count, sum, max_ts_micros): memory
is O(keys), independent of stream length. A watermark-bounded variant
would add ``GroupStateTimeout.EventTimeTimeout`` and drop idle keys —
noted rather than wired because the verification source replays a finite
file set.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from wetsa_cams_solrad_timeseries_spark.catalog import ts_fix_expr

OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double, last_ts timestamp"
STATE_SCHEMA = "count long, total double, max_ts long"


def _update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        count, total, max_ts = state.get
    else:
        count, total, max_ts = 0, 0.0, 0
    for pdf in pdfs:
        count += len(pdf)
        total += float(pdf["value"].sum())
        max_ts = max(max_ts, int(pdf["ts"].astype("int64").max()) // 1000)
    state.update((count, total, max_ts))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [count],
            "sum_value": [round(total + 1e-9, 6)],
            "last_ts": [pd.Timestamp(max_ts, unit="us")],
        }
    )


def streaming_running_totals(
    spark: SparkSession,
    parquet_path: str,
    max_files_per_trigger: int | None = None,
    keep_update_count: bool = False,
    sink: str = "memory",
) -> DataFrame:
    """Run the stateful per-user running-totals operator over a (static)
    parquet file set replayed as a stream; returns the drained result.

    ``max_files_per_trigger=1`` forces one micro-batch per file, so a
    multi-file input genuinely exercises cross-batch state restoration
    (the file source otherwise ingests every available file in the first
    trigger); the drained final state equals the batch aggregation either
    way, which is what the oracle checks.

    ``sink="memory"`` (default) drains through the memory sink — the
    oracle-gate form, driver-side by the sink's own design.
    ``sink="parquet"`` is the executor-side 100 TB form: micro-batch
    tasks append parquet shards straight from the executors (file sinks
    are append-only, so the operator is declared in append output mode —
    our update fn emits the same running-total rows either way, and the
    last-update-per-key filter below collapses both forms to identical
    final state; tests/test_streaming_semantics.py asserts the parity).
    """
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        file_replay_reader,
    )

    batch_df = spark.read.parquet(parquet_path)
    ts_fix = ts_fix_expr(dict(batch_df.dtypes).get("ts"))
    stream = (
        file_replay_reader(
            spark, parquet_path, batch_df.schema, max_files_per_trigger
        )
        .withColumn("ts", ts_fix)
        .select("user_id", "ts", "value")
    )
    mode = "update" if sink == "memory" else "append"
    out = stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_rows,
        PY_STATE_ROWS_PER_PARTITION,
    )

    result = drain_rows(
        spark,
        out,
        n_rows=batch_df.count(),
        rows_per_partition=PY_STATE_ROWS_PER_PARTITION,
        output_mode=mode,
        sink=sink,
    )
    # Keep only the LAST update per key (multi-trigger runs emit one row
    # per key per batch); with one batch this is the identity. The raw
    # update count is carried as __n_updates so callers/tests can assert
    # that multiple micro-batches actually ran.
    w_cnt = Window.partitionBy("user_id")
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    out = (
        result.withColumn("__n_updates", F.count(F.lit(1)).over(w_cnt))
        .withColumn("__rn", w)
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return out if keep_update_count else out.drop("__n_updates")
