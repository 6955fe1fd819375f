"""Keyed-state TTL eviction — state-store GC under watermark advance.

The running-totals operator (stateful.py) keeps one state tuple per key
forever; on an unbounded stream that is a leak. This operator adds the
production contract: a key whose last event is older than ``ttl_ms``
behind the watermark is EVICTED — its final totals are emitted exactly
once via ``EventTimeTimeout`` and its state is cleared — while active
keys stay resident and emit nothing. Emitted rows therefore prove the
timeout/GC path executed (they are produced nowhere else), and state
size is bounded by the number of keys active within the TTL window, not
by stream lifetime.

Same physical pattern as sessions.py: Arrow-batched
``applyInPandasWithState``, fixed-width state (count, total, last_us),
event-time timeout set to ``last_event + ttl``. Over a finite replay the
final watermark is the max event time, so the evicted set is
deterministic: exactly the keys idle more than the TTL before the end of
the stream (the DuckDB-oracle form in plans/pipeline_ops.py).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from wetsa_cams_solrad_timeseries_spark.catalog import ts_fix_expr

OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double, last_ts timestamp"
STATE_SCHEMA = "count long, total double, last_us long"

DEFAULT_TTL_MS = 6 * 3600 * 1000  # 6 hours of inactivity


def _make_update(ttl_ms: int):
    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            count, total, last_us = state.get
            state.remove()  # the GC: evicted keys leave the store
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [count],
                    "sum_value": [round(total + 1e-9, 6)],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                }
            )
            return
        frames = [p for p in pdfs if len(p)]
        if not frames:
            # Watermark-advancing trigger with no rows for this key:
            # leave state and its timeout untouched.
            return
        if state.exists:
            count, total, last_us = state.get
        else:
            count, total, last_us = 0, 0.0, 0
        for pdf in frames:
            count += len(pdf)
            total += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
        state.update((count, total, last_us))
        # Evict once the watermark passes last_event + TTL (ms-truncated
        # micros on both sides, same convention as sessions.py).
        state.setTimeoutTimestamp(last_us // 1000 + ttl_ms)
        return

    return _update


def streaming_ttl_evictions(
    spark: SparkSession,
    parquet_path: str,
    ttl_ms: int = DEFAULT_TTL_MS,
    watermark: str = "0 seconds",
    sink: str = "memory",
) -> DataFrame:
    """Drain the TTL operator over a replayed file set; returns ONLY the
    evicted keys' final totals (active keys are retained in the store and
    emit nothing). ``sink="parquet"`` drains executor-side (see
    ``_drain.drain_rows``)."""
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_rows,
        file_replay_reader,
        PY_STATE_ROWS_PER_PARTITION,
    )

    batch_df = spark.read.parquet(parquet_path)
    ts_fix = ts_fix_expr(dict(batch_df.dtypes).get("ts"))
    stream = (
        file_replay_reader(spark, parquet_path, batch_df.schema)
        .withColumn("ts", ts_fix)
        .select("user_id", "ts", "value")
        .withWatermark("ts", watermark)
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _make_update(ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return drain_rows(
        spark,
        out,
        n_rows=batch_df.count(),
        rows_per_partition=PY_STATE_ROWS_PER_PARTITION,
        output_mode="append",
        sink=sink,
    )
