"""Stateful streaming sessionization with event-time timeouts.

The full custom-stateful-operator pattern: per-user session state lives in
the state store, extends while events keep arriving within the gap, and is
EMITTED + CLEARED by an ``EventTimeTimeout`` once the watermark passes the
session's gap deadline — i.e. sessions close exactly when no on-time event
can extend them anymore. This is the applyInPandasWithState twin of
``session_window`` (q55) with full control over the emitted payload.

State per user: (session_start_us, last_ts_us, n_events, sum_value) — a
fixed-width tuple, O(active users).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from wetsa_cams_solrad_timeseries_spark.catalog import ts_fix_expr

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
STATE_SCHEMA = "start_us long, last_us long, count long, total double"

GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def _update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    import numpy as np

    (user_id,) = key

    def emit(sessions: list[tuple]) -> pd.DataFrame:
        # Built from typed numpy arrays (datetime64[us] directly, no
        # pd.to_datetime parse) — this constructor runs once per GROUP
        # per batch, so its constant factor is the drain's hot path.
        return pd.DataFrame(
            {
                "user_id": np.full(len(sessions), user_id, dtype=np.int64),
                "session_start": np.array(
                    [s[0] for s in sessions], dtype="datetime64[us]"
                ),
                "session_end": np.array(
                    [s[1] for s in sessions], dtype="datetime64[us]"
                ),
                "n_events": np.array([s[2] for s in sessions], dtype=np.int64),
                "sum_value": [round(s[3] + 1e-9, 6) for s in sessions],
            }
        )

    if state.hasTimedOut:
        start_us, last_us, count, total = state.get
        state.remove()
        yield emit([(start_us, last_us, count, total)])
        return

    frames = [p for p in pdfs if len(p)]
    if not frames:
        # A non-timeout invocation can arrive with zero rows (e.g. a
        # watermark-advancing trigger); with nothing to merge, leave any
        # existing state (and its timeout) untouched.
        return
    # numpy sort on the int64 keys instead of a pandas frame sort, and no
    # concat for the (dominant) single-frame case — per-group constant
    # costs, paid once per key per micro-batch.
    batch = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    ts = batch["ts"].astype("int64").to_numpy() // 1000
    vals = batch["value"].to_numpy(dtype=np.float64)
    order = np.argsort(ts, kind="stable")
    ts = ts[order]
    vals = vals[order]
    if state.exists:
        start_us, last_us, count, total = state.get
    else:
        start_us = None

    # Vectorized segmentation: a session break is any gap > GAP_US; the
    # per-event Python loop this replaces was the drain's hot path (one
    # iteration per event vs one per SESSION here).
    brk = np.nonzero(np.diff(ts) > GAP_US)[0] + 1
    seg_starts = np.concatenate(([0], brk))
    seg_ends = np.concatenate((brk, [len(ts)]))
    sums = np.add.reduceat(vals, seg_starts)
    segs = [
        (int(ts[s]), int(ts[e - 1]), int(e - s), float(sums[i]))
        for i, (s, e) in enumerate(zip(seg_starts, seg_ends))
    ]
    if start_us is not None:
        # Carried session: merge the first segment into it when the gap
        # allows, else it stands as its own (to-be-closed) segment.
        if segs and segs[0][0] - last_us <= GAP_US:
            first = segs[0]
            segs[0] = (start_us, first[1], count + first[2], total + first[3])
        else:
            segs.insert(0, (start_us, last_us, count, total))

    closed, open_seg = segs[:-1], segs[-1]
    state.update(open_seg)
    # Close the open session once the watermark passes last_ts + gap:
    # no on-time event can extend it after that.
    state.setTimeoutTimestamp(open_seg[1] // 1000 + GAP_US // 1000)
    if closed:
        yield emit(closed)


def streaming_sessions(
    spark: SparkSession,
    parquet_path: str,
    max_files_per_trigger: int | None = None,
    watermark: str = "0 seconds",
    sink: str = "memory",
) -> DataFrame:
    """Drain the session operator over a replayed file set and return the
    emitted (closed) sessions. With ``watermark='0 seconds'`` the final
    watermark reaches max event time, so every session whose gap deadline
    precedes it closes — over a finite replay that is every session except
    possibly the very last per user (deadline beyond the last event).

    ``sink="parquet"`` drains executor-side (append-mode file sink, the
    100 TB form — see ``_drain.drain_rows``); memory is the oracle gate."""
    batch_df = spark.read.parquet(parquet_path)
    ts_fix = ts_fix_expr(dict(batch_df.dtypes).get("ts"))
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        file_replay_reader,
    )

    stream = (
        file_replay_reader(
            spark, parquet_path, batch_df.schema, max_files_per_trigger
        )
        .withColumn("ts", ts_fix)
        .select("user_id", "ts", "value")
        .withWatermark("ts", watermark)
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_rows,
        PY_STATE_ROWS_PER_PARTITION,
    )

    return drain_rows(
        spark,
        out,
        n_rows=batch_df.count(),
        rows_per_partition=PY_STATE_ROWS_PER_PARTITION,
        output_mode="append",
        sink=sink,
    )
