"""Streaming deduplication: ``dropDuplicates`` keyed state across
micro-batches.

The reference has no streaming surface (SURVEY.md §2.10); this is the
stream twin of the exact-dedup operator (operators/dedup.py) — the state
store holds one entry per distinct key and each key is emitted exactly
once, at first sight, no matter how many micro-batches the key recurs
in. Emitting ONLY the key columns keeps the drained result a pure set
(order- and replay-partitioning-independent), which is what makes the
finite-replay run oracle-checkable against a batch ``SELECT DISTINCT``.

Scale note: keyless-column state is O(distinct keys) and never evicted
here because the verification source replays a finite file set. An
unbounded production stream bounds it with
``withWatermark(...).dropDuplicatesWithinWatermark(...)`` — same
operator, state GC'd once the watermark passes each key's last
occurrence; that variant trades exactness for bounded state and is the
documented 100 TB form.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from wetsa_cams_solrad_timeseries_spark.catalog import ts_fix_expr
from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
    drain_rows,
    file_replay_reader,
)


def streaming_distinct(
    spark: SparkSession,
    parquet_path: str,
    keys: Sequence[str],
    max_files_per_trigger: int | None = None,
    require_multi_batch: bool = False,
    within_watermark: str | None = None,
) -> DataFrame:
    """Drain the distinct ``keys`` tuples of a parquet file set replayed
    as a stream; returns the drained (append-mode) result.

    ``max_files_per_trigger=1`` forces one micro-batch per file so the
    dedup state genuinely carries across triggers; with
    ``require_multi_batch`` the drain RAISES unless >1 micro-batch saw
    input rows — a single-batch fold cannot silently pass as a
    cross-batch test (same loud-failure contract as q77's update
    counter).

    ``within_watermark`` switches to the bounded-state production form:
    ``withWatermark(ts, delay).dropDuplicatesWithinWatermark(keys)`` —
    state for a key is GC'd once the event-time watermark passes its
    last occurrence plus the delay, which is what makes an UNBOUNDED
    stream's dedup state finite. With a delay covering the replayed
    data's whole time span the result still equals exact DISTINCT
    (every recurrence falls inside the retention window), which is how
    the parity test pins the variant's semantics."""
    keys = list(keys)
    batch_df = spark.read.parquet(parquet_path)
    src = file_replay_reader(
        spark, parquet_path, batch_df.schema, max_files_per_trigger
    )
    if "ts" in keys or within_watermark:
        # A ts dedup key must stream the NORMALIZED timestamp, or the raw
        # physical values (bigint nanos / timestamp_ntz) would mismatch
        # any batch oracle built on normalize_ts'd reads.
        src = src.withColumn("ts", ts_fix_expr(dict(batch_df.dtypes).get("ts")))
    if within_watermark:
        cols = keys if "ts" in keys else [*keys, "ts"]
        deduped = (
            src.withWatermark("ts", within_watermark)
            .select(*cols)
            .dropDuplicatesWithinWatermark(keys)
            .select(*keys)
        )
    else:
        deduped = src.select(*keys).dropDuplicates(keys)

    return drain_rows(
        spark,
        deduped,
        n_rows=batch_df.count(),
        output_mode="append",
        min_fed_batches=2 if require_multi_batch else None,
        what="multi-batch dedup drain",
    )
