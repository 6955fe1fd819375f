"""Shared drain-time tuning for the finite-replay verification harness.

Structured Streaming sizes its state store by ``spark.sql.shuffle.
partitions`` at query START, and every micro-batch commits one checkpoint
delta PER state partition — for the drain-a-finite-file verification runs
(tiny state, 1-3 micro-batches) a 32-partition state store is pure
fixed-cost I/O (~32 store inits + 32 delta files per batch, measured
seconds per query on this harness).

``drain_partitions`` temporarily lowers the conf while a drain query is
being planned/started and restores it afterwards. This is harness-only
sizing, not a semantics change: production sizes state partitions to key
cardinality and throughput (and would RAISE it at 100 TB); results are
partitioning-invariant either way.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession


def drain_checkpoint_dir() -> str:
    """Throwaway checkpoint location for verification drains.

    The state store commits delta files per partition per micro-batch;
    on this VM the disk behind /tmp has multi-second latency bursts that
    dominate drain time. The drains' checkpoints are DISPOSABLE (each
    query drains a finite replay once), so a RAM-backed tmpfs is the
    right home when present. Durable production queries must keep their
    checkpointLocation on fault-tolerant storage — this helper is for
    the drain harness only."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ) else None
    if base is None:
        import tempfile

        base = tempfile.gettempdir()
    path = os.path.join(base, f"spark-drain-ckpt-{uuid.uuid4().hex[:12]}")
    os.makedirs(path, exist_ok=True)
    return path

DRAIN_PARTITIONS = 4
ROWS_PER_STATE_PARTITION = 50_000
# Rows-per-partition for drains whose per-batch work is a per-GROUP
# Python kernel (``applyInPandasWithState``): each row costs a
# JVM→Arrow→pandas round trip plus per-group pandas constants — an
# order above a JVM-side SQL row — so the balance against the state
# store's per-partition fixed I/O tips toward more partitions. Measured
# r14 (sf0.1, 100k-row replays): q71 6.9→5.5 s, q77 4.4→3.3 s, q89
# 4.8→3.6 s at 8-16 partitions, while the SQL-state drains
# (q147/q162/q252/q261) were flat-to-NEGATIVE at 16 (q162 6.8→12.5 s)
# and keep the 50k default. Same scale-adaptive rule either way; only
# the operator-class constant differs.
PY_STATE_ROWS_PER_PARTITION = 6_250


def size_partitions(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = ROWS_PER_STATE_PARTITION,
) -> int:
    """State-partition count for a drain over ``n_rows`` input rows.

    Two costs trade off: the state store's per-partition-per-batch
    checkpoint I/O (wants FEW partitions — measured seconds of fixed cost
    at 32 on tiny replays) and the Python-side applyInPandas compute
    (wants MANY — a heavy per-key kernel over 1M rows serialized 4× when
    squeezed to 4 partitions). Sizing by input volume handles both ends:
    ~1 partition per ``rows_per_partition`` rows (50k for JVM-side SQL
    state, ``PY_STATE_ROWS_PER_PARTITION`` for per-group Python
    kernels), clamped to [4, default parallelism] — the same
    rows-per-task logic a production deployment applies."""
    hi = max(DRAIN_PARTITIONS, spark.sparkContext.defaultParallelism)
    return max(DRAIN_PARTITIONS, min(hi, n_rows // rows_per_partition + 1))


def fed_batches(query) -> int:
    """Number of micro-batches that actually carried input rows — THE
    shared definition (progress objects are parsed via their json form;
    ``p.get(...)`` also happens to work because StreamingQueryProgress
    subclasses dict in 4.x, but that is an implementation detail two
    idioms should not separately depend on)."""
    import json

    return sum(
        1
        for p in query.recentProgress
        if json.loads(p.json).get("numInputRows", 0) > 0
    )


def file_replay_reader(
    spark: SparkSession,
    parquet_path: str,
    schema,
    max_files_per_trigger: int | None = None,
):
    """readStream over a parquet FILE, GLOB, or DIRECTORY — the shared
    replay-source preamble. A file or glob streams over its parent
    directory scoped by ``pathGlobFilter``; a bare directory streams
    over itself (splitting it into (parent, name) would set a
    pathGlobFilter matching NO leaf file and silently drain an empty
    stream — the divergence this helper exists to end)."""
    import os

    directory, filename = os.path.split(parquet_path.rstrip("/"))
    reader = spark.readStream.schema(schema)
    if filename.endswith(".parquet"):
        reader = reader.option("pathGlobFilter", filename)
        src = directory
    else:
        src = parquet_path
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(src)


@contextmanager
def drain_partitions(spark: SparkSession, n: int = DRAIN_PARTITIONS):
    # The conf is session-global, not scoped to the caller: every job
    # planned while it is lowered gets n shuffle partitions. That is
    # safe only because no other thread submits Spark work while a
    # drain holds the conf (the streaming queries started inside the
    # block are the drain itself). Do not overlap other jobs with it.
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def drain_complete_agg(
    spark: SparkSession,
    agg_df,
    *,
    n_input_rows: int,
    min_fed_batches: int,
    what: str,
):
    """Shared drain for the replay-source queries (q163/q179/q186): run a
    COMPLETE-mode aggregation over a finite custom-source replay to
    exhaustion, require that at least ``min_fed_batches`` micro-batches
    actually carried rows (a collapsed replay proves nothing about
    cross-batch offset/state handling — fail loudly), and return the
    final state detached from the memory sink. One definition of the
    fed-batch counting / checkpoint lifecycle / partition sizing idiom,
    so a fix lands everywhere at once."""
    name = f"drain_{uuid.uuid4().hex[:12]}"
    ckpt = drain_checkpoint_dir()
    with drain_partitions(spark, size_partitions(spark, n_input_rows)):
        query = (
            agg_df.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            query.processAllAvailable()
            fed = fed_batches(query)
        finally:
            query.stop()
            import shutil as _shutil

            _shutil.rmtree(ckpt, ignore_errors=True)
    if fed < min_fed_batches:
        raise RuntimeError(
            f"{what} fed {fed} micro-batches, expected {min_fed_batches} "
            "(one per offset advance)"
        )
    return _detach_memory_table(spark, name)


def _detach_memory_table(spark: SparkSession, name: str):
    """Collect a memory-sink table into a standalone DataFrame and DROP
    the temp view: the sink's in-memory table otherwise holds the full
    result on the driver for the session's lifetime — across a
    180-query bench run that is every streaming result resident
    simultaneously."""
    result = spark.table(name)
    out = spark.createDataFrame(result.collect(), schema=result.schema)
    spark.catalog.dropTempView(name)
    return out


def drain_rows(
    spark: SparkSession,
    out_df,
    *,
    output_mode: str,
    sink: str = "memory",
    name: str | None = None,
    out_dir: str | None = None,
    min_fed_batches: int | None = None,
    what: str = "drain",
):
    """Run a finite-replay streaming query to completion and return the
    emitted rows as a DataFrame.

    Two sink forms:

    - ``sink="memory"`` — Spark's memory sink accumulates results on the
      DRIVER. This is the oracle-gate form: results round-trip through
      ``spark.table(name)`` for comparison. Inherently driver-side (the
      memory sink is defined that way), so it does not scale past what
      one driver heap holds.
    - ``sink="parquet"`` — the 100 TB drain form: each micro-batch's
      tasks append parquet shards DIRECTLY FROM THE EXECUTORS; the driver
      never materializes a row. ``output_mode`` must be ``append`` (the
      only mode file sinks support). The returned DataFrame is a lazy
      read of ``out_dir`` — production leaves the files as the product;
      tests read them back to assert parity with the memory form.

    The checkpoint is created fresh and removed afterwards (disposable by
    design — see ``drain_checkpoint_dir``); pass an explicit durable
    ``checkpointLocation`` via the writer instead if crash recovery
    across restarts is required (see
    tests/test_streaming_semantics.py::test_checkpoint_crash_recovery).
    """
    import shutil

    ckpt = drain_checkpoint_dir()
    try:
        if sink == "memory":
            name = name or f"drain_{uuid.uuid4().hex[:12]}"
            query = (
                out_df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                query.processAllAvailable()
                fed = fed_batches(query)
            finally:
                query.stop()
            if min_fed_batches is not None and fed < min_fed_batches:
                raise RuntimeError(
                    f"{what} fed {fed} micro-batches, expected "
                    f"{min_fed_batches}"
                )
            # Detached + view dropped — see _detach_memory_table.
            return _detach_memory_table(spark, name)
        if sink == "parquet":
            if output_mode != "append":
                raise ValueError(
                    f"file sinks support append mode only, got {output_mode!r}"
                )
            if out_dir is None:
                out_dir = ckpt + "-out"
                # The default out_dir lives next to the checkpoint
                # (often RAM-backed /dev/shm) — register it for atexit
                # removal or every drain leaks tmpfs RAM beyond the
                # process lifetime. An EXPLICIT out_dir is the caller's
                # product and is left alone.
                from wetsa_cams_solrad_timeseries_spark._artifacts import (
                    register_cleanup,
                )

                register_cleanup(out_dir)
            query = (
                out_df.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                query.processAllAvailable()
                fed = fed_batches(query)
            finally:
                query.stop()
            if min_fed_batches is not None and fed < min_fed_batches:
                raise RuntimeError(
                    f"{what} fed {fed} micro-batches, expected "
                    f"{min_fed_batches}"
                )
            return spark.read.parquet(out_dir)
        raise ValueError(f"unknown sink {sink!r} (memory|parquet)")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
