"""The drain runner for the finite-replay verification harness.

Every streaming query in the package drains through :func:`run_drain`
(memory- and parquet-sink drains through its wrapper :func:`drain_rows`):
it gives each writer a disposable checkpoint, starts the queries, drains
the replay with ``processAllAvailable``, stops them, removes the
checkpoints and returns each query's fed-batch count.

It is also the one place ``spark.sql.shuffle.partitions`` is lowered.
Structured Streaming sizes its state store by that conf at query START,
and every micro-batch commits one checkpoint delta PER state partition —
for a drain of a finite file (small state, 1-3 micro-batches) the
session default is mostly fixed-cost store I/O. The runner sizes it to
the replay (:func:`size_partitions`) over start → drain → stop and
restores it afterwards. This is harness-only sizing, not a semantics
change: production sizes state partitions to key cardinality and
throughput (and would RAISE it at 100 TB); results are
partitioning-invariant either way.
"""

from __future__ import annotations

import json
import os
import shutil
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
    path = os.path.join(
        _drain_base(), f"spark-drain-ckpt-{uuid.uuid4().hex[:12]}"
    )
    os.makedirs(path, exist_ok=True)
    return path


def _drain_base() -> str:
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm"
    import tempfile

    return tempfile.gettempdir()


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
    stream — the divergence this helper exists to end). The multi-file
    replays read ``f"{split_dir}/part-*.parquet"`` with
    ``max_files_per_trigger=1``: one micro-batch per file."""
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


def run_drain(
    spark: SparkSession,
    n_rows: int,
    *writers,
    rows_per_partition: int = ROWS_PER_STATE_PARTITION,
) -> list[int]:
    """Start each ``DataStreamWriter`` on its own disposable checkpoint,
    drain every query to exhaustion, stop them all, and return each
    query's fed-batch count (in writer order).

    The shuffle-partition conf is lowered to ``size_partitions(n_rows)``
    over start → drain → stop of all writers, so foreachBatch bodies
    plan under it too. Several writers run as concurrent queries (each
    one's batches stay sequential); they are drained one after another.
    On every path the queries are stopped and the checkpoints removed.
    Pass an explicit durable ``checkpointLocation`` to a writer of your
    own instead if crash recovery across restarts is required (see
    tests/test_streaming_semantics.py::test_checkpoint_crash_recovery).
    """
    ckpts = [drain_checkpoint_dir() for _ in writers]
    queries = []
    try:
        with drain_partitions(
            spark, size_partitions(spark, n_rows, rows_per_partition)
        ):
            try:
                for writer, ckpt in zip(writers, ckpts):
                    queries.append(
                        writer.option("checkpointLocation", ckpt).start()
                    )
                for query in queries:
                    query.processAllAvailable()
                return [fed_batches(query) for query in queries]
            finally:
                for query in queries:
                    query.stop()
    finally:
        for ckpt in ckpts:
            shutil.rmtree(ckpt, ignore_errors=True)


def drain_rows(
    spark: SparkSession,
    out_df,
    *,
    n_rows: int,
    output_mode: str,
    sink: str = "memory",
    rows_per_partition: int = ROWS_PER_STATE_PARTITION,
    min_fed_batches: int | None = None,
    what: str = "drain",
):
    """Drain a finite-replay streaming query through :func:`run_drain`
    and return the emitted rows as a DataFrame. Raises unless at least
    ``min_fed_batches`` micro-batches carried rows (a collapsed replay
    proves nothing about cross-batch state — fail loudly).

    Two sink forms:

    - ``sink="memory"`` — Spark's memory sink accumulates results on the
      DRIVER. This is the oracle-gate form; inherently driver-side (the
      memory sink is defined that way), so it does not scale past what
      one driver heap holds. The rows are copied into a standalone
      DataFrame and the sink's temp view is dropped on every path,
      failures included — a leaked view holds the full result on the
      driver for the session's lifetime.
    - ``sink="parquet"`` — the 100 TB drain form: each micro-batch's
      tasks append parquet shards DIRECTLY FROM THE EXECUTORS; the driver
      never materializes a row. ``output_mode`` must be ``append`` (the
      only mode file sinks support). The returned DataFrame is a lazy
      read of a disposable drain dir, removed at interpreter exit; tests
      read it back to assert parity with the memory form.
    """
    from wetsa_cams_solrad_timeseries_spark._artifacts import register_cleanup

    if sink not in ("memory", "parquet"):
        raise ValueError(f"unknown sink {sink!r} (memory|parquet)")
    if sink == "parquet" and output_mode != "append":
        raise ValueError(
            f"file sinks support append mode only, got {output_mode!r}"
        )
    name = f"drain_{uuid.uuid4().hex[:12]}"
    writer = out_df.writeStream.outputMode(output_mode)
    if sink == "memory":
        writer = writer.format("memory").queryName(name)
    else:
        # Often RAM-backed /dev/shm: registered for atexit removal or
        # every drain leaks tmpfs RAM beyond the process lifetime.
        out_dir = register_cleanup(
            os.path.join(_drain_base(), f"spark-{name}-out")
        )
        writer = writer.format("parquet").option("path", out_dir)
    try:
        (fed,) = run_drain(
            spark, n_rows, writer, rows_per_partition=rows_per_partition
        )
        if min_fed_batches is not None and fed < min_fed_batches:
            raise RuntimeError(
                f"{what} fed {fed} micro-batches, expected {min_fed_batches}"
            )
        if sink == "parquet":
            return spark.read.parquet(out_dir)
        result = spark.table(name)
        return spark.createDataFrame(result.collect(), schema=result.schema)
    finally:
        # The memory sink registers the view at start(); a no-op for the
        # parquet sink.
        spark.catalog.dropTempView(name)
