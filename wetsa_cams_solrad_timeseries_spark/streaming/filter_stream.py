"""Streaming curation filter: apply a stateless per-row gate to document
shards as they arrive.

The curation member of the streaming lifecycle (q42 windows, q53 state,
q203/q218 index encode): document shards arrive as micro-batches and each
batch passes through a scan-stage FILTER + projection — the q36/q90
quality gate riding the ingest stream, so rejected documents are dropped
the moment they land instead of ever reaching the curated store. Because
the gate is a pure per-row predicate, the drained survivor set must equal
the one-pass batch filter — exactly what q234's DuckDB oracle checks.

At-least-once discipline is pq_encode_stream's verbatim: each batch
writes its OWN ``batch_<id>`` generation dir gated by the ``_SUCCESS``
marker, re-executed batches skip, the result is the read of committed
generations only (a distributed scan, never a driver materialization).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession


def streaming_filter(
    spark: SparkSession,
    split_dir: str,
    predicate: Column,
    projection: list,
) -> DataFrame:
    """Drain the multi-file replay through a foreachBatch filter +
    projection and return the accumulated survivor frame — the
    row-predicate special case of :func:`streaming_transform`."""
    return streaming_transform(
        spark, split_dir, lambda bdf: bdf.filter(predicate).select(*projection)
    )


def streaming_transform(
    spark: SparkSession,
    split_dir: str,
    transform,
) -> DataFrame:
    """Drain the multi-file replay through a foreachBatch TRANSFORM
    (any DataFrame → DataFrame function whose semantics are per-batch —
    row predicates, projections, joins against STATIC broadcast sides)
    and return the accumulated output frame. Asserts the stream really
    delivered more than one micro-batch (maxFilesPerTrigger=1 over a
    multi-file split), so the append lifecycle — not a single-batch
    fold — is what's exercised. Batch ≡ stream equivalence is the
    CALLER's obligation: it holds iff the transform is row-local over
    the streaming side (static join sides are fine; cross-batch state
    is not — use the stateful kernels for that)."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import register_cleanup
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        file_replay_reader,
        run_drain,
    )

    batch_df = spark.read.parquet(split_dir)
    reader = file_replay_reader(
        spark, f"{split_dir}/part-*.parquet", batch_df.schema, 1
    )

    root = register_cleanup(
        os.path.join(
            tempfile.gettempdir(), f"wetsa_filterstream_{uuid.uuid4().hex[:12]}"
        )
    )
    os.makedirs(root, exist_ok=True)

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        out = os.path.join(root, f"batch_{bid}")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            return  # re-executed batch: generation already committed
        transform(bdf).write.mode("overwrite").parquet(out)

    run_drain(
        spark, batch_df.count(), reader.writeStream.foreachBatch(apply_batch)
    )
    committed = [
        name
        for name in os.listdir(root)
        if name.startswith("batch_")
        and os.path.exists(os.path.join(root, name, "_SUCCESS"))
    ]
    if len(committed) <= 1:
        raise RuntimeError(
            f"streaming transform drained in {len(committed)} "
            "micro-batch(es) — the append lifecycle was not exercised"
        )
    # Read EXACTLY the committed generations (the pq_encode_stream
    # crash-safety argument: an uncommitted half-write has no marker
    # and must not be read as data).
    return spark.read.parquet(
        *(os.path.join(root, name) for name in sorted(committed))
    )
