"""Streaming PQ encode: compress embedding shards as they arrive.

The streaming member of the index-maintenance lifecycle (q193 band rows,
q197 frozen-codebook PQ, q201 postings): shards of raw vectors arrive as
micro-batches and each batch is Arrow-encoded to PQ codes with FROZEN
codebooks, appending to the growing code index. Because encoding is a
pure per-row function of (vector, books), the drained index must equal
the one-pass batch encode — which is exactly what q203's DuckDB oracle
checks.

At-least-once discipline: ``foreachBatch`` may re-execute a batch, and a
plain ``mode("append")`` write would then duplicate its codes. Each
batch therefore writes its OWN generation dir (``batch_<id>``) gated by
the ``_SUCCESS`` marker — a re-executed batch that already committed
skips (Spark's documented batchId-dedupe pattern), a crashed half-write
has no marker and is simply redone. The final index is the glob read of
committed generations, left on disk (atexit-registered) so the result
stays a distributed scan, never a driver materialization.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession


def streaming_pq_encode(
    spark: SparkSession,
    split_dir: str,
    codebooks,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    rotation=None,
) -> DataFrame:
    """Drain the multi-file replay through a foreachBatch PQ encode and
    return the accumulated code index ``(id, sub, code)``. Asserts the
    stream really delivered more than one micro-batch
    (maxFilesPerTrigger=1 over a multi-file split), so the append
    lifecycle — not a single-batch fold — is what's exercised.

    ``rotation`` (optional): a FROZEN OPQ rotation matrix applied to
    each batch before encoding (``rotate_vectors``, one more scan-stage
    Arrow kernel per micro-batch) — the q218 OPQ variant of the stream;
    the frozen artifacts then are (R, books) instead of books alone,
    and encoding stays a pure per-row function of (vector, R, books),
    so batch≡stream equivalence holds unchanged."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import register_cleanup
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        pq_encode,
        rotate_vectors,
    )
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
            tempfile.gettempdir(), f"wetsa_pqstream_{uuid.uuid4().hex[:12]}"
        )
    )
    os.makedirs(root, exist_ok=True)

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        out = os.path.join(root, f"batch_{bid}")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            return  # re-executed batch: generation already committed
        if rotation is not None:
            bdf = rotate_vectors(bdf, rotation, id_col, emb_col)
        pq_encode(bdf, codebooks, id_col, emb_col).write.mode(
            "overwrite"
        ).parquet(out)

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
            f"streaming PQ encode drained in {len(committed)} "
            "micro-batch(es) — the append lifecycle was not exercised"
        )
    # Read EXACTLY the committed generations, not a batch_* glob: a
    # crash between the executor write and the _SUCCESS marker
    # (followed by an external restart against the same root) leaves
    # an uncommitted batch dir that the glob would read as data.
    return spark.read.parquet(
        *(os.path.join(root, name) for name in sorted(committed))
    )
