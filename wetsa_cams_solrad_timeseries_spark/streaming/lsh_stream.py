"""Streaming MinHash-LSH near-duplicate discovery: the band index as
cross-batch state.

The near-dup member of the streaming lifecycle (q82 exact keys, q234
quality gate, q236 decontamination, q203/q218 index encode): document
shards arrive as micro-batches; each batch (1) computes its MinHash band
rows and APPENDS them to the accumulated band index (batchId-gated
generations — the pq_encode_stream at-least-once discipline), then (2)
probes the accumulated index with its own bands, emitting canonicalized
candidate pairs (least, greatest). A pair is emitted EXACTLY once — in
the batch where its later-arriving member lands: the probe side is only
the new batch's bands, so an earlier batch cannot see the pair, and a
later one has neither endpoint in its new side. The drained pair set is
therefore independent of batch boundaries and arrival order and must
equal the one-pass batch LSH (q33) — which is exactly what q244's
oracle (q33's SQL verbatim) checks.

Scale shape: per micro-batch one shingle→signature pass over the NEW
shard only (history text never re-read), one band equi-join of the new
bands against the persisted index — the q193 incremental-dedup probe
shape with the only growing side being the index scan, which at 100 TB
is a bucketed table keyed by the band digest (sinks/bucketed.py) rather
than this replay's generation dirs.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_lsh_pairs(
    spark: SparkSession,
    split_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    n_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Drain the multi-file replay through the band-index append + probe
    loop and return the accumulated candidate-pair frame
    ``(id_a, id_b)``. Asserts >1 committed micro-batch (the append
    lifecycle, not a single-batch fold). Within a batch the bands
    generation is written FIRST and the pairs generation LAST — the
    pairs ``_SUCCESS`` is the batch's commit gate, so a re-executed
    batch overwrites both and a crash between the two writes re-runs
    the whole batch."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import register_cleanup
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_band_rows,
        minhash_signatures,
        word_shingles,
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
            tempfile.gettempdir(), f"wetsa_lshstream_{uuid.uuid4().hex[:12]}"
        )
    )
    os.makedirs(root, exist_ok=True)

    def _committed(kind: str) -> list[str]:
        return sorted(
            os.path.join(root, name, kind)
            for name in os.listdir(root)
            if name.startswith("batch_")
            and os.path.exists(os.path.join(root, name, kind, "_SUCCESS"))
        )

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        bands_out = os.path.join(root, f"batch_{bid}", "bands")
        pairs_out = os.path.join(root, f"batch_{bid}", "pairs")
        if os.path.exists(os.path.join(pairs_out, "_SUCCESS")):
            return  # re-executed batch: generation already committed
        sh = word_shingles(bdf, id_col, text_col, n=shingle_n)
        sigs = minhash_signatures(sh, id_col, n_perm=n_perm)
        banded = lsh_band_rows(sigs, id_col, n_perm=n_perm, bands=bands)
        banded.write.mode("overwrite").parquet(bands_out)  # index append
        # Probe: the NEW batch's bands against the accumulated index.
        # Prior generations are admitted only once FULLY committed —
        # pairs/_SUCCESS, the batch commit gate — plus this batch's own
        # fresh bands (so same-batch pairs surface). Gating on the pairs
        # marker (not bands/_SUCCESS) means a crash between the two
        # writes leaves a half-done generation invisible to every later
        # probe, with no reliance on foreachBatch running sequentially.
        prior = [
            p.replace(os.sep + "pairs", os.sep + "bands")
            for p in _committed("pairs")
        ]
        accum = spark.read.parquet(*prior, bands_out)
        newb = spark.read.parquet(bands_out)
        pairs = (
            newb.select(F.col(id_col).alias("__id_n"), "bucket")
            .join(
                accum.select(F.col(id_col).alias("__id_o"), "bucket"),
                on="bucket",
            )
            .filter(F.col("__id_n") != F.col("__id_o"))
            .select(
                F.least("__id_n", "__id_o").alias("id_a"),
                F.greatest("__id_n", "__id_o").alias("id_b"),
            )
            .distinct()
        )
        pairs.write.mode("overwrite").parquet(pairs_out)  # commit gate LAST

    run_drain(
        spark, batch_df.count(), reader.writeStream.foreachBatch(apply_batch)
    )
    committed = _committed("pairs")
    if len(committed) <= 1:
        raise RuntimeError(
            f"streaming LSH drained in {len(committed)} micro-batch(es)"
            " — the cross-batch index lifecycle was not exercised"
        )
    return spark.read.parquet(*committed)
