"""Streaming CDC maintenance of the LSH band index: inserts AND deletes
interleaved on one stream.

q244 proved insert-only streaming index maintenance; q253/q254 proved
the delete lifecycle batch-side. Production ingest is BOTH at once — a
change stream where document arrivals and takedown notices interleave
arbitrarily — and the composed question is whether the maintained index
is independent of how the two interleave.

It is, by choosing the only delete semantics a takedown allows:
**tombstone dominates**. A deleted id is dead forever — whether the
delete lands before the insert (out-of-order CDC), after it, or in the
same micro-batch — so final membership is (base ∪ inserts) ∖ deletes,
a pure set expression with no order dependence, and the post-drain
probe must equal the batch recompute over exactly that membership.

Per micro-batch:
- insert rows shingle → minhash → band rows, appended as a
  ``_SUCCESS``-gated generation (q244's discipline; the raw text of an
  insert is read once, on arrival);
- delete rows append to a tombstone generation the same way;
- nothing is rewritten: the stream is log-structured, and the fold of
  tombstones into the index bytes is q254's OFFLINE compaction job,
  deliberately not re-run per batch.

Serve (post-drain): probe the accumulated band index with the inserted
docs' bands, tombstones anti-joined from BOTH endpoints (an insert can
itself be taken down later in the stream), then the exact-Jaccard
verify on survivors.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_cdc_band_index(
    spark: SparkSession,
    split_dir: str,
    base_bands: DataFrame,
    n_perm: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """Drain the CDC replay (rows: doc_id, text, op ∈ {'insert',
    'delete'}) and return ``(accumulated_band_index, tombstones)`` —
    the maintained index state. ``base_bands`` is the pre-existing
    history index (never re-read text-side). Asserts >1 committed
    micro-batch."""
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
            tempfile.gettempdir(), f"wetsa_cdcstream_{uuid.uuid4().hex[:12]}"
        )
    )
    os.makedirs(root, exist_ok=True)

    def _committed(kind: str) -> list[str]:
        return sorted(
            os.path.join(root, name, kind)
            for name in os.listdir(root)
            if name.startswith("batch_")
            # tombstones are written LAST per batch — the commit gate —
            # so a generation is admitted only when fully committed.
            and os.path.exists(
                os.path.join(root, name, "tombs", "_SUCCESS")
            )
            and os.path.exists(os.path.join(root, name, kind, "_SUCCESS"))
        )

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        bands_out = os.path.join(root, f"batch_{bid}", "bands")
        tombs_out = os.path.join(root, f"batch_{bid}", "tombs")
        if os.path.exists(os.path.join(tombs_out, "_SUCCESS")):
            return  # re-executed batch: generation already committed
        ins = bdf.filter(F.col("op") == "insert").select("doc_id", "text")
        banded = lsh_band_rows(
            minhash_signatures(
                word_shingles(ins, "doc_id", "text", n=2),
                "doc_id",
                n_perm=n_perm,
            ),
            "doc_id",
            n_perm=n_perm,
            bands=bands,
        )
        banded.write.mode("overwrite").parquet(bands_out)
        bdf.filter(F.col("op") == "delete").select("doc_id").write.mode(
            "overwrite"
        ).parquet(tombs_out)  # commit gate LAST

    run_drain(
        spark, batch_df.count(), reader.writeStream.foreachBatch(apply_batch)
    )
    committed = _committed("tombs")
    if len(committed) <= 1:
        raise RuntimeError(
            f"streaming CDC drained in {len(committed)} micro-batch(es)"
            " — the interleaved lifecycle was not exercised"
        )
    index = base_bands.select("doc_id", "bucket").unionByName(
        spark.read.parquet(*_committed("bands")).select(
            "doc_id", "bucket"
        )
    )
    tombs = spark.read.parquet(*committed)
    return index, tombs
