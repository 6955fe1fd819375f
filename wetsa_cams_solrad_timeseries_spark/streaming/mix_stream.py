"""Streaming token-budget mixer: q226's per-source quota as cross-batch
state, with EXACT batch equivalence from a monotonicity theorem.

q226's batch semantics: per source, documents sort by the deterministic
shuffle key and the greedy prefix with running token total ≤ budget is
selected. On a stream, a late arrival with a SMALL key re-orders the
prefix — so naive arrival-order admission is order-dependent and wrong
against the batch truth. But the batch rule has two structural facts:

1. With non-negative token counts the running total is non-decreasing
   in sort order, so the selected set is a PREFIX of the per-source
   order — every rejected doc sorts after every selected doc.
2. Adding documents can only INCREASE the running total at any fixed
   position, so ``selected(S ∪ N) ⊆ selected(S) ∪ N``: a doc the batch
   rule ever rejected can never come back.

Selected rows alone are NOT enough state, though — the subtle wrong
version shipped first and failed order-dependently: a new doc sorting
AFTER the rejection boundary owes its running total the tokens of the
REJECTED docs before it, which a selected-only state has forgotten, so
the merge under-counts and wrongly admits it. The correct bounded
state is two-part, per source:

- the SELECTED rows (the prefix — bounded by budget/min-doc-tokens);
- the REJECTION FRONTIER: the sort key of the first-ever-rejected doc.

Fact 1 says every seen doc before the frontier is in the selected
state, so for a new doc before the frontier the merged cum is EXACT;
fact 2 says cum at the frontier already exceeded the budget, so every
doc at-or-after it — seen or new — is rejected outright, no token
accounting needed. The frontier only moves earlier (cum only grows),
and by induction the drained state is exactly ``q226 WHERE selected``
— independent of batch boundaries and arrival order, with state still
never corpus-sized (the watermark-state argument, in quota form).

At-least-once: one state generation per batch (touched sources' full
replacement lists), latest-generation-wins per source; a re-executed
batch reads only prior committed generations and rewrites its own
deterministically.

A generation records each touched source's FRONTIER in a ``src``
sidecar (written LAST — the batch commit gate). The sidecar also makes
empty replacement lists unambiguous: a touched source with no selected
rows means "selection is now empty", never "fall back to the previous
generation" — resolving latest by rows alone resurrects stale
selections exactly in that case.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def mix_keyed(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tokens, shuffle_key) — q226's projection, the
    shared scan-stage prep for batch and stream."""
    from wetsa_cams_solrad_timeseries_spark.functions.hashing import hash32

    trimmed = F.trim(F.col("text"))
    ws_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"[ \t\n\r]+"))
    )
    return docs.select(
        "doc_id",
        "source",
        ws_tokens.cast("long").alias("n_tokens"),
        hash32(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )


def streaming_token_mix(
    spark: SparkSession, split_dir: str, budget: int
) -> DataFrame:
    """Drain the document replay through the quota state machine and
    return the selected rows ``(doc_id, source, n_tokens, shuffle_key,
    cum_tokens)`` — provably q226's batch selection. Asserts >1
    committed micro-batch."""
    from pyspark.sql import Window

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
            tempfile.gettempdir(), f"wetsa_mixstream_{uuid.uuid4().hex[:12]}"
        )
    )
    os.makedirs(root, exist_ok=True)

    w = (
        Window.partitionBy("source")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def _committed(kind: str) -> list[str]:
        return sorted(
            os.path.join(root, name, kind)
            for name in os.listdir(root)
            if name.startswith("batch_")
            # src is written LAST — the batch commit gate.
            and os.path.exists(os.path.join(root, name, "src", "_SUCCESS"))
            and os.path.exists(os.path.join(root, name, kind, "_SUCCESS"))
        )

    def _latest_touch() -> DataFrame:
        """(source, gen, fr_key, fr_doc) of each source's most recent
        generation — latest-TOUCH-wins, so an empty replacement list
        stays empty instead of falling back to a stale generation."""
        touch = spark.read.parquet(*_committed("src"))
        return touch.join(
            touch.groupBy("source").agg(F.max("gen").alias("gen")),
            on=["source", "gen"],
        )

    def _latest() -> DataFrame:
        sel = spark.read.parquet(*_committed("sel"))
        return sel.join(
            _latest_touch().select("source", "gen"), on=["source", "gen"]
        )

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        sel_out = os.path.join(root, f"batch_{bid}", "sel")
        src_out = os.path.join(root, f"batch_{bid}", "src")
        if os.path.exists(os.path.join(src_out, "_SUCCESS")):
            return  # re-executed batch: generation already committed
        keyed = mix_keyed(bdf).localCheckpoint(eager=True)
        touched = [r["source"] for r in keyed.select("source").distinct().collect()]
        if _committed("src"):
            fr = (
                _latest_touch()
                .filter(F.col("source").isin(touched))
                .select("source", "fr_key", "fr_doc")
            )
            state = (
                _latest()
                .filter(F.col("source").isin(touched))
                .select("doc_id", "source", "n_tokens", "shuffle_key")
            )
            # New docs at-or-after the frontier are rejected outright
            # (cum there already exceeded the budget) — everything
            # before it merges with EXACT token accounting, because the
            # state holds every seen doc before the frontier.
            before_frontier = (
                F.col("fr_key").isNull()
                | (F.col("shuffle_key") < F.col("fr_key"))
                | (
                    (F.col("shuffle_key") == F.col("fr_key"))
                    & (F.col("doc_id") < F.col("fr_doc"))
                )
            )
            new_ok = (
                keyed.join(fr, on="source", how="left")
                .filter(before_frontier)
                .select("doc_id", "source", "n_tokens", "shuffle_key")
            )
            merged = state.unionByName(new_ok)
        else:
            fr = None
            merged = keyed
        cum = merged.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        ).localCheckpoint(eager=True)
        selected = cum.filter(F.col("cum_tokens") <= budget).withColumn(
            "gen", F.lit(bid).cast("long")
        )
        # Generation writes are PARAMETER-sized (selected rows are
        # budget-bounded per source; the frontier is one row per
        # touched source) — one file each, not one per shuffle
        # partition (repartition, NOT coalesce: coalesce(1) folds the
        # upstream window/join stages into one serial task — measured
        # 4x slower; the explicit exchange keeps them parallel). The
        # empty-task fan-out was ~1s per write, the dominant cost of
        # the whole drain (measured round 13).
        selected.repartition(1).write.mode("overwrite").parquet(sel_out)
        # The new frontier: the first over-budget candidate this batch,
        # folded with the previous frontier (lexicographic min — the
        # frontier only ever moves earlier).
        from pyspark.sql import Window as _W

        wr = _W.partitionBy("source").orderBy("shuffle_key", "doc_id")
        cand_fr = (
            cum.filter(F.col("cum_tokens") > budget)
            .withColumn("__r", F.row_number().over(wr))
            .filter(F.col("__r") == 1)
            .select(
                "source",
                F.col("shuffle_key").alias("c_key"),
                F.col("doc_id").alias("c_doc"),
            )
        )
        touched_df = spark.createDataFrame(
            [(s_,) for s_ in touched], "source string"
        )
        if fr is not None:
            folded = touched_df.join(fr, on="source", how="left")
        else:
            folded = touched_df.withColumn(
                "fr_key", F.lit(None).cast("long")
            ).withColumn("fr_doc", F.lit(None).cast("long"))
        cand_earlier = F.col("fr_key").isNull() | (
            (F.col("c_key") < F.col("fr_key"))
            | (
                (F.col("c_key") == F.col("fr_key"))
                & (F.col("c_doc") < F.col("fr_doc"))
            )
        )
        new_fr = (
            folded.join(cand_fr, on="source", how="left")
            .select(
                "source",
                F.lit(bid).cast("long").alias("gen"),
                F.when(
                    F.col("c_key").isNotNull() & cand_earlier, F.col("c_key")
                ).otherwise(F.col("fr_key")).alias("fr_key"),
                F.when(
                    F.col("c_key").isNotNull() & cand_earlier, F.col("c_doc")
                ).otherwise(F.col("fr_doc")).alias("fr_doc"),
            )
        )
        new_fr.repartition(1).write.mode("overwrite").parquet(
            src_out
        )  # commit gate LAST

    run_drain(
        spark, batch_df.count(), reader.writeStream.foreachBatch(apply_batch)
    )
    committed = _committed("src")
    if len(committed) <= 1:
        raise RuntimeError(
            f"streaming mix drained in {len(committed)} micro-batch(es)"
            " — the cross-batch quota lifecycle was not exercised"
        )
    return _latest().select(
        "doc_id", "source", "n_tokens", "shuffle_key", "cum_tokens"
    )
