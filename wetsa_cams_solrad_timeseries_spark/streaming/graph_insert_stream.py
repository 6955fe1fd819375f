"""Streaming graph-ANN insert: the HNSW insert lifecycle on a stream.

The graph member of the streaming index-maintenance family (q203/q218
PQ/OPQ encode, q249 PCA encode, q244 LSH bands): new-shard vectors
arrive as micro-batches and each batch INSERTS into the accumulated
neighbor lists under frozen artifacts (coarse centroids) — exactly how
a production HNSW takes writes.

The naive per-batch insert is ORDER-DEPENDENT: a node arriving in batch
1 links against history ∪ batch 1 only, so a closer batch-2 neighbor
would be missing from its list and the drained graph would depend on
batch boundaries. This module restores order-independence with the
DISPLACEMENT MERGE, the standard streaming top-k argument:

- **forward**: each batch node links top-m against ALL present
  cell-mates (history ∪ committed prior new ∪ own batch) — one
  (|batch ∩ cell| × |cell|) BLAS block per touched cell;
- **backward**: every PRIOR new node in a touched cell merges its
  stored (d, dst) list with its distances to the batch's cell-mates
  and keeps the top-m. Because top-m(top-m(S₁) ∪ S₂) = top-m(S₁ ∪ S₂)
  (an element outside top-m(S₁) is beaten by m members of S₁ ∩ S₂'s
  union and can never re-enter), induction over batches gives: after
  the drain EVERY new node's list is the top-m over history ∪ ALL new
  — byte-identical to the one-shot batch insert, independent of batch
  boundaries and arrival order. q257's oracle is therefore q238's
  batch replay VERBATIM.

History nodes' lists never change (q238's contract: reverse links
appear through serve-time symmetrization, as in real HNSW).

At-least-once discipline: per batch, a ``nodes`` generation first and
an ``edges`` generation LAST as the commit gate; prior state is read
only from edges-committed generations plus the current batch's fresh
writes, so a crash mid-batch leaves an invisible half-generation
(the q244 probe-gate lesson). Edge rows carry their generation id;
"latest generation wins" per src resolves backward-merge updates.

Scale shape: per batch, work is (|batch| + |prior ∩ touched cells|) ×
|touched cell| distances — never Σ|cell|², never corpus-quadratic; at
100 TB the generation dirs become a cell-partitioned edge table and
the touched-cell reads prune by partition.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _prior_vs_batch_topm(prior: DataFrame, batch: DataFrame, m: int) -> DataFrame:
    """Per-cell (prior × batch) distance pairs, trimmed to each prior
    src's m best — the backward half of the displacement merge. Same
    round6 squared-L2 arithmetic as the build kernels
    (``_pq_subdist_matrix``), so merged lists stay bit-identical to the
    one-shot insert's."""
    import numpy as np
    import pandas as pd

    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        _pq_subdist_matrix,
    )

    tagged = prior.select(
        "cell", F.col("vec_id").alias("nid"), "__v", F.lit(True).alias("__p")
    ).unionByName(
        batch.select(
            "cell", F.col("vec_id").alias("nid"), "__v",
            F.lit(False).alias("__p"),
        )
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        isp = pdf["__p"].to_numpy()
        pids = pdf["nid"].to_numpy()[isp]
        bids = pdf["nid"].to_numpy()[~isp]
        if len(pids) == 0 or len(bids) == 0:
            return pd.DataFrame(
                {"src": pids[:0], "dst": pids[:0], "d": np.zeros(0)}
            )
        mat = np.array(list(pdf["__v"]), dtype=np.float64)
        d = _pq_subdist_matrix(mat[isp], mat[~isp])
        k = min(m, len(bids))
        order = np.lexsort((np.broadcast_to(bids, d.shape), d), axis=1)[:, :k]
        return pd.DataFrame(
            {
                "src": np.repeat(pids, k),
                "dst": bids[order.ravel()],
                "d": np.take_along_axis(d, order, axis=1).ravel(),
            }
        )

    return tagged.groupBy("cell").applyInPandas(
        kernel, schema="src long, dst long, d double"
    )


def streaming_graph_insert(
    spark: SparkSession,
    split_dir: str,
    hist_members: DataFrame,
    centroids,
    m: int,
    op_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Drain the new-shard multi-file replay through the displacement-
    merge insert loop and return ``(latest_lists, tombstones)`` where
    the lists ``(src, dst)`` are provably the one-shot insert's edge
    set. Asserts >1 committed micro-batch. ``hist_members`` must carry
    (vec_id, cell, __v) for the history shard (the persisted assignment
    side of the index).

    With ``op_col`` set the replay is a CDC stream (q264): rows with
    op == 'insert' run the displacement merge, rows with op ==
    'delete' append their ids to per-batch tombstone generations —
    written LAST, becoming the batch commit gate. Mark-delete does not
    rewire (hnswlib: deleted nodes stay routable, inserts may still
    link to them — q255's semantics), so the edge state is untouched
    by deletes and the drained (lists, tombstones) pair is independent
    of how the two event kinds interleave. Without ``op_col`` the
    tombstone frame is empty."""
    [res] = streaming_graph_insert_many(
        spark, [(split_dir, hist_members, centroids, m, op_col)]
    )
    return res


def _graph_insert_drain(
    spark: SparkSession,
    split_dir: str,
    hist_members: DataFrame,
    centroids,
    m: int,
    op_col: str | None,
):
    """Per-replay state for one displacement-merge drain: the stream
    reader, the foreachBatch body, and the committed-generation lister —
    factored out so several INDEPENDENT replays can run as concurrent
    streaming queries (their per-batch fixed costs overlap; each query's
    own batches stay strictly sequential, so each drained result is
    byte-identical to a solo run)."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import register_cleanup
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges_incremental,
        ivf_assign,
    )

    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        file_replay_reader,
    )

    batch_df = spark.read.parquet(split_dir)
    reader = file_replay_reader(
        spark, f"{split_dir}/part-*.parquet", batch_df.schema, 1
    )
    root = register_cleanup(
        os.path.join(
            tempfile.gettempdir(), f"wetsa_graphstream_{uuid.uuid4().hex[:12]}"
        )
    )
    os.makedirs(root, exist_ok=True)
    hist_members = hist_members.localCheckpoint(eager=True)

    gate = "tombs" if op_col else "edges"

    def _committed(kind: str) -> list[str]:
        return sorted(
            os.path.join(root, name, kind)
            for name in os.listdir(root)
            if name.startswith("batch_")
            # Prior generations are admitted only once FULLY committed —
            # the batch's LAST write (edges, or tombs in CDC mode).
            and os.path.exists(
                os.path.join(root, name, gate, "_SUCCESS")
            )
            and os.path.exists(os.path.join(root, name, kind, "_SUCCESS"))
        )

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        nodes_out = os.path.join(root, f"batch_{bid}", "nodes")
        edges_out = os.path.join(root, f"batch_{bid}", "edges")
        tombs_out = os.path.join(root, f"batch_{bid}", "tombs")
        done_gate = tombs_out if op_col else edges_out
        if os.path.exists(os.path.join(done_gate, "_SUCCESS")):
            return  # re-executed batch: generation already committed
        if op_col:
            ins = bdf.filter(F.col(op_col) == "insert")
        else:
            ins = bdf
        b = ins.select(
            "vec_id", to_double_array(F.col("embedding")).alias("__v")
        )
        bassign = ivf_assign(
            b.withColumnRenamed("__v", "embedding"), centroids, n_probe=1
        ).select("vec_id", "cell")
        # The nodes-generation write IS the batch's materialization: the
        # re-read parquet replaces what used to be a separate eager
        # localCheckpoint job (doubles round-trip bit-exactly), so each
        # consumer below reads the committed generation instead of
        # re-running the assign kernel. One job saved per micro-batch.
        b.join(bassign, on="vec_id").write.mode("overwrite").parquet(
            nodes_out
        )
        bnodes = spark.read.parquet(nodes_out)
        touched = [r["cell"] for r in bnodes.select("cell").distinct().collect()]

        prior_dirs = _committed("nodes")
        if prior_dirs:
            # No checkpoint: each consumer re-reads the tiny committed
            # generation files directly (cheaper than materializing a
            # block-manager copy per batch).
            prior = spark.read.parquet(*prior_dirs).filter(
                F.col("cell").isin(touched)
            )
        else:
            prior = bnodes.filter(F.lit(False))

        # forward: batch nodes vs ALL present cell-mates.
        present = (
            hist_members.filter(F.col("cell").isin(touched))
            .select("vec_id", "__v", F.lit(False).alias("__isbatch"))
            .unionByName(
                prior.select("vec_id", "__v", F.lit(False).alias("__isbatch"))
            )
            .unionByName(
                bnodes.select("vec_id", "__v", F.lit(True).alias("__isbatch"))
            )
        )
        forward = cell_knn_edges_incremental(
            present.withColumnRenamed("__v", "embedding"),
            F.col("__isbatch"),
            centroids,
            m=m,
            with_dist=True,
        )

        # backward: prior new nodes in touched cells merge their stored
        # lists with distances to the batch, keep top-m.
        # No prior-emptiness probe job: with an EMPTY prior the backward
        # branch is a no-op by construction (latest's semi-join and the
        # per-cell kernel both emit zero rows, so out ≡ forward) — the
        # take(1) that used to guard it was one driver round-trip per
        # batch buying nothing.
        gens = _committed("edges")
        if gens:
            stored = spark.read.parquet(*gens)
            latest = stored.join(
                stored.groupBy("src").agg(F.max("gen").alias("gen")),
                on=["src", "gen"],
            ).join(
                prior.select(F.col("vec_id").alias("src")), on="src", how="semi"
            )
            back = _prior_vs_batch_topm(prior, bnodes, m)
            merged = latest.select("src", "dst", "d").unionByName(back)
            from pyspark.sql import Window

            w = Window.partitionBy("src").orderBy(
                F.col("d").asc(), F.col("dst")
            )
            replaced = (
                merged.withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= m)
                .select("src", "dst", "d")
            )
            out = forward.unionByName(replaced)
        else:
            out = forward
        out.withColumn("gen", F.lit(bid).cast("long")).write.mode(
            "overwrite"
        ).parquet(edges_out)  # commit gate LAST (insert-only mode)
        if op_col:
            bdf.filter(F.col(op_col) == "delete").select(
                "vec_id"
            ).write.mode("overwrite").parquet(tombs_out)  # CDC gate LAST

    def finish() -> tuple[DataFrame, DataFrame]:
        committed = _committed("edges")
        if len(committed) <= 1:
            raise RuntimeError(
                f"streaming graph insert drained in {len(committed)} "
                "micro-batch(es) — the cross-batch lifecycle was not exercised"
            )
        allrows = spark.read.parquet(*committed)
        latest = allrows.join(
            allrows.groupBy("src").agg(F.max("gen").alias("gen")),
            on=["src", "gen"],
        ).select("src", "dst")
        if op_col:
            tombs = spark.read.parquet(*_committed("tombs")).distinct()
        else:
            tombs = latest.select(F.col("src").alias("vec_id")).filter(
                F.lit(False)
            )
        return latest, tombs

    return batch_df, reader, apply_batch, finish


def streaming_graph_insert_many(
    spark: SparkSession, specs
) -> list[tuple[DataFrame, DataFrame]]:
    """Drain several INDEPENDENT replays as concurrent streaming queries
    (guide §2.6 "overlap independent jobs"): each replay's micro-batches
    stay strictly sequential inside its own query — so every drained
    (lists, tombstones) result is byte-identical to running the drains
    one after another — but the queries' fixed per-batch costs (state
    commits, job scheduling) overlap instead of summing.

    ``specs``: iterable of (split_dir, hist_members, centroids, m,
    op_col) tuples; returns one (latest_lists, tombstones) per spec, in
    order. The returned frames are lazy reads of the committed
    generations; callers checkpoint whatever they reuse."""
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import run_drain

    drains = [_graph_insert_drain(spark, *spec) for spec in specs]
    run_drain(
        spark,
        max(d[0].count() for d in drains),
        *(
            reader.writeStream.foreachBatch(apply_batch)
            for _, reader, apply_batch, _ in drains
        ),
    )
    return [fin() for (_, _, _, fin) in drains]
