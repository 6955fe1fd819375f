"""Deletion lifecycle for the persisted incremental indexes.

Every cross-run index family in this repo (q193 LSH bands, q197 PQ
codes, q201 postings, q210 pHash, q227 IVF-SQ8 cells, q238 graph edges)
covered INSERT-only maintenance through round 11; a production LLM
corpus also takes DELETES — takedown notices, robots.txt revocations,
right-to-be-forgotten — and a 100 TB index cannot answer them with a
full rebuild. This module is the delete side of the lifecycle, in the
two phases every log-structured system uses:

1. **Tombstone** (q253, q255): deletion ids land in a parameter-sized
   tombstone table; the serve path anti-joins them out (broadcast — a
   takedown list is thousands of ids, never corpus-sized). The index
   bytes are untouched: delete latency is one small write, and the only
   serve-side cost is a broadcast anti-join.
2. **Compaction** (q254, q259): the next maintenance rewrite folds the
   tombstones into the index — membership removal and small-file
   compaction as ONE pass (sinks/bucketed.compact_bucketed_table) or as
   a cell-local directory rewrite (q259) — then truncates the tombstone
   set. Anti-joins against an already-compacted id are no-ops, so every
   crash window between "rewritten" and "truncated" stays correct, and
   serving DURING the window double-applies deletes harmlessly.

The correctness contract for both phases is the same batch-equivalence
theorem the insert side proves: tombstone-filtered serve ≡ compacted
serve ≡ the batch recompute over the surviving corpus — q253 and q254
share ONE oracle (the q33/q193 SQL with the takedown predicate woven
in), so the driver gate itself certifies that the two phases agree.

Graph-family deletes (q255/q256) follow hnswlib's two phases:
``markDelete`` (q255 — tombstoned nodes keep ROUTING, the beam may pass
through them, they just cannot be RESULTS: deleting a hub must not
disconnect the graph) and repair (q256 — affected survivors re-link,
after which the edge set provably equals a from-scratch build over the
survivors, so routing quality is fully restored without Σ|cell|² work).

Reference scope note: the reference pipelines re-run from raw CSV each
time (code/compile-solrad.py), so deletion = "remove the input file";
this module is the extension-surface form the north star requires.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import table
from wetsa_cams_solrad_timeseries_spark.plans._spec import make_specs, round6

_DEL_PERM, _DEL_BANDS, _DEL_BUCKETS = 16, 4, 16
# The takedown list: history docs with doc_id ≡ 4 (mod 13) — arrives
# AFTER the index was built over the full history (that ordering is the
# point: the index contains the deleted docs' rows until a compaction).
_TAKEDOWN_MOD, _TAKEDOWN_RES = 13, 4


def _is_new():
    return F.col("doc_id") % 10 == 7


def _is_takedown():
    return (F.col("doc_id") % 10 != 7) & (
        F.col("doc_id") % _TAKEDOWN_MOD == _TAKEDOWN_RES
    )


def _hist_band_rows(docs: DataFrame) -> DataFrame:
    """Band rows over the FULL history (including soon-to-be-deleted
    docs — deletes arrive after the build)."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_band_rows,
        minhash_signatures,
        word_shingles,
    )

    return lsh_band_rows(
        minhash_signatures(
            word_shingles(docs.filter(~_is_new()), "doc_id", "text", n=2),
            "doc_id",
            n_perm=_DEL_PERM,
        ),
        "doc_id",
        n_perm=_DEL_PERM,
        bands=_DEL_BANDS,
    )


def _tombstone_table(
    spark: SparkSession, sf_dir: str, family: str, tombs: DataFrame
) -> str | None:
    """The takedown ids as their own one-table warehouse generation,
    claimed AFTER the index's (the arrival order deletes actually have:
    the index holds the deleted rows until a compaction). Overwrite =
    idempotent: a re-registered id already compacted away anti-joins to
    nothing. None when the catalog is unavailable."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import table_generation

    names = table_generation(
        spark,
        sf_dir,
        (family,),
        lambda n: tombs.write.mode("overwrite").saveAsTable(n[0]),
    )
    return None if names is None else names[0]


def _ensure_lsh_delete_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, str | None]:
    """(band_index, tombstones, index_table_name) — the shared q253/q254
    fixture. The band index persists bucketed on ``bucket`` (q193's
    layout); the tombstone table holds the takedown ids. table_name is
    None when the catalog is unavailable (plain-frame fallback — q253
    still correct via the anti-join; q254 falls back to tombstone-
    filtered serve, which its shared oracle proves equivalent)."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import table_generation
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import write_bucketed

    docs = table(spark, sf_dir, "documents")
    tombs = docs.filter(_is_takedown()).select("doc_id")
    names = table_generation(
        spark,
        sf_dir,
        ("lshdel",),
        lambda n: write_bucketed(
            _hist_band_rows(docs), n[0], "bucket",
            n_buckets=_DEL_BUCKETS, sort_col="bucket",
        ),
    )
    tomb_t = None if names is None else _tombstone_table(
        spark, sf_dir, "lshtomb", tombs
    )
    if tomb_t is None:
        return _hist_band_rows(docs), tombs, None
    return spark.table(names[0]), spark.table(tomb_t), names[0]


def _probe_and_verify(
    spark: SparkSession,
    sf_dir: str,
    hist_idx: DataFrame,
    tombstones: DataFrame | None,
) -> DataFrame:
    """New-shard probe of the band index → candidate pairs → exact-
    Jaccard verify (q193's serve shape), with the OPTIONAL tombstone
    anti-join on the candidate stream. The anti-join sits AFTER the
    bucket join and BEFORE the (explode-heavy) verify, so a deleted
    history doc costs neither candidate verification nor a shingle pass
    — and it broadcasts, so the index side's shuffle-freeness is
    untouched."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_band_rows,
        minhash_signatures,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    new_sh = word_shingles(
        docs.filter(_is_new()), "doc_id", "text", n=2
    ).localCheckpoint(eager=True)
    probe = lsh_band_rows(
        minhash_signatures(new_sh, "doc_id", n_perm=_DEL_PERM),
        "doc_id",
        n_perm=_DEL_PERM,
        bands=_DEL_BANDS,
    )
    cand = (
        probe.select(F.col("doc_id").alias("new_id"), "bucket")
        .join(
            hist_idx.select(F.col("doc_id").alias("hist_id"), "bucket"),
            on="bucket",
        )
        .select("new_id", "hist_id")
    )
    if tombstones is not None:
        cand = cand.join(
            F.broadcast(
                tombstones.select(F.col("doc_id").alias("hist_id"))
            ),
            on="hist_id",
            how="left_anti",
        )
    cand = cand.distinct().localCheckpoint(eager=True)
    hist_cand_docs = docs.filter(~_is_new()).join(
        cand.select(F.col("hist_id").alias("doc_id")).distinct(),
        on="doc_id",
        how="semi",
    )
    hist_sh = word_shingles(hist_cand_docs, "doc_id", "text", n=2)
    a = new_sh.select(
        F.col("doc_id").alias("new_id"), F.col("shingle_hash").alias("h")
    )
    bsh = hist_sh.select(
        F.col("doc_id").alias("hist_id"), F.col("shingle_hash").alias("h")
    )
    common = (
        cand.join(a, on="new_id")
        .join(bsh, on=["hist_id", "h"])
        .groupBy("new_id", "hist_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_new = new_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_new"))
    sz_hist = hist_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_hist"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        cand.join(common, on=["new_id", "hist_id"], how="left")
        .join(sz_new.withColumnRenamed("doc_id", "new_id"), on="new_id")
        .join(sz_hist.withColumnRenamed("doc_id", "hist_id"), on="hist_id")
        .select(
            "new_id",
            "hist_id",
            round6(
                nc / (F.col("sz_new") + F.col("sz_hist") - nc)
            ).alias("jaccard"),
        )
    )


def q253_lsh_tombstone_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase 1 of the delete lifecycle on the LSH dedup index: the
    takedown ids are TOMBSTONED (one parameter-sized table write — the
    index's bucketed bytes are untouched) and the q193 incremental-dedup
    probe anti-joins them out of the candidate stream before the verify
    stage, so a deleted history document can never surface as a near-dup
    partner — the moment the tombstone lands, not after a rebuild.

    Scale shape: identical to q193's steady state (delta-sized probe
    into the bucketed, shuffle-free index scan) plus ONE broadcast
    anti-join on the candidate stream; delete cost is O(|takedown|)
    regardless of index size. Placing the anti-join before the verify
    also refunds the deleted docs' shingle/verify work.

    Oracle: the batch LSH dedup over the SURVIVING history — q193's SQL
    with the takedown predicate in the candidate join — shared verbatim
    with q254, so the driver gate itself certifies tombstone-serve ≡
    compacted-serve ≡ batch-over-survivors."""
    hist_idx, tombs, _ = _ensure_lsh_delete_artifacts(spark, sf_dir)
    return _probe_and_verify(spark, sf_dir, hist_idx, tombs)


def q254_lsh_tombstone_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Phase 2: the maintenance rewrite folds the tombstones INTO the
    bucketed index — membership removal and small-file compaction as one
    pass (sinks/bucketed.compact_bucketed_table with ``tombstones=``),
    preserving the bucketed layout contract (probe plans stay
    shuffle-free on the index side, pytest-locked) — then truncates the
    tombstone table. The post-compaction probe runs with NO anti-join:
    the deletes are physical now.

    Crash windows are all safe: compaction itself recovers via the
    DROP+RENAME protocol (test_compaction_crash_recovery); a crash
    after the rename but before the truncate leaves tombstones that
    anti-join against ids no longer present — a no-op; re-registering a
    takedown id after its compaction is equally a no-op. Delete
    application is IDEMPOTENT end to end.

    Oracle: shared verbatim with q253 — the equivalence of the two
    phases IS the checked contract."""
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import (
        compact_bucketed_table,
    )

    hist_idx, tombs, idx_t = _ensure_lsh_delete_artifacts(spark, sf_dir)
    if idx_t is None:
        # Catalog unavailable: no physical compaction possible — serve
        # the tombstone-filtered view, which the shared oracle proves
        # equivalent.
        return _probe_and_verify(spark, sf_dir, hist_idx, tombs)
    compact_bucketed_table(
        spark,
        idx_t,
        n_buckets=_DEL_BUCKETS,
        bucket_col="bucket",
        sort_col="bucket",
        tombstones=tombs,
        tombstone_col="doc_id",
    )
    # Truncate AFTER the rewrite committed (overwrite with empty self —
    # schema preserved). A crash before this line leaves stale
    # tombstones whose anti-join is a no-op.
    tomb_t = idx_t.replace("wetsa_lshdel_", "wetsa_lshtomb_")
    empty = spark.table(tomb_t).filter(F.lit(False)).localCheckpoint()
    empty.write.mode("overwrite").saveAsTable(tomb_t)
    return _probe_and_verify(spark, sf_dir, spark.table(idx_t), None)


def _lsh_survivor_oracle() -> str:
    """q193's batch-equivalence SQL with the takedown exclusion — the
    shared q253/q254 oracle (shared fragments with q33/q193/q244 so the
    index and every lifecycle phase can never drift apart)."""
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        _BAND_LIST,
        _MINHASH_COLS,
        _SHINGLES_SQL,
    )

    return f"""
WITH {_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST}]) AS bucket
  FROM sigs
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
  FROM banded n JOIN banded h ON n.bucket = h.bucket
  WHERE n.doc_id % 10 = 7 AND h.doc_id % 10 <> 7
    AND h.doc_id % {_TAKEDOWN_MOD} <> {_TAKEDOWN_RES}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
co AS (
  SELECT c.new_id, c.hist_id, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.new_id
  JOIN sh b ON b.doc_id = c.hist_id AND b.h = a.h
  GROUP BY 1, 2
)
SELECT c.new_id, c.hist_id,
       round(coalesce(co.n_common, 0) * 1.0
             / (sn.sz + sh2.sz - coalesce(co.n_common, 0)) + 1e-9, 6)
         AS jaccard
FROM cand c
LEFT JOIN co ON co.new_id = c.new_id AND co.hist_id = c.hist_id
JOIN sizes sn ON sn.doc_id = c.new_id
JOIN sizes sh2 ON sh2.doc_id = c.hist_id
"""


Q253_ORACLE = _lsh_survivor_oracle()
Q254_ORACLE = Q253_ORACLE


# --------------------------------------------------------------------------
# q255 — graph-ANN mark-delete serve (hnswlib markDelete semantics)
# --------------------------------------------------------------------------

_VEC_TAKEDOWN_MOD, _VEC_TAKEDOWN_RES = 13, 4


def _vec_takedown_pred():
    return (F.col("vec_id") % 10 != 7) & (
        F.col("vec_id") % _VEC_TAKEDOWN_MOD == _VEC_TAKEDOWN_RES
    )


def q255_graph_tombstone_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase 1 of the delete lifecycle on the GRAPH index — hnswlib's
    ``markDelete``: tombstoned history nodes keep ROUTING (the beam
    traverses them freely, so deleting a hub cannot disconnect the
    graph — the property that makes mark-delete safe where naive edge
    removal is not), they just cannot be RESULTS. The serve path is
    q238's beam verbatim with one broadcast anti-join between traversal
    and the rank window, so ranks recompute over survivors; the index
    (frozen centroids/medoids + persisted base edges + inserted edges)
    is byte-untouched and SHARED with q238 — the same index takes the
    delete, which is the point.

    Scale shape: q238's exactly, plus an O(|takedown|) broadcast
    anti-join on the candidate-sized serve frame. Delete latency is one
    parameter-sized write; no graph bytes move until q256's repair.

    Oracle: q238's batch replay with the tombstone exclusion applied at
    the SAME place — after the unrolled beam, before the rank tail —
    proving routing-through-deleted is preserved while results exclude
    them."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q238_incremental_graph_ann,
    )

    emb = table(spark, sf_dir, "embeddings")
    tombs = emb.filter(_vec_takedown_pred()).select("vec_id")
    return q238_incremental_graph_ann(spark, sf_dir, tombstones=tombs)


def q255_oracle_for(sf_dir: str) -> str | None:
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _ivf_centroid_values,
        _Q238_ORACLE_TEMPLATE,
    )

    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        id_filter=lambda i: i % 10 != 7,
    )
    if values is None:
        return None
    sql = _Q238_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values)
    target = "WHERE c.node <> c.query_id"
    if target not in sql:
        raise AssertionError(
            "q255 oracle: q238 template drifted — rank-tail WHERE not found"
        )
    return sql.replace(
        target,
        target
        + f" AND NOT (c.node % 10 <> 7 AND"
        f" c.node % {_VEC_TAKEDOWN_MOD} = {_VEC_TAKEDOWN_RES})",
        1,
    )


# --------------------------------------------------------------------------
# q256 — graph delete repair: affected-only re-link ≡ survivor rebuild
# --------------------------------------------------------------------------

def _ensure_graph_delete_artifacts(spark: SparkSession, sf_dir: str):
    """The q256 index generation: frozen (centroids, medoids) params +
    kind-tagged directed edges (knn/bridge, with the bridge's cell) +
    the per-node probe table — built ONCE over the post-insert state
    (q238's base build + insert), params written LAST as the commit
    gate. The probe table is part of the index on purpose: probe ranks
    depend only on (node, frozen centroids), so the repair phase reads
    them instead of re-assigning the corpus — at 100 TB it is
    cell-partitioned and the repair's read prunes to affected cells.

    Returns (cents, medoids dict, edges_df, probes_df)."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import (
        load_params,
        save_params,
        table_generation,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges,
        cell_knn_edges_incremental,
        cell_medoids,
        ivf_assign,
        ivf_train_centroids,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q232_BRIDGE,
        _Q232_M,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    hist = emb.filter(~is_new)

    def _build():
        cents = ivf_train_centroids(hist, k=16, n_iter=2)
        medoids = {
            r["cell"]: r["medoid"] for r in cell_medoids(hist, cents).collect()
        }
        med_df = spark.createDataFrame(
            sorted(medoids.items()), "cell int, medoid long"
        )
        probes = ivf_assign(emb, cents, n_probe=1 + _Q232_BRIDGE)
        knn = cell_knn_edges(hist, cents, m=_Q232_M).unionByName(
            cell_knn_edges_incremental(emb, is_new, cents, m=_Q232_M)
        )
        bridges = (
            probes.filter(F.col("probe_rank") >= 1)
            .join(F.broadcast(med_df), on="cell")
            .filter(F.col("vec_id") != F.col("medoid"))
            .select(
                F.col("vec_id").alias("src"),
                F.col("medoid").alias("dst"),
                "cell",
            )
        )
        edges = knn.select(
            "src", "dst", F.lit("knn").alias("kind"),
            F.lit(None).cast("int").alias("cell"),
        ).unionByName(
            bridges.select("src", "dst", F.lit("bridge").alias("kind"), "cell")
        )
        return cents, medoids, edges, probes

    def build(names: list[str]) -> None:
        cents, medoids, edges, probes = _build()
        edges.write.mode("overwrite").saveAsTable(names[0])
        probes.write.mode("overwrite").saveAsTable(names[1])
        save_params(spark, names[2], cent=cents, medoid=medoids)  # commit gate

    names = table_generation(
        spark, sf_dir, ("gdeledges", "gdelprobes", "gdelparams"), build
    )
    if names is None:
        return _build()
    params = load_params(spark, names[2])
    return (
        params["cent"],
        params.get("medoid", {}),
        spark.table(names[0]),
        spark.table(names[1]),
    )


def q256_graph_delete_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase 2 on the graph index: REPAIR — affected survivors re-link,
    after which the served graph provably equals a from-scratch build
    over the survivors, at affected-only cost:

    - **affected kNN srcs** = survivors holding ≥1 stored edge to a
      deleted node. Only they re-link (one (|affected ∩ cell| ×
      |surviving cell-mates|) BLAS block per touched cell — history
      srcs against history survivors, inserted srcs against all
      survivors, mirroring the build's two kernels). Every UNAFFECTED
      list already equals the rebuild's: its top-m contained no deleted
      node, and top-m over a subset equals top-m over the set when the
      winners survive — that argmax-restriction argument is the whole
      repair ≡ rebuild theorem, pytest-locked against a bombed trainer.
    - **affected hubs**: cells whose frozen medoid was deleted elect the
      next-best survivor (the deterministic (sim desc, id) rule over
      that cell's surviving history members only); bridge rows of
      affected cells rewrite from the persisted probe table (probe
      ranks depend only on (node, frozen centroids) — deletes cannot
      change them), other cells' bridges are kept as-is minus deleted
      srcs.

    Serve: q238's beam over the repaired symmetrized graph; deleted
    nodes have no edges left, so they are unreachable — no result
    filter needed, unlike q255's mark-delete phase.

    Oracle: q238's one-pass batch replay with the corpus pre-filtered
    to survivors (one WHERE on the root CTE — everything downstream
    recomputes over survivors by construction), under the SAME
    full-history-trained centroid literals (frozen means frozen):
    repair ≡ rebuild, checked end to end at the serve surface."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges_incremental,
        cell_medoids,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q197_QBOUND,
        _Q232_BEAM,
        _Q232_HOPS,
        _Q232_K,
        _Q232_M,
        _entry,
        _medoid_bridges,
        _nearest,
        _query_vectors,
        _served,
        _sym_edges,
        _vectors,
        _walk,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    deleted = _vec_takedown_pred()
    cents, medoids, edges, probes = _ensure_graph_delete_artifacts(
        spark, sf_dir
    )

    del_ids = emb.filter(deleted).select("vec_id").localCheckpoint(eager=True)
    # Affected kNN srcs: survivors with a stored edge into the deleted set.
    knn_stored = edges.filter(F.col("kind") == "knn").select("src", "dst")
    affected = (
        knn_stored.join(
            F.broadcast(del_ids.withColumnRenamed("vec_id", "dst")), on="dst"
        )
        .select(F.col("src").alias("vec_id"))
        .distinct()
        .join(F.broadcast(del_ids), on="vec_id", how="left_anti")
        .localCheckpoint(eager=True)
    )
    # Re-link: build's two kernels restricted to (affected, survivors).
    surv = emb.join(F.broadcast(del_ids), on="vec_id", how="left_anti")
    aff_flagged = surv.join(
        F.broadcast(affected.withColumn("__aff", F.lit(True))),
        on="vec_id",
        how="left",
    ).withColumn("__aff", F.coalesce("__aff", F.lit(False)))
    relink_h = cell_knn_edges_incremental(
        aff_flagged.filter(~is_new),
        F.col("__aff") & ~is_new,
        cents,
        m=_Q232_M,
    )
    relink_n = cell_knn_edges_incremental(
        aff_flagged, F.col("__aff") & is_new, cents, m=_Q232_M
    )
    kept_knn = (
        knn_stored.join(
            F.broadcast(del_ids.withColumnRenamed("vec_id", "src")),
            on="src",
            how="left_anti",
        )
        .join(
            F.broadcast(affected.withColumnRenamed("vec_id", "src")),
            on="src",
            how="left_anti",
        )
    )
    repaired_knn = kept_knn.unionByName(relink_h).unionByName(relink_n)

    # Hub repair: cells whose frozen medoid was deleted elect the
    # next-best surviving history member; their bridge rows rewrite from
    # the persisted probe table. n_cells is parameter-sized, so the
    # affected-cell set is a driver-side literal by design.
    mod, res = _VEC_TAKEDOWN_MOD, _VEC_TAKEDOWN_RES
    aff_cells = sorted(
        c for c, m in medoids.items() if m % 10 != 7 and m % mod == res
    )
    kept_med = [(c, m) for c, m in sorted(medoids.items()) if c not in aff_cells]
    if aff_cells:
        cell_members = (
            probes.filter(
                (F.col("probe_rank") == 0) & F.col("cell").isin(aff_cells)
            )
            .select("vec_id", "cell")
            .join(F.broadcast(del_ids), on="vec_id", how="left_anti")
            .filter(F.col("vec_id") % 10 != 7)
        )
        member_vecs = emb.join(cell_members.select("vec_id"), on="vec_id",
                               how="semi")
        new_med = [
            (r["cell"], r["medoid"])
            for r in cell_medoids(member_vecs, cents).collect()
            if r["cell"] in aff_cells
        ]
    else:
        new_med = []
    med_df = spark.createDataFrame(
        sorted(kept_med + new_med), "cell int, medoid long"
    )
    kept_bridges = (
        edges.filter(F.col("kind") == "bridge")
        .filter(~F.col("cell").isin(aff_cells) if aff_cells else F.lit(True))
        .join(
            F.broadcast(del_ids.withColumnRenamed("vec_id", "src")),
            on="src",
            how="left_anti",
        )
        .select("src", "dst")
    )
    new_bridges = _medoid_bridges(
        probes.filter(
            F.col("cell").isin(aff_cells) if aff_cells else F.lit(False)
        ).join(F.broadcast(del_ids), on="vec_id", how="left_anti"),
        med_df,
    )
    directed = repaired_knn.unionByName(kept_bridges).unionByName(new_bridges)
    edges_r = _sym_edges(directed).localCheckpoint(eager=True)

    # Serve: q238's beam over the repaired graph, entry at the repaired
    # hub of each query's nearest cell.
    q_bound = (F.col("vec_id") < _Q197_QBOUND) & is_new
    va = _vectors(emb)
    qv = _query_vectors(va, q_bound)
    entry = _entry(probes, med_df, q_bound)
    cand = _walk(va, qv, entry, edges_r, _Q232_BEAM, _Q232_HOPS)
    return _nearest(_served(va, qv, cand), _Q232_K)


def q256_oracle_for(sf_dir: str) -> str | None:
    """Repair ≡ rebuild: q238's replay with the corpus pre-filtered to
    survivors at the root CTE (everything downstream — assignment,
    medoids, kNN, bridges, entry, beam — recomputes over survivors by
    construction), under the SAME full-history-trained centroids."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _ivf_centroid_values,
        _Q238_ORACLE_TEMPLATE,
    )

    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        id_filter=lambda i: i % 10 != 7,
    )
    if values is None:
        return None
    sql = _Q238_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values)
    target = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
    if target not in sql:
        raise AssertionError(
            "q256 oracle: q238 template drifted — root vecs CTE not found"
        )
    return sql.replace(
        target,
        target
        + f"\n  WHERE NOT (vec_id % 10 <> 7 AND"
        f" vec_id % {_VEC_TAKEDOWN_MOD} = {_VEC_TAKEDOWN_RES})",
        1,
    )


Q255_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)
Q256_ORACLE = None  # LAZY — oracle_fn resolved at call time


# --------------------------------------------------------------------------
# q259 — cell-LOCAL delete compaction on the partitioned IVF-SQ8 index
# --------------------------------------------------------------------------

def _ensure_ivfsq_delete_artifacts(spark: SparkSession, sf_dir: str):
    """q259's generation: q227's IVF-SQ8 build (vector._ivfsq_index —
    frozen (coarse, vmin, step) params + the history code table
    directory-PARTITIONED BY CELL, params LAST as the commit gate) on
    its own ``sqdel`` table family, then the takedown tombstone table.
    Returns (coarse, vmin, step, codes_table_name_or_None, codes_df,
    tombstones_df)."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _ivfsq_index

    emb = table(spark, sf_dir, "embeddings")
    tombs = emb.filter(_vec_takedown_pred()).select("vec_id")
    coarse, vmin, step, codes, codes_t = _ivfsq_index(
        spark, sf_dir, emb.filter(F.col("vec_id") % 10 != 7), "sqdel"
    )
    tomb_t = None if codes_t is None else _tombstone_table(
        spark, sf_dir, "sqdeltomb", tombs
    )
    if tomb_t is None:
        return coarse, vmin, step, None, codes, tombs
    return coarse, vmin, step, codes_t, codes, spark.table(tomb_t)


def compact_partitioned_cells(
    spark: SparkSession,
    table_name: str,
    tombstones: DataFrame,
    id_col: str,
    part_col: str = "cell",
) -> list[int]:
    """Cell-LOCAL delete compaction for a directory-partitioned index:
    resolve the partitions that actually contain tombstoned rows (a
    parameter-sized collect — takedown lists are thousands of ids, so
    affected cells ≤ min(|takedown|, n_cells)), rewrite ONLY those
    directories via dynamic partition overwrite with the survivors, and
    DROP any partition left with zero survivors (dynamic overwrite
    cannot rewrite a partition it has no rows for — the empty-cell
    edge). Every other partition's files are untouched bytes —
    pytest-locked by listing (path, size, mtime) before/after. Returns
    the affected partition values.

    At 100 TB this is THE delete story for partitioned indexes: delete
    cost scales with the affected partitions' size, never the index
    size, and concurrent probes keep partition-pruning straight through
    the rewrite."""
    # Resolve the tombstone id column BY NAME (id_col, or the single
    # column of a one-column frame) — positional columns[0] silently
    # compacted on the wrong key for multi-column tombstone frames with
    # a different column order (round-12 ADVICE).
    if id_col in tombstones.columns:
        tomb_src = F.col(id_col)
    elif len(tombstones.columns) == 1:
        tomb_src = F.col(tombstones.columns[0])
    else:
        raise ValueError(
            f"compact_partitioned_cells: tombstone frame has no column "
            f"named {id_col!r} and is not single-column "
            f"(columns={tombstones.columns}) — pass the id column "
            "explicitly"
        )
    tomb = tombstones.select(tomb_src.alias(id_col))
    cur = spark.table(table_name)
    affected = sorted(
        r[part_col]
        for r in cur.join(F.broadcast(tomb), on=id_col, how="semi")
        .select(part_col)
        .distinct()
        .collect()
    )
    if not affected:
        return []
    survivors = (
        cur.filter(F.col(part_col).isin(affected))
        .join(F.broadcast(tomb), on=id_col, how="left_anti")
        .localCheckpoint(eager=True)
    )
    surviving_cells = {
        r[part_col] for r in survivors.select(part_col).distinct().collect()
    }
    old_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if surviving_cells:
            survivors.select(*cur.columns).write.mode(
                "overwrite"
            ).insertInto(table_name)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    for c in affected:
        if c not in surviving_cells:
            spark.sql(
                f"ALTER TABLE {table_name} DROP IF EXISTS "
                f"PARTITION ({part_col}={c})"
            )
    return affected


def q259_ivfsq_delete_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The delete lifecycle on the cell-PARTITIONED index layout (q227's
    — the literal file-level inverted list): takedown ids tombstone
    first, then compaction rewrites ONLY the partition directories that
    contain deleted rows (dynamic partition overwrite — delete cost ∝
    affected cells, never index size; untouched cell dirs keep their
    exact bytes, pytest-locked) and truncates the tombstones.

    The serve tail is q227's probe verbatim — probed-cell set pushed
    into the partition-pruned scan — plus a broadcast anti-join against
    the tombstone table, which is EMPTY after a successful compaction:
    the anti-join is the crash-window guard (a crash mid-rewrite or
    before the truncate leaves tombstones that still filter correctly;
    double-applied deletes are no-ops), and in steady state it
    broadcasts an empty set. Output is invariant across every crash
    state, which is the whole point.

    Oracle: q227's batch replay under the SAME pre-delete-trained
    frozen literals with deleted candidates excluded — serve-after-
    cell-local-compaction ≡ batch-over-survivors."""
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ivf_cell_ranks,
        ivfsq_encode,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q197_QBOUND,
        _Q223_CELLS,
        _Q223_K,
        _Q227_NPROBE,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    coarse, vmin, step, codes_t, hist_codes, tombs = (
        _ensure_ivfsq_delete_artifacts(spark, sf_dir)
    )
    if codes_t is not None:
        compact_partitioned_cells(
            spark, codes_t, tombs, id_col="neighbor_id", part_col="cell"
        )
        tomb_t = codes_t.replace("wetsa_sqdelcodes_", "wetsa_sqdeltomb_")
        empty = spark.table(tomb_t).filter(F.lit(False)).localCheckpoint()
        empty.write.mode("overwrite").saveAsTable(tomb_t)
        hist_codes = spark.table(codes_t)
        tombs = spark.table(tomb_t)

    new_codes = ivfsq_encode(emb.filter(is_new), coarse, vmin, step).select(
        F.col("vec_id").alias("neighbor_id"), "cell", "cd"
    )
    q_src = emb.filter(is_new & (F.col("vec_id") < _Q197_QBOUND))
    probes = ivf_cell_ranks(q_src, coarse).filter(
        F.col("crank") <= _Q227_NPROBE
    )
    probed_cells = sorted(
        {r["cell"] for r in probes.select("cell").distinct().collect()}
    )
    in_probed = (
        F.col("cell").isin(*probed_cells) if probed_cells else F.lit(False)
    )
    index = (
        hist_codes.filter(in_probed)
        .unionByName(new_codes.filter(in_probed))
        # Crash-window guard: empty in steady state, correct in every
        # partial-compaction state.
        .join(
            F.broadcast(tombs.select(F.col("vec_id").alias("neighbor_id"))),
            on="neighbor_id",
            how="left_anti",
        )
    )

    mn = F.array(*[F.lit(x) for x in vmin])
    st = F.array(*[F.lit(x) for x in step])
    recon = index.select(
        "neighbor_id",
        "cell",
        F.transform(
            F.col("cd"),
            lambda c, i: F.round(
                F.get(mn, i) + c.cast("double") * F.get(st, i) + F.lit(1e-9),
                6,
            ),
        ).alias("__hv"),
    )
    cents = spark.createDataFrame(
        [(c, [float(x) for x in coarse[c]]) for c in range(_Q223_CELLS)],
        "cell int, cvec array<double>",
    )
    v = to_double_array(F.col("embedding"))
    qres = (
        probes.join(
            F.broadcast(
                q_src.select(
                    F.col("vec_id").alias("query_id"), v.alias("__qv")
                )
            ),
            on="query_id",
        )
        .join(F.broadcast(cents), on="cell")
        .select(
            "query_id",
            "cell",
            F.zip_with(
                F.col("__qv"), F.col("cvec"), lambda a, b: a - b
            ).alias("__qr"),
        )
    )
    d2 = F.aggregate(
        F.zip_with(F.col("__qr"), F.col("__hv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        recon.join(F.broadcast(qres), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(d2 + F.lit(1e-9), 6).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= _Q223_K)


def q259_oracle_for(sf_dir: str) -> str | None:
    """q227's oracle with deleted candidates excluded at the scoring
    join — frozen literals stay pre-delete-trained (frozen means
    frozen)."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q227_oracle_for,
    )

    sql = q227_oracle_for(sf_dir)
    if sql is None:
        return None
    target = "JOIN qres q ON q.cell = r.cell AND r.neighbor_id <> q.query_id"
    if target not in sql:
        raise AssertionError(
            "q259 oracle: q227/q223 template drifted — scoring join not found"
        )
    return sql.replace(
        target,
        target
        + f"\n   AND NOT (r.neighbor_id % 10 <> 7 AND"
        f" r.neighbor_id % {_VEC_TAKEDOWN_MOD} = {_VEC_TAKEDOWN_RES})",
        1,
    )


Q259_ORACLE = None  # LAZY — oracle_fn resolved at call time


# --------------------------------------------------------------------------
# q260 — takedown propagation through the end-to-end curation pipeline
# --------------------------------------------------------------------------

_Q260_TAKEDOWN_SQL = f"doc_id % {_TAKEDOWN_MOD} = {_TAKEDOWN_RES}"


def q260_curation_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten through the WHOLE curation run — the
    question a data owner actually has to answer is not "is the doc out
    of the index" (q253–q259) but "is it out of the TRAINING SET, and
    did its removal propagate through every derived decision": q229's
    end-to-end pipeline with a takedown stage at the HEAD, so a deleted
    document can no longer win an exact-dedup group (its duplicates now
    survive on their own merits), seed an LSH candidate pair, count as
    a contamination partner, or spend per-source mix budget — all of
    which silently change the downstream attrition numbers, which is
    exactly what the audit rows surface. The benchmark side of
    decontamination deliberately still reads the ORIGINAL corpus: the
    eval set is a fixed external artifact, not part of the curated
    corpus, so takedown does not shrink the contamination screen.

    Output: q229's per-stage audit with the extra (1, 'takedown') row
    and shifted ordinals. Scale shape: q229's exactly, plus one
    scan-stage filter. Oracle: q229's nested-CTE statement with the
    takedown CTE woven in at the head."""
    from wetsa_cams_solrad_timeseries_spark.plans.curation import (
        q229_curation_pipeline,
    )

    return q229_curation_pipeline(
        spark,
        sf_dir,
        takedown_pred=(F.col("doc_id") % _TAKEDOWN_MOD == _TAKEDOWN_RES),
    )


def _q260_oracle() -> str:
    from wetsa_cams_solrad_timeseries_spark.plans.curation import _q229_oracle

    return _q229_oracle(takedown_where=_Q260_TAKEDOWN_SQL)


Q260_ORACLE = _q260_oracle()


# --------------------------------------------------------------------------
# q262 — decremental postings maintenance: affected-token repair
# --------------------------------------------------------------------------

_Q262_BUCKETS = 16
_Q262_TOPK = 50


def _q262_doc_takedown():
    return F.col("doc_id") % _TAKEDOWN_MOD == _TAKEDOWN_RES


def _ensure_postings_delete_artifacts(spark: SparkSession, sf_dir: str):
    """q262's generation: the DOC-LEVEL postings table (token, doc_id,
    tf) bucketed by token — the real inverted index, which is what
    makes bounded delete repair possible at all — plus the derived
    per-token stats table and the tombstones. Stats written LAST as the
    commit gate. Returns (postings_t|None, stats_t|None,
    postings_df, stats_df, tombstones_df)."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import table_generation
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import write_bucketed

    docs = table(spark, sf_dir, "documents")
    tombs = docs.filter(_q262_doc_takedown()).select("doc_id")

    def doc_tf(part: DataFrame) -> DataFrame:
        tok = part.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias(
                "token"
            ),
        ).where(F.col("token") != "")
        return tok.groupBy("token", "doc_id").agg(
            F.count(F.lit(1)).alias("tf")
        )

    def stats_of(postings: DataFrame) -> DataFrame:
        return postings.groupBy("token").agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.max(F.struct("tf", "doc_id")).alias("top"),
        )

    def build(names: list[str]) -> None:
        post_t, stats_t = names
        write_bucketed(
            doc_tf(docs), post_t, "token",
            n_buckets=_Q262_BUCKETS, sort_col="token",
        )
        stats_of(spark.table(post_t)).write.mode("overwrite").saveAsTable(
            stats_t
        )  # commit gate

    names = table_generation(spark, sf_dir, ("postdel", "postdelstats"), build)
    tomb_t = None if names is None else _tombstone_table(
        spark, sf_dir, "postdeltomb", tombs
    )
    if tomb_t is None:
        postings = doc_tf(docs)
        return None, None, postings, stats_of(postings), tombs
    post_t, stats_t = names
    return (
        post_t,
        stats_t,
        spark.table(post_t),
        spark.table(stats_t),
        spark.table(tomb_t),
    )


def q262_decremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETE side of the lexical index (q201 proved the postings
    stats merge ADDITIVELY for inserts; takedowns need the decrement) —
    and the reason the index keeps DOC-LEVEL postings: df and total_tf
    are group counts/sums and would subtract, but the top-document
    struct-max is NOT invertible — when a token's top doc is deleted,
    the new max must be recomputed from the surviving posting rows, and
    without a doc-level table that recompute is a corpus scan.

    Repair discipline (idempotent by construction — every step derives
    from (postings, tombstones) state, never from already-mutated
    stats, so any crash window replays to the same answer):
    1. affected tokens = tokens of the tombstoned docs (delta-sized
       tokenize of the deleted docs' text);
    2. stats for affected tokens recompute from their surviving posting
       rows (bucketed/pruned read of those tokens only, tombstones
       anti-joined); tokens with zero survivors drop out; every other
       token's stored row is untouched — the q256 affected-only
       argument on the lexical family;
    3. postings compact via the SAME tombstone-folding rewrite the LSH
       index uses (sinks/bucketed.compact_bucketed_table);
    4. tombstones truncate.

    Output: q152's top-50 statistics table over the survivors, read off
    the maintained stats. Oracle: q152's batch SQL over the surviving
    corpus — decremental maintenance ≡ full recompute, the same
    invariance q201 proves for the insert side."""
    post_t, stats_t, postings, stats, tombs = (
        _ensure_postings_delete_artifacts(spark, sf_dir)
    )
    if stats_t is not None:
        docs = table(spark, sf_dir, "documents")
        # 1. affected tokens from the tombstoned docs' text (delta-sized).
        del_docs = docs.join(F.broadcast(tombs), on="doc_id", how="semi")
        aff_tokens = (
            del_docs.select(
                F.explode(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+")
                ).alias("token")
            )
            .where(F.col("token") != "")
            .distinct()
            .localCheckpoint(eager=True)
        )
        if aff_tokens.take(1):
            # 2. recompute affected tokens from surviving posting rows.
            surviving_aff = (
                postings.join(aff_tokens, on="token", how="semi")
                .join(F.broadcast(tombs), on="doc_id", how="left_anti")
            )
            recomputed = surviving_aff.groupBy("token").agg(
                F.count(F.lit(1)).alias("df"),
                F.sum("tf").alias("total_tf"),
                F.max(F.struct("tf", "doc_id")).alias("top"),
            )
            kept = stats.join(aff_tokens, on="token", how="left_anti")
            merged = kept.unionByName(recomputed).localCheckpoint(eager=True)
            merged.write.mode("overwrite").saveAsTable(stats_t)
            # 3. fold the deletes into the bucketed postings table.
            from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import (
                compact_bucketed_table,
            )

            compact_bucketed_table(
                spark,
                post_t,
                n_buckets=_Q262_BUCKETS,
                bucket_col="token",
                sort_col="token",
                tombstones=tombs,
                tombstone_col="doc_id",
            )
            # 4. truncate tombstones LAST.
            tomb_t = post_t.replace("wetsa_postdel_", "wetsa_postdeltomb_")
            empty = spark.table(tomb_t).filter(F.lit(False)).localCheckpoint()
            empty.write.mode("overwrite").saveAsTable(tomb_t)
        stats = spark.table(stats_t)
    else:
        # Catalog unavailable: serve the tombstone-filtered recompute,
        # which the oracle proves equivalent.
        stats = (
            postings.join(F.broadcast(tombs), on="doc_id", how="left_anti")
            .groupBy("token")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.sum("tf").alias("total_tf"),
                F.max(F.struct("tf", "doc_id")).alias("top"),
            )
        )
    return (
        stats.select(
            "token",
            "df",
            "total_tf",
            F.col("top.doc_id").alias("top_doc"),
            F.col("top.tf").alias("top_tf"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(_Q262_TOPK)
    )


def _q262_oracle() -> str:
    from wetsa_cams_solrad_timeseries_spark.plans.advanced import Q152_ORACLE

    target = "FROM documents"
    if target not in Q152_ORACLE:
        raise AssertionError(
            "q262 oracle: q152 template drifted — documents scan not found"
        )
    return Q152_ORACLE.replace(
        target,
        target
        + f" WHERE doc_id % {_TAKEDOWN_MOD} <> {_TAKEDOWN_RES}",
        1,
    )


Q262_ORACLE = _q262_oracle()


# --------------------------------------------------------------------------
# q263 — streaming CDC on the band index: inserts + takedowns interleaved
# --------------------------------------------------------------------------


def _split_cdc_events(spark: SparkSession, sf_dir: str) -> str:
    """The CDC replay input: new-shard documents as 'insert' events and
    history takedowns as 'delete' events, repartitioned into 3 files so
    micro-batches interleave the two arbitrarily (the order-independence
    under test). The same tmp generation as every replay dir."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import tmp_generation

    def write(path: str) -> None:
        docs = table(spark, sf_dir, "documents")
        events = docs.filter(_is_new()).select(
            "doc_id", "text", F.lit("insert").alias("op")
        ).unionByName(
            docs.filter(_is_takedown()).select(
                "doc_id", "text", F.lit("delete").alias("op")
            )
        )
        events.repartition(3).write.mode("overwrite").parquet(path)

    return tmp_generation(sf_dir, "cdc_split", write, suffix="_f3")


def q263_streaming_cdc_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inserts AND takedowns interleaved on ONE change stream — the
    composition q244 (insert-only stream) and q253/q254 (batch-side
    deletes) leave open, and what production ingest actually looks
    like. Delete semantics are TOMBSTONE-DOMINATES (a takedown is
    permanent whether it lands before, after, or beside the insert —
    the only semantics a right-to-be-forgotten notice permits), which
    makes final membership the pure set expression
    (base ∪ inserts) ∖ deletes — provably independent of batch
    boundaries and interleaving order. Per batch: insert rows band and
    append (_SUCCESS-gated generations, q244's discipline), delete ids
    append to tombstone generations written LAST as the batch commit
    gate; nothing rewrites — folding tombstones into the index bytes
    stays q254's offline compaction job.

    Serve (post-drain): the inserted docs' bands probe the accumulated
    index with tombstones anti-joined from BOTH endpoints. Output: the
    canonical near-dup candidate pairs over surviving membership.

    Oracle: the batch banded SQL over the full corpus with the
    takedown exclusion — stream-maintained CDC state ≡ batch recompute
    over final membership."""
    from wetsa_cams_solrad_timeseries_spark.streaming.cdc_index_stream import (
        streaming_cdc_band_index,
    )

    docs = table(spark, sf_dir, "documents")
    hist_idx, _tombs_unused, _ = _ensure_lsh_delete_artifacts(spark, sf_dir)
    split_dir = _split_cdc_events(spark, sf_dir)
    index, tombs = streaming_cdc_band_index(
        spark,
        split_dir,
        hist_idx.select("doc_id", "bucket"),
        n_perm=_DEL_PERM,
        bands=_DEL_BANDS,
    )
    index = index.localCheckpoint(eager=True)
    return _cdc_surviving_pairs(index, tombs, F.col("doc_id") % 10 == 7)


def _cdc_surviving_pairs(index: DataFrame, tombs: DataFrame, new_pred):
    """Near-dup pairs from a CDC-maintained band index with BOTH pair
    endpoints anti-joined against the drained tombstones — tombstone
    dominates regardless of WHICH side of the pair was deleted, so an
    INSERT that is itself taken down later in the stream drops out via
    the id_a/id_b anti-join exactly like a deleted history doc.
    Factored out of q263 so that path is unit-testable with a synthetic
    insert-then-delete id (round-12 ADVICE: under q263's generated
    events the insert shard and the takedown residue never intersect,
    leaving the insert-side anti-join unexercised by the oracle)."""
    probe = index.filter(new_pred).select(
        F.col("doc_id").alias("__n"), "bucket"
    )
    pairs = (
        probe.join(
            index.select(F.col("doc_id").alias("__h"), "bucket"), on="bucket"
        )
        .filter(F.col("__n") != F.col("__h"))
        .select(
            F.least("__n", "__h").alias("id_a"),
            F.greatest("__n", "__h").alias("id_b"),
        )
        .distinct()
    )
    for side in ("id_a", "id_b"):
        pairs = pairs.join(
            F.broadcast(tombs.select(F.col("doc_id").alias(side))),
            on=side,
            how="left_anti",
        )
    # anti-joins move their key column first — restore (id_a, id_b).
    return pairs.select("id_a", "id_b")


def _q263_oracle() -> str:
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        _BAND_LIST,
        _MINHASH_COLS,
        _SHINGLES_SQL,
    )

    td = f"% 10 <> 7 AND {{}} % {_TAKEDOWN_MOD} = {_TAKEDOWN_RES}"
    return f"""
WITH {_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST}]) AS bucket
  FROM sigs
)
SELECT DISTINCT least(n.doc_id, h.doc_id) AS id_a,
                greatest(n.doc_id, h.doc_id) AS id_b
FROM banded n JOIN banded h ON n.bucket = h.bucket AND n.doc_id <> h.doc_id
WHERE n.doc_id % 10 = 7
  AND NOT (n.doc_id {td.format('n.doc_id')})
  AND NOT (h.doc_id {td.format('h.doc_id')})
"""


Q263_ORACLE = _q263_oracle()


# --------------------------------------------------------------------------
# q264 — streaming graph CDC: inserts + mark-deletes on one stream
# --------------------------------------------------------------------------


def _split_vec_cdc_events(spark: SparkSession, sf_dir: str) -> str:
    """Vector twin of :func:`_split_cdc_events`: new-shard vectors as
    'insert' events and history takedowns as 'delete' events,
    repartitioned into 3 files so micro-batches interleave the kinds."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import tmp_generation

    def write(path: str) -> None:
        emb = table(spark, sf_dir, "embeddings")
        events = emb.filter(F.col("vec_id") % 10 == 7).select(
            "vec_id", "embedding", F.lit("insert").alias("op")
        ).unionByName(
            emb.filter(_vec_takedown_pred()).select(
                "vec_id", "embedding", F.lit("delete").alias("op")
            )
        )
        events.repartition(3).write.mode("overwrite").parquet(path)

    return tmp_generation(sf_dir, "gcdc_split", write, suffix="_f3")


def q264_streaming_graph_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph family's CDC composition, completing its 2×2 (batch /
    stream × insert / delete: q238, q257, q255/q256, THIS): new-shard
    vectors and history takedowns interleave on ONE change stream.
    Inserts run q257's displacement merge (drained lists provably the
    one-shot insert's); deletes are hnswlib mark-deletes — they do NOT
    rewire, deleted nodes stay routable and later inserts may still
    link to them, so the edge state is untouched by deletes and the
    drained (lists, tombstones) pair is independent of how the two
    event kinds interleave. Serve: q238's beam over the assembled
    graph with the tombstone anti-join between traversal and the rank
    window — q255's semantics, reached through the stream.

    Oracle: q255's — q238's one-pass batch replay with the takedown
    exclusion at the rank tail. Stream-maintained CDC state ≡ the
    batch-built, batch-deleted index at the serve surface."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges,
        cell_medoids,
        ivf_assign,
        ivf_train_centroids,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q197_QBOUND,
        _Q232_BEAM,
        _Q232_BRIDGE,
        _Q232_HOPS,
        _Q232_K,
        _Q232_M,
        _entry,
        _medoid_bridges,
        _nearest,
        _query_vectors,
        _served,
        _sym_edges,
        _vectors,
        _walk,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.graph_insert_stream import (
        streaming_graph_insert,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    hist = emb.filter(~is_new)
    cents = ivf_train_centroids(hist, k=16, n_iter=2)
    med_df = cell_medoids(hist, cents)

    # CDC replay: inserts (new shard) + deletes (history takedowns),
    # interleaved by the 3-file repartition, op carried in the events.
    split_dir = _split_vec_cdc_events(spark, sf_dir)
    hist_members = ivf_assign(hist, cents, n_probe=1).join(
        hist.select("vec_id", to_double_array(F.col("embedding")).alias("__v")),
        on="vec_id",
    ).select("vec_id", "cell", "__v")
    new_knn, tombs = streaming_graph_insert(
        spark,
        split_dir,
        hist_members,
        cents,
        m=_Q232_M,
        op_col="op",
    )
    tombs = tombs.localCheckpoint(eager=True)
    # Batch-side artifacts independent of the drained state.
    base_knn = cell_knn_edges(hist, cents, m=_Q232_M).localCheckpoint(
        eager=True
    )
    probes_all = ivf_assign(emb, cents, n_probe=1 + _Q232_BRIDGE)
    q_bound = is_new & (F.col("vec_id") < _Q197_QBOUND)
    entry = _entry(probes_all, med_df, q_bound)

    directed = base_knn.unionByName(new_knn).unionByName(
        _medoid_bridges(probes_all, med_df)
    )
    edges = _sym_edges(directed).localCheckpoint(eager=True)
    va = _vectors(emb)
    qv = _query_vectors(va, q_bound)
    cand = _walk(va, qv, entry, edges, _Q232_BEAM, _Q232_HOPS)
    # mark-delete: the drained tombstones exclude RESULTS only.
    served = _served(va, qv, cand).join(
        F.broadcast(tombs.select(F.col("vec_id").alias("node"))),
        on="node",
        how="left_anti",
    )
    return _nearest(served, _Q232_K)


Q264_ORACLE = None  # LAZY — q255's oracle (stream-CDC ≡ batch mark-delete)


# --------------------------------------------------------------------------
# q267/q268 — pHash (perceptual) index delete lifecycle
# --------------------------------------------------------------------------

_PH_BUCKETS = 8  # q210's bucket count — the layout contract under test


def _phash_rows(docs_part: DataFrame) -> DataFrame:
    """q210's index rows (doc_id, bkey, band0..band3) over a docs
    slice — the shared signature kernel, so the lifecycle can never
    drift from the index it deletes from."""
    from wetsa_cams_solrad_timeseries_spark.operators.multimodal import (
        attach_payload,
        dhash_bands,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _dhash_index_rows,
    )

    return _dhash_index_rows(
        dhash_bands(attach_payload(docs_part, "doc_id", "text"))
    )


def _ensure_phash_delete_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, str | None]:
    """(phash_index, tombstones, index_table_name) — the q267/q268
    fixture: q210's bucketed signature index built over the FULL history
    (deletes arrive after the build), takedown ids registered after."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import table_generation
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import write_bucketed

    docs = table(spark, sf_dir, "documents")
    tombs = docs.filter(_is_takedown()).select("doc_id")
    names = table_generation(
        spark,
        sf_dir,
        ("phdel",),
        lambda n: write_bucketed(
            _phash_rows(docs.filter(~_is_new())), n[0], "bkey",
            n_buckets=_PH_BUCKETS, sort_col="bkey",
        ),
    )
    tomb_t = None if names is None else _tombstone_table(
        spark, sf_dir, "phtomb", tombs
    )
    if tomb_t is None:
        return _phash_rows(docs.filter(~_is_new())), tombs, None
    return spark.table(names[0]), spark.table(tomb_t), names[0]


def _phash_probe(
    spark: SparkSession,
    sf_dir: str,
    hist_idx: DataFrame,
    tombstones: DataFrame | None,
) -> DataFrame:
    """q210's serve shape — new-shard signatures probe the bucketed
    index on bkey, exact 64-bit Hamming verifies from the denormalized
    band columns — with the OPTIONAL tombstone anti-join placed right
    after the bucket join, BEFORE the popcount/distinct work, so a
    deleted history payload costs neither verify arithmetic nor an
    output row. Broadcast: takedown lists are parameter-sized."""
    docs = table(spark, sf_dir, "documents")
    probe = _phash_rows(docs.filter(_is_new()))
    bands = [f"band{b}" for b in range(4)]
    joined = probe.select(
        F.col("doc_id").alias("new_id"), "bkey",
        *[F.col(c).alias(f"{c}_n") for c in bands],
    ).join(
        hist_idx.select(
            F.col("doc_id").alias("hist_id"), "bkey",
            *[F.col(c).alias(f"{c}_h") for c in bands],
        ),
        on="bkey",
    )
    if tombstones is not None:
        joined = joined.join(
            F.broadcast(tombstones.select(F.col("doc_id").alias("hist_id"))),
            on="hist_id",
            how="left_anti",
        )
    hamming = None
    for c in bands:
        term = F.bit_count(F.col(f"{c}_n").bitwiseXOR(F.col(f"{c}_h")))
        hamming = term if hamming is None else hamming + term
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q208_MAX_HAMMING,
    )

    return (
        joined.select(
            "new_id", "hist_id", hamming.cast("long").alias("hamming")
        )
        .filter(F.col("hamming") <= _Q208_MAX_HAMMING)
        .distinct()
    )


def q267_phash_tombstone_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase 1 of the delete lifecycle on the PERCEPTUAL index (q210's
    — the round-12 verdict's named gap, with q269/q270's codebook pair
    completing the matrix): takedown ids tombstone in one parameter-
    sized write, the q210 probe anti-joins them from the candidate
    stream before the Hamming verify, and the index's bucketed bytes are
    untouched. A deleted image can never surface as a near-dup partner
    from the moment the tombstone lands.

    Scale shape: q210's steady state (new-shard Arrow hash pass +
    bucket-colocated probe join, history payloads never re-read) plus
    ONE broadcast anti-join; delete cost is O(|takedown|) regardless of
    index size. Oracle: the batch pHash dedup over the SURVIVING
    history (q210's SQL with the takedown exclusion in the candidate
    join) — shared verbatim with q268, so the driver gate certifies
    tombstone-serve ≡ compacted-serve ≡ batch-over-survivors."""
    hist_idx, tombs, _ = _ensure_phash_delete_artifacts(spark, sf_dir)
    return _phash_probe(spark, sf_dir, hist_idx, tombs)


def q268_phash_tombstone_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Phase 2 on the perceptual index: the maintenance rewrite folds
    the tombstones into the bucketed signature table (membership removal
    + small-file compaction as ONE pass, layout contract preserved),
    truncates the tombstone set, and serves with NO anti-join — the
    deletes are physical. Crash windows are q254's, all idempotent.
    Oracle: shared verbatim with q267."""
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import (
        compact_bucketed_table,
    )

    hist_idx, tombs, idx_t = _ensure_phash_delete_artifacts(spark, sf_dir)
    if idx_t is None:
        return _phash_probe(spark, sf_dir, hist_idx, tombs)
    compact_bucketed_table(
        spark,
        idx_t,
        n_buckets=_PH_BUCKETS,
        bucket_col="bkey",
        sort_col="bkey",
        tombstones=tombs,
        tombstone_col="doc_id",
    )
    tomb_t = idx_t.replace("wetsa_phdel_", "wetsa_phtomb_")
    empty = spark.table(tomb_t).filter(F.lit(False)).localCheckpoint()
    empty.write.mode("overwrite").saveAsTable(tomb_t)
    return _phash_probe(spark, sf_dir, spark.table(idx_t), None)


def _phash_survivor_oracle() -> str:
    """q210's batch-equivalence SQL with the takedown exclusion woven
    into the candidate join — the shared q267/q268 oracle. Built by
    targeted injection into the live Q210 template (drift-guarded, the
    q255 pattern) so the index SQL and the lifecycle SQL cannot
    diverge."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import Q210_ORACLE

    target = "WHERE n.doc_id % 10 = 7 AND h.doc_id % 10 <> 7"
    if target not in Q210_ORACLE:
        raise AssertionError(
            "q267 oracle: q210 template drifted — candidate WHERE not found"
        )
    return Q210_ORACLE.replace(
        target,
        target + f" AND h.doc_id % {_TAKEDOWN_MOD} <> {_TAKEDOWN_RES}",
        1,
    )


Q267_ORACLE = _phash_survivor_oracle()
Q268_ORACLE = Q267_ORACLE


# --------------------------------------------------------------------------
# q269/q270/q271 — PQ / OPQ codebook-index delete lifecycle
# --------------------------------------------------------------------------

def _ensure_code_delete_artifacts(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    rotated: bool,
):
    """Shared q269/q270/q271 fixture: q197/q217's index build
    (vector._pq_index — frozen codebooks and, for OPQ, the frozen
    rotation, history codes bucketed on ``neighbor_id``, books written
    LAST as the commit gate) on its own ``<family>del`` table family,
    trained on the FULL history (deletes arrive after the build, so the
    deleted rows ARE in the training set and in the code table — that
    ordering is the point), then the takedown vec_ids in a tombstone
    table.

    Returns (rotation | None, books, hist_codes, tombstones,
    codes_table | None, tomb_table | None)."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _pq_index

    emb = table(spark, sf_dir, "embeddings")
    tombs = emb.filter(_vec_takedown_pred()).select("vec_id")
    rotation, books, codes, codes_t = _pq_index(
        spark, sf_dir, emb.filter(F.col("vec_id") % 10 != 7),
        f"{family}del", rotated,
    )
    tomb_t = None if codes_t is None else _tombstone_table(
        spark, sf_dir, f"{family}deltomb", tombs
    )
    if tomb_t is None:
        return rotation, books, codes, tombs, None, None
    return rotation, books, codes, spark.table(tomb_t), codes_t, tomb_t


def _code_probe(
    spark: SparkSession,
    sf_dir: str,
    rotation,
    books,
    hist_codes: DataFrame,
    tombstones: DataFrame | None,
    rotated: bool,
) -> DataFrame:
    """q197/q217's ADC serve with the OPTIONAL tombstone anti-join on
    the index-code stream — applied to the (neighbor_id, sub, code)
    rows BEFORE the LUT join, so a deleted vector's codes never enter
    the ADC grouped sum (the refund, not just the exclusion). Broadcast:
    takedown lists are parameter-sized; the bucketed code scan stays
    shuffle-free."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        adc_topk,
        pq_encode,
        pq_query_luts,
        rotate_vectors,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q197_K,
        _Q197_QBOUND,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    new_src = rotate_vectors(emb.filter(is_new), rotation) if rotated else (
        emb.filter(is_new)
    )
    new_codes = pq_encode(new_src, books).select(
        F.col("vec_id").alias("neighbor_id"), "sub", "code"
    )
    index = hist_codes.unionByName(new_codes)
    if tombstones is not None:
        index = index.join(
            F.broadcast(
                tombstones.select(F.col("vec_id").alias("neighbor_id"))
            ),
            on="neighbor_id",
            how="left_anti",
        )
    q_src = new_src.filter(F.col("vec_id") < _Q197_QBOUND)
    return adc_topk(index, pq_query_luts(q_src, books), k=_Q197_K)


def q269_pq_tombstone_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase 1 of the delete lifecycle on the COMPRESSED-CODE index
    (q197's PQ codes — the round-12 verdict's named gap): takedown ids
    tombstone in one parameter-sized write; the ADC probe anti-joins
    them off the code stream BEFORE the LUT join, so deleted vectors
    cost no ADC arithmetic and can never be served; the bucketed code
    bytes and the frozen books are untouched.

    ADC ranks recompute over survivors naturally — removing a
    candidate's partial sums removes it from the per-query window, and
    every remaining distance is unchanged (codes are per-vector
    independent). That independence is what makes the codebook family's
    delete lifecycle TRIVIALLY safe where the graph family needed the
    repair theorem: no other vector's index entry references the
    deleted one.

    Oracle: q197's one-pass batch SQL with the takedown exclusion at
    the ADC stage — shared verbatim with q270, so the driver gate
    certifies tombstone-serve ≡ compacted-serve ≡ batch-over-survivors
    under the SAME full-history-trained frozen books (frozen means
    frozen: FAISS semantics keep the codebooks through deletes)."""
    _rot, books, codes, tombs, _, _ = _ensure_code_delete_artifacts(
        spark, sf_dir, "pq", rotated=False
    )
    return _code_probe(spark, sf_dir, None, books, codes, tombs, False)


def q270_pq_tombstone_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Phase 2 on the PQ code index: fold the tombstones into the
    bucketed code table (one rewrite pass, layout contract preserved —
    per-vector code groups are contiguous on neighbor_id so the
    anti-join drops whole groups), truncate the tombstone set, serve
    with NO anti-join. Books are NOT retrained — delete semantics for a
    frozen-codebook index are membership-only, which is exactly why the
    shared q269 oracle (full-history-trained books, survivor-only
    codes) checks this phase too."""
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import (
        compact_bucketed_table,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _Q197_BUCKETS

    _rot, books, codes, tombs, codes_t, tomb_t = (
        _ensure_code_delete_artifacts(
            spark, sf_dir, "pq", rotated=False
        )
    )
    if codes_t is None:
        return _code_probe(spark, sf_dir, None, books, codes, tombs, False)
    compact_bucketed_table(
        spark,
        codes_t,
        n_buckets=_Q197_BUCKETS,
        bucket_col="neighbor_id",
        sort_col="neighbor_id",
        tombstones=tombs.select(F.col("vec_id").alias("neighbor_id")),
        tombstone_col="neighbor_id",
    )
    empty = spark.table(tomb_t).filter(F.lit(False)).localCheckpoint()
    empty.write.mode("overwrite").saveAsTable(tomb_t)
    return _code_probe(
        spark, sf_dir, None, books, spark.table(codes_t), None, False
    )


def q271_opq_tombstone_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The delete lifecycle on the ROTATED codebook index (q217's OPQ)
    — both phases in one maintenance run: tombstone lands, the rewrite
    folds it into the bucketed rotated-code table, tombstones truncate,
    and the serve is the rotation-then-ADC probe with no anti-join.
    The frozen (R, books) pair is untouched: rotation is a pure
    per-vector function, so deletes are membership-only here exactly as
    in q270 (the serve-phase anti-join form is q269's code path
    verbatim — tests/test_deletes.py locks serve ≡ compacted for this
    family in-engine).

    Oracle: q217's one-pass batch SQL (rotate under frozen R, encode
    under frozen books) with the same takedown exclusion at the ADC
    stage — compacted serve ≡ batch-over-survivors with the rotation
    threaded through."""
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import (
        compact_bucketed_table,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _Q197_BUCKETS

    rot, books, codes, tombs, codes_t, tomb_t = (
        _ensure_code_delete_artifacts(
            spark, sf_dir, "opq", rotated=True
        )
    )
    if codes_t is None:
        return _code_probe(spark, sf_dir, rot, books, codes, tombs, True)
    compact_bucketed_table(
        spark,
        codes_t,
        n_buckets=_Q197_BUCKETS,
        bucket_col="neighbor_id",
        sort_col="neighbor_id",
        tombstones=tombs.select(F.col("vec_id").alias("neighbor_id")),
        tombstone_col="neighbor_id",
    )
    empty = spark.table(tomb_t).filter(F.lit(False)).localCheckpoint()
    empty.write.mode("overwrite").saveAsTable(tomb_t)
    return _code_probe(
        spark, sf_dir, rot, books, spark.table(codes_t), None, True
    )


_ADC_EXCLUDE = (
    f" AND NOT (cd.neighbor_id % 10 <> 7 AND cd.neighbor_id % "
    f"{_VEC_TAKEDOWN_MOD} = {_VEC_TAKEDOWN_RES})"
)


def _inject_adc_exclusion(sql: str, tag: str) -> str:
    target = "WHERE cd.neighbor_id <> l.query_id"
    if target not in sql:
        raise AssertionError(
            f"{tag} oracle: q197 index tail drifted — ADC WHERE not found"
        )
    return sql.replace(target, target + _ADC_EXCLUDE, 1)


def q269_oracle_for(sf_dir: str) -> str | None:
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q197_oracle_for,
    )

    sql = q197_oracle_for(sf_dir)
    return None if sql is None else _inject_adc_exclusion(sql, "q269")


def q271_oracle_for(sf_dir: str) -> str | None:
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q217_oracle_for,
    )

    sql = q217_oracle_for(sf_dir)
    return None if sql is None else _inject_adc_exclusion(sql, "q271")


Q269_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)
Q270_ORACLE = None  # LAZY — shared with q269 (phase equivalence)
Q271_ORACLE = None  # LAZY — oracle_fn resolved at call time


import dataclasses as _dc

SPECS = make_specs(
    [
        ("q253_lsh_tombstone_serve", q253_lsh_tombstone_serve, Q253_ORACLE,
         (), "index delete phase 1: tombstoned serve (broadcast anti-join)"),
        ("q254_lsh_tombstone_compaction", q254_lsh_tombstone_compaction,
         Q254_ORACLE, (),
         "index delete phase 2: tombstone-folding compaction"),
        ("q255_graph_tombstone_serve", q255_graph_tombstone_serve,
         Q255_ORACLE, (),
         "graph delete phase 1: hnswlib mark-delete (routes, never results)"),
        ("q256_graph_delete_repair", q256_graph_delete_repair,
         Q256_ORACLE, (),
         "graph delete phase 2: affected-only repair == survivor rebuild"),
        ("q259_ivfsq_delete_compaction", q259_ivfsq_delete_compaction,
         Q259_ORACLE, (),
         "cell-local delete compaction on the partitioned IVF-SQ8 index"),
        ("q260_curation_takedown", q260_curation_takedown, Q260_ORACLE, (),
         "right-to-be-forgotten propagated through the full curation "
         "pipeline, per-stage audit"),
        ("q262_decremental_postings", q262_decremental_postings,
         Q262_ORACLE, (),
         "decremental postings maintenance: affected-token repair of "
         "the non-invertible struct-max, tombstone-folding compaction"),
        ("q263_streaming_cdc_index", q263_streaming_cdc_index,
         Q263_ORACLE, (),
         "streaming CDC index maintenance: inserts + takedowns "
         "interleaved, tombstone-dominates membership"),
        ("q264_streaming_graph_cdc", q264_streaming_graph_cdc,
         Q264_ORACLE, (),
         "streaming graph CDC: displacement-merge inserts + hnswlib "
         "mark-deletes on one stream"),
        ("q267_phash_tombstone_serve", q267_phash_tombstone_serve,
         Q267_ORACLE, (),
         "perceptual-index delete phase 1: tombstoned pHash serve"),
        ("q268_phash_tombstone_compaction", q268_phash_tombstone_compaction,
         Q268_ORACLE, (),
         "perceptual-index delete phase 2: tombstone-folding compaction"),
        ("q269_pq_tombstone_serve", q269_pq_tombstone_serve, Q269_ORACLE,
         (),
         "PQ code-index delete phase 1: tombstoned ADC serve (frozen "
         "books)"),
        ("q270_pq_tombstone_compaction", q270_pq_tombstone_compaction,
         Q270_ORACLE, (),
         "PQ code-index delete phase 2: tombstone-folding compaction "
         "(books untouched)"),
        ("q271_opq_tombstone_compaction", q271_opq_tombstone_compaction,
         Q271_ORACLE, (),
         "OPQ rotated-code-index delete lifecycle: tombstone + "
         "compaction under frozen (R, books)"),
    ]
)
SPECS["q255_graph_tombstone_serve"] = _dc.replace(
    SPECS["q255_graph_tombstone_serve"], oracle_fn=q255_oracle_for
)
SPECS["q256_graph_delete_repair"] = _dc.replace(
    SPECS["q256_graph_delete_repair"], oracle_fn=q256_oracle_for
)
SPECS["q259_ivfsq_delete_compaction"] = _dc.replace(
    SPECS["q259_ivfsq_delete_compaction"], oracle_fn=q259_oracle_for
)
SPECS["q264_streaming_graph_cdc"] = _dc.replace(
    SPECS["q264_streaming_graph_cdc"], oracle_fn=q255_oracle_for
)
SPECS["q269_pq_tombstone_serve"] = _dc.replace(
    SPECS["q269_pq_tombstone_serve"], oracle_fn=q269_oracle_for
)
SPECS["q270_pq_tombstone_compaction"] = _dc.replace(
    SPECS["q270_pq_tombstone_compaction"], oracle_fn=q269_oracle_for
)
SPECS["q271_opq_tombstone_compaction"] = _dc.replace(
    SPECS["q271_opq_tombstone_compaction"], oracle_fn=q271_oracle_for
)
