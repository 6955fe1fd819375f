"""Deletion lifecycle: tombstones, compaction, graph mark-delete/repair.

The contract under test is plans/deletes.py's two-phase delete story:
phase 1 (tombstoned serve) and phase 2 (tombstone-folding compaction)
must agree with each other and with the batch recompute over survivors
(the shared oracle checks the latter; these tests lock the PHYSICAL
side — membership actually leaves the index bytes, the layout contract
survives, re-applying deletes is a no-op).
"""

import pytest
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import table
from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
    _ensure_lsh_delete_artifacts,
    _is_takedown,
    _probe_and_verify,
    q253_lsh_tombstone_serve,
    q254_lsh_tombstone_compaction,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tombstone_serve_equals_compacted_serve(spark, sf_dir):
    # The two phases of the delete lifecycle answer identically — the
    # in-engine twin of the shared q253/q254 oracle.
    before = _rows(q253_lsh_tombstone_serve(spark, sf_dir))
    after = _rows(q254_lsh_tombstone_compaction(spark, sf_dir))
    assert before == after
    assert len(before) > 0  # the probe shard does hit the index


def test_no_deleted_partner_survives(spark, sf_dir):
    takedown = {
        r["doc_id"]
        for r in table(spark, sf_dir, "documents")
        .filter(_is_takedown())
        .select("doc_id")
        .collect()
    }
    assert takedown  # predicate must bind on the test corpus
    served = q253_lsh_tombstone_serve(spark, sf_dir)
    assert not {r["hist_id"] for r in served.collect()} & takedown


def test_compaction_removes_membership_physically(spark, sf_dir):
    hist_idx, tombs, idx_t = _ensure_lsh_delete_artifacts(spark, sf_dir)
    if idx_t is None:
        pytest.skip("catalog unavailable")
    n_tomb = tombs.count()
    # Force the pre-compaction state to actually contain deleted rows:
    # if an earlier test already compacted, rebuild the fixture tables.
    pre = (
        spark.table(idx_t)
        .join(
            table(spark, sf_dir, "documents")
            .filter(_is_takedown())
            .select("doc_id"),
            on="doc_id",
            how="semi",
        )
        .count()
    )
    q254_lsh_tombstone_compaction(spark, sf_dir)
    post = (
        spark.table(idx_t)
        .join(
            table(spark, sf_dir, "documents")
            .filter(_is_takedown())
            .select("doc_id"),
            on="doc_id",
            how="semi",
        )
        .count()
    )
    assert post == 0  # membership is gone from the index bytes
    # Tombstone table truncated after the fold (phase-2 postcondition).
    tomb_t = idx_t.replace("wetsa_lshdel_", "wetsa_lshtomb_")
    assert spark.table(tomb_t).count() == 0
    # If this test ran on a fresh index, the delete really had bytes to
    # remove (n_tomb docs × 4 bands, deduped per-bucket).
    if pre:
        assert pre > 0 and n_tomb > 0


def test_double_compaction_is_noop(spark, sf_dir):
    first = _rows(q254_lsh_tombstone_compaction(spark, sf_dir))
    second = _rows(q254_lsh_tombstone_compaction(spark, sf_dir))
    assert first == second


def test_compacted_probe_plan_still_shuffle_free_on_index(spark, sf_dir):
    # Phase 2 must not break the bucketed layout contract: after the
    # tombstone-folding rewrite the probe's index side still satisfies
    # the join distribution with no Exchange.
    import re

    _, _, idx_t = _ensure_lsh_delete_artifacts(spark, sf_dir)
    if idx_t is None:
        pytest.skip("catalog unavailable")
    q254_lsh_tombstone_compaction(spark, sf_dir)
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_band_rows,
        minhash_signatures,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    probe = lsh_band_rows(
        minhash_signatures(
            word_shingles(docs.filter(F.col("doc_id") % 10 == 7),
                          "doc_id", "text", n=2),
            "doc_id", n_perm=16,
        ),
        "doc_id", n_perm=16, bands=4,
    ).localCheckpoint(eager=True)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import io
        from contextlib import redirect_stdout

        j = probe.hint("merge").join(spark.table(idx_t), on="bucket")
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_mark_delete_excludes_results_only(spark, sf_dir):
    # q255: tombstoned nodes can never be RESULTS; the graph index
    # shared with q238 is byte-untouched (routing preserved is what the
    # oracle proves — the beam replay traverses deleted nodes too).
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _vec_takedown_pred,
        q255_graph_tombstone_serve,
    )

    emb = table(spark, sf_dir, "embeddings")
    deleted = {
        r["vec_id"] for r in emb.filter(_vec_takedown_pred()).collect()
    }
    assert deleted
    out = q255_graph_tombstone_serve(spark, sf_dir).collect()
    assert out
    assert not {r["neighbor_id"] for r in out} & deleted


def test_graph_repair_steady_state_never_rebuilds(spark, sf_dir, monkeypatch):
    # q256's base build (trainer + Σ|cell|² batch kernel) runs once; the
    # repair phase re-links via cell_knn_edges_incremental and re-elects
    # hubs via cell_medoids over affected cells only — those stay live,
    # the base-build stages must not.
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        q256_graph_delete_repair,
    )

    first = sorted(
        tuple(r) for r in q256_graph_delete_repair(spark, sf_dir).collect()
    )
    assert first

    import wetsa_cams_solrad_timeseries_spark.operators.similarity as sim

    def boom(*a, **k):
        raise AssertionError("repair run re-ran a base-build stage")

    monkeypatch.setattr(sim, "ivf_train_centroids", boom)
    monkeypatch.setattr(sim, "cell_knn_edges", boom)
    second = sorted(
        tuple(r) for r in q256_graph_delete_repair(spark, sf_dir).collect()
    )
    assert second == first


def test_graph_repair_relinks_affected_only(spark, sf_dir, monkeypatch):
    # The repair kernels receive the affected flag: every flagged src
    # must hold a stored edge into the deleted set, and the flagged
    # count must be strictly smaller than the survivor count (the
    # affected-only cost claim — a rebuild would flag everyone).
    import wetsa_cams_solrad_timeseries_spark.operators.similarity as sim
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _ensure_graph_delete_artifacts,
        _vec_takedown_pred,
        q256_graph_delete_repair,
    )

    _, _, edges, _ = _ensure_graph_delete_artifacts(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    deleted = {
        r["vec_id"] for r in emb.filter(_vec_takedown_pred()).collect()
    }
    expected_affected = {
        r["src"]
        for r in edges.filter(F.col("kind") == "knn").collect()
        if r["dst"] in deleted
    } - deleted
    n_survivors = emb.count() - len(deleted)

    real = sim.cell_knn_edges_incremental
    flagged_per_call = []

    def spy(emb_df, new_pred, *a, **k):
        flagged_per_call.append(
            emb_df.filter(new_pred).select("vec_id").collect()
        )
        return real(emb_df, new_pred, *a, **k)

    monkeypatch.setattr(sim, "cell_knn_edges_incremental", spy)
    q256_graph_delete_repair(spark, sf_dir)
    flagged = {r["vec_id"] for rows in flagged_per_call for r in rows}
    assert len(flagged_per_call) == 2  # history + inserted kernels
    assert flagged == expected_affected
    assert len(flagged) < n_survivors


def test_deleted_unreachable_after_repair(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _vec_takedown_pred,
        q256_graph_delete_repair,
    )

    emb = table(spark, sf_dir, "embeddings")
    deleted = {
        r["vec_id"] for r in emb.filter(_vec_takedown_pred()).collect()
    }
    out = q256_graph_delete_repair(spark, sf_dir).collect()
    assert out
    assert not {r["neighbor_id"] for r in out} & deleted


def test_cell_local_compaction_touches_affected_dirs_only(spark, sf_dir):
    # q259's physical contract: the dynamic-partition-overwrite rewrite
    # replaces exactly the cell directories holding tombstoned rows;
    # every other partition keeps its exact files (path, size, mtime).
    import os as _os

    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _ensure_ivfsq_delete_artifacts,
        _vec_takedown_pred,
        compact_partitioned_cells,
    )

    *_, codes_t, _, tombs = _ensure_ivfsq_delete_artifacts(spark, sf_dir)
    if codes_t is None:
        pytest.skip("catalog unavailable")
    location = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {codes_t}")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    ).replace("file:", "")

    def snapshot():
        snap = {}
        for root, _dirs, files in _os.walk(location):
            for f in files:
                p = _os.path.join(root, f)
                st = _os.stat(p)
                snap[p] = (st.st_size, st.st_mtime_ns)
        return snap

    # Pre-state may already be compacted by an earlier test/call — only
    # assert the byte-identity property when the compaction binds.
    tomb_rows = tombs.count()
    before = snapshot()
    affected = compact_partitioned_cells(
        spark, codes_t, tombs, id_col="neighbor_id", part_col="cell"
    )
    after = snapshot()
    if tomb_rows and affected:
        aff_frag = [f"{_os.sep}cell={c}{_os.sep}" for c in affected]

        def is_affected(p):
            return any(fr in p for fr in aff_frag)

        untouched_before = {p: v for p, v in before.items()
                            if not is_affected(p)}
        untouched_after = {p: v for p, v in after.items()
                           if not is_affected(p)}
        assert untouched_before == untouched_after
        assert {p for p in before if is_affected(p)} != {
            p for p in after if is_affected(p)
        }
    # Deleted membership is physically gone either way.
    emb = table(spark, sf_dir, "embeddings")
    gone = (
        spark.table(codes_t)
        .join(
            emb.filter(_vec_takedown_pred()).select(
                F.col("vec_id").alias("neighbor_id")
            ),
            on="neighbor_id",
            how="semi",
        )
        .count()
    )
    assert gone == 0
    # Re-compaction with the same tombstones is a no-op (idempotent).
    assert (
        compact_partitioned_cells(
            spark, codes_t, tombs, id_col="neighbor_id", part_col="cell"
        )
        == []
    )


def test_decremental_postings_lifecycle(spark, sf_dir):
    # q262: after maintenance no deleted doc remains in the postings
    # bytes or as any token's top document; a second call is a no-op
    # (all steps derive from (postings, tombstones) state, never from
    # already-mutated stats — the idempotence-by-construction claim).
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _ensure_postings_delete_artifacts,
        _q262_doc_takedown,
        q262_decremental_postings,
    )

    first = sorted(
        tuple(r) for r in q262_decremental_postings(spark, sf_dir).collect()
    )
    assert first
    deleted = {
        r["doc_id"]
        for r in table(spark, sf_dir, "documents")
        .filter(_q262_doc_takedown())
        .collect()
    }
    assert deleted
    post_t, stats_t, postings, stats, _ = _ensure_postings_delete_artifacts(
        spark, sf_dir
    )
    if stats_t is None:
        pytest.skip("catalog unavailable")
    assert (
        spark.table(post_t)
        .filter(F.col("doc_id").isin(list(deleted)))
        .count()
        == 0
    )
    tops = {r["top"]["doc_id"] for r in spark.table(stats_t).collect()}
    assert not tops & deleted
    second = sorted(
        tuple(r) for r in q262_decremental_postings(spark, sf_dir).collect()
    )
    assert second == first


def test_streaming_cdc_index_equals_batch_membership(spark, sf_dir):
    # q263: tombstone-dominates makes final membership a pure set
    # expression — the drained CDC state must equal the one-pass batch
    # recompute over (base ∪ inserts) ∖ deletes, and no surviving pair
    # touches a deleted id.
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_band_rows,
        minhash_signatures,
        word_shingles,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _is_takedown,
        q263_streaming_cdc_index,
    )

    streamed = sorted(
        tuple(r) for r in q263_streaming_cdc_index(spark, sf_dir).collect()
    )
    assert streamed
    docs = table(spark, sf_dir, "documents")
    deleted = {r["doc_id"] for r in docs.filter(_is_takedown()).collect()}
    assert deleted
    banded = lsh_band_rows(
        minhash_signatures(
            word_shingles(docs, "doc_id", "text", n=2), "doc_id", n_perm=16
        ),
        "doc_id",
        n_perm=16,
        bands=4,
    )
    a = banded.select(F.col("doc_id").alias("__n"), "bucket")
    b = banded.select(F.col("doc_id").alias("__h"), "bucket")
    batch = sorted(
        {
            (min(r["__n"], r["__h"]), max(r["__n"], r["__h"]))
            for r in a.join(b, on="bucket")
            .filter(F.col("__n") != F.col("__h"))
            .filter(F.col("__n") % 10 == 7)
            .collect()
            if r["__n"] not in deleted and r["__h"] not in deleted
        }
    )
    assert streamed == batch
    flat = {x for pair in streamed for x in pair}
    assert not flat & deleted


def test_tombstone_filtered_equals_physical_filter(spark, sf_dir):
    # Serving through an anti-join against tombstones ≡ serving an index
    # frame with the rows already gone — the algebraic heart of the
    # crash-window argument (double-applied deletes are no-ops).
    hist_idx, tombs, _ = _ensure_lsh_delete_artifacts(spark, sf_dir)
    via_anti = _rows(_probe_and_verify(spark, sf_dir, hist_idx, tombs))
    physical = hist_idx.join(
        F.broadcast(tombs.select("doc_id")), on="doc_id", how="left_anti"
    )
    via_physical = _rows(_probe_and_verify(spark, sf_dir, physical, None))
    assert via_anti == via_physical


def test_cdc_insert_side_tombstone_drops_pair(spark):
    # Round-12 ADVICE: q263's generated events never delete an INSERT
    # (inserts are %10==7, takedowns require %10!=7), so the id_a-side
    # anti-join was dead code under the oracle. Feed the factored pair
    # kernel a synthetic drained state where an inserted doc (17) was
    # itself taken down later in the stream: its pair must drop via the
    # insert-side anti-join, while an untouched insert pair survives.
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _cdc_surviving_pairs,
    )

    index = spark.createDataFrame(
        [(17, 100), (3, 100), (27, 200), (5, 200)],
        "doc_id long, bucket long",
    )
    new_pred = F.col("doc_id") % 10 == 7
    no_tombs = spark.createDataFrame([], "doc_id long")
    assert _rows(_cdc_surviving_pairs(index, no_tombs, new_pred)) == [
        (3, 17),
        (5, 27),
    ]
    tombs = spark.createDataFrame([(17,)], "doc_id long")
    assert _rows(_cdc_surviving_pairs(index, tombs, new_pred)) == [(5, 27)]


def test_compact_partitioned_cells_rejects_ambiguous_tombstones(spark):
    # Round-12 ADVICE: the tombstone id column is resolved BY NAME; a
    # multi-column frame without the id column must fail loudly instead
    # of silently compacting on whatever column happened to be first.
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        compact_partitioned_cells,
    )

    bad = spark.createDataFrame([(1, 2)], "not_the_id long, also_not long")
    with pytest.raises(ValueError, match="no column named"):
        compact_partitioned_cells(
            spark, "any_table", bad, id_col="neighbor_id"
        )


# --------------------------------------------------------------------------
# Round 13: pHash / PQ / OPQ index families (q267-q271)
# --------------------------------------------------------------------------


def test_phash_tombstone_serve_equals_compacted_serve(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        q267_phash_tombstone_serve,
        q268_phash_tombstone_compaction,
    )

    before = _rows(q267_phash_tombstone_serve(spark, sf_dir))
    after = _rows(q268_phash_tombstone_compaction(spark, sf_dir))
    assert before == after
    assert len(before) > 0  # surviving near-dup pairs still found
    takedown = {
        r["doc_id"]
        for r in table(spark, sf_dir, "documents")
        .filter(_is_takedown())
        .select("doc_id")
        .collect()
    }
    assert not {hist for (_n, hist, _h) in before} & takedown


def test_phash_compaction_removes_membership_physically(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _ensure_phash_delete_artifacts,
        q268_phash_tombstone_compaction,
    )

    _idx, _tombs, idx_t = _ensure_phash_delete_artifacts(spark, sf_dir)
    if idx_t is None:
        pytest.skip("catalog unavailable")
    q268_phash_tombstone_compaction(spark, sf_dir)
    left = (
        spark.table(idx_t)
        .join(
            table(spark, sf_dir, "documents")
            .filter(_is_takedown())
            .select("doc_id"),
            on="doc_id",
            how="semi",
        )
        .count()
    )
    assert left == 0
    tomb_t = idx_t.replace("wetsa_phdel_", "wetsa_phtomb_")
    assert spark.table(tomb_t).count() == 0
    # Idempotence: a second maintenance run answers identically.
    first = _rows(q268_phash_tombstone_compaction(spark, sf_dir))
    second = _rows(q268_phash_tombstone_compaction(spark, sf_dir))
    assert first == second


def test_pq_tombstone_serve_equals_compacted_serve(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _vec_takedown_pred,
        q269_pq_tombstone_serve,
        q270_pq_tombstone_compaction,
    )

    before = _rows(q269_pq_tombstone_serve(spark, sf_dir))
    after = _rows(q270_pq_tombstone_compaction(spark, sf_dir))
    assert before == after
    assert len(before) > 0
    takedown = {
        r["vec_id"]
        for r in table(spark, sf_dir, "embeddings")
        .filter(_vec_takedown_pred())
        .select("vec_id")
        .collect()
    }
    assert takedown
    assert not {r[1] for r in before} & takedown  # neighbor_id column


def test_pq_compaction_drops_whole_code_groups(spark, sf_dir):
    # A vector's M sub-codes live contiguously on neighbor_id; the fold
    # must remove ALL of them (a partial group would ADC-sum a phantom).
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _ensure_code_delete_artifacts,
        _Q269_TOKEN,
        _vec_takedown_pred,
        q270_pq_tombstone_compaction,
    )

    _r, _b, _codes, _tombs, codes_t, tomb_t = _ensure_code_delete_artifacts(
        spark, sf_dir, "pq", _Q269_TOKEN, rotated=False
    )
    if codes_t is None:
        pytest.skip("catalog unavailable")
    q270_pq_tombstone_compaction(spark, sf_dir)
    takedown = (
        table(spark, sf_dir, "embeddings")
        .filter(_vec_takedown_pred())
        .select(F.col("vec_id").alias("neighbor_id"))
    )
    left = spark.table(codes_t).join(takedown, on="neighbor_id", how="semi")
    assert left.count() == 0
    assert spark.table(tomb_t).count() == 0
    # Survivor groups stay complete (M sub-codes each).
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _Q195_M

    sizes = (
        spark.table(codes_t)
        .groupBy("neighbor_id")
        .count()
        .select("count")
        .distinct()
        .collect()
    )
    assert {r["count"] for r in sizes} == {_Q195_M}


def test_opq_tombstone_serve_equals_compacted_serve(spark, sf_dir):
    # q271 carries only the compaction phase to the driver; the serve
    # phase (anti-join form) is locked here in-engine: tombstone-
    # filtered serve over the rotated code index == the compacted serve.
    from wetsa_cams_solrad_timeseries_spark.plans.deletes import (
        _code_probe,
        _ensure_code_delete_artifacts,
        _Q271_TOKEN,
        q271_opq_tombstone_compaction,
    )

    rot, books, codes, tombs, _codes_t, _tomb_t = (
        _ensure_code_delete_artifacts(
            spark, sf_dir, "opq", _Q271_TOKEN, rotated=True
        )
    )
    served_anti = _rows(
        _code_probe(spark, sf_dir, rot, books, codes, tombs, True)
    )
    compacted = _rows(q271_opq_tombstone_compaction(spark, sf_dir))
    assert served_anti == compacted
    assert len(compacted) > 0
