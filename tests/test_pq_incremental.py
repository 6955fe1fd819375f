"""q197's cross-run index lifecycle: frozen codebooks mean a
steady-state run never re-trains (and structurally never re-encodes —
the history side is a catalog read of the persisted code table), and
the code table's bucketed-by-id layout serves per-vector access with no
Exchange."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _run_q197(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q197_incremental_pq_index,
    )

    return q197_incremental_pq_index(spark, sf_dir)


def _codes_table(spark):
    tabs = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("wetsa_pqcodes_")
    ]
    assert tabs, "q197 did not persist its code index"
    return tabs[0]


def test_steady_state_never_retrains(spark, sf_dir, monkeypatch):
    first = sorted(tuple(r) for r in _run_q197(spark, sf_dir).collect())
    assert first, "q197 returned no neighbors"

    import wetsa_cams_solrad_timeseries_spark.operators.similarity as sim

    def boom(*a, **k):
        raise AssertionError("steady-state run re-trained the codebooks")

    # The docstring's claim: once the index exists, history raw vectors
    # are never touched for training again. With the trainer replaced by
    # a bomb, the query must still run — off the persisted books — and
    # return the identical result.
    monkeypatch.setattr(sim, "pq_train_codebooks", boom)
    second = sorted(tuple(r) for r in _run_q197(spark, sf_dir).collect())
    assert second == first


def test_code_index_bucketed_serves_id_grouping_shuffle_free(spark, sf_dir):
    _run_q197(spark, sf_dir).collect()  # ensure the index exists
    codes = spark.table(_codes_table(spark))
    per_vec = codes.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).alias("m_codes")
    )
    # Bucketed on neighbor_id: the grouped aggregate runs on the scan's
    # own partitioning — no Exchange anywhere in the plan.
    assert "Exchange" not in _plan(per_vec)
    # And the index is complete: every indexed vector has exactly m rows.
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _Q195_M

    assert per_vec.filter(F.col("m_codes") != _Q195_M).count() == 0


def test_opq_steady_state_never_retrains(spark, sf_dir, monkeypatch):
    # q217's contract: once the generation exists, a steady-state run
    # loads the FROZEN (R, books) off the catalog and re-runs neither
    # the alternating OPQ solver nor the codebook trainer — with both
    # replaced by bombs, the query must still produce the identical
    # result (history codes from the persisted table, new shard rotated
    # and encoded with the frozen artifacts).
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q217_incremental_opq_index,
    )

    first = sorted(
        tuple(r) for r in q217_incremental_opq_index(spark, sf_dir).collect()
    )
    assert first, "q217 returned no neighbors"

    import wetsa_cams_solrad_timeseries_spark.operators.similarity as sim

    def boom(*a, **k):
        raise AssertionError("steady-state run re-trained the OPQ artifacts")

    monkeypatch.setattr(sim, "opq_train", boom)
    monkeypatch.setattr(sim, "opq_core", boom)
    monkeypatch.setattr(sim, "pq_train_codebooks", boom)
    second = sorted(
        tuple(r) for r in q217_incremental_opq_index(spark, sf_dir).collect()
    )
    assert second == first


def test_opq_rotation_table_is_the_frozen_artifact(spark, sf_dir):
    # The persisted rotation must be exactly what a fresh training run
    # would produce on the history shard — the frozen-artifact property
    # that makes incremental OPQ sound.
    import numpy as np

    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample,
        opq_core,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q195_KSUB,
        _Q195_M,
        q217_incremental_opq_index,
    )
    from wetsa_cams_solrad_timeseries_spark._artifacts import load_params
    from wetsa_cams_solrad_timeseries_spark.catalog import table

    q217_incremental_opq_index(spark, sf_dir).collect()  # ensure generation
    tabs = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("wetsa_opqrot_")
    ]
    assert tabs, "q217 did not persist its rotation"
    persisted = load_params(spark, tabs[0])["rot"]

    emb = table(spark, sf_dir, "embeddings")
    hist = emb.filter(F.col("vec_id") % 10 != 7)
    rotation, _ = opq_core(
        hash_bounded_sample(hist), m=_Q195_M, ksub=_Q195_KSUB
    )
    got = np.array([persisted[i] for i in range(len(rotation))])
    assert np.array_equal(got, np.array(rotation))


def test_ivfsq_steady_state_never_retrains(spark, sf_dir, monkeypatch):
    # q227's contract: once the generation exists, steady state loads the
    # frozen (coarse, vmin, step) off the params table and re-runs
    # neither the coarse trainer nor the scalar-quantizer fit.
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q227_incremental_ivfsq_index,
    )

    first = sorted(
        tuple(r) for r in q227_incremental_ivfsq_index(spark, sf_dir).collect()
    )
    assert first, "q227 returned no neighbors"

    import wetsa_cams_solrad_timeseries_spark.operators.similarity as sim

    def boom(*a, **k):
        raise AssertionError("steady-state run re-trained the IVF-SQ artifacts")

    monkeypatch.setattr(sim, "ivfsq_train", boom)
    monkeypatch.setattr(sim, "sq8_train", boom)
    second = sorted(
        tuple(r) for r in q227_incremental_ivfsq_index(spark, sf_dir).collect()
    )
    assert second == first


def test_stream_built_index_serves_identically_to_batch(spark, sf_dir):
    # q231's contract, checked end-to-end at the SERVING surface: the
    # code index accumulated over >1 streaming micro-batch (the
    # multi-file replay; streaming_pq_encode RAISES on a single-batch
    # drain, so multi-batch is structurally guaranteed) must serve
    # byte-identical ADC top-k results to the batch-built index (q195,
    # same frozen codebooks by the deterministic trainer).
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q195_pq_adc_topk,
        q231_stream_to_serving,
    )

    streamed = sorted(
        tuple(r) for r in q231_stream_to_serving(spark, sf_dir).collect()
    )
    batch = sorted(
        tuple(r) for r in q195_pq_adc_topk(spark, sf_dir).collect()
    )
    assert streamed, "stream-built index served no neighbors"
    assert streamed == batch
