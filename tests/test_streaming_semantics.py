"""Streaming semantics beyond single-batch parity: state carried across
micro-batches, and watermark-based late-data eviction."""

import glob
import shutil

import pandas as pd
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import table


def _split_events_two_files(spark, sf_dir, out_dir):
    """Write the events table as two parquet files split by time, so the
    file stream source (maxFilesPerTrigger=1) replays them as two
    chronological micro-batches."""
    ev = table(spark, sf_dir, "events")
    mid = ev.agg(
        F.timestamp_micros(
            ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2).cast("long")
        )
    ).first()[0]
    for i, part in enumerate(
        [ev.filter(F.col("ts") <= F.lit(mid)), ev.filter(F.col("ts") > F.lit(mid))]
    ):
        tmp = f"{out_dir}/__stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        # Zero-pad so listing order == chronological order.
        shutil.move(src, f"{out_dir}/batch_{i}.parquet")
        shutil.rmtree(tmp)
    return ev


def test_stateful_streaming_carries_state_across_batches(spark, sf_dir, tmp_path):
    from wetsa_cams_solrad_timeseries_spark.streaming.stateful import (
        streaming_running_totals,
    )

    out_dir = str(tmp_path / "two_batch_events")
    (tmp_path / "two_batch_events").mkdir()
    ev = _split_events_two_files(spark, sf_dir, out_dir)

    # maxFilesPerTrigger=1 → each file is its own micro-batch; without it
    # the file source ingests both files in the first trigger and no
    # cross-batch state restoration happens at all.
    got = streaming_running_totals(
        spark, f"{out_dir}/*.parquet", max_files_per_trigger=1,
        keep_update_count=True,
    )
    # Proof that ≥2 micro-batches really ran: users active in both halves
    # emitted one update per batch.
    assert got.filter(F.col("__n_updates") >= 2).count() > 0
    got = got.drop("__n_updates")
    exp = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value") + F.lit(1e-9), 6).alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )
    g = {r["user_id"]: r for r in got.collect()}
    e = {r["user_id"]: r for r in exp.collect()}
    assert set(g) == set(e)
    for k in g:
        # The final state must reflect BOTH batches (the first batch alone
        # would undercount every user).
        assert g[k]["n_events"] == e[k]["n_events"]
        assert abs(g[k]["sum_value"] - e[k]["sum_value"]) < 1e-6
        assert g[k]["last_ts"] == e[k]["last_ts"]


def test_parquet_sink_drain_matches_memory(spark, sf_dir, tmp_path):
    """q53's stateful operator through the executor-side parquet drain
    (streaming/_drain.drain_rows, sink="parquet"): micro-batch tasks
    append files straight from the executors, and the collapsed final
    state is identical to the memory-sink oracle form / batch agg."""
    from wetsa_cams_solrad_timeseries_spark.streaming.stateful import (
        streaming_running_totals,
    )

    out_dir = str(tmp_path / "two_batch_events")
    (tmp_path / "two_batch_events").mkdir()
    ev = _split_events_two_files(spark, sf_dir, out_dir)

    got = streaming_running_totals(
        spark, f"{out_dir}/*.parquet", max_files_per_trigger=1,
        keep_update_count=True, sink="parquet",
    )
    # ≥2 micro-batches genuinely ran and each appended its updates to the
    # file sink (same loud proof as the memory-sink test).
    assert got.filter(F.col("__n_updates") >= 2).count() > 0
    got = got.drop("__n_updates")
    exp = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value") + F.lit(1e-9), 6).alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )
    g = {r["user_id"]: r for r in got.collect()}
    e = {r["user_id"]: r for r in exp.collect()}
    assert set(g) == set(e)
    for k in g:
        assert g[k]["n_events"] == e[k]["n_events"]
        assert abs(g[k]["sum_value"] - e[k]["sum_value"]) < 1e-6
        assert g[k]["last_ts"] == e[k]["last_ts"]


def test_checkpoint_crash_recovery(spark, sf_dir, tmp_path):
    """Durable-checkpoint recovery, proven: run a stateful drain over
    batch 0 only, STOP the query (the crash — the only survivors are the
    checkpoint dir and the sink files), add batch 1, start a NEW query on
    the same checkpoint, and assert the restarted query resumed from
    persisted state: final per-key totals equal the batch aggregation
    over BOTH halves (a state-less restart would undercount every user
    active in both)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from wetsa_cams_solrad_timeseries_spark.catalog import ts_fix_expr
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_partitions,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.stateful import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _update,
    )

    stage = tmp_path / "stage"
    stage.mkdir()
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    ev = _split_events_two_files(spark, sf_dir, str(stage))
    ckpt = str(tmp_path / "ckpt")  # durable across both runs
    out_dir = str(tmp_path / "out")  # executor-side file sink

    schema = spark.read.parquet(f"{stage}/batch_0.parquet").schema
    ts_type = dict(spark.read.parquet(f"{stage}/batch_0.parquet").dtypes).get("ts")

    def run_query_to_completion():
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(src_dir))
            .withColumn("ts", ts_fix_expr(ts_type))
            .select("user_id", "ts", "value")
        )
        out = stream.groupBy("user_id").applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        with drain_partitions(spark):
            q = (
                out.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()  # the "crash": nothing survives but ckpt + files

    shutil.move(f"{stage}/batch_0.parquet", f"{src_dir}/batch_0.parquet")
    run_query_to_completion()
    shutil.move(f"{stage}/batch_1.parquet", f"{src_dir}/batch_1.parquet")
    run_query_to_completion()

    result = spark.read.parquet(out_dir)
    # Two separate query incarnations emitted: some user must appear twice.
    from pyspark.sql import Window

    assert result.groupBy("user_id").count().filter("count >= 2").count() > 0
    final = (
        result.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter("__rn = 1")
        .drop("__rn")
    )
    exp = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value") + F.lit(1e-9), 6).alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )
    g = {r["user_id"]: r for r in final.collect()}
    e = {r["user_id"]: r for r in exp.collect()}
    assert set(g) == set(e)
    for k in g:
        # Both-halves users prove restored state: run 2 counted run 1's rows.
        assert g[k]["n_events"] == e[k]["n_events"]
        assert abs(g[k]["sum_value"] - e[k]["sum_value"]) < 1e-6
        assert g[k]["last_ts"] == e[k]["last_ts"]


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark: a row arriving
    in a later batch, with event time far behind the advanced watermark,
    must be EXCLUDED from its (already finalized) window."""
    import uuid

    d = tmp_path / "late_events"
    d.mkdir()
    on_time = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:05", "2024-01-01 00:15", "2024-01-01 06:00"]
            ),
            "v": [10.0, 20.0, 1.0],  # the 06:00 row advances the watermark
        }
    )
    late = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 00:07"]), "v": [1000.0]}
    )
    spark.createDataFrame(on_time).coalesce(1).write.parquet(str(d / "f0.parquet"))

    schema = spark.read.parquet(str(d / "f0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(d) + "/*")
        .withWatermark("ts", "1 hour")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket"), "sum_v", "n")
    )
    name = f"late_test_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        # Batch 1: on-time rows only → watermark advances to 05:00.
        q.processAllAvailable()
        # Batch 2: the late row (event time 00:07 ≪ watermark) arrives.
        spark.createDataFrame(late).coalesce(1).write.parquet(str(d / "f1.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {str(r["bucket"]): (r["sum_v"], r["n"]) for r in spark.table(name).collect()}
    # The 00:00 window was finalized by the watermark (06:00 − 1h ≫ 01:00)
    # before the late 00:07 row arrived → late row dropped, sum stays 30.
    assert rows.get("2024-01-01 00:00:00") == (30.0, 2), rows


def test_streaming_sliding_matches_batch(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.streaming.window_stream import (
        streaming_tumbling_agg,
    )

    got = streaming_tumbling_agg(
        spark, f"{sf_dir}/events.parquet", width="2 hours", slide="1 hour"
    )
    ev = table(spark, sf_dir, "events")
    exp = (
        ev.groupBy("event_type", F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.avg("value") + F.lit(1e-9), 6).alias("avg_value"))
        .select("event_type", F.col("w.start").alias("bucket_start"), "n_events", "avg_value")
    )
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_streaming_distinct_dedups_across_batches(spark, sf_dir, tmp_path):
    """Cross-batch dedup state: every (user_id, event_type) pair recurs in
    both halves of the time-split replay, so emitting each pair once
    requires the dropDuplicates state store to survive the trigger
    boundary; the drained set must equal the batch DISTINCT."""
    from wetsa_cams_solrad_timeseries_spark.streaming.dedup_stream import (
        streaming_distinct,
    )

    out_dir = str(tmp_path / "dedup_events")
    (tmp_path / "dedup_events").mkdir()
    ev = _split_events_two_files(spark, sf_dir, out_dir)

    got = streaming_distinct(
        spark,
        f"{out_dir}/*.parquet",
        ["user_id", "event_type"],
        max_files_per_trigger=1,
        require_multi_batch=True,
    )
    got_set = {(r["user_id"], r["event_type"]) for r in got.collect()}
    exp_set = {
        (r["user_id"], r["event_type"])
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got_set == exp_set
    # Appended exactly once per pair — no batch-local re-emission.
    assert got.count() == len(got_set)


def test_dedup_within_watermark_matches_exact_distinct(
    spark, sf_dir, tmp_path
):
    """The bounded-state production variant
    (``dropDuplicatesWithinWatermark``) with a retention delay covering
    the replay's full time span must still equal exact DISTINCT — every
    recurrence falls inside the retention window, so nothing is
    re-emitted. This pins the variant's semantics so the 100 TB claim in
    the module docstring is tested, not just documented."""
    from wetsa_cams_solrad_timeseries_spark.streaming.dedup_stream import (
        streaming_distinct,
    )

    out_dir = str(tmp_path / "wm_dedup_events")
    (tmp_path / "wm_dedup_events").mkdir()
    ev = _split_events_two_files(spark, sf_dir, out_dir)

    got = streaming_distinct(
        spark,
        f"{out_dir}/*.parquet",
        ["user_id", "event_type"],
        max_files_per_trigger=1,
        require_multi_batch=True,
        within_watermark="90 days",  # > the corpus's whole span
    )
    got_set = {(r["user_id"], r["event_type"]) for r in got.collect()}
    exp_set = {
        (r["user_id"], r["event_type"])
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got_set == exp_set
    assert got.count() == len(got_set)


def test_streaming_distinct_single_batch_raises(spark, sf_dir, tmp_path):
    """require_multi_batch is a loud-failure contract: a drain that
    collapsed into one micro-batch must raise, not silently pass — and
    the raise must not leak the memory sink's temp view (it holds the
    drained rows on the driver for the session's lifetime)."""
    import pytest

    from wetsa_cams_solrad_timeseries_spark.catalog import table as _table
    from wetsa_cams_solrad_timeseries_spark.streaming.dedup_stream import (
        streaming_distinct,
    )

    out_dir = str(tmp_path / "one_file_events")
    _table(spark, sf_dir, "events").coalesce(1).write.mode("overwrite").parquet(
        out_dir
    )
    views_before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    with pytest.raises(RuntimeError, match="multi-batch"):
        streaming_distinct(
            spark,
            f"{out_dir}/part-*.parquet",
            ["user_id", "event_type"],
            max_files_per_trigger=1,
            require_multi_batch=True,
        )
    views_after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert views_after == views_before


def test_drain_partitions_restores_conf_when_body_raises(
    spark, sf_dir, monkeypatch
):
    """drain_partitions lowers a session-global conf, so its error path
    matters as much as its happy path: a drain that raises must leave
    spark.sql.shuffle.partitions as it found it and re-raise unchanged.
    The same holds for run_drain when a foreachBatch body raises: the
    error surfaces, the conf is restored, no query is left running and
    the disposable checkpoint is removed."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from wetsa_cams_solrad_timeseries_spark.streaming import _drain
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_partitions,
        file_replay_reader,
        run_drain,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(ValueError, match="drain body failed"):
        with drain_partitions(spark, 3):
            assert spark.conf.get(key) == "3"
            raise ValueError("drain body failed")
    assert spark.conf.get(key) == before

    ckpts, seen_conf = [], []
    make_ckpt = _drain.drain_checkpoint_dir

    def recording_ckpt():
        ckpts.append(make_ckpt())
        return ckpts[-1]

    monkeypatch.setattr(_drain, "drain_checkpoint_dir", recording_ckpt)

    def failing_body(bdf, bid):
        seen_conf.append(spark.conf.get(key))
        raise ValueError("foreachBatch body failed")

    path = f"{sf_dir}/events.parquet"
    writer = file_replay_reader(
        spark, path, spark.read.parquet(path).schema
    ).writeStream.foreachBatch(failing_body)
    with pytest.raises(StreamingQueryException, match="foreachBatch body failed"):
        run_drain(spark, 10, writer)
    assert seen_conf == [str(_drain.size_partitions(spark, 10))]
    assert spark.conf.get(key) == before
    assert spark.streams.active == []
    assert len(ckpts) == 1 and not os.path.exists(ckpts[0])


def test_ttl_eviction_boundaries(spark, sf_dir):
    """State GC fires exactly per the TTL rule: an infinite TTL evicts
    nobody; a zero TTL evicts every user except those whose last event
    IS the stream's final watermark instant; evicted totals equal the
    batch aggregation for those users."""
    from pyspark.sql import functions as F

    from wetsa_cams_solrad_timeseries_spark.catalog import table as _table
    from wetsa_cams_solrad_timeseries_spark.streaming.ttl import (
        streaming_ttl_evictions,
    )

    path = f"{sf_dir}/events.parquet"
    ev = _table(spark, sf_dir, "events")

    # TTL beyond the stream span: no deadline can precede the watermark.
    none_evicted = streaming_ttl_evictions(spark, path, ttl_ms=10**15)
    assert none_evicted.count() == 0

    # TTL=0: deadline is the user's own last-event ms — strictly below
    # the final watermark for everyone except the max-ts holder(s).
    all_but_last = streaming_ttl_evictions(spark, path, ttl_ms=0)
    wm_ms = ev.agg(
        (F.unix_micros(F.max("ts")) / 1000).cast("long").alias("wm")
    ).first()["wm"]
    expected = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_micros(F.max("ts")) / 1000).cast("long").alias("last_ms"),
        )
        .filter(F.col("last_ms") < wm_ms)
    )
    got = {(r["user_id"], r["n_events"]) for r in all_but_last.collect()}
    want = {(r["user_id"], r["n_events"]) for r in expected.collect()}
    assert got == want and len(got) > 0


def test_rocksdb_state_store_provider(spark, sf_dir):
    """The production state-store backend (RocksDB provider, the 100 TB
    choice for large keyed state: spillable, incremental-checkpoint)
    runs the same stateful operator to the same result as the default
    HDFS-backed store. Session conf is restored afterwards."""
    from pyspark.sql import functions as F

    from wetsa_cams_solrad_timeseries_spark.catalog import table
    from wetsa_cams_solrad_timeseries_spark.streaming.stateful import (
        streaming_running_totals,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = {
            r.user_id: (r.n_events, round(r.sum_value, 6))
            for r in streaming_running_totals(
                spark, f"{sf_dir}/events.parquet"
            ).collect()
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    want = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    assert got == want


def test_transform_with_state_running_totals(spark, sf_dir):
    """Spark 4 transformWithStateInPandas (typed ValueState + RocksDB)
    computes the same per-user totals as the batch aggregation. Skips
    where the worker-side protobuf dependency of the transformWithState
    protocol is unavailable (this container)."""
    import pytest as _pytest

    from wetsa_cams_solrad_timeseries_spark.streaming.tws import (
        tws_available,
        tws_running_totals,
    )

    if not tws_available():
        _pytest.skip("google.protobuf unavailable: transformWithState "
                     "worker protocol cannot start")

    from pyspark.sql import functions as F

    from wetsa_cams_solrad_timeseries_spark.catalog import table
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _split_events

    split_dir = _split_events(spark, sf_dir)
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in tws_running_totals(spark, split_dir).collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.sum_value + 1e-9, 6))
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    assert got == want


def test_streaming_lsh_pairs_equal_batch_lsh(spark, sf_dir):
    # q244's contract at the pair-set surface: the drained cross-batch
    # candidate set equals the one-pass batch LSH (q33) exactly — batch
    # boundaries, arrival order, and at-least-once re-execution cannot
    # change which pairs surface, and no pair is emitted twice (the
    # sorted-multiset compare would catch a duplicate emission).
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        q33_minhash_lsh,
        q244_streaming_lsh_neardup,
    )

    streamed = sorted(
        tuple(r) for r in q244_streaming_lsh_neardup(spark, sf_dir).collect()
    )
    batch = sorted(tuple(r) for r in q33_minhash_lsh(spark, sf_dir).collect())
    assert streamed, "streaming LSH surfaced no candidate pairs"
    assert streamed == batch
    assert len(streamed) == len(set(streamed)), "a pair was emitted twice"


def test_streaming_graph_insert_equals_one_shot_edge_set(spark, sf_dir):
    # q257's contract at the EDGE-SET surface (stronger than the serve
    # surface its oracle checks): the drained displacement-merged
    # neighbor lists equal cell_knn_edges_incremental's one-shot insert
    # exactly — top-m(top-m(S1) ∪ S2) = top-m(S1 ∪ S2) by induction over
    # micro-batches, so batch boundaries and arrival order cannot move
    # a single edge.
    from pyspark.sql import functions as F

    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges_incremental,
        ivf_assign,
        ivf_train_centroids,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q232_M,
        _split_embeddings,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.graph_insert_stream import (
        streaming_graph_insert,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    hist = emb.filter(~is_new)
    cents = ivf_train_centroids(hist, k=16, n_iter=2)
    split_dir = _split_embeddings(
        spark, sf_dir, n_files=3, pred=is_new, variant="new"
    )
    hist_members = ivf_assign(hist, cents, n_probe=1).join(
        hist.select("vec_id", to_double_array(F.col("embedding")).alias("__v")),
        on="vec_id",
    ).select("vec_id", "cell", "__v")
    streamed = sorted(
        tuple(r)
        for r in streaming_graph_insert(
            spark, split_dir, hist_members, cents, m=_Q232_M
        )[0].collect()
    )
    one_shot = sorted(
        tuple(r)
        for r in cell_knn_edges_incremental(
            emb, is_new, cents, m=_Q232_M
        ).collect()
    )
    assert streamed, "streaming insert produced no edges"
    assert streamed == one_shot


def test_streaming_token_mix_equals_batch_selection(spark, sf_dir):
    # q261's theorem at the selection surface: the drained bounded
    # selected-state equals the one-pass batch quota (q226's rule at
    # q261's budget) exactly — and the quota BINDS (some docs rejected),
    # so the monotone-displacement path is actually exercised.
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        _Q261_BUDGET,
        q261_streaming_token_mix,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.mix_stream import (
        mix_keyed,
    )

    streamed = sorted(
        tuple(r) for r in q261_streaming_token_mix(spark, sf_dir).collect()
    )
    w = (
        Window.partitionBy("source")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    docs = table(spark, sf_dir, "documents")
    batch = sorted(
        tuple(r)
        for r in mix_keyed(docs)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= _Q261_BUDGET)
        .collect()
    )
    assert streamed == batch
    assert 0 < len(streamed) < docs.count(), "quota must bind"


def test_streaming_pca_encode_equals_batch_projection(spark, sf_dir):
    # q249's contract: a frozen basis + per-row projection means the
    # drained stream-built projected table equals the one-pass batch
    # projection exactly (same rows, same round6 coordinates).
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q241_pca_projection,
        q249_streaming_pca_encode,
    )

    streamed = sorted(
        tuple(r) for r in q249_streaming_pca_encode(spark, sf_dir).collect()
    )
    batch = sorted(
        tuple(r) for r in q241_pca_projection(spark, sf_dir).collect()
    )
    assert streamed, "streaming PCA encode drained no rows"
    assert streamed == batch
