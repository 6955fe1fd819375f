"""Vector-similarity, multimodal, and streaming query inventory (the
remaining north-star extension surface)."""

from __future__ import annotations

import math
import os
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import table, ts_fix_expr
from wetsa_cams_solrad_timeseries_spark.plans._spec import (
    maybe_broadcast,
    round6,
)

_DIM = 64
_N_PLANES, _BANDS = 16, 2


# --------------------------------------------------------------------------
# Shared DuckDB fragments: double-cast cosine + deterministic hyperplanes
# --------------------------------------------------------------------------
_DOT = (
    "list_sum([{a}[i] * {b}[i] FOR i IN range(1, {dim} + 1)])"
)

def _cos(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b, dim=_DIM)
    na = _DOT.format(a=a, b=a, dim=_DIM)
    nb = _DOT.format(a=b, b=b, dim=_DIM)
    return f"round(({dot}) / nullif(sqrt({na}) * sqrt({nb}), 0) + 1e-9, 6)"


# Hyperplane coefs: identical formula to similarity.hyperplane_coefs.
_COEF = (
    "[CAST(('0x' || substr(md5(p || '_' || i), 1, 8)) AS BIGINT)"
    f" / 4294967295.0 * 2 - 1 FOR i IN range(0, {_DIM})]"
)
_PER_BAND = _N_PLANES // _BANDS
_BITS_SQL = (
    "list_transform(range(0, {n}), p -> CASE WHEN "
    "list_sum([v[i + 1] * coefs[p + 1][i + 1] FOR i IN range(0, {dim})]) >= 0 "
    "THEN '1' ELSE '0' END)"
).format(n=_N_PLANES, dim=_DIM)
_BUCKETS_SQL = f"""
planes AS (
  SELECT list({_COEF.replace('p ||', 'CAST(p AS VARCHAR) ||')} ORDER BY p) AS coefs
  FROM range({_N_PLANES}) t(p)
),
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
bits AS (
  SELECT vec_id, {_BITS_SQL} AS bit_list
  FROM vecs CROSS JOIN planes
),
banded AS (
  SELECT vec_id,
         unnest([CAST(b AS VARCHAR) || ':' ||
                 array_to_string(bit_list[(b * {_PER_BAND} + 1):((b + 1) * {_PER_BAND})], '')
                 FOR b IN range(0, {_BANDS})]) AS bucket
  FROM bits
)
"""


# --------------------------------------------------------------------------
# q38 — exact cosine top-k (brute force baseline)
# --------------------------------------------------------------------------
def q38_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 8 vectors — the ANN
    correctness baseline (operators/similarity.py)."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import brute_force_topk

    emb = table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


Q38_ORACLE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos('q.v', 'c.v')} AS cosine
  FROM vecs q JOIN vecs c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# q39 — LSH-bucketed approximate top-k (the scale path)
# --------------------------------------------------------------------------
def q39_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed top-3: candidates limited to bucket-mates
    (16 planes, 2 bands) — corpus-linear ANN (operators/similarity.py)."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import ann_topk_lsh

    emb = table(spark, sf_dir, "embeddings")
    return ann_topk_lsh(
        emb, query_ids_pred=lambda c: c < 50, k=3,
        n_planes=_N_PLANES, bands=_BANDS, dim=_DIM,
    )


Q39_ORACLE = f"""
WITH {_BUCKETS_SQL},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM banded q JOIN banded n ON q.bucket = n.bucket AND n.vec_id <> q.vec_id
  WHERE q.vec_id < 50
),
scored AS (
  SELECT c.query_id, c.neighbor_id, {_cos('qv.v', 'nv.v')} AS cosine
  FROM cand c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# q40 — embedding near-dup pairs (cosine threshold)
# --------------------------------------------------------------------------
def q40_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs embedding near-dup at cosine ≥ 0.4 — the
    verification stage of the dedup pipeline, via the blocked numpy-matmul
    kernel (operators/similarity.py:neardup_pairs_blocked — block-pair
    applyInPandas, one BLAS matmul per block pair, no crossJoin, no driver
    collect, no corpus broadcast; shuffle volume is (n_blocks+1)x linear).

    Scale note (see SCALING.md): exact all-pairs is Θ(n²·d) COMPUTE by
    problem definition — no plan removes that while keeping exact
    semantics, and at a 0.4 cosine threshold SRP-LSH cannot prefilter with
    high recall (P[bit agree] = 1 − θ/π ≈ 0.63 ⇒ any banding sparse
    enough to prune is also blind to most true pairs; q73 measures this:
    1 of 59 true pairs survives its 8-bit×2-band config at sf0.01). The
    declared pair is therefore: q73 = candidates (corpus-linear, tunable
    recall), q40 = exact verify (run it on q73's candidate set at 100 TB,
    or on the full corpus when exactness is the requirement). The
    expression-tree ``neardup_pairs`` is the formula-exact reference
    implementation, pytest-locked against this kernel."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        neardup_pairs_blocked,
    )

    emb = table(spark, sf_dir, "embeddings")
    return neardup_pairs_blocked(emb, threshold=0.4)


Q40_ORACLE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos('a.v', 'b.v')} AS cosine
FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
WHERE {_cos('a.v', 'b.v')} >= 0.4
"""


# --------------------------------------------------------------------------
# q73 — LSH-prefiltered embedding near-dup (the sparse-regime scale path)
# --------------------------------------------------------------------------
def q73_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q40's composition twin: SRP-LSH bucket candidates → exact cosine
    verify ≥ 0.4 (operators/similarity.py:neardup_pairs_lsh). The bucket
    join is corpus-linear; only bucket-mates are exact-scored — the same
    candidates→verify shape as q62 on the embedding side."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        neardup_pairs_lsh,
    )

    emb = table(spark, sf_dir, "embeddings")
    return neardup_pairs_lsh(
        emb, threshold=0.4, n_planes=_N_PLANES, bands=_BANDS, dim=_DIM
    )


Q73_ORACLE = f"""
WITH {_BUCKETS_SQL},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, {_cos('va.v', 'vb.v')} AS cosine
FROM cand
JOIN vecs va ON va.vec_id = id_a
JOIN vecs vb ON vb.vec_id = id_b
WHERE {_cos('va.v', 'vb.v')} >= 0.4
"""


# --------------------------------------------------------------------------
# q41 — multimodal payload features (binary column + mapInPandas)
# --------------------------------------------------------------------------
def q41_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: text → binary column + metadata struct →
    Arrow-batched mapInPandas byte-feature extraction
    (operators/multimodal.py; decode stubs documented there)."""
    from wetsa_cams_solrad_timeseries_spark.operators.multimodal import (
        attach_payload,
        extract_features,
    )

    docs = table(spark, sf_dir, "documents")
    return extract_features(attach_payload(docs, "doc_id", "text"))


# Byte-faithful replay: the engine kernel reads UTF-8 BYTES of the
# payload, so the oracle extracts bytes from hex(encode(text)) — byte j
# (0-based) is ('0x' || substr(hex, 2j+1, 2))::INT — rather than
# unicode() codepoints, which silently diverge on any non-ASCII text.
Q41_ORACLE = """
WITH src AS (
  SELECT doc_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CASE WHEN n > 0 THEN ('0x' || substr(h, 1, 2))::INT ELSE -1 END AS first_byte,
       CASE WHEN n > 0 THEN ('0x' || substr(h, n * 2 - 1, 2))::INT ELSE -1 END AS last_byte,
       CAST(coalesce(list_sum([('0x' || substr(h, i * 2 + 1, 2))::INT FOR i IN range(0, n)]), 0) AS BIGINT) AS byte_sum
FROM src
"""


# --------------------------------------------------------------------------
# q42 — streaming tumbling window (Structured Streaming twin of A1)
# --------------------------------------------------------------------------
def q42_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1's Structured Streaming twin: readStream over the events parquet,
    watermarked tumbling 1-hour aggregate, drained via a memory sink —
    result equals the batch aggregation, which the oracle checks
    (streaming/window_stream.py)."""
    from wetsa_cams_solrad_timeseries_spark.streaming.window_stream import (
        streaming_tumbling_agg,
    )

    return streaming_tumbling_agg(
        spark, f"{sf_dir}/events.parquet", ts_col="ts", width="1 hour"
    )


Q42_ORACLE = """
SELECT event_type,
       time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
       count(*) AS n_events,
       round(avg(value) + 1e-9, 6) AS avg_value
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q63 — streaming SLIDING window (hopping twin under readStream)
# --------------------------------------------------------------------------
def q63_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q54's hopping windows under Structured Streaming (2-hour windows
    sliding hourly), drained complete-mode — equals the batch sliding
    aggregate, which the two-candidate-unnest oracle checks."""
    from wetsa_cams_solrad_timeseries_spark.streaming.window_stream import (
        streaming_tumbling_agg,
    )

    return streaming_tumbling_agg(
        spark, f"{sf_dir}/events.parquet", ts_col="ts",
        width="2 hours", slide="1 hour",
    )


Q63_ORACLE = """
WITH cand AS (
  SELECT event_type, value,  ts,
         unnest([time_bucket(INTERVAL '1 hour', ts),
                 time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS bucket_start
  FROM events
)
SELECT event_type, bucket_start,
       count(*) AS n_events,
       round(avg(value) + 1e-9, 6) AS avg_value
FROM cand
WHERE ts >= bucket_start AND ts < bucket_start + INTERVAL '2 hours'
GROUP BY event_type, bucket_start
"""


# --------------------------------------------------------------------------
# q71 — stateful sessionization with event-time timeouts
# --------------------------------------------------------------------------
def q71_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions closed by EventTimeTimeout state expiry
    (streaming/sessions.py): per-user session state extends within the
    30-min gap and is emitted+cleared when the watermark passes its gap
    deadline. Over a finite replay the emitted set is deterministic:
    gaps-and-islands sessionization (the q15 construction) MINUS each
    user's final session when its gap deadline (last event ms + gap ms)
    has not been passed by the final watermark (max event time, ms-
    truncated) — which is exactly what the SQL oracle expresses."""
    from wetsa_cams_solrad_timeseries_spark.streaming.sessions import (
        streaming_sessions,
    )

    return streaming_sessions(spark, f"{sf_dir}/events.parquet")


# Emission rule mirrored from the operator: closed-by-a-later-event
# sessions always emit; the per-user OPEN session emits only via timeout,
# i.e. when deadline_ms = floor(epoch_us(last_event)/1000) + gap_ms is
# strictly below the final watermark floor(epoch_us(max ts)/1000)
# (Spark fires EventTimeTimeout when the watermark advances BEYOND the
# set timestamp, and both sides are ms-truncated micros).
Q71_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
),
sess AS (
  SELECT user_id, session_seq,
         min(ts) AS session_start,
         max(ts) AS session_end,
         count(*) AS n_events,
         round(sum(value) + 1e-9, 6) AS sum_value
  FROM numbered GROUP BY user_id, session_seq
),
wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events)
SELECT s.user_id, s.session_start, s.session_end, s.n_events, s.sum_value
FROM sess s CROSS JOIN wm
WHERE s.session_seq < (SELECT max(session_seq) FROM sess m
                       WHERE m.user_id = s.user_id)
   OR (epoch_us(s.session_end) // 1000) + 30*60*1000 < wm.wm_ms
"""


# --------------------------------------------------------------------------
# q56 — IVF approximate top-k (inverted-file ANN, the second scale path)
# --------------------------------------------------------------------------
def q56_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: spherical k-means coarse quantizer (deterministic seeds +
    2 Lloyd iterations, trained driver-side as real IVF training does),
    distributed cell assignment, n_probe=4 of 16 cells probed per query.
    The trainer is fully deterministic, so the oracle replays it bit-for-
    bit in numpy at oracle-build time and inlines the trained centroids
    as SQL literals (the same literalization q39 uses for its
    hyperplanes); assignment + probing + exact rerank are then plain SQL.
    Invariants + recall vs brute force are additionally pytest-verified
    (tests/test_ivf.py)."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import ann_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    return ann_topk_ivf(
        emb, query_ids_pred=lambda c: c < 50, k=3, n_cells=16, n_probe=4
    )


def _ivf_centroid_values(
    path: str, k: int = 16, n_iter: int = 2, id_filter=None
) -> str | None:
    """The q56 trained centroids (for the embeddings parquet at ``path``)
    as a SQL ``VALUES`` list.

    Replays ``operators/similarity.ivf_train_centroids`` bit-for-bit:
    the engine's hash32 min-k training cap is applied Python-side
    (``hash_bounded_sample_py`` — a no-op under ``max_train`` rows, the
    identical subset above it), then the same numpy steps on the same
    id-ordered float64 matrix yield identical centroids. ``id_filter``
    restricts the training rows (the incremental lifecycle trains on the
    HISTORY shard only — q227's ``_ivfsq_values`` convention). Returns
    None (oracle falls back to rows-only) when the testdata or DuckDB is
    unavailable."""
    try:
        import duckdb
        import numpy as np
    except ImportError:
        return None
    if not os.path.exists(path):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample_py,
    )

    try:
        rows = duckdb.sql(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{path}') ORDER BY vec_id"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken import
        return None
    if id_filter is not None:
        rows = [r for r in rows if id_filter(r[0])]
    mat = hash_bounded_sample_py(
        [r[0] for r in rows],
        np.array([r[1] for r in rows], dtype=np.float64),
    )
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    mat /= norms
    cent = mat[:k].copy()
    for _ in range(n_iter):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    cent[c] = m / nm
    return ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(float(x)) for x in row))
        for i, row in enumerate(cent)
    )


# Assignment replicates ivf_assign's argsort(-sims, stable): ORDER BY
# sim DESC, cell — and both engines round6 the similarity BEFORE the
# ordering (ivf_assign's kernel nudge-rounds its BLAS matmul, the CTE
# below nudge-rounds the list fold), so a ULP flip near a centroid tie
# can never split cell membership across engines; rounded ties break
# toward the lower cell id on both. The CTE chain is shared by the q56
# oracle (final top-k select) and the q211 recall-gate oracle (which
# joins it against the brute-force list).
_Q56_CTES = f"""vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, v,
         sqrt({_DOT.format(a='v', b='v', dim=_DIM)}) AS nrm
  FROM vecs
),
cents(cell, c) AS (VALUES __IVF_VALUES__),
sims AS (
  SELECT u.vec_id, ct.cell,
         round(list_sum([u.v[i] / (CASE WHEN u.nrm = 0 THEN 1 ELSE u.nrm END) * ct.c[i]
                   FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS sim
  FROM unit u CROSS JOIN cents ct
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r
  FROM sims
),
assigned AS (SELECT vec_id AS neighbor_id, cell FROM ranked WHERE r = 1),
probes AS (
  SELECT vec_id AS query_id, cell FROM ranked WHERE r <= 4 AND vec_id < 50
),
cand AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id, {_cos('qv.v', 'nv.v')} AS cosine
  FROM cand c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.neighbor_id
)"""

_Q56_ORACLE_TEMPLATE = f"""
WITH {_Q56_CTES}
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q56_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q56 oracle: the embeddings table differs per SF (same 500
    rows, different values at sf0.001 vs sf0.01), so the centroid
    literals must be trained on the SF being checked."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    return None if values is None else _Q56_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


# LAZY: the q56 oracle embeds trained centroid literals, and building it
# here would make EVERY import of the plans package pay a DuckDB parquet
# read + a numpy k-means replay (and silently degrade to rows-only on a
# machine without the corpus). __spark_entry__.oracle_sql resolves
# oracle_fn specs at CALL time for the driver's gate SF instead.
Q56_ORACLE = None


# --------------------------------------------------------------------------
# q53 — custom stateful streaming operator (applyInPandasWithState)
# --------------------------------------------------------------------------
def q53_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals as a keyed-state streaming operator
    (streaming/stateful.py): Arrow-batched state transitions, O(keys)
    state. Draining the finite source leaves state equal to the batch
    aggregation — the oracle."""
    from wetsa_cams_solrad_timeseries_spark.streaming.stateful import (
        streaming_running_totals,
    )

    return streaming_running_totals(spark, f"{sf_dir}/events.parquet")


Q53_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value) + 1e-9, 6) AS sum_value,
       max(ts) AS last_ts
FROM events
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Shared multi-file replay input for the cross-batch streaming queries
# --------------------------------------------------------------------------
def _split_events(spark: SparkSession, sf_dir: str, n_files: int = 2) -> str:
    """Materialize the (single-file) events table as ``n_files`` parquet
    files so ``maxFilesPerTrigger=1`` yields one micro-batch per file.
    Written once per process per SF (a tmp generation: the _SUCCESS
    marker gates the rewrite); per-process dir so concurrent harnesses
    never race.

    Default is TWO files: the minimum that exercises cross-batch state
    (every consumer asserts >1 micro-batch fed rows, and the
    repartition split puts ~every key in every file so state genuinely
    carries across the batch boundary). Each extra file costs a full
    micro-batch of fixed overhead (~1.5 s per streaming query on this
    harness: offset/commit log writes, state-store delta commits, task
    scheduling) while adding no new semantics — 3 files was measured
    pure bench tax across the five consumers."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import tmp_generation

    # n_files is part of the cache identity: the _SUCCESS gate would
    # otherwise hand a caller requesting 3 files whichever split ran
    # first in this process.
    return tmp_generation(
        sf_dir,
        "events_split",
        lambda path: spark.read.parquet(f"{sf_dir}/events.parquet")
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(path),
        suffix=f"_f{n_files}",
    )


# --------------------------------------------------------------------------
# q77 — cross-batch state recovery under a multi-file replay
# --------------------------------------------------------------------------
def q77_streaming_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q53's keyed-state operator driven through MULTIPLE micro-batches:
    the events table is split into multiple parquet files and drained with
    ``maxFilesPerTrigger=1``, so per-user totals must survive the state
    store across the triggers (checkpointed state recovery, not a single-
    batch fold). The fn asserts that some key really was updated in more
    than one micro-batch — a single-batch drain fails loudly instead of
    silently passing. Final state equals the batch aggregation (the q53
    oracle): the operator is order-independent and no watermark drops
    rows, so the file replay order cannot change the answer."""
    from wetsa_cams_solrad_timeseries_spark.streaming.stateful import (
        streaming_running_totals,
    )

    split_dir = _split_events(spark, sf_dir)
    out = streaming_running_totals(
        spark,
        f"{split_dir}/part-*.parquet",
        max_files_per_trigger=1,
        keep_update_count=True,
    )
    max_updates = out.agg(F.max("__n_updates")).first()[0]
    if max_updates is None or max_updates <= 1:
        raise RuntimeError(
            "multi-batch drain did not run: no key saw more than one "
            f"micro-batch update (max={max_updates})"
        )
    return out.drop("__n_updates")


# --------------------------------------------------------------------------
# q82 — streaming deduplication with cross-batch keyed state
# --------------------------------------------------------------------------
def q82_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``dropDuplicates`` over the multi-file events replay with
    ``maxFilesPerTrigger=1``: every (user_id, event_type) pair recurs in
    every micro-batch, so emitting each pair exactly once requires the
    dedup state store to survive across all triggers (the fn raises if
    the drain collapsed into one batch). Emitted rows are the key
    columns only, so the drained result is a pure set and the batch
    ``SELECT DISTINCT`` oracle applies regardless of file replay order.
    The unbounded-stream form swaps in dropDuplicatesWithinWatermark for
    bounded state (streaming/dedup_stream.py docstring)."""
    from wetsa_cams_solrad_timeseries_spark.streaming.dedup_stream import (
        streaming_distinct,
    )

    split_dir = _split_events(spark, sf_dir)
    return streaming_distinct(
        spark,
        f"{split_dir}/part-*.parquet",
        ["user_id", "event_type"],
        max_files_per_trigger=1,
        require_multi_batch=True,
    )


Q82_ORACLE = """
SELECT DISTINCT user_id, event_type
FROM events
"""


# --------------------------------------------------------------------------
# q99 — watermarked stream-stream interval join
# --------------------------------------------------------------------------
def q99_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join with an event-time interval condition:
    each click joins the same user's views within the following 30
    minutes. The one major Structured Streaming operator class the
    inventory didn't yet cover — BOTH sides are unbounded, so the join
    buffers rows in the state store and the watermark + range condition
    bound that state (Spark derives the retention window from the
    interval: a click is evictable once the watermark passes
    click_ts + 30 min, the provably-safe point where no on-time view can
    match it). Drained over the multi-file replay with
    maxFilesPerTrigger=1, so matches genuinely span micro-batches —
    cross-batch pairs exist only if batch-1 click state survived into
    batch 2+; the fn asserts >1 micro-batch fed rows. Result equals the
    batch interval join, which the oracle checks."""
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import (
        drain_rows,
        file_replay_reader,
    )

    split_dir = _split_events(spark, sf_dir)
    batch_df = spark.read.parquet(split_dir)
    ts_fix = ts_fix_expr(dict(batch_df.dtypes).get("ts"))

    def side(event_type: str, prefix: str):
        return (
            file_replay_reader(
                spark, f"{split_dir}/part-*.parquet", batch_df.schema, 1
            )
            .withColumn("ts", ts_fix)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("value").alias(f"{prefix}_value"),
            )
            # The multi-file replay is repartition()-split, NOT chronological,
            # so every batch contains rows "late" w.r.t. the previous
            # batch's max event time — a production-small delay would
            # legitimately DROP them (append-mode join discards
            # late-beyond-watermark input). The delay therefore covers the
            # replay's whole span: state stays bounded by the watermark in
            # production (where arrival tracks event time); eviction
            # itself is proven by q89/q71's EventTimeTimeout paths.
            .withWatermark(f"{prefix}_ts", "365 days")
        )

    clicks, views = side("click", "click"), side("view", "view")
    joined = clicks.join(
        views,
        (F.col("click_user") == F.col("view_user"))
        & (F.col("view_ts") >= F.col("click_ts"))
        & (F.col("view_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        F.col("click_user").alias("user_id"),
        "click_ts",
        "view_ts",
        "click_value",
        "view_value",
    )

    return drain_rows(
        spark,
        joined,
        n_rows=batch_df.count(),
        output_mode="append",
        min_fed_batches=2,
        what="stream-stream join (cross-batch state buffering)",
    )


Q99_ORACLE = """
SELECT a.user_id, a.ts AS click_ts, b.ts AS view_ts,
       a.value AS click_value, b.value AS view_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'view'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


# --------------------------------------------------------------------------
# q98 — int8 symmetric quantization round-trip error (vector compression)
# --------------------------------------------------------------------------
def q98_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (scale = max|x|/127, the
    standard embedding-compression layout: 4x smaller vectors for ANN
    serving) and its round-trip error, aggregated per label — the
    quality gate a pipeline runs before switching its index to int8.
    All array math is JVM-side higher-order functions (transform /
    aggregate / array_max): scan-parallel, zero Python, one shuffle on
    the label key. The quantize round carries the same +1e-9 tie nudge
    as every cross-engine rounding in this repo, so Spark's HALF_UP and
    DuckDB's half-away-from-zero can never see an exact .5."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = F.nullif(max_abs, F.lit(0.0)) / F.lit(127.0)
    err = F.transform(
        v,
        lambda x: F.when(scale.isNull(), F.lit(0.0)).otherwise(
            F.abs(x - F.round(x / scale + F.lit(1e-9), 0) * scale)
        ),
    )
    per_vec = emb.select(
        "label",
        F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x).alias("sum_err"),
        F.array_max(err).alias("max_err"),
        F.size(err).alias("dim"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.sum("sum_err") / F.sum("dim") + F.lit(1e-9), 6).alias(
            "avg_abs_err"
        ),
        F.round(F.max("max_err") + F.lit(1e-9), 6).alias("max_abs_err"),
    )


Q98_ORACLE = """
WITH per_vec AS (
  SELECT label,
         CAST(embedding AS DOUBLE[]) AS v,
         nullif(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                        x -> abs(x))), 0) / 127.0 AS scale
  FROM embeddings
),
errs AS (
  SELECT label,
         [CASE WHEN scale IS NULL THEN 0.0
               ELSE abs(x - round(x / scale + 1e-9, 0) * scale) END
          FOR x IN v] AS err,
         len(v) AS dim
  FROM per_vec
)
SELECT label,
       count(*) AS n_vectors,
       round(sum(list_sum(err)) / sum(dim) + 1e-9, 6) AS avg_abs_err,
       round(max(list_max(err)) + 1e-9, 6) AS max_abs_err
FROM errs
GROUP BY label
"""


# --------------------------------------------------------------------------
# q195 — product-quantization ANN (PQ codes + asymmetric distance)
# --------------------------------------------------------------------------

_Q195_M, _Q195_KSUB, _Q195_K = 8, 16, 3
_Q195_DSUB = _DIM // _Q195_M
_Q195_NQ = 8


def q195_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN — the third standard scale path next to SRP-LSH
    (q39) and IVF (q56), and the memory story the other two lack: each
    64-float vector is stored as 8 small-int codes (16× compression), and
    query-to-vector distance is approximated ASYMMETRICALLY as the sum
    of 8 per-subspace lookup-table entries (Jégou et al.'s ADC) — the
    corpus-sized pass touches codes only, never raw vectors.

    Determinism: training (operators/similarity.py:pq_train_codebooks)
    is the q56 discipline — hash-order-bounded sample, id-ordered numpy,
    fixed seeds — so the oracle replays it bit-for-bit and inlines the
    codebooks as SQL literals; encoding and LUTs round6 every distance
    before any argmin/rank comparison, with code-index / neighbor-id
    tie-breaks on both engines.

    Scale shape: encode = one scan-stage expression pass (codebooks ride
    as ~8 KB of literals); ADC = code table ⋈ BROADCAST LUT (queries ×
    m × ksub rows, bounded by the query set) + one (query, neighbor)
    groupBy summing m entries. No corpus broadcast, no pairwise vector
    math; the code table is the persisted index at 100 TB (write it
    bucketed, q193's pattern)."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ann_topk_pq,
    )

    emb = table(spark, sf_dir, "embeddings")
    return ann_topk_pq(
        emb,
        query_ids_pred=lambda c: c < _Q195_NQ,
        k=_Q195_K,
        m=_Q195_M,
        ksub=_Q195_KSUB,
        dim=_DIM,
    )


def _pq_codebook_values(path: str, id_filter=None) -> str | None:
    """q195's trained codebooks as SQL VALUES rows ``(sub, code, c)``.
    Replays ``pq_train_codebooks`` bit-for-bit by calling the SAME numpy
    core (``pq_lloyd``) on the SAME row selection
    (``hash_bounded_sample_py`` — the engine's hash32 min-k training cap
    applied Python-side, so the replay matches on corpora ABOVE
    max_train too, not just gate SFs). ``id_filter`` (a per-id predicate)
    restricts the training corpus BEFORE the cap — q197 trains on the
    history shard only, mirroring its engine-side
    ``pq_train_codebooks(hist)``. None → rows-only fallback."""
    try:
        import duckdb
        import numpy as np
    except ImportError:
        return None
    if not os.path.exists(path):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample_py,
        pq_lloyd,
    )

    try:
        rows = duckdb.sql(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{path}') ORDER BY vec_id"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken import
        return None
    if id_filter is not None:
        rows = [r for r in rows if id_filter(r[0])]
    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat = hash_bounded_sample_py(ids, mat)
    books = pq_lloyd(mat, m=_Q195_M, ksub=_Q195_KSUB, n_iter=2)
    return ", ".join(
        "({}, {}, [{}])".format(
            s, c, ", ".join(repr(float(x)) for x in books[s][c])
        )
        for s in range(_Q195_M)
        for c in range(_Q195_KSUB)
    )


# Sequential-fold round6 squared-L2 from the sub-th subvector of v to
# the codebook row's centroid list c — the exact fold pq_encode runs.
_Q195_SUBD = (
    "round(list_sum([(v[b.sub * {d} + i] - b.c[i])"
    " * (v[b.sub * {d} + i] - b.c[i]) FOR i IN range(1, {d} + 1)])"
    " + 1e-9, 6)"
).format(d=_Q195_DSUB)

# Shared by the q195 oracle (final top-k select), the q212 PQ
# recall-gate oracle (which joins the ADC ranking against the exact-L2
# list), and — via _Q195_PQ_TAIL, which consumes whatever ``vecs`` CTE
# precedes it — the q214 OPQ oracle (same encode/ADC algebra over
# ROTATED vectors) — the q56/_Q56_CTES pattern.
_Q195_PQ_TAIL = f"""books(sub, code, c) AS (VALUES __PQ_VALUES__),
dists AS MATERIALIZED (
  -- referenced by BOTH codes and luts: un-marked, DuckDB inlines the
  -- corpus x codebook distance computation twice (q192's lesson).
  SELECT vecs.vec_id, b.sub, b.code, {_Q195_SUBD} AS d
  FROM vecs CROSS JOIN books b
),
codes AS (
  SELECT vec_id AS neighbor_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d ASC, code ASC) AS r
    FROM dists
  ) WHERE r = 1
),
luts AS (
  SELECT vec_id AS query_id, sub, code, d
  FROM dists WHERE vec_id < {_Q195_NQ}
),
adc AS (
  SELECT l.query_id, cd.neighbor_id,
         round(sum(l.d) + 1e-9, 6) AS adc
  FROM codes cd JOIN luts l ON l.sub = cd.sub AND l.code = cd.code
  WHERE cd.neighbor_id <> l.query_id
  GROUP BY 1, 2
)"""

_Q195_CTES = f"""vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
{_Q195_PQ_TAIL}"""

_Q195_ORACLE_TEMPLATE = f"""
WITH {_Q195_CTES}
SELECT query_id, neighbor_id, adc, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc ASC, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {_Q195_K}
"""


def q195_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q195 oracle (the q56 pattern): codebooks trained on the
    SF being checked, inlined as literals."""
    values = _pq_codebook_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    return None if values is None else _Q195_ORACLE_TEMPLATE.replace(
        "__PQ_VALUES__", values
    )


# LAZY for the same reason as Q56_ORACLE (oracle_fn resolved at call time).
Q195_ORACLE = None


# --------------------------------------------------------------------------
# q197 — incremental PQ index: frozen codebooks + persisted code table
# --------------------------------------------------------------------------

_Q197_QBOUND = 100  # queries = new-shard ids below this bound (≤10 queries)
_Q197_K = 3
_Q197_BUCKETS = 16


def q197_incremental_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ ANN index — q193's cross-run artifact lifecycle
    applied to q195's compressed index: the HISTORY corpus (vec_id % 10
    != 7) trains the codebooks ONCE and its PQ codes are persisted ONCE
    as a managed table bucketed on ``neighbor_id`` (sinks/bucketed.py);
    the tiny frozen codebooks (m·ksub rows, ~8 KB) persist beside it.
    Every steady-state ingest run then (a) loads the frozen books — a
    bounded 128-row collect, (b) encodes ONLY the new shard (vec_id %
    10 == 7, "today's crawl") with them, and (c) ADC-searches today's
    documents (new-shard ids below 100) against history ∪ today's
    codes. History RAW vectors are never touched again — no retraining,
    no re-encode (tests/test_pq_incremental.py locks this by failing
    ``pq_train_codebooks`` after the index exists and re-running).

    Freezing the codebooks is the production semantics (FAISS
    ``IVF/PQ.add()``: train once, encode forever) and what makes
    incremental ≡ batch PROVABLE: encoding is a pure function of
    (vector, books), so split-encode must equal one-pass encode — which
    is exactly what the oracle checks (one-pass SQL encode of the full
    corpus against the SAME history-trained books, replayed bit-for-bit
    via the shared ``pq_lloyd``/``hash_bounded_sample_py`` core).

    Scale shape: per ingest run, work = new-shard encode (one Arrow
    kernel scan-stage pass) + the ADC probe (code table ⋈ broadcast
    LUT, one grouped sum). The persisted code table IS the 100 TB
    serving index — 16× compressed, clustered by vector id so per-vector
    code groups never straddle buckets and appends preserve the layout
    (the q193 append discipline)."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        adc_topk,
        pq_encode,
        pq_query_luts,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    _rot, books, hist_codes, _ = _pq_index(
        spark, sf_dir, emb.filter(~is_new), "pq", rotated=False
    )
    new_codes = pq_encode(emb.filter(is_new), books).select(
        F.col("vec_id").alias("neighbor_id"), "sub", "code"
    )
    index = hist_codes.unionByName(new_codes)
    q_src = emb.filter(is_new & (F.col("vec_id") < _Q197_QBOUND))
    return adc_topk(index, pq_query_luts(q_src, books), k=_Q197_K)


def _pq_index(
    spark: SparkSession,
    sf_dir: str,
    hist: DataFrame,
    prefix: str,
    rotated: bool,
):
    """The frozen-codebook index generation — one build shared by q197
    (``pq``), q217 (``opq``, rotated) and the q269–q271 delete lifecycle
    (``pqdel``/``opqdel``), each on its own table family: ``hist``
    trains the codebooks (rotated: OPQ's alternating solver trains R
    and the books on the rotated sample) ONCE, its codes persist in
    ``<prefix>codes`` bucketed on ``neighbor_id``, R in ``<prefix>rot``,
    and the books in ``<prefix>books``. Codes FIRST, books LAST: the
    books table is the commit gate, so it must be the generation's
    final write — the reverse order left a committed books table beside
    a failed codes write, and every later run silently fell into the
    full re-encode fallback (correct output, incremental contract lost).

    Steady state loads the frozen (R, books) — parameter-sized collects
    (dim + m·ksub rows) — and never re-trains or re-encodes history
    (tests/test_pq_incremental.py bombs the trainers). Returns
    (rotation | None, books, hist_codes, codes_table | None); the table
    is None when the catalog is unavailable (plain frames)."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import (
        load_params,
        save_params,
        table_generation,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        opq_train,
        pq_encode,
        pq_train_codebooks,
        rotate_vectors,
    )
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import write_bucketed

    def train():
        if rotated:
            return opq_train(hist, m=_Q195_M, ksub=_Q195_KSUB, dim=_DIM)
        return None, pq_train_codebooks(
            hist, m=_Q195_M, ksub=_Q195_KSUB, dim=_DIM
        )

    def codes(rotation, books) -> DataFrame:
        src = rotate_vectors(hist, rotation) if rotated else hist
        return pq_encode(src, books).select(
            F.col("vec_id").alias("neighbor_id"), "sub", "code"
        )

    def build(names: list[str]) -> None:
        rotation, books = train()
        write_bucketed(
            codes(rotation, books),
            names[0],
            "neighbor_id",
            n_buckets=_Q197_BUCKETS,
            sort_col="neighbor_id",
        )
        if rotated:
            save_params(spark, names[1], rot=rotation)
        save_params(
            spark, names[-1], **{f"sub{s}": books[s] for s in range(_Q195_M)}
        )

    fams = [f"{prefix}codes", f"{prefix}books"]
    if rotated:
        fams.insert(1, f"{prefix}rot")
    names = table_generation(spark, sf_dir, fams, build)
    if names is None:
        rotation, books = train()
        return rotation, books, codes(rotation, books), None
    rotation = load_params(spark, names[1])["rot"] if rotated else None
    p = load_params(spark, names[-1])
    books = [p[f"sub{s}"] for s in range(_Q195_M)]
    return rotation, books, spark.table(names[0]), names[0]


# Everything downstream of the ``vecs`` CTE — shared verbatim by the
# q197 oracle (plain vectors) and the q217 oracle (OPQ-rotated vectors),
# so the two incremental-index spellings cannot drift.
_Q197_INDEX_TAIL = f"""books(sub, code, c) AS (VALUES __PQ_VALUES__),
dists AS MATERIALIZED (
  -- referenced by BOTH codes and luts (q195's materialization lesson)
  SELECT vecs.vec_id, b.sub, b.code, {_Q195_SUBD} AS d
  FROM vecs CROSS JOIN books b
),
codes AS (
  SELECT vec_id AS neighbor_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d ASC, code ASC) AS r
    FROM dists
  ) WHERE r = 1
),
luts AS (
  SELECT vec_id AS query_id, sub, code, d
  FROM dists WHERE vec_id % 10 = 7 AND vec_id < {_Q197_QBOUND}
),
adc AS (
  SELECT l.query_id, cd.neighbor_id,
         round(sum(l.d) + 1e-9, 6) AS adc
  FROM codes cd JOIN luts l ON l.sub = cd.sub AND l.code = cd.code
  WHERE cd.neighbor_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc ASC, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {_Q197_K}
"""

_Q197_ORACLE_TEMPLATE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
{_Q197_INDEX_TAIL}"""


def q197_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q197 oracle: books trained on the HISTORY shard only
    (``id_filter`` applied before the sample cap — the exact corpus
    ``pq_train_codebooks(hist)`` sees), then a ONE-PASS batch encode +
    ADC of the full corpus: incremental-vs-batch equivalence is the
    property a cross-run index must hold (q193's contract)."""
    values = _pq_codebook_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        id_filter=lambda i: i % 10 != 7,
    )
    return None if values is None else _Q197_ORACLE_TEMPLATE.replace(
        "__PQ_VALUES__", values
    )


Q197_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q200 — hard-negative mining for contrastive retrieval training
# --------------------------------------------------------------------------

_Q200_NQ = 8
_Q200_K = 5


def q200_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data builder
    (DPR, Karpukhin et al. 2020; the same loop trains E5/SimCSE-style
    embedders): for each query vector, the top-k most-similar corpus
    vectors whose LABEL differs from the query's. Same-label vectors
    are presumed positives and excluded — what remains is exactly the
    "semantically close but wrong" set whose gradients do the work in
    a contrastive batch.

    Plan shape: q38's exact-cosine discipline — the bounded query side
    (with its label) broadcasts, the corpus streams through one scan
    with the label inequality applied BEFORE scoring output, and the
    per-query top-k window runs as partial top-k. At 100 TB swap the
    brute-force scorer for q56's IVF probe and apply the same label
    anti-filter to the candidate set — the mining semantics and this
    oracle are unchanged."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        dot_product,
        l2_norm,
        to_double_array,
    )

    emb = table(spark, sf_dir, "embeddings")
    v = to_double_array(F.col("embedding"))
    base = emb.select(
        "vec_id", "label", v.alias("__v"), l2_norm(v).alias("__n")
    )
    q = base.filter(F.col("vec_id") < _Q200_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("__ql"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    c = base.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"),
    )
    cos = dot_product(F.col("__qv"), F.col("__cv")) / F.nullif(
        F.col("__qn") * F.col("__cn"), F.lit(0.0)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("__ql"))
        .select(
            "query_id",
            "negative_id",
            "neg_label",
            F.round(cos + F.lit(1e-9), 6).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= _Q200_K)


# --------------------------------------------------------------------------
# q203 — streaming PQ encode (compress shards as they arrive)
# --------------------------------------------------------------------------


def _split_embeddings(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 2,
    pred=None,
    variant: str = "",
) -> str:
    """Embeddings twin of :func:`_split_events` (same tmp generation).
    ``pred``/``variant`` carve a sub-shard replay (q257 streams the NEW
    shard only — history is the pre-existing index side); ``variant``
    keys the artifact dir so filtered and full splits coexist."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import tmp_generation

    def write(path: str) -> None:
        src = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        if pred is not None:
            src = src.filter(pred)
        src.repartition(n_files).write.mode("overwrite").parquet(path)

    return tmp_generation(
        sf_dir,
        "emb_split",
        write,
        suffix=(f"v{variant}" if variant else "") + f"_f{n_files}",
    )


def q203_streaming_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PQ encode — the STREAMING member of the
    index-maintenance lifecycle (q193 band rows, q197 frozen-book PQ,
    q201 postings): embedding shards arrive as micro-batches
    (multi-file replay, maxFilesPerTrigger=1) and foreachBatch
    Arrow-encodes each with FROZEN codebooks, appending a per-batch
    generation to the code index. The at-least-once hazard is handled
    with batchId-gated generation dirs (streaming/pq_encode_stream.py);
    the fn asserts >1 micro-batch committed.

    Because encode is a pure per-row function of (vector, books), the
    drained index must equal the one-pass BATCH encode — the oracle
    replays the training bit-for-bit (shared pq_lloyd core, q195's
    literalization) and computes exactly that, so arrival order and
    batch boundaries provably cannot change the index.

    Scale shape: per micro-batch, one scan-stage Arrow kernel pass and
    one append write — no shuffle, no state store, no global stage; the
    accumulated index stays a distributed scan (never collected). This
    is how a 100 TB corpus's serving index keeps up with ingest: encode
    rides the ingest stream, and q197's searcher reads the same table."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        pq_train_codebooks,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.pq_encode_stream import (
        streaming_pq_encode,
    )

    emb = table(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=_Q195_M, ksub=_Q195_KSUB, dim=_DIM)
    split_dir = _split_embeddings(spark, sf_dir)
    return streaming_pq_encode(spark, split_dir, books)


_Q203_ORACLE_TEMPLATE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
books(sub, code, c) AS (VALUES __PQ_VALUES__),
dists AS (
  SELECT vecs.vec_id, b.sub, b.code, {_Q195_SUBD} AS d
  FROM vecs CROSS JOIN books b
)
SELECT vec_id, sub, code FROM (
  SELECT vec_id, sub, code,
         row_number() OVER (PARTITION BY vec_id, sub
                            ORDER BY d ASC, code ASC) AS r
  FROM dists
) WHERE r = 1
"""


def q203_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q203 oracle: the one-pass batch encode of the full
    corpus under the same full-corpus-trained books as the stream."""
    values = _pq_codebook_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    return None if values is None else _Q203_ORACLE_TEMPLATE.replace(
        "__PQ_VALUES__", values
    )


Q203_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q205 — IVF-PQ with residual encoding (the FAISS IVFADC composite index)
# --------------------------------------------------------------------------

_Q205_CELLS, _Q205_M, _Q205_KSUB = 16, 8, 16
_Q205_NPROBE, _Q205_NQ, _Q205_K = 2, 8, 3
_Q205_DSUB = _DIM // _Q205_M


def q205_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the composite index (Jégou et al.'s IVFADC) that
    production vector stores (FAISS IVFxPQy) actually deploy at
    billion-vector scale, composing the inventory's two quantizers: a
    COARSE L2 k-means partitions the corpus into cells (pruning: a
    query touches only its n_probe nearest cells), and PQ encodes each
    vector's RESIDUAL v − c[cell] (residuals are smaller-normed than raw
    vectors, so the same code budget quantizes finer — the reason
    IVF+PQ beats flat PQ at equal bytes). Search: per (query, probed
    cell) ADC lookup tables over the QUERY's residual in that cell;
    candidate set = codes in probed cells, selected by the (cell, sub,
    code) equi-join itself.

    Determinism: ONE shared numpy core (similarity.ivfpq_train — coarse
    = pq_lloyd with one subspace, books = pq_lloyd on residuals of the
    same hash-bounded sample) is called by the trainer AND the oracle
    replay, so both artifacts are bit-identical; every distance (coarse
    assignment, code argmin, LUT entries, ADC sums) rounds6 with
    (d, index) tie order on both engines.

    Scale shape: encode = one Arrow kernel scan pass (both codebooks
    ride in the closure); the corpus-sized artifact is (cell + m codes)
    per vector; search joins the code table against a BROADCAST LUT of
    queries × n_probe × m × ksub rows and prunes non-probed cells for
    free in the join. At 100 TB, persist the code table bucketed (or
    partitioned) BY CELL — probe reads touch only matching cells, the
    file-level twin of the in-memory inverted list."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample,
        ivfpq_encode,
        ivfpq_query_luts,
        ivfpq_train,
    )

    emb = table(spark, sf_dir, "embeddings")
    mat = hash_bounded_sample(emb)
    coarse, books = ivfpq_train(
        mat, cells=_Q205_CELLS, m=_Q205_M, ksub=_Q205_KSUB
    )
    codes = ivfpq_encode(emb, coarse, books).select(
        F.col("vec_id").alias("neighbor_id"), "cell", "sub", "code"
    )
    q_src = emb.filter(F.col("vec_id") < _Q205_NQ)
    luts = ivfpq_query_luts(q_src, coarse, books, n_probe=_Q205_NPROBE)
    adc = (
        codes.join(F.broadcast(luts), on=["cell", "sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d") + F.lit(1e-9), 6).alias("adc"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    return adc.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= _Q205_K)


def _ivfpq_values(path: str) -> tuple[str, str] | None:
    """q205's trained artifacts as SQL VALUES rows: ``(cell, c)`` for the
    coarse centroids and ``(sub, code, bc)`` for the residual product
    codebooks — the SAME ``ivfpq_train`` numpy core on the SAME
    hash-bounded sample the engine trains on."""
    try:
        import duckdb
        import numpy as np
    except ImportError:
        return None
    if not os.path.exists(path):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample_py,
        ivfpq_train,
    )

    try:
        rows = duckdb.sql(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{path}') ORDER BY vec_id"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken import
        return None
    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat = hash_bounded_sample_py(ids, mat)
    coarse, books = ivfpq_train(
        mat, cells=_Q205_CELLS, m=_Q205_M, ksub=_Q205_KSUB
    )
    coarse_vals = ", ".join(
        "({}, [{}])".format(c, ", ".join(repr(float(x)) for x in coarse[c]))
        for c in range(_Q205_CELLS)
    )
    book_vals = ", ".join(
        "({}, {}, [{}])".format(
            s, c, ", ".join(repr(float(x)) for x in books[s][c])
        )
        for s in range(_Q205_M)
        for c in range(_Q205_KSUB)
    )
    return coarse_vals, book_vals


# round6 squared-L2 folds: full-dim to a coarse centroid, and from the
# sub-th residual subvector to a product-codebook row.
_Q205_CDIST = (
    "round(list_sum([(v[i] - c[i]) * (v[i] - c[i])"
    f" FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6)"
)
_Q205_RDIST = (
    "round(list_sum([(rv[b.sub * {d} + i] - b.bc[i])"
    " * (rv[b.sub * {d} + i] - b.bc[i]) FOR i IN range(1, {d} + 1)])"
    " + 1e-9, 6)"
).format(d=_Q205_DSUB)

# Shared by the q205 oracle (final top-k select), the q215 IVF-PQ
# recall-gate oracle, and — via the probe-width parameter — the q216
# tuned-serving oracle (the q56/q195 factoring pattern: ONE chain body,
# so the spellings cannot drift).
def _ivfpq_ctes(n_probe: int) -> str:
    return _Q205_CTES_TEMPLATE.replace("__NPROBE__", str(n_probe))


_Q205_CTES_TEMPLATE = f"""vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
coarse(cell, c) AS (VALUES __COARSE__),
books(sub, code, bc) AS (VALUES __BOOKS__),
cdist AS MATERIALIZED (
  -- referenced by assigned AND probe (the q192 materialization lesson)
  SELECT vecs.vec_id, coarse.cell, {_Q205_CDIST} AS d
  FROM vecs CROSS JOIN coarse
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d ASC, cell ASC) AS r
    FROM cdist
  ) WHERE r = 1
),
resid AS MATERIALIZED (
  SELECT a.vec_id, a.cell,
         [vecs.v[i] - coarse.c[i] FOR i IN range(1, {_DIM} + 1)] AS rv
  FROM assigned a
  JOIN vecs ON vecs.vec_id = a.vec_id
  JOIN coarse ON coarse.cell = a.cell
),
codes AS (
  SELECT vec_id AS neighbor_id, cell, sub, code FROM (
    SELECT r.vec_id, r.cell, b.sub, b.code,
           row_number() OVER (PARTITION BY r.vec_id, b.sub
                              ORDER BY {_Q205_RDIST} ASC, b.code ASC) AS rn
    FROM resid r CROSS JOIN books b
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d ASC, cell ASC) AS r
    FROM cdist WHERE vec_id < {_Q205_NQ}
  ) WHERE r <= __NPROBE__
),
qres AS (
  SELECT p.query_id, p.cell,
         [vecs.v[i] - coarse.c[i] FOR i IN range(1, {_DIM} + 1)] AS rv
  FROM probe p
  JOIN vecs ON vecs.vec_id = p.query_id
  JOIN coarse ON coarse.cell = p.cell
),
luts AS (
  SELECT q.query_id, q.cell, b.sub, b.code, {_Q205_RDIST} AS d
  FROM qres q CROSS JOIN books b
),
adc AS (
  SELECT l.query_id, cd.neighbor_id,
         round(sum(l.d) + 1e-9, 6) AS adc
  FROM codes cd
  JOIN luts l ON l.cell = cd.cell AND l.sub = cd.sub AND l.code = cd.code
  WHERE cd.neighbor_id <> l.query_id
  GROUP BY 1, 2
)"""

_Q205_CTES = _ivfpq_ctes(_Q205_NPROBE)

_Q205_ORACLE_TEMPLATE = f"""
WITH {_Q205_CTES}
SELECT query_id, neighbor_id, adc, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc ASC, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {_Q205_K}
"""


def q205_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q205 oracle: coarse + residual codebooks trained on the
    SF being checked via the shared ivfpq_train core, inlined as SQL
    literals (the q56/q195 discipline, two artifacts instead of one)."""
    vals = _ivfpq_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if vals is None:
        return None
    coarse_vals, book_vals = vals
    return _Q205_ORACLE_TEMPLATE.replace("__COARSE__", coarse_vals).replace(
        "__BOOKS__", book_vals
    )


Q205_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q215 — IVF-PQ recall gate: the composite index vs the exact-L2 baseline
# --------------------------------------------------------------------------


def q215_ivfpq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third recall gate, completing the decomposition: q211
    measures IVF's CANDIDATE loss (cells not probed), q212 measures
    PQ's RANKING loss (quantized distances), and this one measures
    their PRODUCT on the composite q205 IVF-PQ index — the number an
    operator actually tunes (n_probe × codebook budget) before a
    deployment. Same scaffold: per-query (hits, recall) of q205's
    cell-probed residual-ADC top-3 against the exact squared-L2 top-3.

    Measured at sf0.001: avg recall@3 ≈ 0.29 with 2/16 cells probed —
    NOTABLY equal to flat OPQ and above flat PQ's 0.17, because
    residual quantization (distances measured from the cell centroid)
    is finer per byte than whole-vector PQ: the composite's ranking
    gain offsets its candidate loss at this probe width. Exactly the
    kind of non-obvious trade-off a gate measures instead of assumes.

    Oracle: q205's two-artifact literal CTE chain (factored into
    _Q205_CTES) joined against the exact-L2 SQL ranking — both stages
    of the recall arithmetic cross-checked."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        brute_force_topk_l2,
    )

    emb = table(spark, sf_dir, "embeddings")
    ivfpq = q205_ivfpq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = brute_force_topk_l2(
        emb, emb.filter(F.col("vec_id") < _Q205_NQ), k=_Q205_K, dim=_DIM
    ).select("query_id", "neighbor_id")
    return _hit_recall(exact, ivfpq, _Q205_K)


_Q215_ORACLE_TEMPLATE = f"""
WITH {{Q205_CTES}},
ivfpq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc ASC, neighbor_id) AS r
    FROM adc
  ) WHERE r <= {_Q205_K}
),
escored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum([(q.v[i] - c.v[i]) * (q.v[i] - c.v[i])
                         FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS dist
  FROM vecs q JOIN vecs c ON q.vec_id < {_Q205_NQ} AND c.vec_id <> q.vec_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, neighbor_id) AS r
    FROM escored
  ) WHERE r <= {_Q205_K}
),
hits AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN ivfpq p ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
  GROUP BY 1
)
SELECT e.query_id,
       CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
       round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q205_K} + 1e-9, 6)
         AS recall
FROM (SELECT DISTINCT query_id FROM exact) e
LEFT JOIN hits h ON h.query_id = e.query_id
"""


def q215_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q215 oracle: q205's coarse+books literalization feeds
    the shared IVF-PQ CTE chain; the exact baseline needs no literals."""
    vals = _ivfpq_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if vals is None:
        return None
    coarse_vals, book_vals = vals
    ctes = _Q205_CTES.replace("__COARSE__", coarse_vals).replace(
        "__BOOKS__", book_vals
    )
    return _Q215_ORACLE_TEMPLATE.format(Q205_CTES=ctes)


Q215_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q216 — tuned ANN serving: gate-derived (n_probe, R) meeting a recall SLA
# --------------------------------------------------------------------------

_Q216_K = 10
_Q216_TARGET = 0.9  # recall@10 the serving configuration must meet


def q216_ann_serving_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLOSED tuning loop the q211/q212/q215 gates exist for: derive
    a serving configuration FROM the gate measurements, run the
    production composite (IVF probe → ADC screen → exact rerank) at that
    configuration, and verify recall@10 ≥ 0.9 against the exact
    baseline. The two parameters are not hand-picked:

    - **n_probe** comes from the q211-style candidate-recall sweep, run
      at EVERY width in one pass (``ivf_cell_ranks`` materializes each
      true neighbor's coarse-cell rank; candidate recall at width p is
      just #ranks ≤ p), then ``pick_n_probe`` takes the smallest width
      meeting the target — the IVF candidate-loss gate, inverted.
    - **rerank_r** comes from the q212-style ranking-loss measurement at
      that width: each true neighbor's ADC rank within the probed
      candidate set; ``pick_rerank_depth`` takes the smallest k·2^j
      screen depth meeting the target (exact rerank restores exact
      order among survivors, so the rank distribution IS the serving
      recall curve — q213's R dial, sized instead of guessed).

    Both gate collects are parameter-sized (≤ k·|Q| rows — the q192
    scalar-convergence class, never data-sized). Output: ONE row
    (n_probe, rerank_r, target, n_queries, avg_recall, min_recall, met)
    — the go/no-go record an index swap gates on, threshold included.

    Scale shape: serving inherits q205's (codes-only corpus pass, LUT
    broadcast, cell-pruned join) + q213's candidate-bounded exact
    rerank; the gates ride the same artifacts. At 100 TB the tuning
    query set stays bounded (the standard FAISS practice) while corpus
    passes stay distributed.

    Oracle: the full pipeline replayed in SQL — q205's factored CTE
    chain at the SAME derived width (the numpy twin ``_q216_params_py``
    re-derives (n_probe, R) from the same gate arithmetic), ADC screen
    at R, exact-L2 rerank, recall vs the exact baseline, aggregate +
    met flag — so even the threshold comparison is cross-checked."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        brute_force_topk_l2,
        hash_bounded_sample,
        ivf_cell_ranks,
        ivfpq_encode,
        ivfpq_query_luts,
        ivfpq_train,
        pick_n_probe,
        pick_rerank_depth,
    )
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    mat = hash_bounded_sample(emb)
    coarse, books = ivfpq_train(
        mat, cells=_Q205_CELLS, m=_Q205_M, ksub=_Q205_KSUB
    )
    q_src = emb.filter(F.col("vec_id") < _Q205_NQ)

    # Exact baseline and the code table each feed two consumers (a gate
    # and the serving/recall stage) — checkpoint so neither corpus pass
    # runs twice (the q208 shared-subtree discipline).
    exact = (
        brute_force_topk_l2(emb, q_src, k=_Q216_K, dim=_DIM)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    codes = (
        ivfpq_encode(emb, coarse, books)
        .select(F.col("vec_id").alias("neighbor_id"), "cell", "sub", "code")
        .localCheckpoint(eager=True)
    )

    # Gate 1 — candidate loss at every probe width in one pass.
    asn = codes.filter(F.col("sub") == 0).select("neighbor_id", "cell")
    cranks = ivf_cell_ranks(q_src, coarse)
    cell_ranks = [
        r["crank"]
        for r in exact.join(asn, on="neighbor_id")
        .join(F.broadcast(cranks), on=["query_id", "cell"])
        .select("crank")
        .collect()
    ]
    # Recall denominator = the ACTUAL exact-pair count (every exact pair
    # survives the cell-rank join: each corpus vector has a code row and
    # each query ranks every cell), NOT the literal K·NQ bound — on a
    # corpus with fewer than NQ query ids or fewer than K neighbors the
    # literal would diverge from the oracle twin's denominator
    # (round-10 ADVICE).
    n_pairs = len(cell_ranks)
    n_probe = pick_n_probe(cell_ranks, n_pairs, _Q216_TARGET, _Q205_CELLS)

    # Gate 2 — ranking loss at that width (ADC rank of each true pair).
    luts = ivfpq_query_luts(q_src, coarse, books, n_probe=n_probe)
    adc = (
        codes.join(F.broadcast(luts), on=["cell", "sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d") + F.lit(1e-9), 6).alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    adc_ranked = adc.withColumn(
        "arank", F.row_number().over(w)
    ).localCheckpoint(eager=True)
    adc_ranks = [
        r["arank"]
        for r in exact.join(adc_ranked, on=["query_id", "neighbor_id"])
        .select("arank")
        .collect()
    ]
    rerank_r = pick_rerank_depth(adc_ranks, n_pairs, _Q216_TARGET, _Q216_K)

    # Serving at the derived (n_probe, R): screen → exact rerank → top-k.
    screened = adc_ranked.filter(F.col("arank") <= rerank_r).select(
        "query_id", "neighbor_id"
    )
    v = to_double_array(F.col("embedding"))
    qv = q_src.select(F.col("vec_id").alias("query_id"), v.alias("__qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), v.alias("__cv"))
    d2 = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # The candidate side is provably bounded (R·|Q| rows) — broadcast it
    # into the corpus-vector scan so the rerank's raw-vector fetch never
    # shuffles the corpus (at 100 TB cv is the big side by many orders).
    rer = cv.join(
        F.broadcast(screened.join(F.broadcast(qv), on="query_id")),
        on="neighbor_id",
    ).select(
        "query_id", "neighbor_id",
        F.round(d2 + F.lit(1e-9), 6).alias("dist"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id")
    )
    served = (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _Q216_K)
        .select("query_id", "neighbor_id")
    )

    return _gate_agg(_hit_recall(exact, served, _Q216_K)).select(
        F.lit(n_probe).cast("long").alias("n_probe"),
        F.lit(rerank_r).cast("long").alias("rerank_r"),
        F.lit(float(_Q216_TARGET)).alias("target"),
        "n_queries",
        "avg_recall",
        "min_recall",
        (F.col("avg_recall") >= F.lit(float(_Q216_TARGET))).alias("met"),
    )


def _q216_params_py(path: str) -> tuple[int, int] | None:
    """Numpy twin of q216's gate derivation — the SAME artifacts
    (hash-bounded sample → ivfpq_train), the same rounded arithmetic
    (_pq_subdist_matrix everywhere a distance is compared), the same
    decision rules (pick_n_probe / pick_rerank_depth) — so the oracle's
    (n_probe, R) literals provably equal what the Spark derivation
    picked. Returns None when the testdata or DuckDB is unavailable."""
    try:
        import duckdb
        import numpy as np
    except ImportError:
        return None
    if not os.path.exists(path):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        _pq_subdist_matrix,
        hash_bounded_sample_py,
        ivfpq_train,
        pick_n_probe,
        pick_rerank_depth,
    )

    try:
        rows = duckdb.sql(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{path}') ORDER BY vec_id"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken import
        return None
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    sample = hash_bounded_sample_py(list(ids), mat)
    coarse, books = ivfpq_train(
        sample, cells=_Q205_CELLS, m=_Q205_M, ksub=_Q205_KSUB
    )
    ca = np.array(coarse, dtype=np.float64)
    cents = [np.array(b, dtype=np.float64) for b in books]
    dsub = _Q205_DSUB

    assign = np.argmin(_pq_subdist_matrix(mat, ca), axis=1)
    resid = mat - ca[assign]
    codes = np.stack(
        [
            np.argmin(
                _pq_subdist_matrix(resid[:, s * dsub : (s + 1) * dsub], cents[s]),
                axis=1,
            )
            for s in range(_Q205_M)
        ],
        axis=1,
    )

    qmask = ids < _Q205_NQ
    qids, qmat = ids[qmask], mat[qmask]
    dc = _pq_subdist_matrix(qmat, ca)
    order = np.lexsort(
        (np.broadcast_to(np.arange(_Q205_CELLS), dc.shape), dc), axis=1
    )
    crank = np.empty_like(order)
    for qi in range(len(qids)):
        crank[qi, order[qi]] = np.arange(1, _Q205_CELLS + 1)

    # Exact top-k pairs (brute_force_topk_l2's arithmetic: round6 dist,
    # (dist, neighbor_id) ties, self excluded).
    dall = _pq_subdist_matrix(qmat, mat)
    pos = {int(v): i for i, v in enumerate(ids)}
    cell_ranks: list[int] = []
    exact_pairs: list[tuple[int, int]] = []
    for qi, qid in enumerate(qids):
        mask = ids != qid
        nb, nd = ids[mask], dall[qi][mask]
        for j in np.lexsort((nb, nd))[: _Q216_K]:
            nid = int(nb[j])
            exact_pairs.append((qi, nid))
            cell_ranks.append(int(crank[qi, assign[pos[nid]]]))
    # Same denominator rule as the Spark derivation: the actual exact-
    # pair count, robust to corpora with < K neighbors per query.
    n_pairs = len(cell_ranks)
    n_probe = pick_n_probe(cell_ranks, n_pairs, _Q216_TARGET, _Q205_CELLS)

    # ADC ranks at that width (ivfpq_query_luts' arithmetic).
    adc_ranks: list[int] = []
    for qi, qid in enumerate(qids):
        probed = set(int(c) for c in order[qi, :n_probe])
        luts = {}
        for cell in probed:
            r = (qmat[qi] - ca[cell])[None, :]
            luts[cell] = [
                _pq_subdist_matrix(r[:, s * dsub : (s + 1) * dsub], cents[s])[0]
                for s in range(_Q205_M)
            ]
        scored = []
        for i, nid in enumerate(ids):
            if int(nid) == int(qid) or int(assign[i]) not in probed:
                continue
            lut = luts[int(assign[i])]
            scored.append(
                (
                    round(
                        sum(float(lut[s][codes[i, s]]) for s in range(_Q205_M))
                        + 1e-9,
                        6,
                    ),
                    int(nid),
                )
            )
        scored.sort()
        rank_of = {nid: r + 1 for r, (_, nid) in enumerate(scored)}
        for (pqi, nid) in exact_pairs:
            if pqi == qi and nid in rank_of:
                adc_ranks.append(rank_of[nid])
    rerank_r = pick_rerank_depth(adc_ranks, n_pairs, _Q216_TARGET, _Q216_K)
    return n_probe, rerank_r


_Q216_ORACLE_TEMPLATE = f"""
WITH {{CTES}},
screened AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc ASC, neighbor_id) AS r
    FROM adc
  ) WHERE r <= {{R}}
),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_sum([(q.v[i] - c.v[i]) * (q.v[i] - c.v[i])
                         FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS dist
  FROM screened s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id
),
served AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, neighbor_id) AS rank
    FROM rer
  ) WHERE rank <= {_Q216_K}
),
escored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum([(q.v[i] - c.v[i]) * (q.v[i] - c.v[i])
                         FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS dist
  FROM vecs q JOIN vecs c ON q.vec_id < {_Q205_NQ} AND c.vec_id <> q.vec_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, neighbor_id) AS r
    FROM escored
  ) WHERE r <= {_Q216_K}
),
hits AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN served s ON s.query_id = e.query_id
                AND s.neighbor_id = e.neighbor_id
  GROUP BY 1
),
perq AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q216_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact) e
  LEFT JOIN hits h ON h.query_id = e.query_id
)
SELECT CAST({{NPROBE}} AS BIGINT) AS n_probe,
       CAST({{R}} AS BIGINT) AS rerank_r,
       CAST({_Q216_TARGET} AS DOUBLE) AS target,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(recall) + 1e-9, 6) AS avg_recall,
       round(min(recall) + 1e-9, 6) AS min_recall,
       round(avg(recall) + 1e-9, 6) >= CAST({_Q216_TARGET} AS DOUBLE) AS met
FROM perq
"""


def q216_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q216 oracle: (n_probe, R) re-derived by the numpy gate
    twin, coarse+books literalized by the shared ivfpq trainer, both fed
    into q205's factored CTE chain at the derived probe width."""
    path = os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    params = _q216_params_py(path)
    vals = _ivfpq_values(path)
    if params is None or vals is None:
        return None
    n_probe, rerank_r = params
    coarse_vals, book_vals = vals
    ctes = _ivfpq_ctes(n_probe).replace("__COARSE__", coarse_vals).replace(
        "__BOOKS__", book_vals
    )
    return _Q216_ORACLE_TEMPLATE.format(
        CTES=ctes, NPROBE=n_probe, R=rerank_r
    )


Q216_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q217 — incremental OPQ index: frozen rotation + frozen books + code table
# --------------------------------------------------------------------------

def q217_incremental_opq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q197's cross-run index lifecycle with OPQ's learned rotation
    threaded through it — the round-9 verdict's missing lifecycle: the
    HISTORY shard (vec_id % 10 != 7) trains BOTH frozen artifacts (the
    orthogonal R via opq_train's alternating solver, and the codebooks
    on the rotated sample), history vectors are rotated + encoded ONCE
    into a bucketed code table, and R (dim rows) persists beside the
    books — codes and R first, books LAST as the generation commit gate
    (the q197 commit-order lesson: tableExists(books) must imply a
    complete generation, now including the rotation). Every steady-state
    run loads the frozen (R, books) — two bounded collects, 64 + 128
    rows — rotates and encodes ONLY the new shard with ONE extra
    scan-stage Arrow kernel, and ADC-searches today's queries against
    history ∪ today codes. History raw vectors are never re-read and
    the solver never re-runs (trainer-bomb pytest:
    tests/test_pq_incremental.py::test_opq_steady_state_never_retrains).

    Rotation is distance-preserving (RᵀR = I), so everything downstream
    is q197's unchanged plan shape. Oracle: ONE-PASS batch rotate +
    encode + ADC of the full corpus under the SAME history-trained
    (R, books) literals (shared opq_core replay, id-filtered to the
    history shard before the sample cap) — incremental ≡ batch with the
    rotation frozen, which is exactly what makes OPQ safe to run
    incrementally: encoding is a pure function of (vector, R, books)."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        adc_topk,
        pq_encode,
        pq_query_luts,
        rotate_vectors,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    rotation, books, hist_codes, _ = _pq_index(
        spark, sf_dir, emb.filter(~is_new), "opq", rotated=True
    )
    rot_new = rotate_vectors(emb.filter(is_new), rotation)
    new_codes = pq_encode(rot_new, books).select(
        F.col("vec_id").alias("neighbor_id"), "sub", "code"
    )
    index = hist_codes.unionByName(new_codes)
    q_src = rot_new.filter(F.col("vec_id") < _Q197_QBOUND)
    return adc_topk(index, pq_query_luts(q_src, books), k=_Q197_K)


# Rotated-corpus CTE prefix, shared by every OPQ oracle (q214 flat ADC,
# q217 incremental index, q218 streaming encode): y = x · R, each
# coordinate nudge-rounded exactly like the rotate_vectors kernel, so
# encode/ADC consume identical inputs on both engines.
_OPQ_VECS_CTES = f"""vecs0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
rmat(R) AS (VALUES (__OPQ_R__)),
vecs AS (
  SELECT vec_id,
         [round(list_sum([v[j] * R[j][i] FOR j IN range(1, {_DIM} + 1)])
                + 1e-9, 6)
          FOR i IN range(1, {_DIM} + 1)] AS v
  FROM vecs0 CROSS JOIN rmat
)"""

_Q217_ORACLE_TEMPLATE = f"""
WITH {_OPQ_VECS_CTES},
{_Q197_INDEX_TAIL}"""


def q217_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q217 oracle: (R, books) trained on the HISTORY shard via
    the shared opq_core replay, then q197's one-pass index tail over the
    rotated corpus — incremental ≡ batch with the rotation frozen."""
    vals = _opq_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        id_filter=lambda i: i % 10 != 7,
    )
    if vals is None:
        return None
    r_lit, books_lit = vals
    return _Q217_ORACLE_TEMPLATE.replace("__OPQ_R__", r_lit).replace(
        "__PQ_VALUES__", books_lit
    )


Q217_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q218 — streaming OPQ encode: frozen (R, books) riding the ingest stream
# --------------------------------------------------------------------------


def q218_streaming_opq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q203's streaming encode with OPQ's frozen rotation riding the
    stream — the second half of the verdict's missing-lifecycle item:
    embedding shards arrive as micro-batches and foreachBatch applies
    TWO frozen artifacts per batch (rotate_vectors with R, then
    pq_encode with the books — one extra scan-stage Arrow kernel, no
    shuffle, no state). The at-least-once batchId-generation discipline
    is streaming_pq_encode's, unchanged.

    Because rotate+encode is a pure per-row function of (vector, R,
    books), arrival order and batch boundaries provably cannot change
    the index: the oracle computes the ONE-PASS batch rotate+encode of
    the full corpus under the same literalized artifacts (shared
    opq_core replay), and the drained stream must equal it."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        opq_train,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.pq_encode_stream import (
        streaming_pq_encode,
    )

    emb = table(spark, sf_dir, "embeddings")
    rotation, books = opq_train(emb, m=_Q195_M, ksub=_Q195_KSUB, dim=_DIM)
    split_dir = _split_embeddings(spark, sf_dir)
    return streaming_pq_encode(spark, split_dir, books, rotation=rotation)


_Q218_ORACLE_TEMPLATE = f"""
WITH {_OPQ_VECS_CTES},
books(sub, code, c) AS (VALUES __PQ_VALUES__),
dists AS (
  SELECT vecs.vec_id, b.sub, b.code, {_Q195_SUBD} AS d
  FROM vecs CROSS JOIN books b
)
SELECT vec_id, sub, code FROM (
  SELECT vec_id, sub, code,
         row_number() OVER (PARTITION BY vec_id, sub
                            ORDER BY d ASC, code ASC) AS r
  FROM dists
) WHERE r = 1
"""


def q218_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q218 oracle: the one-pass batch rotate+encode of the
    full corpus under the same full-corpus-trained (R, books)."""
    vals = _opq_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if vals is None:
        return None
    r_lit, books_lit = vals
    return _Q218_ORACLE_TEMPLATE.replace("__OPQ_R__", r_lit).replace(
        "__PQ_VALUES__", books_lit
    )


Q218_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q219 — multiprobe SRP-LSH: 1-flip probe fan-out, same index, more recall
# --------------------------------------------------------------------------


def q219_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH ANN (Lv et al., VLDB 2007) — q39's SRP prober with
    the standard production recall lever that costs NO index change: the
    corpus stays hashed into exactly q39's buckets, but each query also
    probes every band bucket at Hamming distance 1 (flip one sign bit),
    because a near neighbor that missed the query's own bucket most
    likely disagrees on exactly one plane. Probe volume per query rises
    from ``bands`` to ``bands × (1 + bits/band)`` keys (2 → 18 here);
    corpus memory and the banded equi-join shape are unchanged, which is
    the whole point vs adding tables/bands — at 100 TB the index is the
    expensive artifact and the query side is the cheap one. Measured at
    sf0.001 vs the exact cosine baseline (tests/test_serving_sla.py):
    probe keys strictly contain q39's and recall@3 rises 0.047 → 0.227
    (≈4.9×) at identical index cost — SRP at 8 bits/band is a weak hash
    for these dense vectors, which is precisely why the production fix
    is probe fan-out, not a bigger index.

    Scale shape: query-side fan-out is bounded (|Q| × 18 keys); the
    candidate join stays the corpus-linear banded equi-join; the exact
    verify tail is shared verbatim with q39 (``_exact_cosine_rank``).

    Oracle: q39's banded CTE chain + a string-surgery probe expansion
    (flip character j of each band signature) — the multiprobe algebra
    replayed bit-for-bit on the same MD5-derived hyperplanes."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ann_topk_lsh_multiprobe,
    )

    emb = table(spark, sf_dir, "embeddings")
    return ann_topk_lsh_multiprobe(
        emb, query_ids_pred=lambda c: c < 50, k=3,
        n_planes=_N_PLANES, bands=_BANDS, dim=_DIM,
    )


Q219_ORACLE = f"""
WITH {_BUCKETS_SQL},
qprobes AS (
  SELECT vec_id, bucket FROM banded WHERE vec_id < 50
  UNION ALL
  SELECT b.vec_id,
         substr(b.bucket, 1, 2 + t.j)
           || (CASE WHEN substr(b.bucket, 3 + t.j, 1) = '1'
                    THEN '0' ELSE '1' END)
           || substr(b.bucket, 4 + t.j) AS bucket
  FROM banded b CROSS JOIN range(0, {_PER_BAND}) t(j)
  WHERE b.vec_id < 50
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM qprobes q JOIN banded n ON q.bucket = n.bucket AND n.vec_id <> q.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id, {_cos('qv.v', 'nv.v')} AS cosine
  FROM cand c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# q220 — scalar quantization (SQ8): 8-bit codes, whole-stage-codegen ANN
# --------------------------------------------------------------------------

_Q220_NQ, _Q220_K = 8, 5


def q220_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN (FAISS SQ8) — the quantizer BELOW PQ on the
    compression ladder and ABOVE raw floats on the recall ladder: each
    dimension is uniformly quantized to 8 bits against per-dimension
    (vmin, step) trained on the hash-bounded sample
    (similarity.sq8_train), 8x smaller than float64 at far higher
    fidelity than PQ's 16x (SQ8 quantizes every dimension independently;
    PQ shares one code across a whole subvector). Search is asymmetric:
    raw query vs dequantized corpus, exact top-k over the reconstructed
    vectors.

    Unlike the PQ family, BOTH encode and search here are pure JVM
    expressions (transform/aggregate over array literals — no Python
    kernel anywhere; the final plan holds ONE Exchange, the top-k
    window): the 100 TB story is one scan producing the 8-bit artifact
    and one codes-only scan per query batch. Measured at sf0.001:
    recall@5 vs the exact-L2 baseline = 1.0 — 8 bits/dimension loses no
    top-5 ordering on this corpus, vs PQ's 0.17@3 at 16× — which is why
    SQ8 is the default first rung before PQ/OPQ compression is worth its
    recall cost. Determinism: (vmin, step)
    are shared literals; the scaled value round6s before the +0.5/floor
    so both engines clamp identical doubles; reconstructed coordinates
    round6 before the distance fold (the rotate_vectors discipline).

    Oracle: the same encode/dequantize/score algebra in SQL over the
    same literal (vmin, step) — codes, reconstruction, and ranking all
    replayed."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample,
        sq8_train,
    )
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    vmin, step = sq8_train(hash_bounded_sample(emb))
    mn = F.array(*[F.lit(x) for x in vmin])
    st = F.array(*[F.lit(x) for x in step])
    v = to_double_array(F.col("embedding"))

    def encode(x, i):
        scaled = F.round(
            (x - F.get(mn, i)) / F.get(st, i) + F.lit(1e-9), 6
        )
        clamped = F.least(
            F.lit(255).cast("long"),
            F.greatest(F.lit(0).cast("long"), F.floor(scaled + F.lit(0.5))),
        )
        return F.when(F.get(st, i) == 0, F.lit(0)).otherwise(
            clamped.cast("int")
        )

    codes = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(v, encode).alias("c"),
    )
    recon = codes.select(
        "neighbor_id",
        F.transform(
            F.col("c"),
            lambda c, i: F.round(
                F.get(mn, i) + c.cast("double") * F.get(st, i) + F.lit(1e-9),
                6,
            ),
        ).alias("__cv"),
    )
    q = emb.filter(F.col("vec_id") < _Q220_NQ).select(
        F.col("vec_id").alias("query_id"), v.alias("__qv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        recon.crossJoin(F.broadcast(q))
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
    ).filter(F.col("rank") <= _Q220_K)


_Q220_ORACLE_TEMPLATE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
params AS (
  SELECT CAST(__SQ_MIN__ AS DOUBLE[]) AS mn, CAST(__SQ_STEP__ AS DOUBLE[]) AS st
),
codes AS (
  SELECT vec_id AS neighbor_id,
         [CASE WHEN st[i] = 0 THEN 0
               ELSE LEAST(255, GREATEST(0, CAST(floor(
                      round((v[i] - mn[i]) / st[i] + 1e-9, 6) + 0.5) AS INT)))
          END FOR i IN range(1, {_DIM} + 1)] AS c
  FROM vecs CROSS JOIN params
),
recon AS (
  SELECT neighbor_id,
         [round(mn[i] + c[i] * st[i] + 1e-9, 6)
          FOR i IN range(1, {_DIM} + 1)] AS cv
  FROM codes CROSS JOIN params
),
scored AS (
  SELECT q.vec_id AS query_id, r.neighbor_id,
         round(list_sum([(q.v[i] - r.cv[i]) * (q.v[i] - r.cv[i])
                         FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS dist
  FROM recon r JOIN vecs q ON q.vec_id < {_Q220_NQ}
                          AND r.neighbor_id <> q.vec_id
)
SELECT query_id, neighbor_id, dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist ASC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_Q220_K}
"""


def _sq8_values(path: str) -> tuple[str, str] | None:
    """(vmin, step) as SQL array literals via the shared sq8_train core
    on the shared hash-bounded sample."""
    try:
        import duckdb
        import numpy as np
    except ImportError:
        return None
    if not os.path.exists(path):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample_py,
        sq8_train,
    )

    try:
        rows = duckdb.sql(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{path}') ORDER BY vec_id"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken import
        return None
    ids = [r[0] for r in rows]
    mat = hash_bounded_sample_py(
        ids, np.array([r[1] for r in rows], dtype=np.float64)
    )
    vmin, step = sq8_train(mat)
    lit = lambda xs: "[{}]".format(", ".join(repr(float(x)) for x in xs))  # noqa: E731
    return lit(vmin), lit(step)


def q220_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q220 oracle: the shared-trainer (vmin, step) literals fed
    into the SQL replay of encode -> dequantize -> rank."""
    vals = _sq8_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if vals is None:
        return None
    mn_lit, st_lit = vals
    return _Q220_ORACLE_TEMPLATE.replace("__SQ_MIN__", mn_lit).replace(
        "__SQ_STEP__", st_lit
    )


Q220_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q223 — IVF-SQ8: coarse cells + 8-bit residual codes (FAISS IVFSQ)
# --------------------------------------------------------------------------

_Q223_CELLS, _Q223_NPROBE, _Q223_NQ, _Q223_K = 16, 4, 8, 3


def q223_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 ANN — the remaining cell of the FAISS index matrix
    (IVF-Flat q56 / PQ q195 / IVF-PQ q205 / OPQ q214 / SQ8 q220 → this
    composite): coarse k-means cells prune the search space, and each
    vector's RESIDUAL is scalar-quantized to 8 bits per dimension —
    8× compression with SQ8's per-dimension fidelity instead of PQ's
    shared-subvector codes, the middle ground deployments pick when
    PQ's 16× costs too much recall (q212 measured that cost at 0.17@3;
    SQ8 measured 1.0@5 in q220; THIS composite measures 0.875@3 at 4/16
    probes vs IVF-PQ's 0.29@3 at 2/16 — the fidelity/probe-width
    trade-off across the matrix, measured not assumed). Search: probe
    the query's n_probe
    nearest cells (the SAME ``ivf_cell_ranks`` ordering the q216 gate
    sweeps), reconstruct candidates' residuals from their codes with
    pure JVM expressions, exact-L2 the query's residual against them.

    Scale shape: encode = one Arrow kernel scan pass (artifacts in the
    closure); the corpus artifact is (cell + 64 bytes) per vector;
    search joins the code table against a BROADCAST (query × n_probe)
    residual frame on the cell id — non-probed cells prune in the join,
    and reconstruction/distance stay JVM-side array expressions.

    Determinism: the cell assignment and residual arithmetic replay
    q205's rounded folds; the code clamp replays q220's
    round6-before-floor discipline; all artifacts are shared-trainer
    literals (``ivfsq_train`` = ivfpq coarse stage + sq8_train on
    residuals, called by both engines)."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample,
        ivf_cell_ranks,
        ivfsq_encode,
        ivfsq_train,
    )
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    coarse, vmin, step = ivfsq_train(
        hash_bounded_sample(emb), cells=_Q223_CELLS
    )
    mn = F.array(*[F.lit(x) for x in vmin])
    st = F.array(*[F.lit(x) for x in step])
    codes = ivfsq_encode(emb, coarse, vmin, step).select(
        F.col("vec_id").alias("neighbor_id"), "cell", "cd"
    )
    recon = codes.select(
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

    q_src = emb.filter(F.col("vec_id") < _Q223_NQ)
    probes = ivf_cell_ranks(q_src, coarse).filter(
        F.col("crank") <= _Q223_NPROBE
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


# The coarse-assignment CTEs replay q205's rounded folds (_Q205_CDIST is
# the shared distance expression); the code clamp replays q220's
# round6-before-floor algebra. Arithmetic expressions are shared
# constants even though the CTE scaffolding is spelled once more here.
_Q223_ORACLE_TEMPLATE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
coarse(cell, c) AS (VALUES __COARSE__),
params AS (
  SELECT CAST(__SQ_MIN__ AS DOUBLE[]) AS mn, CAST(__SQ_STEP__ AS DOUBLE[]) AS st
),
cdist AS MATERIALIZED (
  SELECT vecs.vec_id, coarse.cell, {_Q205_CDIST} AS d
  FROM vecs CROSS JOIN coarse
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d ASC, cell ASC) AS r
    FROM cdist
  ) WHERE r = 1
),
resid AS (
  SELECT a.vec_id, a.cell,
         [vecs.v[i] - coarse.c[i] FOR i IN range(1, {_DIM} + 1)] AS rv
  FROM assigned a
  JOIN vecs ON vecs.vec_id = a.vec_id
  JOIN coarse ON coarse.cell = a.cell
),
recon AS (
  -- code = 0 on zero-step dims; the reconstruction round6 applies
  -- unconditionally (the Spark transform has no branch there).
  SELECT vec_id AS neighbor_id, cell,
         [round(mn[i]
                + (CASE WHEN st[i] = 0 THEN 0
                        ELSE LEAST(255, GREATEST(0, CAST(floor(
                               round((rv[i] - mn[i]) / st[i] + 1e-9, 6)
                               + 0.5) AS INT)))
                   END) * st[i]
                + 1e-9, 6)
          FOR i IN range(1, {_DIM} + 1)] AS hv
  FROM resid CROSS JOIN params
),
probe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d ASC, cell ASC) AS r
    FROM cdist WHERE __QFILTER__
  ) WHERE r <= {_Q223_NPROBE}
),
qres AS (
  SELECT p.query_id, p.cell,
         [vecs.v[i] - coarse.c[i] FOR i IN range(1, {_DIM} + 1)] AS qr
  FROM probe p
  JOIN vecs ON vecs.vec_id = p.query_id
  JOIN coarse ON coarse.cell = p.cell
),
scored AS (
  SELECT q.query_id, r.neighbor_id,
         round(list_sum([(q.qr[i] - r.hv[i]) * (q.qr[i] - r.hv[i])
                         FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS dist
  FROM recon r
  JOIN qres q ON q.cell = r.cell AND r.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist ASC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_Q223_K}
"""


def _ivfsq_values(path: str, id_filter=None) -> tuple[str, str, str] | None:
    """(coarse VALUES, vmin literal, step literal) via the shared
    ivfsq_train core on the shared hash-bounded sample. ``id_filter``
    restricts the training corpus BEFORE the cap (q227 trains on the
    history shard only — the _pq_codebook_values discipline)."""
    try:
        import duckdb
        import numpy as np
    except ImportError:
        return None
    if not os.path.exists(path):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample_py,
        ivfsq_train,
    )

    try:
        rows = duckdb.sql(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{path}') ORDER BY vec_id"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken import
        return None
    if id_filter is not None:
        rows = [r for r in rows if id_filter(r[0])]
    ids = [r[0] for r in rows]
    mat = hash_bounded_sample_py(
        ids, np.array([r[1] for r in rows], dtype=np.float64)
    )
    coarse, vmin, step = ivfsq_train(mat, cells=_Q223_CELLS)
    coarse_vals = ", ".join(
        "({}, [{}])".format(c, ", ".join(repr(float(x)) for x in coarse[c]))
        for c in range(_Q223_CELLS)
    )
    lit = lambda xs: "[{}]".format(", ".join(repr(float(x)) for x in xs))  # noqa: E731
    return coarse_vals, lit(vmin), lit(step)


def q223_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q223 oracle: shared-trainer (coarse, vmin, step)
    literals fed into the SQL replay of assign → residual-SQ8 encode →
    reconstruct → probe → exact-L2 rank."""
    vals = _ivfsq_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if vals is None:
        return None
    coarse_vals, mn_lit, st_lit = vals
    return (
        _Q223_ORACLE_TEMPLATE.replace("__COARSE__", coarse_vals)
        .replace("__SQ_MIN__", mn_lit)
        .replace("__SQ_STEP__", st_lit)
        .replace("__QFILTER__", f"vec_id < {_Q223_NQ}")
    )


Q223_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q224 — binary (sign) quantization: 1 bit/dim, Hamming screen, exact rerank
# --------------------------------------------------------------------------

_Q224_NQ, _Q224_R, _Q224_K = 8, 30, 3


def q224_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization ANN — the EXTREME end of the compression
    ladder the inventory now spans end to end (float64 → SQ8 8× q220 →
    PQ/OPQ 16× q195/q214 → THIS, 64×): each dimension keeps ONE bit,
    sign(v_i − mean_i) against per-dimension sample means, so a vector
    is 4 × 16-bit bands (q208's dHash packing applied to embeddings —
    the same xor/bit_count verify algebra, here as the SCREEN).
    Serving is q213's screen→rerank shape with Hamming as the screen:
    top-R by Hamming distance over the 8-byte codes, exact squared-L2
    rerank of the R survivors, top-k. Hamming approximates angle (the
    SRP-LSH estimator with learned thresholds), so the rerank is what
    restores metric fidelity — measured at sf0.001: recall@3 vs exact
    L2 = 0.792 at R=30 from 64× compression (between PQ's 0.58 reranked
    at 16× and SQ8's 1.0 at 8× — the ladder priced end to end).

    Everything is JVM expressions (bit packing via shiftleft/sum fold,
    screen via xor+bit_count, rerank via the shared zip_with fold) —
    no Python worker; the corpus-sized pass touches 4 smallints per
    vector. Oracle: the same pack/xor/popcount/rerank algebra in SQL
    over the same literal means."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample,
    )
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    mat = hash_bounded_sample(emb)
    means = [float(x) for x in mat.mean(axis=0)]
    mu = F.array(*[F.lit(x) for x in means])
    v = to_double_array(F.col("embedding"))

    def band(b):
        # 16 sign bits packed little-endian within the band (bit j of
        # band b compares dimension b*16+j) — q208's layout.
        return sum(
            (
                F.when(
                    F.get(v, b * 16 + j) >= F.get(mu, b * 16 + j), F.lit(1)
                )
                .otherwise(F.lit(0))
                .cast("long")
                * F.lit(1 << j).cast("long")
            )
            for j in range(16)
        ).alias(f"band{b}")

    sigs = emb.select(F.col("vec_id"), *[band(b) for b in range(4)])
    qs = sigs.filter(F.col("vec_id") < _Q224_NQ).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"band{b}").alias(f"q{b}") for b in range(4)],
    )
    cs = sigs.select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(f"band{b}").alias(f"c{b}") for b in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"q{b}").bitwiseXOR(F.col(f"c{b}")))
        for b in range(4)
    ).cast("long")
    screened = (
        cs.crossJoin(F.broadcast(qs))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", hamming.alias("hamming"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    cand = (
        screened.withColumn("hr", F.row_number().over(w))
        .filter(F.col("hr") <= _Q224_R)
        .select("query_id", "neighbor_id")
    )

    qv = emb.filter(F.col("vec_id") < _Q224_NQ).select(
        F.col("vec_id").alias("query_id"), v.alias("__qv")
    )
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), v.alias("__cv"))
    d2 = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rer = cv.join(
        F.broadcast(cand.join(F.broadcast(qv), on="query_id")),
        on="neighbor_id",
    ).select(
        "query_id", "neighbor_id",
        F.round(d2 + F.lit(1e-9), 6).alias("dist"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id")
    )
    return rer.withColumn(
        "rank", F.row_number().over(w2).cast("long")
    ).filter(F.col("rank") <= _Q224_K)


_Q224_SIGN_BANDS = ",\n         ".join(
    "CAST(list_sum([(CASE WHEN v[{b} * 16 + j + 1] >= mu[{b} * 16 + j + 1]"
    " THEN 1 ELSE 0 END) * (1 << j) FOR j IN range(0, 16)]) AS BIGINT)"
    " AS band{b}".format(b=b)
    for b in range(4)
)
_Q224_HAMMING = " + ".join(
    f"bit_count(xor(q.q{b}, c.c{b}))" for b in range(4)
)

_Q224_ORACLE_TEMPLATE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
params AS (SELECT CAST(__MU__ AS DOUBLE[]) AS mu),
sigs AS (
  SELECT vec_id,
         {_Q224_SIGN_BANDS}
  FROM vecs CROSS JOIN params
),
qs AS (
  SELECT vec_id AS query_id, band0 AS q0, band1 AS q1,
         band2 AS q2, band3 AS q3
  FROM sigs WHERE vec_id < {_Q224_NQ}
),
cs AS (
  SELECT vec_id AS neighbor_id, band0 AS c0, band1 AS c1,
         band2 AS c2, band3 AS c3
  FROM sigs
),
screened AS (
  SELECT q.query_id, c.neighbor_id,
         CAST({_Q224_HAMMING} AS BIGINT) AS hamming
  FROM cs c CROSS JOIN qs q
  WHERE c.neighbor_id <> q.query_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY hamming ASC, neighbor_id) AS hr
    FROM screened
  ) WHERE hr <= {_Q224_R}
),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_sum([(q.v[i] - c.v[i]) * (q.v[i] - c.v[i])
                         FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS dist
  FROM cand s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs c ON c.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist ASC, neighbor_id) AS rank
  FROM rer
) WHERE rank <= {_Q224_K}
"""


def q224_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q224 oracle: per-dimension sample means literalized, the
    pack/xor/popcount screen and the exact rerank replayed in SQL."""
    try:
        import duckdb
        import numpy as np
    except ImportError:
        return None
    path = os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    if not os.path.exists(path):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample_py,
    )

    try:
        rows = duckdb.sql(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{path}') ORDER BY vec_id"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken import
        return None
    mat = hash_bounded_sample_py(
        [r[0] for r in rows], np.array([r[1] for r in rows], dtype=np.float64)
    )
    mu = "[{}]".format(
        ", ".join(repr(float(x)) for x in mat.mean(axis=0))
    )
    return _Q224_ORACLE_TEMPLATE.replace("__MU__", mu)


Q224_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q227 — incremental IVF-SQ8 index: cell-PARTITIONED codes, pruned probes
# --------------------------------------------------------------------------

_Q227_NPROBE = _Q223_NPROBE  # shared probe width — the oracle template reuses it


def _ivfsq_index(
    spark: SparkSession, sf_dir: str, hist: DataFrame, prefix: str
):
    """The IVF-SQ8 index generation — one build shared by q227
    (``ivfsq``) and q259's delete lifecycle (``sqdel``), each on its own
    table family: ``hist``'s hash-bounded sample trains the frozen
    (coarse, vmin, step) ONCE, its residual-SQ8 codes persist in
    ``<prefix>codes`` directory-PARTITIONED BY CELL, and the params
    (≤ n_cells + 2 rows) in ``<prefix>params``, written LAST as the
    commit gate (the q197 commit-order lesson). Returns (coarse, vmin,
    step, hist_codes, codes_table | None); the table is None when the
    catalog is unavailable (plain frames)."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import (
        load_params,
        save_params,
        table_generation,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample,
        ivfsq_encode,
        ivfsq_train,
    )

    def codes(coarse, vmin, step) -> DataFrame:
        return ivfsq_encode(hist, coarse, vmin, step).select(
            F.col("vec_id").alias("neighbor_id"), "cell", "cd"
        )

    def train():
        return ivfsq_train(hash_bounded_sample(hist), cells=_Q223_CELLS)

    def build(names: list[str]) -> None:
        coarse, vmin, step = train()
        codes(coarse, vmin, step).write.mode("overwrite").partitionBy(
            "cell"
        ).saveAsTable(names[0])
        save_params(spark, names[1], coarse=coarse, vmin=[vmin], step=[step])

    names = table_generation(
        spark, sf_dir, (f"{prefix}codes", f"{prefix}params"), build
    )
    if names is None:
        coarse, vmin, step = train()
        return coarse, vmin, step, codes(coarse, vmin, step), None
    p = load_params(spark, names[1])
    return (
        p["coarse"], p["vmin"][0], p["step"][0], spark.table(names[0]),
        names[0],
    )


def q227_incremental_ivfsq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental lifecycle applied to the IVF-SQ8 composite —
    completing the quantizer coverage of the cross-run index family
    (q193 LSH bands / q197 PQ / q217 OPQ / q201 postings / q210 pHash /
    THIS) — with a layout upgrade the cell structure makes possible:
    the history code table is directory-PARTITIONED BY CELL, the literal
    file-level inverted list q205's scale notes promise. A steady-state
    probe first resolves the query set's probed cells (a parameter-sized
    collect, ≤ n_cells values — the q216 gate-collect class) and filters
    ``cell IN (...)`` — the scan then reads ONLY matching partition
    directories (``PartitionFilters`` in the plan,
    tests/test_bucketing.py::test_ivfsq_probe_partition_pruned), never
    the rest of the corpus. (Bucketing was rejected for this table: with
    a broadcast probe side no operator needs the bucket distribution, so
    DisableUnnecessaryBucketedScan demotes the scan and bucket pruning
    silently dies — the q207 lesson; directory partitioning prunes
    regardless of the join strategy.)

    Frozen artifacts: (coarse, vmin, step) persist as one params table
    (≤ n_cells + 2 rows), written LAST as the generation commit gate
    (the q197 commit-order lesson). Steady state = two bounded collects
    + one Arrow encode pass over the NEW shard only; history raw vectors
    are never re-read and the trainer never re-runs
    (tests/test_pq_incremental.py::test_ivfsq_steady_state_never_retrains).

    Oracle: ONE-PASS batch assign → residual-SQ8 encode → reconstruct →
    probe → exact-L2 rank of the full corpus under the SAME
    history-trained literals (q223's factored template at the q197
    query filter) — incremental ≡ batch."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ivf_cell_ranks,
        ivfsq_encode,
    )
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    coarse, vmin, step, hist_codes, _ = _ivfsq_index(
        spark, sf_dir, emb.filter(~is_new), "ivfsq"
    )

    new_codes = ivfsq_encode(emb.filter(is_new), coarse, vmin, step).select(
        F.col("vec_id").alias("neighbor_id"), "cell", "cd"
    )
    q_src = emb.filter(is_new & (F.col("vec_id") < _Q197_QBOUND))
    probes = ivf_cell_ranks(q_src, coarse).filter(
        F.col("crank") <= _Q227_NPROBE
    )
    # Parameter-sized collect (≤ n_cells values): the probed-cell set,
    # pushed into the partition-pruned scan as cell IN (...).
    probed_cells = sorted(
        {r["cell"] for r in probes.select("cell").distinct().collect()}
    )
    # No queries at this SF → no probed cells; Column.isin() with zero
    # args raises, so short-circuit to an always-false predicate (the
    # result is correctly empty) instead of unpacking an empty list
    # (round-10 ADVICE).
    in_probed = (
        F.col("cell").isin(*probed_cells) if probed_cells else F.lit(False)
    )
    index = hist_codes.filter(in_probed).unionByName(
        new_codes.filter(in_probed)
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


def q227_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q227 oracle: (coarse, vmin, step) trained on the HISTORY
    shard via the shared ivfsq_train replay, q223's factored template at
    the q197 query filter (n_probe raised to q227's width) —
    incremental ≡ batch."""
    vals = _ivfsq_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        id_filter=lambda i: i % 10 != 7,
    )
    if vals is None:
        return None
    coarse_vals, mn_lit, st_lit = vals
    return (
        _Q223_ORACLE_TEMPLATE.replace("__COARSE__", coarse_vals)
        .replace("__SQ_MIN__", mn_lit)
        .replace("__SQ_STEP__", st_lit)
        .replace("__QFILTER__", f"vec_id % 10 = 7 AND vec_id < {_Q197_QBOUND}")
    )


Q227_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


Q200_ORACLE = f"""
WITH vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS negative_id,
         c.label AS neg_label, {_cos('q.v', 'c.v')} AS cosine
  FROM vecs q JOIN vecs c ON c.label <> q.label
  WHERE q.vec_id < {_Q200_NQ}
)
SELECT query_id, negative_id, neg_label, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, negative_id) AS rank
  FROM scored
) WHERE rank <= {_Q200_K}
"""


# --------------------------------------------------------------------------
# q196 — semantic dedup (SemDeDup): cluster, then dedup within clusters
# --------------------------------------------------------------------------

_Q196_TAU = 0.4
_Q196_CELLS = 16


def q196_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023) — the corpus-curation form of
    embedding dedup actually used on LLM training data: coarse-cluster
    every embedding (q56's deterministic spherical k-means, 1-probe
    assignment), then look for near-duplicates ONLY within a cluster,
    keeping the lowest-id member of each duplicate relation. Output: one
    row per REMOVED vector with its kept representative (the minimum
    lower id whose within-cell cosine ≥ τ), the shared cell, and that
    pair's cosine.

    This composes the two halves the inventory already proves separately
    — q56's quantizer and q40's exact cosine verify — into the pipeline
    whose point is the BOUND: the quadratic stage runs per cell
    (Σ|cell|² work, ~n²/k for balanced cells) instead of n² corpus-wide,
    and the cells are embarrassingly parallel across executors.

    Determinism: centroids replayed bit-for-bit by the oracle (q56's
    literalization — the SAME k=16/2-iter training, so the oracle_fn
    reuses _ivf_centroid_values verbatim); cosines round6 before the
    threshold; the representative is a lexicographic struct-min
    (row_number twin in SQL). Scale: assignment is scan-stage
    (mapInPandas over centroid literals); the pair join is an equi-join
    on cell; survivor choice is one grouped min — no global stage
    anywhere."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        dot_product,
        l2_norm,
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ivf_assign,
        ivf_train_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    centroids = ivf_train_centroids(emb, k=_Q196_CELLS)
    assigned = ivf_assign(emb, centroids, n_probe=1).select("vec_id", "cell")

    v = to_double_array(F.col("embedding"))
    vecs = emb.select(
        F.col("vec_id"), v.alias("__v"), l2_norm(v).alias("__n")
    ).join(assigned, on="vec_id")
    a = vecs.select(
        F.col("vec_id").alias("kept_id"),
        F.col("cell"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b_ = vecs.select(
        F.col("vec_id").alias("rm_id"),
        F.col("cell"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    cos = dot_product(F.col("__va"), F.col("__vb")) / F.nullif(
        F.col("__na") * F.col("__nb"), F.lit(0.0)
    )
    pairs = (
        a.join(b_, on="cell")
        .filter(F.col("kept_id") < F.col("rm_id"))
        .select(
            "cell",
            "kept_id",
            "rm_id",
            F.round(cos + F.lit(1e-9), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= _Q196_TAU)
    )
    # Canonical representative: the MINIMUM qualifying lower id (struct
    # min is lexicographic on field order, so cosine rides along).
    return (
        pairs.groupBy("rm_id", "cell")
        .agg(F.min(F.struct("kept_id", "cosine")).alias("k"))
        .select(
            F.col("rm_id").alias("vec_id"),
            F.col("k.kept_id").alias("kept_id"),
            "cell",
            F.col("k.cosine").alias("cosine"),
        )
    )


_Q196_ORACLE_TEMPLATE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, v,
         sqrt({_DOT.format(a='v', b='v', dim=_DIM)}) AS nrm
  FROM vecs
),
cents(cell, c) AS (VALUES __IVF_VALUES__),
sims AS (
  -- round6 BEFORE the argmax: ivf_assign's kernel rounds its BLAS
  -- matmul the same way, so cell membership can't flip on a ULP.
  SELECT u.vec_id, ct.cell,
         round(list_sum([u.v[i] / (CASE WHEN u.nrm = 0 THEN 1 ELSE u.nrm END) * ct.c[i]
                   FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS sim
  FROM unit u CROSS JOIN cents ct
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r
    FROM sims
  ) WHERE r = 1
),
pairs AS (
  SELECT pa.cell, pa.vec_id AS kept_id, pb.vec_id AS rm_id,
         {_cos('av.v', 'bv.v')} AS cosine
  FROM assigned pa
  JOIN assigned pb ON pa.cell = pb.cell AND pa.vec_id < pb.vec_id
  JOIN vecs av ON av.vec_id = pa.vec_id
  JOIN vecs bv ON bv.vec_id = pb.vec_id
),
qual AS (SELECT * FROM pairs WHERE cosine >= {_Q196_TAU})
SELECT rm_id AS vec_id, kept_id, cell, cosine FROM (
  SELECT rm_id, kept_id, cell, cosine,
         row_number() OVER (PARTITION BY rm_id
                            ORDER BY kept_id ASC) AS r
  FROM qual
) WHERE r = 1
"""


def q196_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q196 oracle: reuses q56's trained-centroid literalization
    verbatim (identical k/iteration training)."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        k=_Q196_CELLS,
    )
    return None if values is None else _Q196_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


Q196_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q194 — hybrid retrieval: BM25 (inverted index) + vector rerank, RRF-fused
# --------------------------------------------------------------------------

_Q194_TERMS = ("vector", "stream", "merge")
_Q194_QVEC = 0  # query embedding = vec_id 0 (vec_id ≡ doc_id in testdata)
_Q194_CAND = 50  # per-list candidate depth
_Q194_RRF_K = 60  # standard reciprocal-rank-fusion constant
_Q194_TOPK = 10


def q194_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + vector retrieval with reciprocal-rank fusion — the
    RAG-pipeline composition of q64 (lexical stats) and q38 (exact
    cosine top-k). Lexical side: Okapi BM25 (k1=1.2, b=0.75) scored ONLY
    over documents containing ≥1 query term (the inverted-index
    semi-join: explode → filter term ∈ query → tf), ranked, truncated to
    the top-50 candidates via orderBy+limit (distributed partial top-k —
    TakeOrderedAndProject, never a corpus-wide single-partition window;
    the row_number that assigns rank numbers runs AFTER the limit, over
    ≤50 rows). Vector side: exact cosine top-50 for the query embedding
    (operators/similarity.py:brute_force_topk — query side broadcast,
    corpus streamed). Fusion: RRF score Σ 1/(60 + rank) over the two
    candidate lists FULL-OUTER-joined on doc_id, so a document ranked by
    either list can win; top-10 fused.

    Cross-engine determinism: per-term BM25 scores and the per-doc sum
    round6 on both engines (q64's ln-parity convention); ranks are then
    integers, so the RRF arithmetic is exact and identical.

    Scale shape: the rerank is candidate-bounded (2×50 rows) — no
    corpus-sized broadcast, no all-pairs stage. At 100 TB the vector
    side swaps brute-force for q56's IVF probe and the lexical side
    reads a persisted postings table (q152), but the fusion plan — two
    bounded top-k lists, one tiny outer join — is unchanged."""
    emb = table(spark, sf_dir, "embeddings")
    return _hybrid_fuse(_q194_lexical(spark, sf_dir), emb)


def _q194_lexical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q194's lexical feeder — per-doc BM25 scores for the query terms,
    recomputed from raw text — shared by q194 and q228's SLA gate so the
    measured candidate lists are exactly the lists q194 serves."""
    from wetsa_cams_solrad_timeseries_spark.functions.tokenize import norm_words

    docs = table(spark, sf_dir, "documents")
    words = docs.select(F.col("doc_id"), norm_words("text").alias("ws"))
    dl = words.select("doc_id", F.size("ws").alias("dl"))
    # Corpus stats stay lazy 1-row aggregates cross-joined in (broadcast
    # of a single row) — the operators/text.py:tfidf convention.
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("__avgdl"),
        F.count(F.lit(1)).cast("double").alias("__n"),
    )
    tf = (
        words.select("doc_id", F.explode("ws").alias("term"))
        .filter(F.col("term").isin(*_Q194_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _bm25_scores(tf.join(dl, on="doc_id"), stats)


def _bm25_scores(tfdl: DataFrame, stats: DataFrame) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) per-document scores from query-term
    posting rows ``(doc_id, term, tf, dl)`` plus a 1-row ``(__avgdl,
    __n)`` corpus-stats frame — the scoring spelling shared by q194
    (postings recomputed from raw text) and q207 (postings read from the
    persisted index). ``df`` per term comes from the posting rows
    themselves (count of docs containing the term), so the index and the
    recompute score identically by construction."""
    dfreq = tfdl.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1
        + (F.col("__n") - F.col("df") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("__avgdl")
    )
    scored = (
        tfdl.join(maybe_broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                idf * (F.col("tf") * F.lit(2.2)) / denom + F.lit(1e-9), 6
            ).alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("s") + F.lit(1e-9), 6).alias("bm25")
    )


def _hybrid_fuse(bm: DataFrame, emb: DataFrame) -> DataFrame:
    """The fusion tail shared by q194 (BM25 recomputed from raw text) and
    q207 (BM25 served from the persisted postings index) — ONE spelling
    so the two can never drift from the oracle they both answer to:
    distributed orderBy+limit(50) lexical top-k (TakeOrderedAndProject,
    the rank window then runs over ≤50 rows), exact cosine top-50 for
    the query embedding, RRF over a 2×50-row full outer join, top-10."""
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        brute_force_topk,
    )

    bm_top = bm.orderBy(F.desc("bm25"), "doc_id").limit(_Q194_CAND)
    # Global window AFTER the limit: ≤ _Q194_CAND rows by construction.
    bm_ranked = bm_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .cast("long")
        .alias("bm25_rank"),
    )
    vec_ranked = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == _Q194_QVEC), k=_Q194_CAND
    ).select(F.col("neighbor_id").alias("doc_id"),
             F.col("rank").alias("vec_rank"))

    rrf = F.round(
        F.coalesce(1.0 / (F.lit(_Q194_RRF_K) + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(_Q194_RRF_K) + F.col("vec_rank")), F.lit(0.0))
        + F.lit(1e-9),
        6,
    )
    return (
        bm_ranked.join(vec_ranked, on="doc_id", how="full")
        .select("doc_id", "bm25_rank", "vec_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(_Q194_TOPK)
    )


_Q194_TERMS_SQL = ", ".join(f"'{t}'" for t in _Q194_TERMS)


def _q194_rank_ctes(bm_depth: int, vec_depth: int) -> str:
    """The hybrid-retrieval rank CTE chain (BM25 lexical ranking +
    exact-cosine vector ranking, each truncated at its depth) — ONE
    spelling shared by the q194/q207 oracle (both depths = _Q194_CAND)
    and q228's SLA oracle (both depths = the ladder max, the truth
    definition), so the gate and the serve replays can never drift."""
    return f"""w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
dl AS (SELECT doc_id, len(ws) AS dl FROM w),
stats AS (
  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         CAST(count(*) AS DOUBLE) AS n
  FROM dl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM w)
  WHERE term IN ({_Q194_TERMS_SQL})
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         round(ln(1 + (n - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
               * (tf * CAST(2.2 AS DOUBLE))
               / (tf + CAST(1.2 AS DOUBLE)
                       * (0.25 + CAST(0.75 AS DOUBLE) * dl.dl / avgdl))
               + 1e-9, 6) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
bm AS (
  SELECT doc_id, round(sum(s) + 1e-9, 6) AS bm25 FROM scored GROUP BY 1
),
bm_ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
  FROM bm QUALIFY bm25_rank <= {bm_depth}
),
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
vscored AS (
  SELECT c.vec_id AS doc_id, {_cos('q.v', 'c.v')} AS cosine
  FROM vecs c CROSS JOIN (SELECT v FROM vecs WHERE vec_id = {_Q194_QVEC}) q
  WHERE c.vec_id <> {_Q194_QVEC}
),
vec_ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id) AS vec_rank
  FROM vscored QUALIFY vec_rank <= {vec_depth}
)"""


# The RRF term: ranks are small integers, so the double division and the
# +1e-9 rounding are bit-identical across DuckDB, the JVM, and the
# Python picker (fused_topk_from_ranks).
_Q194_RRF_SQL = (
    f"round(coalesce(1.0 / ({_Q194_RRF_K} + CAST(bm25_rank AS DOUBLE)), 0)"
    f" + coalesce(1.0 / ({_Q194_RRF_K} + CAST(vec_rank AS DOUBLE)), 0)"
    " + 1e-9, 6)"
)

Q194_ORACLE = f"""
WITH {_q194_rank_ctes(_Q194_CAND, _Q194_CAND)}
SELECT doc_id,
       bm25_rank,
       vec_rank,
       {_Q194_RRF_SQL} AS rrf
FROM bm_ranked FULL JOIN vec_ranked USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT {_Q194_TOPK}
"""


# --------------------------------------------------------------------------
# q207 — hybrid retrieval SERVED from the persisted postings index
# --------------------------------------------------------------------------

_Q207_BUCKETS = 16


def q207_hybrid_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q194's hybrid retrieval with its lexical side served FROM the
    persisted inverted index instead of re-tokenizing the corpus per
    query — the capstone composition of the index-maintenance trio: the
    FULL postings table ``(term, doc_id, tf, dl)`` (document length
    denormalized onto each posting, the Lucene norm trick — scoring
    needs no doc-length join) is written ONCE as a managed table
    bucketed+sorted on ``term``, beside a 1-row corpus-stats table
    (``__avgdl``, ``__n``). Serving then probes the index with the query
    terms: the ``term IN (...)`` filter prunes to ≤|terms| of the 16
    buckets (the plan shows ``SelectedBucketsCount`` — locked by
    tests/test_bucketing.py::test_hybrid_serve_reads_only_the_index,
    which also asserts the serve plan never scans the documents table),
    per-term ``df`` comes from the probed posting rows themselves, and
    the BM25 scoring + RRF fusion are the exact q194 spellings
    (_bm25_scores/_hybrid_fuse — one implementation, two feeders).

    Oracle: Q194's full-recompute SQL verbatim — index ≡ recompute is
    q201's incremental-view invariance, here proven for the SERVING
    path, not just the stats table.

    Scale shape: at 100 TB the per-query lexical cost is a bucket-pruned
    ordered scan of the probed terms' posting lists plus a
    candidate-sized aggregate — the corpus is never re-tokenized and
    never fully scanned; appends ride the bucketed layout exactly like
    q201's stats merge."""
    emb = table(spark, sf_dir, "embeddings")
    post, stats = _q207_postings(spark, sf_dir)
    probed = post.filter(F.col("term").isin(*_Q194_TERMS))
    return _hybrid_fuse(_bm25_scores(probed, stats), emb)


def _q207_postings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """q207's persisted lexical index — the bucketed+sorted full
    postings table ``(term, doc_id, tf, dl)`` and its 1-row corpus-stats
    gate table — built once per process per SF, then read from the
    catalog. Shared by q207 (fixed-depth serving) and q233 (SLA-derived
    depths), so both serve from the SAME index generation."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import table_generation
    from wetsa_cams_solrad_timeseries_spark.functions.tokenize import norm_words
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import write_bucketed

    docs = table(spark, sf_dir, "documents")

    def build() -> tuple[DataFrame, DataFrame]:
        words = docs.select(F.col("doc_id"), norm_words("text").alias("ws"))
        dl = words.select("doc_id", F.size("ws").alias("dl"))
        postings = (
            words.select("doc_id", F.explode("ws").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .join(dl, on="doc_id")
        )
        stats = dl.agg(
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("__avgdl"),
            F.count(F.lit(1)).cast("double").alias("__n"),
        )
        return postings, stats

    def write(names: list[str]) -> None:
        postings, stats = build()
        # Postings FIRST, the 1-row stats gate table LAST, so the gate
        # implies a complete generation (the q197 commit-order lesson).
        write_bucketed(
            postings, names[0], "term",
            n_buckets=_Q207_BUCKETS, sort_col="term",
        )
        stats.write.mode("overwrite").saveAsTable(names[1])

    names = table_generation(spark, sf_dir, ("postfull", "poststats"), write)
    if names is None:
        return build()
    return spark.table(names[0]), spark.table(names[1])


# --------------------------------------------------------------------------
# q228 — hybrid-retrieval recall SLA: gate-derived candidate depths
# --------------------------------------------------------------------------

_Q228_LADDER = (5, 10, 20, 50, 100, 200)
_Q228_DMAX = max(_Q228_LADDER)
_Q228_TARGET = 0.9


def q228_hybrid_retrieval_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q216's gate→derive→serve discipline applied to hybrid retrieval
    (q194/q207): instead of the hand-picked 2×50 candidate depths, both
    FULL rankings are measured ONCE at the ladder maximum, the cheapest
    ``(bm_depth, vec_depth)`` ladder pair whose fused top-10 recalls ≥
    0.9 of the truth list is DERIVED (``pick_hybrid_depths`` — exact
    rational recall comparison, round6-double fusion identical to
    serving), and serving then runs at exactly those depths. Output row:
    (bm_depth, vec_depth, rrf_k, target, n_truth, recall, met) — the
    go/no-go record a retrieval deploy gates on.

    Truth definition: the RRF fusion at depth ``_Q228_DMAX`` on both
    sides. A doc outside BOTH top-200 lists scores < 2/(60+200) ≈
    0.0077, below a single rank-1 hit's 1/61 ≈ 0.0164 — so the cap only
    widens, never narrows, the plausible-truth set; it is the documented
    measurement boundary (the q216 convention: gates are exact *within
    the declared candidate horizon*).

    Scale shape: both rank measurements are the q194 serve plans at a
    wider cap — distributed orderBy+limit (TakeOrderedAndProject) and
    the broadcast-query brute-force cosine — and the gate collects are
    ladder-bounded (≤ 2·DMAX rows). Serving reuses the SAME checkpointed
    rank frames (rank ≤ d of the DMAX ranking IS the depth-d ranking —
    the prefix property of a total order), so the corpus is scanned once
    per modality. At 100 TB the vector side swaps in q216's tuned IVF
    serve and the lexical side q207's pruned postings probe; the gate
    arithmetic is unchanged.

    Oracle: the factored q194 rank CTEs at DMAX + truth/served fusion at
    the twin-derived literals (``_q228_params_py`` re-derives the depths
    from DuckDB's ranks with the same picker)."""
    return _hybrid_sla(spark, sf_dir, _q194_lexical(spark, sf_dir))


def _hybrid_sla(
    spark: SparkSession, sf_dir: str, bm: DataFrame
) -> DataFrame:
    """The gate→derive→serve tail shared by q228 (BM25 recomputed from
    raw text) and q233 (BM25 served from the persisted postings index) —
    ONE spelling, two feeders, the q194/q207 pairing applied to the SLA
    loop."""
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        brute_force_topk,
        fused_topk_from_ranks,
        pick_hybrid_depths,
    )

    emb = table(spark, sf_dir, "embeddings")

    # Gate measurement: both rankings ONCE at the ladder max. The global
    # window runs over ≤ DMAX rows (post-limit), the q194 pattern.
    bm_full = (
        bm
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_Q228_DMAX)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), "doc_id"))
            .cast("long")
            .alias("bm25_rank"),
        )
        .localCheckpoint(eager=True)
    )
    vec_full = (
        brute_force_topk(
            emb, emb.filter(F.col("vec_id") == _Q194_QVEC), k=_Q228_DMAX
        )
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("vec_rank"),
        )
        .localCheckpoint(eager=True)
    )
    # Ladder-bounded collects (≤ DMAX rows each): the gate inputs.
    bm_ranks = {r["doc_id"]: r["bm25_rank"] for r in bm_full.collect()}
    vec_ranks = {r["doc_id"]: r["vec_rank"] for r in vec_full.collect()}
    db, dv = pick_hybrid_depths(
        bm_ranks, vec_ranks, _Q228_LADDER, _Q228_TARGET,
        _Q194_TOPK, _Q194_RRF_K,
    )
    truth = fused_topk_from_ranks(
        bm_ranks, vec_ranks, _Q228_DMAX, _Q228_DMAX, _Q194_TOPK, _Q194_RRF_K
    )

    # Serving at the derived depths, from the SAME checkpointed rank
    # frames (prefix property — no second corpus pass).
    rrf = F.round(
        F.coalesce(
            1.0 / (F.lit(_Q194_RRF_K) + F.col("bm25_rank")), F.lit(0.0)
        )
        + F.coalesce(
            1.0 / (F.lit(_Q194_RRF_K) + F.col("vec_rank")), F.lit(0.0)
        )
        + F.lit(1e-9),
        6,
    )
    served = (
        bm_full.filter(F.col("bm25_rank") <= db)
        .join(
            vec_full.filter(F.col("vec_rank") <= dv), on="doc_id", how="full"
        )
        .select("doc_id", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(_Q194_TOPK)
    )
    hit = served.filter(
        F.col("doc_id").isin(*truth) if truth else F.lit(False)
    )
    # max(1, |truth|) denominator: an empty corpus yields recall 0 /
    # met false instead of a null-division row (the q227 guard lesson).
    denom = max(len(truth), 1)
    recall = F.round(
        F.count(F.lit(1)).cast("double") / F.lit(denom) + F.lit(1e-9), 6
    )
    return hit.agg(
        F.lit(db).cast("long").alias("bm_depth"),
        F.lit(dv).cast("long").alias("vec_depth"),
        F.lit(_Q194_RRF_K).cast("long").alias("rrf_k"),
        F.lit(float(_Q228_TARGET)).alias("target"),
        F.lit(len(truth)).cast("long").alias("n_truth"),
        recall.alias("recall"),
        (recall >= F.lit(float(_Q228_TARGET))).alias("met"),
    )


def _q228_params_py(docs_path: str, emb_path: str):
    """DuckDB twin of q228's gate derivation: the SAME rank CTEs (depth =
    ladder max) and the SAME picker, so the oracle's (bm_depth,
    vec_depth) literals provably equal the Spark derivation. Returns
    ``(bm_depth, vec_depth, bm_ranks, vec_ranks)`` or None when the
    testdata or DuckDB is unavailable."""
    try:
        import duckdb
    except ImportError:
        return None
    if not (os.path.exists(docs_path) and os.path.exists(emb_path)):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        pick_hybrid_depths,
    )

    try:
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')"
        )
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb_path}')"
        )
        ranks = con.execute(
            f"WITH {_q194_rank_ctes(_Q228_DMAX, _Q228_DMAX)} "
            "SELECT 'b' AS side, doc_id, bm25_rank AS r FROM bm_ranked "
            "UNION ALL "
            "SELECT 'v' AS side, doc_id, vec_rank AS r FROM vec_ranked"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken replay
        return None
    bm_ranks = {d: r for s, d, r in ranks if s == "b"}
    vec_ranks = {d: r for s, d, r in ranks if s == "v"}
    db, dv = pick_hybrid_depths(
        bm_ranks, vec_ranks, _Q228_LADDER, _Q228_TARGET,
        _Q194_TOPK, _Q194_RRF_K,
    )
    return db, dv, bm_ranks, vec_ranks


def q228_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q228 oracle: depths re-derived by the DuckDB twin, then
    the full gate+serve replayed in SQL — rank CTEs at DMAX, truth and
    served fusions, recall arithmetic, met flag."""
    params = _q228_params_py(
        os.path.join(sf_dir.rstrip("/"), "documents.parquet"),
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
    )
    if params is None:
        return None
    db, dv, _, _ = params
    fuse = f"""
  SELECT doc_id FROM (
    SELECT doc_id, {_Q194_RRF_SQL} AS rrf
    FROM sbm FULL JOIN svec USING (doc_id)
  ) ORDER BY rrf DESC, doc_id LIMIT {_Q194_TOPK}"""
    return f"""
WITH {_q194_rank_ctes(_Q228_DMAX, _Q228_DMAX)},
truth AS (
  WITH sbm AS (SELECT * FROM bm_ranked),
       svec AS (SELECT * FROM vec_ranked)
  {fuse}
),
served AS (
  WITH sbm AS (SELECT * FROM bm_ranked WHERE bm25_rank <= {db}),
       svec AS (SELECT * FROM vec_ranked WHERE vec_rank <= {dv})
  {fuse}
)
SELECT CAST({db} AS BIGINT) AS bm_depth,
       CAST({dv} AS BIGINT) AS vec_depth,
       CAST({_Q194_RRF_K} AS BIGINT) AS rrf_k,
       CAST({_Q228_TARGET} AS DOUBLE) AS target,
       CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       round(CAST((SELECT count(*) FROM truth t JOIN served s USING (doc_id))
                  AS DOUBLE)
             / greatest((SELECT count(*) FROM truth), 1) + 1e-9, 6)
         AS recall,
       round(CAST((SELECT count(*) FROM truth t JOIN served s USING (doc_id))
                  AS DOUBLE)
             / greatest((SELECT count(*) FROM truth), 1) + 1e-9, 6)
         >= CAST({_Q228_TARGET} AS DOUBLE) AS met
"""


Q228_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q233 — the SLA loop served FROM the persisted postings index
# --------------------------------------------------------------------------


def q233_hybrid_sla_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q228's gate→derive→serve loop with its lexical side fed FROM the
    persisted bucketed postings index (q207's generation, shared — not
    rebuilt) instead of re-tokenizing the corpus: the full production
    composition the round-10 verdict named — depths DERIVED from
    measured fused recall, serving reading the INDEX. The term-IN probe
    bucket-prunes exactly as q207's serve does; BM25 scoring, ranking,
    the picker, the fusion, and the recall arithmetic are the q228
    spellings verbatim (one ``_hybrid_sla`` tail, two feeders).

    Oracle: q228's replay — valid because index-served BM25 ≡
    recomputed BM25 is q207's proven view-maintenance invariance, so
    the derived depths and the served set cannot differ between the two
    feeders. A drift in the index (stale generation, broken bucket
    pruning) surfaces here as an oracle mismatch on the SLA row itself."""
    post, stats = _q207_postings(spark, sf_dir)
    probed = post.filter(F.col("term").isin(*_Q194_TERMS))
    return _hybrid_sla(spark, sf_dir, _bm25_scores(probed, stats))


# Oracle: q228's recompute replay VERBATIM (index ≡ recompute) —
# attached below as oracle_fn=q228_oracle_for.
Q233_ORACLE = None


# --------------------------------------------------------------------------
# q230 — semantic contamination screen (the embedding-space twin of q104)
# --------------------------------------------------------------------------

_Q230_EVAL_MOD = 97  # vec_id % 97 == 0 plays the held-out benchmark set
_Q230_NPROBE = 4  # q56's serving probe width (4 of 16 cells)
_Q230_TAU = 0.3  # cosine flag threshold


def q230_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic train/eval contamination screen — the embedding-space
    twin of q104's n-gram screen: q104 catches verbatim/near-verbatim
    leakage, this catches PARAPHRASED leakage the lexical shingles miss.
    The held-out set's vectors (vec_id % 97 == 0, q104's stand-in
    convention) probe the IVF index — eval queries fan out to their
    n_probe=4 nearest coarse cells, train vectors live in their single
    assigned cell (the q56 serving shape), exact cosine runs ONLY on the
    cell-mate candidates, and any train doc scoring ≥ τ against any eval
    vector is flagged. Output mirrors q104's audit: per source, doc
    count, flagged count, flagged fraction.

    Scale shape: the screen is index-served, not all-pairs — candidates
    are Σ|probed cells| not |eval|·|train|; the eval side is fixed-size
    (benchmarks do not grow with the corpus) so its vectors broadcast at
    any scale; the train side is scanned once for assignment and once
    for candidate scoring (both scan-stage Arrow kernels / JVM
    expressions). The flagged screen is approximate exactly as ANN
    serving is — q211/q216's gates price the same candidate loss.

    Oracle: the trained-centroid literalization (q56's
    ``_ivf_centroid_values``) + the same assignment/probe/exact-cosine
    CTE shapes with the eval/train split, threshold replayed verbatim."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        dot_product,
        l2_norm,
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ivf_assign,
        ivf_train_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    is_eval = F.col("vec_id") % _Q230_EVAL_MOD == 0

    cents = ivf_train_centroids(emb, k=16, n_iter=2)
    assigned = ivf_assign(emb.filter(~is_eval), cents, n_probe=1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    probes = ivf_assign(
        emb.filter(is_eval), cents, n_probe=_Q230_NPROBE
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        probes.join(assigned, on="cell")
        .select("query_id", "neighbor_id")
        .distinct()
    )

    vd = to_double_array(F.col("embedding"))
    vecs = emb.select("vec_id", vd.alias("__v"), l2_norm(vd).alias("__n"))
    qv = vecs.filter(is_eval).select(
        F.col("vec_id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    cv = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"),
    )
    cos = dot_product(F.col("__qv"), F.col("__cv")) / F.nullif(
        F.col("__qn") * F.col("__cn"), F.lit(0.0)
    )
    flagged = (
        cand.join(F.broadcast(qv), on="query_id")
        .join(cv, on="neighbor_id")
        .filter(F.round(cos + F.lit(1e-9), 6) >= _Q230_TAU)
        .select(F.col("neighbor_id").alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    base = docs.filter(F.col("doc_id") % _Q230_EVAL_MOD != 0).select(
        "doc_id", "source"
    )
    return (
        base.join(flagged, on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("long")).alias(
                "n_flagged"
            ),
            round6(
                F.avg(F.coalesce(F.col("hit"), F.lit(0)).cast("double"))
            ).alias("flagged_frac"),
        )
    )


_Q230_ORACLE_TEMPLATE = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, v,
         sqrt({_DOT.format(a='v', b='v', dim=_DIM)}) AS nrm
  FROM vecs
),
cents(cell, c) AS (VALUES __IVF_VALUES__),
sims AS (
  SELECT u.vec_id, ct.cell,
         round(list_sum([u.v[i] / (CASE WHEN u.nrm = 0 THEN 1 ELSE u.nrm END) * ct.c[i]
                   FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS sim
  FROM unit u CROSS JOIN cents ct
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r
  FROM sims
),
assigned AS (
  SELECT vec_id AS neighbor_id, cell FROM ranked
  WHERE r = 1 AND vec_id % {_Q230_EVAL_MOD} <> 0
),
probes AS (
  SELECT vec_id AS query_id, cell FROM ranked
  WHERE r <= {_Q230_NPROBE} AND vec_id % {_Q230_EVAL_MOD} = 0
),
cand AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
),
flagged AS (
  SELECT DISTINCT c.neighbor_id AS doc_id
  FROM cand c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.neighbor_id
  WHERE {_cos('qv.v', 'nv.v')} >= {_Q230_TAU}
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       round(avg(CASE WHEN f.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END)
             + 1e-9, 6) AS flagged_frac
FROM documents d
LEFT JOIN flagged f ON d.doc_id = f.doc_id
WHERE d.doc_id % {_Q230_EVAL_MOD} <> 0
GROUP BY d.source
"""


def q230_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q230 oracle: centroid literals trained on the checked SF
    (the q56 literalization)."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    return None if values is None else _Q230_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


Q230_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q231 — streaming ingest → servable index, end-to-end parity
# --------------------------------------------------------------------------


def q231_stream_to_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ingest→index→serve loop as ONE declared query: the
    corpus arrives as multi-file micro-batches (q203's replay source,
    maxFilesPerTrigger=1), each batch is FROZEN-codebook PQ-encoded and
    committed as a batchId-gated generation
    (streaming/pq_encode_stream.py — >1 micro-batch asserted), and the
    accumulated code index is then SERVED directly with q195's ADC
    top-k (``adc_topk`` — the literal serving kernel, not a copy).

    The checked invariant is end-to-end: encode is a pure per-row
    function of (vector, books), so the stream-built index must serve
    BYTE-IDENTICAL results to the batch-built one — the oracle is
    q195's batch replay (full-corpus encode + ADC in SQL), which means
    arrival order, batch boundaries, and at-least-once re-execution
    provably cannot change what a query sees. q203 checked the CODES;
    this closes the loop at the SERVING surface, where a drift would
    actually hurt.

    Scale shape: per micro-batch one scan-stage Arrow kernel + one
    append; serving reads the committed generations as a distributed
    scan joined against the broadcast LUT — exactly how a 100 TB
    corpus's index keeps up with ingest while staying servable
    (lifecycle pytest: tests/test_pq_incremental.py)."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        adc_topk,
        pq_query_luts,
        pq_train_codebooks,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.pq_encode_stream import (
        streaming_pq_encode,
    )

    emb = table(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=_Q195_M, ksub=_Q195_KSUB, dim=_DIM)
    split_dir = _split_embeddings(spark, sf_dir)
    codes = streaming_pq_encode(spark, split_dir, books).select(
        F.col("vec_id").alias("neighbor_id"), "sub", "code"
    )
    luts = pq_query_luts(
        emb.filter(F.col("vec_id") < _Q195_NQ), books
    )
    return adc_topk(codes, luts, k=_Q195_K)


# Oracle: q195's batch replay VERBATIM (stream-built serving ≡
# batch-built serving) — attached below as oracle_fn=q195_oracle_for.
Q231_ORACLE = None


# --------------------------------------------------------------------------
# NN-descent family kernels: one build, one bridge rule, one exact round,
# one sampled truth, one recall rung
# --------------------------------------------------------------------------


def _vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, __v double array) — the scoring side of every graph
    build, beam and refine in this family."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )

    v = to_double_array(F.col("embedding"))
    return emb.select("vec_id", v.alias("__v"))


def _medoid_bridges(probes: DataFrame, med: DataFrame) -> DataFrame:
    """The graph family's long-range links: (src, dst) from each probed
    vector to the MEDOID of every non-nearest probed cell (probe_rank ≥
    1), never to itself. ``med`` is the (cell, medoid) hub table, one
    row per cell, so it broadcasts. Callers that wire a layer or a
    repaired cell restrict membership on ``probes`` before the call (a
    semi-join or a cell filter); the optimizer pushes the rank filter
    below it, so the plan is the one the inline copies had."""
    return (
        probes.filter(F.col("probe_rank") >= 1)
        .join(F.broadcast(med), on="cell")
        .filter(F.col("vec_id") != F.col("medoid"))
        .select(F.col("vec_id").alias("src"), F.col("medoid").alias("dst"))
    )


def _sym_edges(directed: DataFrame) -> DataFrame:
    """Both directions of a directed (src, dst) list, deduplicated — the
    graph a beam hop or a descent round reads. Not checkpointed here:
    every caller reads the result more than once (once per hop, or by
    the expansion's two sides), so each checkpoints it where built."""
    return directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _two_hop(through: DataFrame) -> DataFrame:
    """(src, dst) pairs reachable in exactly 2 hops through ``through``
    (never self)."""
    return (
        through.select("src", F.col("dst").alias("__mid"))
        .join(
            through.select(F.col("src").alias("__mid"), "dst"), on="__mid"
        )
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def _refine_topm(va: DataFrame, cand: DataFrame, m: int) -> DataFrame:
    """Exact round6-L2 verify on the candidate pairs ONLY + per-src
    top-m with the (d, dst) tie-break — the refine step of every descent
    variant (exact, sampled, capped). ``va`` is the :func:`_vectors`
    frame; a caller that scores several candidate sets checkpoints it
    once and passes it to each. Returns the DIRECTED kept list (src,
    dst)."""
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        l2sq_cols,
    )

    scored = (
        cand.join(
            va.select(F.col("vec_id").alias("src"), F.col("__v").alias("__sv")),
            on="src",
        )
        .join(
            va.select(F.col("vec_id").alias("dst"), F.col("__v").alias("__dv")),
            on="dst",
        )
        .select(
            "src", "dst", l2sq_cols(F.col("__sv"), F.col("__dv"), _DIM).alias("d")
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("d").asc(), F.col("dst"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= m)
        .select("src", "dst")
    )


def _exact_candidates(graph: DataFrame) -> DataFrame:
    """NN-descent's exact candidate set: the symmetrized graph ∪ its
    2-hop expansion, deduplicated — O(n·deg²) pairs, never n². Because
    it contains the graph, each round's kept list dominates the last."""
    # Explicit fixed-N keyed repartition instead of a bare distinct: the
    # candidate frame is byte-LIGHT (~16 B/row) but the downstream
    # scoring join evaluates a 64-term unrolled L2 per row, and AQE's
    # byte-based coalescing (1 MB minPartitionSize) folds the distinct's
    # output to 1-2 tasks — serializing the most compute-dense stage of
    # the descent family (profiled: two 4.5 s 2-task stages in q250).
    # A user-numbered repartition is exempt from AQE coalescing; the
    # dedup aggregate reuses its exchange, so the plan still has ONE
    # shuffle here. In-session A-B at sf0.1: q239 12.7 -> 9.3 s, q250
    # 14.9 -> 12.4 s, q240 10.1 -> 9.1 s, q237 3.4 -> 3.2 s. The capped
    # and sampled sets are small by design and keep a bare distinct
    # (see _capped_candidates).
    n = graph.sparkSession.sparkContext.defaultParallelism
    return (
        graph.unionByName(_two_hop(graph))
        .repartition(n, "src", "dst")
        .dropDuplicates()
    )


def _nn_descent_round(va: DataFrame, graph: DataFrame, m: int) -> DataFrame:
    """One exact NN-descent keep (Dong et al., WWW 2011) over a
    symmetrized graph: :func:`_refine_topm` over
    :func:`_exact_candidates` — the round of q237 (once), the q239
    ladder, and the q240/q250 rewires. Returns the DIRECTED refined
    edge list (src, dst); callers checkpoint it when the recall row and
    the next round's graph both read it."""
    return _refine_topm(va, _exact_candidates(graph), m)


def _descent_base(spark: SparkSession, sf_dir: str):
    """The descent family's one base build over the whole corpus: IVF
    coarse cells (k=16, 2 Lloyd iterations), each vector's top-m
    within-cell kNN list, the medoid bridges to its next ``_Q232_BRIDGE``
    cells, and their symmetrized union.

    Three frames are eagerly checkpointed, in this order: ``knn`` (round
    0's kept lists — the first graph and every round-0 recall rung read
    it), ``bridges`` (re-added to every round's graph) and ``graph``
    (round 1's candidate graph and the beam's edge table — the 2-hop
    expansion reads it on both join sides, a beam once per hop).
    ``cents``, ``med`` and ``probes`` stay lazy: only the beam setup
    (entry step) and the upper-layer builds read them.

    Returns (emb, cents, med, probes, knn, bridges, graph)."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges,
        cell_medoids,
        ivf_assign,
        ivf_train_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    cents = ivf_train_centroids(emb, k=16, n_iter=2)
    knn = cell_knn_edges(emb, cents, m=_Q232_M).localCheckpoint(eager=True)
    med = cell_medoids(emb, cents)  # 16 rows
    probes = ivf_assign(emb, cents, n_probe=1 + _Q232_BRIDGE)
    bridges = _medoid_bridges(probes, med).localCheckpoint(eager=True)
    graph = _sym_edges(knn.unionByName(bridges)).localCheckpoint(eager=True)
    return emb, cents, med, probes, knn, bridges, graph


def _sample_truth(emb: DataFrame) -> DataFrame:
    """Exact top-m truth (src, dst) for the audit sample (vec_id % 29 ==
    0, q221's bounded-audit convention): the bounded side of every
    edge-recall row, so the brute-force scan is |sample| × n, never n².
    Eagerly checkpointed: each recall rung joins it once and the n_true
    count reads it again."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        brute_force_topk_l2,
    )

    sample = F.col("vec_id") % _Q237_SAMPLE_MOD == 0
    return (
        brute_force_topk_l2(emb, emb.filter(sample), k=_Q232_M, dim=_DIM)
        .select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
        .localCheckpoint(eager=True)
    )


def _edge_recall(hits: str):
    """round6(hits / max(nt, 1)) — edge recall of a hit count against
    the truth's ``nt`` column, rounded the way the oracles round."""
    return F.round(
        F.col(hits).cast("double") / F.greatest(F.col("nt"), F.lit(1))
        + F.lit(1e-9),
        6,
    )


def _recall_rungs(strue: DataFrame, lists: dict) -> dict:
    """One one-row frame (n_true, edge_recall) per kept list in
    ``lists``, same keys, against the sampled truth ``strue``. The truth
    is counted ONCE and cross-joined into every rung; callers add their
    literal columns (round, m, c, variant…) and any cand_pairs count
    around the two."""
    nt = strue.agg(F.count(F.lit(1)).alias("nt"))
    rungs = {}
    for key, lst in lists.items():
        h = lst.join(strue, on=["src", "dst"]).agg(
            F.count(F.lit(1)).alias("h")
        )
        rungs[key] = nt.crossJoin(F.broadcast(h)).select(
            F.col("nt").cast("long").alias("n_true"),
            _edge_recall("h").alias("edge_recall"),
        )
    return rungs


# --------------------------------------------------------------------------
# Graph-walk kernels: one entry pick, one scorer, one nearest-k tail and one
# hop loop for every beam and greedy walk in the family; then the gate tail
# (per-query recall, gate aggregate, cheapest-rung pick) of every recall gate
# --------------------------------------------------------------------------


def _entry(probes: DataFrame, med: DataFrame, qpred) -> DataFrame:
    """(query_id, node): each query's walk entry — the medoid of its
    nearest cell (probe_rank 0), HNSW's upper-layer walk collapsed to
    one literal-centroid step. ``qpred`` reads only ``vec_id``, so it
    filters the probe table directly. Checkpointed: the first hop reads
    the entry set twice (score + union)."""
    return (
        probes.filter((F.col("probe_rank") == 0) & qpred)
        .join(F.broadcast(med), on="cell")
        .select(F.col("vec_id").alias("query_id"), F.col("medoid").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _query_vectors(va: DataFrame, qpred) -> DataFrame:
    """(query_id, __qv): the query side of :func:`_scored`."""
    return va.filter(qpred).select(
        F.col("vec_id").alias("query_id"), F.col("__v").alias("__qv")
    )


def _scored(va: DataFrame, qv: DataFrame, cand: DataFrame) -> DataFrame:
    """``cand``'s columns (query_id, node and any tags) plus ``dist``,
    the exact round6 L2 from the query vector (``qv``) to the node's
    (``va``, the :func:`_vectors` frame)."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        l2sq_cols,
    )

    # The candidate set is bounded — O(hops·beam·degree) per query in a
    # walk, the screen depth in q242/q243's rerank — so broadcast it
    # (with its query vectors) into the corpus-vector scan and the corpus
    # never shuffles. NOT spread_for_scoring'd: this is an equi-join
    # (corpus hash-probed by the broadcast candidate set), so its per-row
    # work is a hash lookup, not |Q| distance folds — A-B measured the
    # spread+checkpoint variant SLOWER on q232 (4.1 -> 5.9 s at sf0.1).
    j = cand.join(F.broadcast(qv), on="query_id")
    return va.join(F.broadcast(j), on=F.col("vec_id") == F.col("node")).select(
        *cand.columns,
        l2sq_cols(F.col("__qv"), F.col("__v"), _DIM).alias("dist"),
    )


def _served(va: DataFrame, qv: DataFrame, cand: DataFrame) -> DataFrame:
    """:func:`_scored` without each query's own node: a query is never
    its own result."""
    return _scored(va, qv, cand).filter(F.col("node") != F.col("query_id"))


def _nearest(scored: DataFrame, k) -> DataFrame:
    """(keys…, neighbor_id, rank): the ``k`` nearest scored nodes per
    key, ranked by (dist, node) — the oracles' deterministic tie-break.
    The keys are ``scored``'s columns besides node and dist: query_id,
    plus __rung in the fused form. ``k`` may be a Column (the fused
    walk's per-rung width)."""
    from pyspark.sql import Window

    keys = [c for c in scored.columns if c not in ("node", "dist")]
    w = Window.partitionBy(*keys).orderBy(F.col("dist").asc(), F.col("node"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            *keys,
            F.col("node").alias("neighbor_id"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _walk(
    va: DataFrame,
    qv: DataFrame,
    entry: DataFrame,
    edges: DataFrame,
    width,
    hops: int,
) -> DataFrame:
    """The family's hop loop — every beam and greedy walk. Each hop
    scores the accumulated candidate set, keeps the ``width`` nearest
    per key (width 1 is HNSW's greedy upper-layer walk), expands their
    out-edges and unions the reached nodes in. The keys are ``entry``'s
    columns besides node (query_id, plus __rung in the fused form); the
    edge join keys are ``edges``' columns besides dst (src, plus
    __rung). Fixed hops + round6 + (dist, node) ties make the walk
    deterministic and its oracle an unrolled CTE-per-hop replay.
    Returns the checkpointed candidate set (keys…, node)."""
    keys = [c for c in entry.columns if c != "node"]
    on = [c for c in edges.columns if c != "dst"]
    cand = entry
    for _ in range(hops):
        beam = _nearest(_scored(va, qv, cand), width).select(
            *keys, F.col("neighbor_id").alias("src")
        )
        expand = beam.join(edges, on=on).select(
            *keys, F.col("dst").alias("node")
        )
        # Each hop consumes the accumulated set TWICE (score + union)
        # and the set is bounded (≤ |Q|·(1 + hops·width·degree) rows),
        # so checkpoint per hop — lineage otherwise doubles per hop (the
        # q208 shared-subtree discipline applied to an iterative plan,
        # the q192 pagerank lesson).
        cand = cand.unionByName(expand).distinct().localCheckpoint(eager=True)
    return cand


def _descend(
    va: DataFrame, qv: DataFrame, entry: DataFrame, edges: DataFrame
) -> DataFrame:
    """One HNSW upper-layer step: a greedy (width 1) walk of
    ``_Q258_GHOPS`` hops over the layer's ``edges``; the best node
    visited — checkpointed — is the entry one layer down."""
    cand = _walk(va, qv, entry, edges, 1, _Q258_GHOPS)
    return (
        _nearest(_scored(va, qv, cand), 1)
        .select("query_id", F.col("neighbor_id").alias("node"))
        .localCheckpoint(eager=True)
    )


def _hit_recall(
    exact: DataFrame, served: DataFrame, k: int, qids: DataFrame | None = None
) -> DataFrame:
    """Per-key recall@k rows (keys…, hits, recall) of a ``served`` list
    against the ``exact`` top-k (query_id, neighbor_id). The keys are
    ``served``'s columns besides neighbor_id and rank: query_id, plus
    __rung in a tagged ladder, so no hit crosses rungs; ``exact`` may
    carry the tag too (one truth set per rung) and is then matched on
    it. Both lists are k·|Q|-bounded, so ``served`` is broadcast into
    ``exact`` and the per-key hit counts into ``qids``. ``qids`` holds
    every key once (default: ``exact``'s distinct keys) and is
    LEFT-joined, so a key with no hit still scores 0."""
    keys = [c for c in served.columns if c not in ("neighbor_id", "rank")]
    exact_keys = [c for c in keys if c in exact.columns]
    hits = (
        exact.join(F.broadcast(served), on=[*exact_keys, "neighbor_id"])
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("h"))
    )
    if qids is None:
        qids = exact.select(*exact_keys).distinct()
    h = F.coalesce("h", F.lit(0))
    return qids.join(F.broadcast(hits), on=keys, how="left").select(
        *keys,
        h.cast("long").alias("hits"),
        round6(h.cast("double") / k).alias("recall"),
    )


def _gate_agg(perq: DataFrame, *by: str) -> DataFrame:
    """The recall-gate row of per-query recall rows: (by…, n_queries,
    avg_recall, min_recall) — one row, or one per ``by`` key (every rung
    of a tagged ladder in one aggregate)."""
    return perq.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        round6(F.avg("recall")).alias("avg_recall"),
        round6(F.min("recall")).alias("min_recall"),
    )


def _pick_cheapest(rows: DataFrame, dial: str) -> DataFrame:
    """``rows`` plus ``picked``: true only on the met row with the
    smallest ``dial`` — the cheapest rung meeting the floor; all false
    when no rung met. The min over met rows is one broadcast 1-row
    aggregate, which the oracles replay as a scalar subquery."""
    cheapest = rows.filter(F.col("met")).agg(F.min(dial).alias("__min"))
    return rows.crossJoin(F.broadcast(cheapest)).select(
        *rows.columns,
        F.coalesce(
            F.col("met") & (F.col(dial) == F.col("__min")), F.lit(False)
        ).alias("picked"),
    )


def _perq_recall(setup, cand: DataFrame, qids: DataFrame) -> DataFrame:
    """Per-query recall@k rows (keys…, hits, recall) of a walk's
    candidate set: the ``k`` nearest candidates other than the query
    itself are served and scored by :func:`_hit_recall` against the q232
    setup's checkpointed exact baseline."""
    served = _nearest(_served(setup.va, setup.qv, cand), _Q232_K)
    return _hit_recall(setup.exact, served, _Q232_K, qids)


# --------------------------------------------------------------------------
# q232 — graph ANN (NSW-style beam search), the last index family, priced
# --------------------------------------------------------------------------

_Q232_M = 6  # within-cell k-NN graph degree
_Q232_BRIDGE = 4  # bridge edges to the medoids of the next-nearest cells
_Q232_BEAM = 8  # beam width
_Q232_HOPS = 3  # fixed hop count (deterministic, SQL-unrollable)
_Q232_K = 3
_Q232_NQ = 8


def q232_graph_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN — the one production index family the
    quantization/IVF matrix (q39–q227) did not price: a two-layer
    HNSW-miniature built from navigable-small-world ingredients, its
    recall MEASURED beside q216's so the families compare on one axis.

    Graph: each vector links to its ``m`` nearest cell-mates under the
    IVF coarse partition (build compute Σ|cell|², the SemDeDup bound —
    production re-wires with NN-descent, same search kernel) PLUS
    bridge links to the MEDOIDS of its next-``n_bridge`` nearest cells
    (the long-range links random insertion gives real NSW graphs);
    symmetrized. Search: descend from the coarse layer (entry = medoid
    of the query's nearest cell — HNSW's upper-layer walk collapsed to
    one literal-centroid step), then a FIXED-hop beam: each hop scores
    the accumulated candidate set (exact round6 L2), keeps the best
    ``beam`` per query, expands their neighbors. Fixed hops + round6 +
    (dist, id) ties make the traversal deterministic and the oracle an
    unrolled CTE-per-hop replay. Output: the recall-gate row (params,
    n_queries, avg/min recall@k vs exact L2) — the number that decides
    whether the graph family earns its build cost on this corpus.

    Scale shape: the neighbor table IS the index (persist bucketed by
    src — the q193 layout); each hop is one bounded-candidate broadcast
    join against the corpus vectors plus one join against the edge
    table, so search cost is O(hops · beam · degree) per query — the
    property that makes graph ANN the highest-recall serving family at
    scale. The quadratic Σ|cell|² lives ONLY in the build."""
    s = _q232_setup(spark, sf_dir)
    cand = _walk(s.va, s.qv, s.entry, s.edges, _Q232_BEAM, _Q232_HOPS)
    return _gate_agg(_perq_recall(s, cand, s.qids)).select(
        F.lit(_Q232_M).cast("long").alias("m"),
        F.lit(_Q232_BRIDGE).cast("long").alias("n_bridges"),
        F.lit(_Q232_BEAM).cast("long").alias("beam"),
        F.lit(_Q232_HOPS).cast("long").alias("hops"),
        "n_queries",
        "avg_recall",
        "min_recall",
    )


class _Q232Setup(NamedTuple):
    """The q232 graph artifacts, built once per call by
    :func:`_q232_setup` and shared by every walk over them."""

    emb: DataFrame
    entry: DataFrame  # (query_id, node), checkpointed — see _entry
    edges: DataFrame  # _descent_base's checkpointed graph (src, dst)
    exact: DataFrame  # (query_id, neighbor_id) exact top-k, checkpointed
    qids: DataFrame  # exact's distinct query_id — the recall universe
    bridges: DataFrame
    cents: list
    med: DataFrame
    probes: DataFrame
    va: DataFrame  # _vectors(emb)
    qv: DataFrame  # _query_vectors(va, vec_id < _Q232_NQ)


def _q232_setup(spark: SparkSession, sf_dir: str) -> _Q232Setup:
    """Build the q232 graph artifacts once — shared by q232 (one beam
    width), the fused ladders (q235, q240, q250) and the hierarchy
    walks (q258, q273), so the Σ|cell|² build is paid once per call no
    matter how many widths, graphs or layers are measured. The edge
    table is :func:`_descent_base`'s checkpointed graph, read once per
    hop. The checkpointed ``bridges`` let q240/q250 rewire the SAME
    build with NN-descent without re-paying Σ|cell|²; the quantizer-side
    parts (cents, med, probes) let q258/q273 erect the sparse upper
    layers on the SAME build."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        brute_force_topk_l2,
    )

    emb, cents, med, probes, _knn, bridges, edges = _descent_base(spark, sf_dir)
    qpred = F.col("vec_id") < _Q232_NQ
    entry = _entry(probes, med, qpred)
    exact = (
        brute_force_topk_l2(emb, emb.filter(qpred), k=_Q232_K, dim=_DIM)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)  # reused by every measured beam
    )
    va = _vectors(emb)
    return _Q232Setup(
        emb=emb,
        entry=entry,
        edges=edges,
        exact=exact,
        qids=exact.select("query_id").distinct(),
        bridges=bridges,
        cents=cents,
        med=med,
        probes=probes,
        va=va,
        qv=_query_vectors(va, qpred),
    )


def _q232_perq_recall_multi(setup: _Q232Setup, rungs) -> DataFrame:
    """FUSED multi-rung walk + per-query recall: every rung (a (key,
    edge-table, beam-width) triple sharing the q232 entry set and exact
    baseline) advances through the SAME per-hop job of :func:`_walk`,
    tagged by a ``__rung`` column — so the ladder pays ``hops``
    localCheckpoint jobs TOTAL instead of ``rungs × hops`` (the
    round-13 "shared-subtree restructure" deferral, landed with its
    equivalence argument).

    Per-rung results are bit-identical to walking each rung alone (the
    q232 form, tests/test_serving_sla.py checks it): the rank window
    partitions by (__rung, query_id) — row_number within each rung's
    group sees exactly the rows the per-rung window saw; the
    candidate-set distinct and the edge expansion both key on __rung,
    so no row of one rung can reach another; the distance kernel is the
    identical :func:`_scored` expression per (query, node) pair.
    Returns perq rows (__rung, query_id, hits, recall)."""

    def tagged(df: DataFrame, key) -> DataFrame:
        return df.select(F.lit(key).cast("int").alias("__rung"), *df.columns)

    def union(dfs):
        return reduce(DataFrame.unionByName, dfs)

    width = None
    for key, _, beam in rungs:
        cond = F.col("__rung") == key
        width = (
            F.when(cond, F.lit(beam))
            if width is None
            else width.when(cond, F.lit(beam))
        )
    cand = _walk(
        setup.va,
        setup.qv,
        union([tagged(setup.entry, key) for key, _, _ in rungs]),
        union([tagged(edges, key) for key, edges, _ in rungs]),
        width,
        _Q232_HOPS,
    )
    qids = union([tagged(setup.qids, key) for key, _, _ in rungs])
    # Every caller's gate tail reads this frame more than once (the
    # rung rows and the pick's min, or q240's two sides); without a
    # checkpoint each read re-runs the final fused scoring pass over the
    # union candidate set (measured as a 1.8× REGRESSION on q240 before
    # this line). The frame is tiny (rungs × |Q| rows).
    return _perq_recall(setup, cand, qids).localCheckpoint(eager=True)


_Q232_L2 = (
    "round(list_sum([({a}.v[i] - {b}.v[i]) * ({a}.v[i] - {b}.v[i]) "
    f"FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6)"
)


def _q232_hop_ctes(
    n_hops: int, beam: int = _Q232_BEAM, tag: str = "", edges_cte: str = "edges"
) -> str:
    """The beam traversal unrolled: per hop, score the accumulated set,
    keep the top-beam, expand neighbors, dedup-union. ``tag`` prefixes
    the CTE names so q235 can unroll SEVERAL beam widths side by side
    in one statement (all rungs share the graph/entry CTEs);
    ``edges_cte`` names the edge table so q240 can traverse the base
    and the NN-descent-refined graph in the same statement."""
    parts = []
    for h in range(n_hops):
        parts.append(f"""s{tag}{h} AS (
  SELECT c.query_id, c.node, {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM c{tag}{h} c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.node
),
b{tag}{h} AS (
  SELECT query_id, node FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, node) AS r
    FROM s{tag}{h}
  ) WHERE r <= {beam}
),
c{tag}{h + 1} AS (
  SELECT DISTINCT query_id, node FROM (
    SELECT query_id, node FROM c{tag}{h}
    UNION ALL
    SELECT b.query_id, e.dst AS node
    FROM b{tag}{h} b JOIN {edges_cte} e ON e.src = b.node
  )
)""")
    return ",\n".join(parts)


# Graph build + entry set CTEs (through c0), shared by the q232 oracle
# (one beam width, default CTE names) and the q235 ladder oracle (every
# rung rides the SAME graph; only the hop chains fork).
_Q232_GRAPH_CTES = f"""vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, v,
         sqrt({_DOT.format(a='v', b='v', dim=_DIM)}) AS nrm
  FROM vecs
),
cents(cell, c) AS (VALUES __IVF_VALUES__),
sims AS (
  SELECT u.vec_id, ct.cell,
         round(list_sum([u.v[i] / (CASE WHEN u.nrm = 0 THEN 1 ELSE u.nrm END) * ct.c[i]
                   FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS sim
  FROM unit u CROSS JOIN cents ct
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r
  FROM sims
),
assigned AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
knnp AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_Q232_L2.format(a='av', b='bv')} AS d
  FROM assigned a
  JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  JOIN vecs av ON av.vec_id = a.vec_id
  JOIN vecs bv ON bv.vec_id = b.vec_id
),
knn AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS r
    FROM knnp
  ) WHERE r <= {_Q232_M}
),
med AS (
  SELECT cell, vec_id AS medoid FROM (
    SELECT s.cell, s.vec_id,
           row_number() OVER (PARTITION BY s.cell
                              ORDER BY s.sim DESC, s.vec_id) AS r
    FROM sims s JOIN assigned a ON a.vec_id = s.vec_id AND a.cell = s.cell
  ) WHERE r = 1
),
bridges AS (
  SELECT rk.vec_id AS src, m.medoid AS dst
  FROM ranked rk JOIN med m ON m.cell = rk.cell
  WHERE rk.r BETWEEN 2 AND {1 + _Q232_BRIDGE} AND rk.vec_id <> m.medoid
),
edges AS (
  SELECT src, dst FROM knn
  UNION SELECT src, dst FROM bridges
  UNION SELECT dst AS src, src AS dst FROM knn
  UNION SELECT dst AS src, src AS dst FROM bridges
),
c0 AS (
  SELECT DISTINCT rk.vec_id AS query_id, m.medoid AS node
  FROM ranked rk JOIN med m ON m.cell = rk.cell
  WHERE rk.r = 1 AND rk.vec_id < {_Q232_NQ}
),
escored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_Q232_L2.format(a='q', b='c')} AS dist
  FROM vecs q JOIN vecs c ON q.vec_id < {_Q232_NQ} AND c.vec_id <> q.vec_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, neighbor_id) AS r
    FROM escored
  ) WHERE r <= {_Q232_K}
)"""


_Q232_ORACLE_TEMPLATE = f"""
WITH {_Q232_GRAPH_CTES},
{_q232_hop_ctes(_Q232_HOPS)},
fdist AS (
  SELECT c.query_id, c.node, {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM c{_Q232_HOPS} c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.node
  WHERE c.node <> c.query_id
),
served AS (
  SELECT query_id, node AS neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, node) AS r
    FROM fdist
  ) WHERE r <= {_Q232_K}
),
hits AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN served s ON s.query_id = e.query_id
                AND s.neighbor_id = e.neighbor_id
  GROUP BY 1
),
perq AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q232_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact) e
  LEFT JOIN hits h ON h.query_id = e.query_id
)
SELECT CAST({_Q232_M} AS BIGINT) AS m,
       CAST({_Q232_BRIDGE} AS BIGINT) AS n_bridges,
       CAST({_Q232_BEAM} AS BIGINT) AS beam,
       CAST({_Q232_HOPS} AS BIGINT) AS hops,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(recall) + 1e-9, 6) AS avg_recall,
       round(min(recall) + 1e-9, 6) AS min_recall
FROM perq
"""


def q232_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q232 oracle: centroid literals trained on the checked
    SF (q56's literalization), the graph build and the fixed-hop beam
    replayed as unrolled CTEs."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    return None if values is None else _Q232_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


Q232_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q235 — graph-ANN tuning SLA: the beam ladder, measured, minimal pick
# --------------------------------------------------------------------------

_Q235_LADDER = (2, 4, 8)
_Q235_TARGET = 0.9


def q235_graph_ann_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q216/q228 tuning discipline applied to the graph family:
    q232's beam width is a hand-picked constant — here the WHOLE ladder
    is measured (each rung is a full traversal: beam width changes the
    expansion set, so unlike q216's one-pass cell-rank trick there is no
    shortcut — this is the honest FAISS-style parameter sweep, and the
    Σ|cell|² graph build is still paid ONCE via the shared setup) and
    the minimal rung meeting recall@3 ≥ 0.9 is flagged. Output: one
    audit row per rung (beam, hops, k, n_queries, avg/min recall, met)
    with ``picked`` on the cheapest rung that met — the record a
    serving deploy pins its beam width to.

    The pick needs no driver-side decision rule at all: with every
    rung's recall IN the result, minimality is a per-row comparison
    against min(beam) over the met rungs — computed identically by the
    Spark plan (broadcast 1-row aggregate) and the oracle (scalar
    subquery), so the oracle checks the ladder AND the pick.

    Scale shape: rung count is a constant (3); each rung costs one
    traversal over the shared checkpointed graph — O(hops·beam·degree)
    per query; the exact baseline is computed once.

    On THIS synthetic corpus the ladder saturates (cells are ~31
    vectors at the gate SFs, so even the narrowest beam's accumulated
    candidate set reaches the true neighbors — measured: every rung
    0.958 at sf0.001) and the pick lands on the cheapest rung, which is
    the correct decision for this corpus. On a real corpus the rungs
    diverge; the audit records whichever is true — pick from
    measurement, not folklore (the q221 flat-S-curve convention)."""
    setup = _q232_setup(spark, sf_dir)
    # One FUSED traversal for the whole ladder (hops jobs, not
    # rungs×hops): every rung shares the graph, entry set and exact
    # baseline; only the beam width differs — see _q232_perq_recall_multi
    # for the bit-identity argument.
    perq_all = _q232_perq_recall_multi(
        setup, [(b, setup.edges, b) for b in _Q235_LADDER]
    )
    rows = _gate_agg(perq_all, "__rung").select(
        F.col("__rung").cast("long").alias("beam"),
        F.lit(_Q232_HOPS).cast("long").alias("hops"),
        F.lit(_Q232_K).cast("long").alias("k"),
        "n_queries",
        "avg_recall",
        "min_recall",
        (F.col("avg_recall") >= F.lit(float(_Q235_TARGET))).alias("met"),
    )
    return _pick_cheapest(rows, "beam")


def _q235_rung_ctes(beam: int) -> str:
    tag = f"w{beam}_"
    return f"""c{tag}0 AS (SELECT query_id, node FROM c0),
{_q232_hop_ctes(_Q232_HOPS, beam=beam, tag=tag)},
fdist{tag} AS (
  SELECT c.query_id, c.node, {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM c{tag}{_Q232_HOPS} c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.node
  WHERE c.node <> c.query_id
),
served{tag} AS (
  SELECT query_id, node AS neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, node) AS r
    FROM fdist{tag}
  ) WHERE r <= {_Q232_K}
),
hits{tag} AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN served{tag} s ON s.query_id = e.query_id
                     AND s.neighbor_id = e.neighbor_id
  GROUP BY 1
),
perq{tag} AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q232_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact) e
  LEFT JOIN hits{tag} h ON h.query_id = e.query_id
),
row{tag} AS (
  SELECT CAST({beam} AS BIGINT) AS beam,
         CAST({_Q232_HOPS} AS BIGINT) AS hops,
         CAST({_Q232_K} AS BIGINT) AS k,
         CAST(count(*) AS BIGINT) AS n_queries,
         round(avg(recall) + 1e-9, 6) AS avg_recall,
         round(min(recall) + 1e-9, 6) AS min_recall,
         round(avg(recall) + 1e-9, 6) >= CAST({_Q235_TARGET} AS DOUBLE)
           AS met
  FROM perq{tag}
)"""


_Q235_ORACLE_TEMPLATE = (
    "\nWITH "
    + _Q232_GRAPH_CTES
    + ",\n"
    + ",\n".join(_q235_rung_ctes(b) for b in _Q235_LADDER)
    + ",\nrungs AS (\n  "
    + "\n  UNION ALL ".join(
        f"SELECT * FROM roww{b}_" for b in _Q235_LADDER
    )
    + "\n)\n"
    + "SELECT r.*, coalesce(r.met AND r.beam = "
    "(SELECT min(beam) FROM rungs WHERE met), FALSE) AS picked\n"
    "FROM rungs r\n"
)


_Q235_HEAVY_CTES = [
    "vecs", "sims", "ranked", "assigned", "knn", "med", "edges", "c0",
    "exact",
    "cw2_0", "cw2_1", "cw2_2", "cw4_0", "cw4_1", "cw4_2",
    "cw8_0", "cw8_1", "cw8_2",
]


def q235_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q235 oracle: the shared graph CTEs + every ladder rung's
    traversal unrolled side by side + the minimal-pick subquery."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _materialize_ctes(
        _Q235_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values),
        _Q235_HEAVY_CTES,
        "q235",
    )


Q235_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q237 — NN-descent graph refinement: neighbor-of-neighbor candidates
# --------------------------------------------------------------------------

_Q237_SAMPLE_MOD = 29  # audit sample: vec_id % 29 == 0


def q237_nn_descent_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-descent round (Dong et al., WWW 2011) over q232's graph —
    the build-side upgrade the graph family's docstrings promise: a
    node's candidate set is its current neighbors PLUS its neighbors'
    neighbors (over the SYMMETRIZED knn ∪ bridge edge set, so 2-hop
    reach crosses cells through the medoid links), exact distance is
    computed ONLY on those candidate pairs — O(n·deg²), never n² — and
    each node keeps its new top-m. Because the candidate set CONTAINS
    the node's current edges, the refined list dominates the base
    within-cell kNN by construction (pytest-locked).

    Output: the measured audit — per a hash-sampled node set (vec_id %
    29 == 0, the q221 bounded-audit convention), edge recall of the
    base within-cell top-m vs the refined top-m against the exact top-m
    truth (truth computed only for the sample: the bounded side
    broadcasts). One row: (m, n_sampled, n_true, recall_before,
    recall_after, improved).

    Scale shape: the 2-hop expansion is one self-join of the edge table
    (n·deg rows → n·deg² candidates); candidate verify is two id-keyed
    joins against the vector table — the NN-descent cost model, all
    corpus-keyed shuffles, no all-pairs stage; the truth side is
    sample-bounded. Oracle: the shared graph CTEs + the same expansion
    /rank/recall algebra (unreferenced CTEs in the shared head are
    never executed by DuckDB's lazy CTE inlining)."""
    emb, *_, knn, _, graph = _descent_base(spark, sf_dir)
    refined = _nn_descent_round(_vectors(emb), graph, _Q232_M)

    # Audit on the hash sample: exact truth, base vs refined recall.
    strue = _sample_truth(emb)
    n_true = strue.agg(
        F.count(F.lit(1)).alias("nt"),
        F.countDistinct("src").alias("ns"),
    )
    hb = knn.join(strue, on=["src", "dst"]).agg(
        F.count(F.lit(1)).alias("hb")
    )
    ha = refined.join(strue, on=["src", "dst"]).agg(
        F.count(F.lit(1)).alias("ha")
    )
    rb, ra = _edge_recall("hb"), _edge_recall("ha")
    return (
        n_true.crossJoin(F.broadcast(hb))
        .crossJoin(F.broadcast(ha))
        .select(
            F.lit(_Q232_M).cast("long").alias("m"),
            F.col("ns").cast("long").alias("n_sampled"),
            F.col("nt").cast("long").alias("n_true"),
            rb.alias("recall_before"),
            ra.alias("recall_after"),
            (ra >= rb).alias("improved"),
        )
    )


_Q237_ORACLE_TEMPLATE = f"""
WITH {_Q232_GRAPH_CTES},
e2 AS (
  SELECT a.src, b.dst
  FROM edges a JOIN edges b ON a.dst = b.src AND b.dst <> a.src
),
cand AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT src, dst FROM e2
  )
),
cscored AS (
  SELECT c.src, c.dst, {_Q232_L2.format(a='sv', b='dv')} AS d
  FROM cand c
  JOIN vecs sv ON sv.vec_id = c.src
  JOIN vecs dv ON dv.vec_id = c.dst
),
refined AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS r
    FROM cscored
  ) WHERE r <= {_Q232_M}
),
sscored AS (
  SELECT q.vec_id AS src, c.vec_id AS dst,
         {_Q232_L2.format(a='q', b='c')} AS dist
  FROM vecs q JOIN vecs c
    ON q.vec_id % {_Q237_SAMPLE_MOD} = 0 AND c.vec_id <> q.vec_id
),
strue AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src
                                 ORDER BY dist ASC, dst) AS r
    FROM sscored
  ) WHERE r <= {_Q232_M}
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS nt,
         CAST(count(DISTINCT src) AS BIGINT) AS ns
  FROM strue
),
hb AS (
  SELECT count(*) AS hb FROM knn k JOIN strue t USING (src, dst)
),
ha AS (
  SELECT count(*) AS ha FROM refined f JOIN strue t USING (src, dst)
)
SELECT CAST({_Q232_M} AS BIGINT) AS m,
       ns AS n_sampled,
       nt AS n_true,
       round(CAST(hb AS DOUBLE) / greatest(nt, 1) + 1e-9, 6)
         AS recall_before,
       round(CAST(ha AS DOUBLE) / greatest(nt, 1) + 1e-9, 6)
         AS recall_after,
       round(CAST(ha AS DOUBLE) / greatest(nt, 1) + 1e-9, 6)
         >= round(CAST(hb AS DOUBLE) / greatest(nt, 1) + 1e-9, 6)
         AS improved
FROM stats CROSS JOIN hb CROSS JOIN ha
"""


def q237_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q237 oracle: the shared graph CTEs (centroid literals) +
    the 2-hop expansion, candidate rank, and recall algebra."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    return None if values is None else _Q237_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


Q237_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q238 — incremental graph-ANN index: persisted edges, insert-only updates
# --------------------------------------------------------------------------

def q238_incremental_graph_ann(
    spark: SparkSession, sf_dir: str, tombstones: DataFrame | None = None
) -> DataFrame:
    """The incremental lifecycle applied to the GRAPH index — the one
    index family the cross-run matrix (q193 LSH / q197 PQ / q217 OPQ /
    q227 IVF-SQ8 / q210 pHash / q201 postings) did not yet cover, and
    the one whose production form (HNSW) is DEFINED by insertion: a new
    node links to its nearest existing neighbors and receives reverse
    links, the base graph is never rebuilt.

    Frozen artifacts (trained on the HISTORY shard, ``vec_id % 10 !=
    7``): the coarse centroids AND the per-cell medoid hubs persist in
    one params table, written LAST as the generation commit gate (the
    q197 commit-order lesson); the DIRECTED base edges (history-history
    within-cell kNN + history→medoid bridges) persist as the edge table
    — the index ITSELF, steady state never re-runs the Σ|cell|² base
    build (tests/test_graph_incremental.py bombs the trainer, the batch
    edge kernel, and the medoid picker).

    Insert (every call — "the new shard arriving"): new nodes are
    assigned under the frozen centroids; each links to its top-m nearest
    cell-mates — history AND new — via ONE (|new ∩ cell| × |cell|) BLAS
    block per cell (``cell_knn_edges_incremental``), plus bridges to the
    frozen medoids; reverse links appear through the serve-time
    symmetrization exactly as HNSW adds bidirectional edges. Insert cost
    is |new|·|cell| distances, never Σ|cell|².

    Serve: q232's fixed-hop beam from the query's nearest HISTORY
    medoid, over base ∪ inserted edges, output (query_id, neighbor_id,
    rank) for the new-shard queries — the steady-state surface where
    drift would hurt. Scale shape: per hop the bounded candidate set
    (≤ |Q|·(1+hops·beam·degree)) broadcasts into the edge-table and
    vector scans, so the index never shuffles; at 100 TB the edge table
    and the vector store are cell-partitioned (q227's layout) and the
    insert reads only the cells that received new nodes.

    Oracle: the ONE-PASS batch replay under the SAME history-trained
    literals — history kNN among history, new kNN against all
    cell-mates, one uniform bridge formula (valid because the medoids
    are frozen), the unrolled beam — incremental ≡ batch."""
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

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    hist = emb.filter(~is_new)

    def _build_artifacts():
        cents = ivf_train_centroids(hist, k=16, n_iter=2)
        # Parameter-sized collect: n_cells medoid ids — the frozen hubs.
        medoids = {
            r["cell"]: r["medoid"] for r in cell_medoids(hist, cents).collect()
        }
        return cents, medoids

    def _med_df(medoids):
        return spark.createDataFrame(
            sorted(medoids.items()), "cell int, medoid long"
        )

    def _base_edges(cents, medoids):
        knn_h = cell_knn_edges(hist, cents, m=_Q232_M)
        probes_h = ivf_assign(hist, cents, n_probe=1 + _Q232_BRIDGE)
        return knn_h.unionByName(_medoid_bridges(probes_h, _med_df(medoids)))

    def build(names: list[str]) -> None:
        cents, medoids = _build_artifacts()
        _base_edges(cents, medoids).write.mode("overwrite").saveAsTable(
            names[0]
        )
        # params LAST: the commit gate for the whole generation.
        save_params(spark, names[1], cent=cents, medoid=medoids)

    names = table_generation(
        spark, sf_dir, ("graphedges", "graphparams"), build
    )
    if names is None:
        cents, medoids = _build_artifacts()
        base_edges = _base_edges(cents, medoids)
    else:
        params = load_params(spark, names[1])
        cents, medoids = params["cent"], params.get("medoid", {})
        base_edges = spark.table(names[0])
    med_df = _med_df(medoids)

    # --- insert: the new shard, frozen quantizer + frozen hubs ---
    new_knn = cell_knn_edges_incremental(emb, is_new, cents, m=_Q232_M)
    probes_new = ivf_assign(
        emb.filter(is_new), cents, n_probe=1 + _Q232_BRIDGE
    ).localCheckpoint(eager=True)  # consumed by bridges AND entry
    directed = base_edges.unionByName(new_knn).unionByName(
        _medoid_bridges(probes_new, med_df)
    )
    edges = _sym_edges(directed).localCheckpoint(eager=True)  # once per hop

    # --- serve: q232's fixed-hop beam for the new-shard queries ---
    q_bound = F.col("vec_id") < _Q197_QBOUND
    va = _vectors(emb)
    qv = _query_vectors(va, is_new & q_bound)
    entry = _entry(probes_new, med_df, q_bound)
    cand = _walk(va, qv, entry, edges, _Q232_BEAM, _Q232_HOPS)
    served = _served(va, qv, cand)
    if tombstones is not None:
        # hnswlib markDelete semantics (q255): tombstoned nodes keep
        # ROUTING — the beam above traverses them freely, so deleting a
        # hub cannot disconnect the graph — they just cannot be RESULTS.
        # The anti-join sits between traversal and the rank window, so
        # ranks recompute over the survivors.
        served = served.join(
            F.broadcast(tombstones.select(F.col("vec_id").alias("node"))),
            on="node",
            how="left_anti",
        )
    return _nearest(served, _Q232_K)


# The incremental graph's batch replay: assignment of ALL nodes under the
# HISTORY-trained centroid literals; medoids among HISTORY only (the
# frozen hubs); history kNN among history cell-mates, new kNN against ALL
# cell-mates; ONE uniform bridge formula over all nodes (valid because
# the hubs are frozen — history bridges at base build and new bridges at
# insert evaluate the same expression); symmetrized union; the unrolled
# beam; rank tail.
_Q238_GRAPH_CTES = f"""vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, v,
         sqrt({_DOT.format(a='v', b='v', dim=_DIM)}) AS nrm
  FROM vecs
),
cents(cell, c) AS (VALUES __IVF_VALUES__),
sims AS (
  SELECT u.vec_id, ct.cell,
         round(list_sum([u.v[i] / (CASE WHEN u.nrm = 0 THEN 1 ELSE u.nrm END) * ct.c[i]
                   FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS sim
  FROM unit u CROSS JOIN cents ct
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r
  FROM sims
),
assigned AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
med AS (
  SELECT cell, vec_id AS medoid FROM (
    SELECT s.cell, s.vec_id,
           row_number() OVER (PARTITION BY s.cell
                              ORDER BY s.sim DESC, s.vec_id) AS r
    FROM sims s JOIN assigned a ON a.vec_id = s.vec_id AND a.cell = s.cell
    WHERE s.vec_id % 10 <> 7
  ) WHERE r = 1
),
knnp_h AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_Q232_L2.format(a='av', b='bv')} AS d
  FROM assigned a
  JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  JOIN vecs av ON av.vec_id = a.vec_id
  JOIN vecs bv ON bv.vec_id = b.vec_id
  WHERE a.vec_id % 10 <> 7 AND b.vec_id % 10 <> 7
),
knn_h AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS r
    FROM knnp_h
  ) WHERE r <= {_Q232_M}
),
knnp_n AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_Q232_L2.format(a='av', b='bv')} AS d
  FROM assigned a
  JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  JOIN vecs av ON av.vec_id = a.vec_id
  JOIN vecs bv ON bv.vec_id = b.vec_id
  WHERE a.vec_id % 10 = 7
),
knn_n AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS r
    FROM knnp_n
  ) WHERE r <= {_Q232_M}
),
bridges AS (
  SELECT rk.vec_id AS src, m.medoid AS dst
  FROM ranked rk JOIN med m ON m.cell = rk.cell
  WHERE rk.r BETWEEN 2 AND {1 + _Q232_BRIDGE} AND rk.vec_id <> m.medoid
),
edges AS (
  SELECT src, dst FROM knn_h
  UNION SELECT src, dst FROM knn_n
  UNION SELECT src, dst FROM bridges
  UNION SELECT dst AS src, src AS dst FROM knn_h
  UNION SELECT dst AS src, src AS dst FROM knn_n
  UNION SELECT dst AS src, src AS dst FROM bridges
),
c0 AS (
  SELECT DISTINCT rk.vec_id AS query_id, m.medoid AS node
  FROM ranked rk JOIN med m ON m.cell = rk.cell
  WHERE rk.r = 1 AND rk.vec_id % 10 = 7 AND rk.vec_id < {_Q197_QBOUND}
)"""


_Q238_ORACLE_TEMPLATE = f"""
WITH {_Q238_GRAPH_CTES},
{_q232_hop_ctes(_Q232_HOPS)},
fdist AS (
  SELECT c.query_id, c.node, {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM c{_Q232_HOPS} c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.node
  WHERE c.node <> c.query_id
)
SELECT query_id, node AS neighbor_id, CAST(r AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist, node) AS r
  FROM fdist
) WHERE r <= {_Q232_K}
"""


def q238_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q238 oracle: centroids trained on the HISTORY shard
    (q227's id_filter convention), the incremental graph's batch replay
    + the unrolled beam."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        id_filter=lambda i: i % 10 != 7,
    )
    return None if values is None else _Q238_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


Q238_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q239 — NN-descent round ladder: per-round edge recall, monotone
# --------------------------------------------------------------------------

_Q239_ROUNDS = 2


def q239_nn_descent_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NN-descent LADDER — q235's rung-by-rung tuning discipline
    applied to the build side: q237 measures ONE descent round; here
    every round r ∈ {0..R} is measured over the SHARED base graph so the
    build budget is priced the way the beam was (how many rounds does
    this corpus need?). Round 0 = the within-cell kNN lists; round r+1 =
    per-node top-m over (current symmetrized graph ∪ its 2-hop
    expansion), with the medoid bridges re-added to each round's
    candidate GRAPH (the long-range links keep cross-cell candidates
    flowing every round, exactly as q237 used them once).

    Monotonicity is structural, not sampled: round r+1's candidate set
    CONTAINS round r's kept list, and by the exact-top-m exchange
    argument a kept true edge can only ever be displaced by a CLOSER
    edge — which is itself true — so per-round edge recall is
    non-decreasing by construction (pytest-locked), and the measured
    ladder shows where it saturates.

    Output: one row per round (round, m, n_true, edge_recall) against
    the exact top-m truth on the q237 hash sample. Scale shape: each
    round is one edge-table self-join + two id-keyed vector joins —
    O(n·deg²) candidates, never n²; the truth side is sample-bounded.
    Oracle: the shared graph CTEs + the refine algebra unrolled once
    per round."""
    from functools import reduce

    emb, *_, knn, bridges, graph = _descent_base(spark, sf_dir)
    va = _vectors(emb)
    lists = {0: knn}
    for r in range(1, _Q239_ROUNDS + 1):
        refined = _nn_descent_round(va, graph, _Q232_M).localCheckpoint(
            eager=True
        )  # consumed by the recall row AND the next round's graph
        lists[r] = refined
        if r < _Q239_ROUNDS:
            graph = _sym_edges(refined.unionByName(bridges)).localCheckpoint(
                eager=True
            )

    rungs = _recall_rungs(_sample_truth(emb), lists)
    return reduce(DataFrame.unionByName, [
        rung.select(
            F.lit(r).cast("long").alias("round"),
            F.lit(_Q232_M).cast("long").alias("m"),
            "n_true",
            "edge_recall",
        )
        for r, rung in rungs.items()
    ])


def _q239_round_ctes(r: int) -> str:
    """One NN-descent round unrolled: candidates = current graph ∪ its
    2-hop expansion, exact verify, per-src top-m keep, then the next
    round's symmetrized candidate graph (bridges re-added)."""
    g_in = "edges" if r == 1 else f"g{r - 1}"
    return f"""e2_{r} AS (
  SELECT a.src, b.dst
  FROM {g_in} a JOIN {g_in} b ON a.dst = b.src AND b.dst <> a.src
),
cand_{r} AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM {g_in} UNION ALL SELECT src, dst FROM e2_{r}
  )
),
cscored_{r} AS (
  SELECT c.src, c.dst, {_Q232_L2.format(a='sv', b='dv')} AS d
  FROM cand_{r} c
  JOIN vecs sv ON sv.vec_id = c.src
  JOIN vecs dv ON dv.vec_id = c.dst
),
refined_{r} AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS r
    FROM cscored_{r}
  ) WHERE r <= {_Q232_M}
),
g{r} AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM refined_{r} UNION ALL SELECT src, dst FROM bridges
    UNION ALL SELECT dst AS src, src AS dst FROM refined_{r}
    UNION ALL SELECT dst AS src, src AS dst FROM bridges
  )
)"""


def _q239_recall_row(rnd: int, list_cte: str) -> str:
    return f"""SELECT CAST({rnd} AS BIGINT) AS round,
       CAST({_Q232_M} AS BIGINT) AS m,
       (SELECT CAST(count(*) AS BIGINT) FROM strue) AS n_true,
       round(CAST((SELECT count(*) FROM {list_cte} l
                   JOIN strue t ON t.src = l.src AND t.dst = l.dst) AS DOUBLE)
             / greatest((SELECT count(*) FROM strue), 1) + 1e-9, 6)
         AS edge_recall"""


_Q239_ORACLE_TEMPLATE = (
    f"""
WITH {_Q232_GRAPH_CTES},
"""
    + ",\n".join(_q239_round_ctes(r) for r in range(1, _Q239_ROUNDS + 1))
    + f""",
sscored AS (
  SELECT q.vec_id AS src, c.vec_id AS dst,
         {_Q232_L2.format(a='q', b='c')} AS dist
  FROM vecs q JOIN vecs c
    ON q.vec_id % {_Q237_SAMPLE_MOD} = 0 AND c.vec_id <> q.vec_id
),
strue AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src
                                 ORDER BY dist ASC, dst) AS r
    FROM sscored
  ) WHERE r <= {_Q232_M}
)
"""
    + "\nUNION ALL\n".join(
        _q239_recall_row(r, "knn" if r == 0 else f"refined_{r}")
        for r in range(_Q239_ROUNDS + 1)
    )
)


def q239_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q239 oracle: the shared graph CTEs + the refine algebra
    unrolled once per round + one recall row per round."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    return None if values is None else _Q239_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


Q239_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q240 — refined-graph SERVING: the NN-descent payoff at the query surface
# --------------------------------------------------------------------------


def q240_refined_graph_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does NN-descent pay at the surface that matters? q237/q239
    measure EDGE recall (build quality); this gate measures QUERY recall
    — q232's fixed-hop beam run twice over the SHARED build artifacts,
    once on the base graph and once on the rewired one (one NN-descent
    round, bridges re-added for the long-range links), both against the
    same exact-L2 truth. One row: (m, beam, hops, n_queries,
    avg/min recall on each graph) — the number that decides whether the
    descent rounds earn their O(n·deg²) cost in production serving,
    completing the chain q232 (price the family) → q235 (tune the beam)
    → q237/q239 (refine the build) → THIS (verify the refinement at the
    serving surface).

    Scale shape: the Σ|cell|² base build and the exact baseline are paid
    ONCE (the shared checkpointed setup); the rewire is one edge-table
    self-join + candidate-bounded verify; each traversal is q232's
    bounded-candidate broadcast ladder. Oracle: the shared graph CTEs +
    the refine round + BOTH unrolled beam chains (tagged hop CTEs over
    `edges` and the rewired `g1`) in one statement."""
    setup = _q232_setup(spark, sf_dir)
    edges = setup.edges
    refined = _nn_descent_round(setup.va, edges, _Q232_M)
    edges_r = _sym_edges(refined.unionByName(setup.bridges)).localCheckpoint(
        eager=True  # consumed once per hop of the refined traversal
    )

    # Both traversals (base graph, rewired graph) advance through ONE
    # fused per-hop job — see _q232_perq_recall_multi.
    perq_all = _q232_perq_recall_multi(
        setup, [(0, edges, _Q232_BEAM), (1, edges_r, _Q232_BEAM)]
    )
    rungs = _gate_agg(perq_all, "__rung")
    refined = rungs.filter(F.col("__rung") == 1).select(
        F.col("avg_recall").alias("avg_recall_refined"),
        F.col("min_recall").alias("min_recall_refined"),
    )
    return (
        rungs.filter(F.col("__rung") == 0)
        .crossJoin(F.broadcast(refined))
        .select(
            F.lit(_Q232_M).cast("long").alias("m"),
            F.lit(_Q232_BEAM).cast("long").alias("beam"),
            F.lit(_Q232_HOPS).cast("long").alias("hops"),
            "n_queries",
            F.col("avg_recall").alias("avg_recall_base"),
            F.col("min_recall").alias("min_recall_base"),
            "avg_recall_refined",
            "min_recall_refined",
        )
    )


def _q240_serve_tail(tag: str, hops: int) -> str:
    """fdist/served/hits/perq chain for one tagged traversal."""
    return f"""fdist{tag} AS (
  SELECT c.query_id, c.node, {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM c{tag}{hops} c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.node
  WHERE c.node <> c.query_id
),
served{tag} AS (
  SELECT query_id, node AS neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, node) AS r
    FROM fdist{tag}
  ) WHERE r <= {_Q232_K}
),
hits{tag} AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN served{tag} s ON s.query_id = e.query_id
                    AND s.neighbor_id = e.neighbor_id
  GROUP BY 1
),
perq{tag} AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q232_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact) e
  LEFT JOIN hits{tag} h ON h.query_id = e.query_id
)"""


_Q240_ORACLE_TEMPLATE = f"""
WITH {_Q232_GRAPH_CTES},
{_q239_round_ctes(1)},
cb0 AS (SELECT query_id, node FROM c0),
cr0 AS (SELECT query_id, node FROM c0),
{_q232_hop_ctes(_Q232_HOPS, tag="b", edges_cte="edges")},
{_q232_hop_ctes(_Q232_HOPS, tag="r", edges_cte="g1")},
{_q240_serve_tail("b", _Q232_HOPS)},
{_q240_serve_tail("r", _Q232_HOPS)},
aggb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_queries,
         round(avg(recall) + 1e-9, 6) AS avg_recall_base,
         round(min(recall) + 1e-9, 6) AS min_recall_base
  FROM perqb
),
aggr AS (
  SELECT round(avg(recall) + 1e-9, 6) AS avg_recall_refined,
         round(min(recall) + 1e-9, 6) AS min_recall_refined
  FROM perqr
)
SELECT CAST({_Q232_M} AS BIGINT) AS m,
       CAST({_Q232_BEAM} AS BIGINT) AS beam,
       CAST({_Q232_HOPS} AS BIGINT) AS hops,
       n_queries, avg_recall_base, min_recall_base,
       avg_recall_refined, min_recall_refined
FROM aggb CROSS JOIN aggr
"""


_Q240_HEAVY_CTES = [
    "vecs", "sims", "ranked", "assigned", "knn", "med", "edges", "c0",
    "exact", "g1", "refined_1",
    "cb0", "cb1", "cb2", "cr0", "cr1", "cr2",
]


def q240_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q240 oracle: shared graph CTEs + one refine round + both
    tagged beam unrolls + both recall chains in one statement."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _materialize_ctes(
        _Q240_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values),
        _Q240_HEAVY_CTES,
        "q240",
    )


Q240_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q241 — PCA projection: the dimension-reduction transform, distributed
# --------------------------------------------------------------------------

_Q241_COMPONENTS = 2


def _pca_params(path: str, n_components: int):
    """(mean, loadings) for the embeddings parquet at ``path`` — the
    oracle twin of ``operators/decomposition.pca_fit``: the SAME
    hash-bounded row selection (``hash_bounded_sample_py``) through the
    SAME ``pca_core`` numpy steps yields bit-identical parameters, so
    the SQL replay projects with literals that match the engine's to the
    last bit (the ``_ivf_centroid_values`` discipline). None when the
    testdata or DuckDB is unavailable."""
    try:
        import duckdb
        import numpy as np
    except ImportError:
        return None
    if not os.path.exists(path):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.decomposition import (
        pca_core,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample_py,
    )

    try:
        rows = duckdb.sql(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{path}') ORDER BY vec_id"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken import
        return None
    mat = hash_bounded_sample_py(
        [r[0] for r in rows],
        np.array([r[1] for r in rows], dtype=np.float64),
    )
    mean, comps, _ = pca_core(mat, n_components)
    return mean, comps


def _sql_double_array(vals) -> str:
    return "CAST([{}] AS DOUBLE[])".format(
        ", ".join(repr(float(x)) for x in vals)
    )


_PCA_FOLD = (
    "round(list_sum([(v[i] - mu[i]) * {w}[i] "
    f"FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6)"
)


def q241_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA of the embedding table — the DIMENSION-REDUCTION transform
    the index family's matrix (rotation=OPQ q214, scalar grid=SQ8 q220,
    subspace codebooks=PQ q195) did not yet cover, in its analytic form:
    every vector projected onto the two leading principal axes (the 2-D
    map a curation UI plots a corpus with).

    Training follows the repo's trainer discipline (hash-bounded sample,
    driver-side numpy — ``operators/decomposition.pca_fit``; index
    training is parameter-sized even in FAISS), with a TOTAL
    deterministic rule for the basis (eigh + descending eigenvalue +
    largest-component-positive sign), so the oracle twin reproduces the
    loadings bit-for-bit and replays the projection over literals. The
    PROJECTION — the data-sized pass — is two whole-stage-codegen fold
    expressions (no Python, no shuffle: scan → project), round6'd for
    the cross-engine fold parity every kernel here uses.

    Scale shape: one corpus scan, zero exchanges; the alternative
    full-corpus trainer input (``gram_moments``: scan-stage Arrow kernel
    + one d²-key aggregation, d²+d+1 result rows) is implemented and
    pytest-locked against the sample path for clusters where even the
    bounded sample must not leave the executors."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.decomposition import (
        pca_fit,
        pca_project_cols,
    )

    emb = table(spark, sf_dir, "embeddings")
    mean, comps, _ = pca_fit(emb, n_components=_Q241_COMPONENTS)
    pcs = pca_project_cols(
        to_double_array(F.col("embedding")), mean, comps
    )
    return emb.select(
        "vec_id", pcs[0].alias("pc1"), pcs[1].alias("pc2")
    )


def q241_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q241 oracle: bit-identical (mean, loadings) literals +
    the same round6 fold projection in SQL."""
    params = _pca_params(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        _Q241_COMPONENTS,
    )
    if params is None:
        return None
    mean, comps = params
    return f"""
WITH params AS (
  SELECT {_sql_double_array(mean)} AS mu,
         {_sql_double_array(comps[0])} AS w1,
         {_sql_double_array(comps[1])} AS w2
),
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT vec_id,
       {_PCA_FOLD.format(w='w1')} AS pc1,
       {_PCA_FOLD.format(w='w2')} AS pc2
FROM vecs CROSS JOIN params
"""


Q241_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q242 — PCA-screened ANN: low-rank candidate screen + exact rerank
# --------------------------------------------------------------------------

_Q242_RDIMS = 8
_Q242_SCREEN_R = 30
_Q242_K = 3
_Q242_NQ = 8


def q242_pca_ann_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-screened ANN — the dimension-reduction rung of the index
    ladder, priced on the same recall axis as the rest of the family
    (q39 LSH / q56 IVF / q195 PQ / q213 rerank / q220 SQ8 / q224 binary
    / q232 graph): candidates come from squared-L2 in the ``r``-dim
    principal subspace (an 8× cheaper distance that needs only the
    projected table), the top-``R`` survivors are reranked by exact
    full-dim L2, recall@k measured against the exact baseline. One row:
    (r_dims, screen_r, k, n_queries, avg_recall, min_recall).

    Scale shape: projection is one scan-stage Arrow matmul per batch
    (``pca_project_batches`` — r fold trees of d terms would bloat
    codegen, the cell_knn_edges lesson); the screen broadcasts the
    bounded query projections into the projected-corpus scan; the rerank
    touches R·|Q| candidate rows only. At 100 TB the projected table is
    the PERSISTED artifact (8 doubles vs 64 per row — an 8× scan saving
    on every screen) and the full vectors are read only for candidates.

    Oracle: bit-identical (mean, loadings) literals (the pca_fit twin),
    fold-projected coordinates, the same screen/rerank/recall algebra."""
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.operators.decomposition import (
        pca_fit,
        pca_project_batches,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        brute_force_topk_l2,
        l2sq_cols,
    )

    emb = table(spark, sf_dir, "embeddings")
    mean, comps, _ = pca_fit(emb, n_components=_Q242_RDIMS)
    proj = pca_project_batches(emb, mean, comps).localCheckpoint(
        eager=True  # consumed by the corpus side AND the query side
    )
    qpred = F.col("vec_id") < _Q242_NQ
    qp = proj.filter(qpred).select(
        F.col("vec_id").alias("query_id"), F.col("p").alias("__qp")
    )
    rscored = (
        proj.select(F.col("vec_id").alias("neighbor_id"), "p")
        .crossJoin(F.broadcast(qp))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            l2sq_cols(F.col("__qp"), F.col("p"), _Q242_RDIMS).alias("rd"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("rd").asc(), F.col("neighbor_id")
    )
    cand = (
        rscored.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= _Q242_SCREEN_R)
        .select("query_id", "neighbor_id")
    )

    va = _vectors(emb)
    served = _nearest(
        _scored(
            va,
            _query_vectors(va, qpred),
            cand.withColumnRenamed("neighbor_id", "node"),
        ),
        _Q242_K,
    )
    exact = brute_force_topk_l2(emb, emb.filter(qpred), k=_Q242_K, dim=_DIM).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=True)  # hit join + query-universe join
    return _gate_agg(_hit_recall(exact, served, _Q242_K)).select(
        F.lit(_Q242_RDIMS).cast("long").alias("r_dims"),
        F.lit(_Q242_SCREEN_R).cast("long").alias("screen_r"),
        F.lit(_Q242_K).cast("long").alias("k"),
        "n_queries",
        "avg_recall",
        "min_recall",
    )


def q242_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q242 oracle: (mean, loadings) literals, fold-projected
    coordinates, reduced-space screen, exact rerank, recall algebra."""
    params = _pca_params(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"), _Q242_RDIMS
    )
    if params is None:
        return None
    mean, comps = params
    warrs = ",\n         ".join(
        f"{_sql_double_array(w)} AS w{j + 1}" for j, w in enumerate(comps)
    )
    pfold = ",\n          ".join(
        _PCA_FOLD.format(w=f"w{j + 1}") for j in range(len(comps))
    )
    return f"""
WITH params AS (
  SELECT {_sql_double_array(mean)} AS mu,
         {warrs}
),
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
proj AS (
  SELECT vec_id,
         [{pfold}] AS p
  FROM vecs CROSS JOIN params
),
rscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum([(q.p[j] - c.p[j]) * (q.p[j] - c.p[j])
                   FOR j IN range(1, {_Q242_RDIMS} + 1)]) + 1e-9, 6) AS rd
  FROM proj q JOIN proj c
    ON q.vec_id < {_Q242_NQ} AND c.vec_id <> q.vec_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rd, neighbor_id) AS r
    FROM rscored
  ) WHERE r <= {_Q242_SCREEN_R}
),
rerank AS (
  SELECT c.query_id, c.neighbor_id,
         {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM cand c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.neighbor_id
),
served AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, neighbor_id) AS r
    FROM rerank
  ) WHERE r <= {_Q242_K}
),
escored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_Q232_L2.format(a='q', b='c')} AS dist
  FROM vecs q JOIN vecs c ON q.vec_id < {_Q242_NQ} AND c.vec_id <> q.vec_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, neighbor_id) AS r
    FROM escored
  ) WHERE r <= {_Q242_K}
),
hits AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN served s ON s.query_id = e.query_id
                AND s.neighbor_id = e.neighbor_id
  GROUP BY 1
),
perq AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q242_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact) e
  LEFT JOIN hits h ON h.query_id = e.query_id
)
SELECT CAST({_Q242_RDIMS} AS BIGINT) AS r_dims,
       CAST({_Q242_SCREEN_R} AS BIGINT) AS screen_r,
       CAST({_Q242_K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(recall) + 1e-9, 6) AS avg_recall,
       round(min(recall) + 1e-9, 6) AS min_recall
FROM perq
"""


Q242_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q243 — PCA screen-depth SLA: the rung ladder from ONE scored pass
# --------------------------------------------------------------------------

_Q243_LADDER = (10, 30, 100)
_Q243_TARGET = 0.9


def q243_pca_screen_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning discipline on the PCA screen (q216 IVF / q228 hybrid /
    q235 graph → THIS): q242's screen depth is a hand-picked constant —
    here the whole depth ladder is measured and the minimal rung meeting
    recall@3 ≥ 0.9 is flagged. Unlike q235 (each beam rung is a full
    traversal), the PCA screen has the PREFIX PROPERTY: depth-R's
    candidate set is the first R of ONE reduced-space ranking, so the
    reduced scoring AND the exact rerank distances are computed ONCE at
    the ladder maximum and every rung is a rank filter over the same
    checkpointed frame — the q228 measure-once-serve-prefix trick.
    Output: one row per rung (screen_r, r_dims, k, n_queries, avg/min
    recall, met) with ``picked`` on the cheapest rung that met, the pick
    computed in-plan (min over met rungs — broadcast 1-row aggregate)
    and replayed by the oracle's scalar subquery.

    Scale shape: one projected-corpus screen pass + ONE candidate rerank
    at max depth (R_max·|Q| rows); rung count is a constant. The ladder
    may saturate on this corpus (the q221 flat-S-curve convention) —
    the audit records whichever is true."""
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.operators.decomposition import (
        pca_fit,
        pca_project_batches,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        brute_force_topk_l2,
        l2sq_cols,
    )

    emb = table(spark, sf_dir, "embeddings")
    mean, comps, _ = pca_fit(emb, n_components=_Q242_RDIMS)
    proj = pca_project_batches(emb, mean, comps).localCheckpoint(eager=True)
    qpred = F.col("vec_id") < _Q242_NQ
    qp = proj.filter(qpred).select(
        F.col("vec_id").alias("query_id"), F.col("p").alias("__qp")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("rd").asc(), F.col("neighbor_id")
    )
    cand = (
        proj.select(F.col("vec_id").alias("neighbor_id"), "p")
        .crossJoin(F.broadcast(qp))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            l2sq_cols(F.col("__qp"), F.col("p"), _Q242_RDIMS).alias("rd"),
        )
        .withColumn("rr", F.row_number().over(wr))
        .filter(F.col("rr") <= max(_Q243_LADDER))
    )
    va = _vectors(emb)
    rerank = _scored(
        va,
        _query_vectors(va, qpred),
        cand.select("query_id", F.col("neighbor_id").alias("node"), "rr"),
    ).localCheckpoint(eager=True)  # the pick reads the rung rows twice
    exact = (
        brute_force_topk_l2(emb, emb.filter(qpred), k=_Q242_K, dim=_DIM)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)  # the hit join + the query universe
    )
    # Each depth is a rank filter over the one rerank, so the whole
    # ladder is one frame tagged by depth (__rung): one nearest-k window,
    # one recall tail and one gate aggregate for every rung.
    tag = F.explode(F.array(*(F.lit(d) for d in _Q243_LADDER))).alias("__rung")
    tagged = rerank.select("*", tag).filter(F.col("rr") <= F.col("__rung"))
    served = _nearest(tagged.drop("rr"), _Q242_K)
    qids = exact.select("query_id").distinct().select("*", tag)
    rows = _gate_agg(
        _hit_recall(exact, served, _Q242_K, qids), "__rung"
    ).select(
        F.col("__rung").cast("long").alias("screen_r"),
        F.lit(_Q242_RDIMS).cast("long").alias("r_dims"),
        F.lit(_Q242_K).cast("long").alias("k"),
        "n_queries",
        "avg_recall",
        "min_recall",
        (F.col("avg_recall") >= F.lit(float(_Q243_TARGET))).alias("met"),
    )
    return _pick_cheapest(rows, "screen_r")


def _q243_rung_sql(depth: int) -> str:
    return f"""served_{depth} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, neighbor_id) AS r
    FROM rerank WHERE rr <= {depth}
  ) WHERE r <= {_Q242_K}
),
hits_{depth} AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN served_{depth} s ON s.query_id = e.query_id
                       AND s.neighbor_id = e.neighbor_id
  GROUP BY 1
),
perq_{depth} AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q242_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact) e
  LEFT JOIN hits_{depth} h ON h.query_id = e.query_id
),
row_{depth} AS (
  SELECT CAST({depth} AS BIGINT) AS screen_r,
         CAST({_Q242_RDIMS} AS BIGINT) AS r_dims,
         CAST({_Q242_K} AS BIGINT) AS k,
         CAST(count(*) AS BIGINT) AS n_queries,
         round(avg(recall) + 1e-9, 6) AS avg_recall,
         round(min(recall) + 1e-9, 6) AS min_recall,
         round(avg(recall) + 1e-9, 6) >= {_Q243_TARGET} AS met
  FROM perq_{depth}
)"""


def q243_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q243 oracle: q242's literal-projected screen scored once
    at the ladder max, one rank-filtered rung chain per depth, the pick
    as a scalar subquery over the union."""
    params = _pca_params(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"), _Q242_RDIMS
    )
    if params is None:
        return None
    mean, comps = params
    warrs = ",\n         ".join(
        f"{_sql_double_array(w)} AS w{j + 1}" for j, w in enumerate(comps)
    )
    pfold = ",\n          ".join(
        _PCA_FOLD.format(w=f"w{j + 1}") for j in range(len(comps))
    )
    rungs = ",\n".join(_q243_rung_sql(d) for d in _Q243_LADDER)
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM row_{d}" for d in _Q243_LADDER
    )
    return f"""
WITH params AS (
  SELECT {_sql_double_array(mean)} AS mu,
         {warrs}
),
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
proj AS (
  SELECT vec_id,
         [{pfold}] AS p
  FROM vecs CROSS JOIN params
),
rscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum([(q.p[j] - c.p[j]) * (q.p[j] - c.p[j])
                   FOR j IN range(1, {_Q242_RDIMS} + 1)]) + 1e-9, 6) AS rd
  FROM proj q JOIN proj c
    ON q.vec_id < {_Q242_NQ} AND c.vec_id <> q.vec_id
),
cand AS (
  SELECT query_id, neighbor_id, rr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rd, neighbor_id) AS rr
    FROM rscored
  ) WHERE rr <= {max(_Q243_LADDER)}
),
rerank AS (
  SELECT c.query_id, c.neighbor_id, c.rr,
         {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM cand c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.neighbor_id
),
escored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_Q232_L2.format(a='q', b='c')} AS dist
  FROM vecs q JOIN vecs c ON q.vec_id < {_Q242_NQ} AND c.vec_id <> q.vec_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, neighbor_id) AS r
    FROM escored
  ) WHERE r <= {_Q242_K}
),
{rungs},
ladder AS (
{union}
)
SELECT screen_r, r_dims, k, n_queries, avg_recall, min_recall, met,
       coalesce(met AND screen_r = (SELECT min(screen_r) FROM ladder
                                    WHERE met), FALSE) AS picked
FROM ladder
"""


Q243_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q247 — filtered ANN: metadata predicate pushed INTO the IVF probe
# --------------------------------------------------------------------------

_Q247_LABEL_MAX = 3
_Q247_K = 3
_Q247_NPROBE = 4
_Q247_NQ = 8


def q247_filtered_ann_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the production ANN variant every serving
    stack needs and the family matrix did not yet cover: top-k neighbors
    AMONG THE ROWS SATISFYING A METADATA PREDICATE (here label < 3,
    ~30% selectivity), measured against the exact filtered baseline.

    The filter is applied in its PRE-filter form (FAISS's IDSelector /
    filtered-HNSW semantics): the predicate prunes the inverted lists
    BEFORE cell assignment — at scale it pushes down into the corpus
    scan as a partition/stats prune on the metadata column — so every
    probed candidate already qualifies and the query still yields k
    results at the same probe budget. The naive alternative
    (post-filter an unfiltered top-k) silently under-returns whenever
    the filter is selective; the gate row's measured recall is the
    number that says whether the SHARED quantizer (trained on the full
    corpus — the filter changes per query family, the index does not)
    still probes well under this predicate. Output: (k, n_probe,
    selectivity, n_queries, avg_recall, min_recall).

    Scale shape: identical to q56 plus one scan-stage predicate; the
    exact truth side is query-bounded. Oracle: the literal-centroid
    assignment CTEs with the label filter on the inverted lists and the
    exact filtered baseline."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ann_topk_ivf,
        brute_force_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    flt = F.col("label") < _Q247_LABEL_MAX
    served = ann_topk_ivf(
        emb,
        query_ids_pred=lambda c: c < _Q247_NQ,
        k=_Q247_K,
        n_cells=16,
        n_probe=_Q247_NPROBE,
        candidate_pred=flt,
    ).select("query_id", "neighbor_id")
    exact = (
        brute_force_topk(
            emb.filter(flt), emb.filter(F.col("vec_id") < _Q247_NQ), k=_Q247_K
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)  # hit join + query-universe join
    )
    sel = emb.agg(
        F.round(
            F.avg(F.when(flt, 1.0).otherwise(0.0)) + F.lit(1e-9), 6
        ).alias("selectivity")
    )
    return (
        _gate_agg(_hit_recall(exact, served, _Q247_K))
        .crossJoin(F.broadcast(sel))
        .select(
            F.lit(_Q247_K).cast("long").alias("k"),
            F.lit(_Q247_NPROBE).cast("long").alias("n_probe"),
            "selectivity",
            "n_queries",
            "avg_recall",
            "min_recall",
        )
    )


_Q247_ORACLE_TEMPLATE = f"""
WITH vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, v,
         sqrt({_DOT.format(a='v', b='v', dim=_DIM)}) AS nrm
  FROM vecs
),
cents(cell, c) AS (VALUES __IVF_VALUES__),
sims AS (
  SELECT u.vec_id, ct.cell,
         round(list_sum([u.v[i] / (CASE WHEN u.nrm = 0 THEN 1 ELSE u.nrm END) * ct.c[i]
                   FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS sim
  FROM unit u CROSS JOIN cents ct
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r
  FROM sims
),
assigned AS (
  SELECT rk.vec_id AS neighbor_id, rk.cell
  FROM ranked rk JOIN vecs vv ON vv.vec_id = rk.vec_id
  WHERE rk.r = 1 AND vv.label < {_Q247_LABEL_MAX}
),
probes AS (
  SELECT vec_id AS query_id, cell FROM ranked
  WHERE r <= {_Q247_NPROBE} AND vec_id < {_Q247_NQ}
),
cand AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probes p
  JOIN assigned a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id, {_cos('qv.v', 'nv.v')} AS cosine
  FROM cand c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.neighbor_id
),
served AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {_Q247_K}
),
escored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos('q.v', 'c.v')} AS cosine
  FROM vecs q JOIN vecs c
    ON q.vec_id < {_Q247_NQ} AND c.vec_id <> q.vec_id
  WHERE c.label < {_Q247_LABEL_MAX}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM escored
  ) WHERE r <= {_Q247_K}
),
hits AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN served s ON s.query_id = e.query_id
                AND s.neighbor_id = e.neighbor_id
  GROUP BY 1
),
perq AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q247_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact) e
  LEFT JOIN hits h ON h.query_id = e.query_id
),
sel AS (
  SELECT round(avg(CASE WHEN label < {_Q247_LABEL_MAX} THEN 1.0 ELSE 0.0 END)
               + 1e-9, 6) AS selectivity
  FROM vecs
)
SELECT CAST({_Q247_K} AS BIGINT) AS k,
       CAST({_Q247_NPROBE} AS BIGINT) AS n_probe,
       (SELECT selectivity FROM sel) AS selectivity,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(recall) + 1e-9, 6) AS avg_recall,
       round(min(recall) + 1e-9, 6) AS min_recall
FROM perq
"""


def q247_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q247 oracle: centroid literals (full-corpus trainer —
    the index is shared across filters), label-filtered inverted lists,
    exact filtered baseline, recall algebra."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    return None if values is None else _Q247_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


Q247_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q250 — NN-descent depth SLA: minimal rounds whose SERVING recall meets
# --------------------------------------------------------------------------

_Q250_TARGET = 0.9


def q250_descent_depth_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last composition in the graph family's tuning story: q239
    measures EDGE recall per descent round and q240 measures serving on
    ONE rewire — this derives the build budget itself: for every
    descent depth r ∈ {0..2} the SERVING recall (q232's beam at the
    deployed width) is measured over the r-round-rewired graph, and the
    MINIMAL depth meeting avg recall@3 ≥ 0.9 is flagged — the number
    that decides how many O(n·deg²) build rounds a deployment actually
    pays for, derived from the metric that matters (query recall, not
    the edge-recall proxy). Output: one row per depth (rounds, beam,
    hops, k, n_queries, avg/min recall, met, picked), the pick computed
    in-plan and replayed by the oracle's scalar subquery.

    Scale shape: the Σ|cell|² base build, the entry set, and the exact
    baseline are paid ONCE (shared checkpointed setup); each additional
    depth costs one O(n·deg²) rewire + one bounded beam traversal.
    Oracle: the shared graph CTEs + both refine rounds + three tagged
    beam unrolls + the ladder/pick algebra in one statement."""
    setup = _q232_setup(spark, sf_dir)
    graphs = {0: setup.edges}
    g = setup.edges
    for r in range(1, _Q239_ROUNDS + 1):
        refined = _nn_descent_round(setup.va, g, _Q232_M)
        g = _sym_edges(refined.unionByName(setup.bridges)).localCheckpoint(
            eager=True  # serve traversal + next round's expansion
        )
        graphs[r] = g

    # One FUSED traversal across all depths (hops jobs, not depths×hops);
    # the sequential part — each depth's rewire — stays sequential above.
    perq_all = _q232_perq_recall_multi(
        setup,
        [(r, edges_r, _Q232_BEAM) for r, edges_r in sorted(graphs.items())],
    )
    rows = _gate_agg(perq_all, "__rung").select(
        F.col("__rung").cast("long").alias("rounds"),
        F.lit(_Q232_BEAM).cast("long").alias("beam"),
        F.lit(_Q232_HOPS).cast("long").alias("hops"),
        F.lit(_Q232_K).cast("long").alias("k"),
        "n_queries",
        "avg_recall",
        "min_recall",
        (F.col("avg_recall") >= F.lit(float(_Q250_TARGET))).alias("met"),
    )
    return _pick_cheapest(rows, "rounds")


def _q250_depth_chain(rnd: int) -> str:
    """Entry alias + hop chain + serve tail for one descent depth."""
    tag = f"d{rnd}"
    edges_cte = "edges" if rnd == 0 else f"g{rnd}"
    return (
        f"c{tag}0 AS (SELECT query_id, node FROM c0),\n"
        + _q232_hop_ctes(_Q232_HOPS, tag=tag, edges_cte=edges_cte)
        + ",\n"
        + _q240_serve_tail(tag, _Q232_HOPS)
    )


def _q250_depth_row(rnd: int) -> str:
    return f"""SELECT CAST({rnd} AS BIGINT) AS rounds,
       CAST({_Q232_BEAM} AS BIGINT) AS beam,
       CAST({_Q232_HOPS} AS BIGINT) AS hops,
       CAST({_Q232_K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(recall) + 1e-9, 6) AS avg_recall,
       round(min(recall) + 1e-9, 6) AS min_recall,
       coalesce(round(avg(recall) + 1e-9, 6) >= {_Q250_TARGET}, FALSE) AS met
FROM perqd{rnd}"""


_Q250_ORACLE_TEMPLATE = (
    f"""
WITH {_Q232_GRAPH_CTES},
"""
    + ",\n".join(_q239_round_ctes(r) for r in range(1, _Q239_ROUNDS + 1))
    + ",\n"
    + ",\n".join(_q250_depth_chain(r) for r in range(_Q239_ROUNDS + 1))
    + ",\nladder AS (\n"
    + "\nUNION ALL\n".join(
        _q250_depth_row(r) for r in range(_Q239_ROUNDS + 1)
    )
    + """
)
SELECT rounds, beam, hops, k, n_queries, avg_recall, min_recall, met,
       coalesce(met AND rounds = (SELECT min(rounds) FROM ladder WHERE met),
                FALSE) AS picked
FROM ladder
"""
)


def q250_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q250 oracle: shared graph CTEs + both refine rounds +
    one tagged beam unroll per depth + the ladder/pick algebra.

    The statement references the rewired graphs g1/g2 (and their whole
    upstream refine chains) from MULTIPLE consumers — three hop CTEs per
    depth plus the next refine round — and DuckDB's default CTE
    INLINING re-evaluates the full upstream per reference, which blows
    the q239-sized subtree up exponentially (measured: >120 s at
    sf0.001 vs ~10 s materialized). Force MATERIALIZED on every
    multiply-referenced heavy CTE; semantics are unchanged."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    sql = _Q250_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values)
    heavy = (
        ["vecs", "sims", "ranked", "assigned", "knn", "edges", "c0", "exact"]
        + [
            n
            for r in range(1, _Q239_ROUNDS + 1)
            for n in (f"e2_{r}", f"cand_{r}", f"cscored_{r}",
                      f"refined_{r}", f"g{r}")
        ]
    )
    for name in heavy:
        target = f"{name} AS ("
        # The hint is load-bearing (>120 s exponential re-evaluation
        # without it) — a silent miss after a cosmetic CTE rename must
        # fail loudly here, not resurface as a driver-gate timeout.
        if target not in sql:
            raise AssertionError(
                f"q250 oracle: heavy CTE '{name}' not found for "
                "MATERIALIZED injection — template drifted"
            )
        sql = sql.replace(target, f"{name} AS MATERIALIZED (", 1)
    return sql


Q250_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q251 — filtered-ANN selectivity ladder: where does the index stop probing?
# --------------------------------------------------------------------------

_Q251_LABEL_MAXES = (1, 3, 8)  # ~10% / ~30% / ~80% selectivity


def q251_filter_selectivity_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q247 at three selectivities over the SAME shared index — the
    measurement behind the filtered-search folklore ("below ~10%
    selectivity, switch from pre-filtered ANN to exact search over the
    filtered subset"): as the predicate gets MORE selective the probed
    cells hold fewer qualifying candidates, so recall decays while the
    exact-scan alternative gets CHEAPER — this ladder records where
    this corpus's crossover is instead of assuming it. One row per
    predicate (label_max, selectivity, n_queries, avg/min recall),
    every rung sharing ONE quantizer, ONE corpus assignment pass, and
    ONE probe pass (checkpointed; rungs differ only in the scan-stage
    candidate filter), and every rung running in ONE frame tagged by its
    label max. Note recall is NOT structurally monotone across
    rungs — each rung's truth set changes with the filter — which is
    exactly why it has to be measured.

    Scale shape: one assignment kernel pass + one probe pass shared by
    all rungs; each rung adds a filtered cell equi-join + a
    query-bounded exact-truth baseline. Oracle: the literal-centroid
    CTEs + one filtered candidate/truth chain per rung."""
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ivf_assign,
        ivf_train_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    cents = ivf_train_centroids(emb, k=16, n_iter=2)
    assigned = (
        ivf_assign(emb, cents, n_probe=1)
        .join(emb.select("vec_id", "label"), on="vec_id")
        .select(F.col("vec_id").alias("neighbor_id"), "cell", "label")
        .localCheckpoint(eager=True)  # the one corpus assignment pass
    )
    qpred = F.col("vec_id") < _Q247_NQ
    probes = (
        ivf_assign(emb.filter(qpred), cents, n_probe=_Q247_NPROBE)
        .select(F.col("vec_id").alias("query_id"), "cell")
        .localCheckpoint(eager=True)
    )
    v = to_double_array(F.col("embedding"))
    va = emb.select(
        "vec_id", "label", v.alias("__v"),
        F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
        ).alias("__n"),
    ).localCheckpoint(eager=True)  # corpus + query + truth consumers
    qv = va.filter(qpred).select(
        F.col("vec_id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )

    def cos(av, an, bv, bn):
        dot = F.aggregate(
            F.zip_with(av, bv, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(
            dot / F.nullif(an * bn, F.lit(0.0)) + F.lit(1e-9), 6
        )

    w = Window.partitionBy("__rung", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )

    def top_k(pairs: DataFrame) -> DataFrame:
        """(__rung, query_id, neighbor_id): each rung's k most
        cosine-similar ``pairs`` per query, the query itself excluded."""
        return (
            pairs.filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "__rung",
                "query_id",
                "neighbor_id",
                cos(
                    F.col("__qv"), F.col("__qn"), F.col("__cv"), F.col("__cn")
                ).alias("cosine"),
            )
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= _Q247_K)
            .select("__rung", "query_id", "neighbor_id")
        )

    # The predicates are the rungs of ONE frame tagged by label max
    # (__rung): a row is in a rung where label < __rung.
    tag = F.explode(F.array(*(F.lit(m) for m in _Q251_LABEL_MAXES))).alias(
        "__rung"
    )
    in_rung = F.col("label") < F.col("__rung")
    vec = va.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"),
    )
    cand = (
        probes.join(assigned.select("*", tag).filter(in_rung), on="cell")
        .select("__rung", "query_id", "neighbor_id")
        .distinct()
    )
    served = top_k(
        cand.join(F.broadcast(qv), on="query_id").join(vec, on="neighbor_id")
    )
    exact = top_k(
        vec.select("*", tag).filter(in_rung).crossJoin(F.broadcast(qv))
    ).localCheckpoint(eager=True)  # the hit join + the query universe
    sel = emb.select("label", tag).groupBy("__rung").agg(
        round6(F.avg(F.when(in_rung, 1.0).otherwise(0.0))).alias("selectivity")
    )
    return (
        _gate_agg(_hit_recall(exact, served, _Q247_K), "__rung")
        .join(F.broadcast(sel), on="__rung")
        .select(
            F.col("__rung").cast("long").alias("label_max"),
            "selectivity",
            F.lit(_Q247_K).cast("long").alias("k"),
            F.lit(_Q247_NPROBE).cast("long").alias("n_probe"),
            "n_queries",
            "avg_recall",
            "min_recall",
        )
    )


def _q251_rung_sql(lmax: int) -> str:
    return f"""cand_{lmax} AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probes p
  JOIN assigned a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
  WHERE a.label < {lmax}
),
scored_{lmax} AS (
  SELECT c.query_id, c.neighbor_id, {_cos('qv.v', 'nv.v')} AS cosine
  FROM cand_{lmax} c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.neighbor_id
),
served_{lmax} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM scored_{lmax}
  ) WHERE r <= {_Q247_K}
),
escored_{lmax} AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos('q.v', 'c.v')} AS cosine
  FROM vecs q JOIN vecs c
    ON q.vec_id < {_Q247_NQ} AND c.vec_id <> q.vec_id
  WHERE c.label < {lmax}
),
exact_{lmax} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM escored_{lmax}
  ) WHERE r <= {_Q247_K}
),
perq_{lmax} AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q247_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact_{lmax}) e
  LEFT JOIN (
    SELECT e2.query_id, count(*) AS h
    FROM exact_{lmax} e2
    JOIN served_{lmax} s ON s.query_id = e2.query_id
                        AND s.neighbor_id = e2.neighbor_id
    GROUP BY 1
  ) h ON h.query_id = e.query_id
),
row_{lmax} AS (
  SELECT CAST({lmax} AS BIGINT) AS label_max,
         (SELECT round(avg(CASE WHEN label < {lmax} THEN 1.0 ELSE 0.0 END)
                       + 1e-9, 6) FROM vecs) AS selectivity,
         CAST({_Q247_K} AS BIGINT) AS k,
         CAST({_Q247_NPROBE} AS BIGINT) AS n_probe,
         CAST(count(*) AS BIGINT) AS n_queries,
         round(avg(recall) + 1e-9, 6) AS avg_recall,
         round(min(recall) + 1e-9, 6) AS min_recall
  FROM perq_{lmax}
)"""


_Q251_ORACLE_TEMPLATE = (
    f"""
WITH vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
  SELECT vec_id, v,
         sqrt({_DOT.format(a='v', b='v', dim=_DIM)}) AS nrm
  FROM vecs
),
cents(cell, c) AS (VALUES __IVF_VALUES__),
sims AS (
  SELECT u.vec_id, ct.cell,
         round(list_sum([u.v[i] / (CASE WHEN u.nrm = 0 THEN 1 ELSE u.nrm END) * ct.c[i]
                   FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS sim
  FROM unit u CROSS JOIN cents ct
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r
  FROM sims
),
assigned AS (
  SELECT rk.vec_id AS neighbor_id, rk.cell, vv.label
  FROM ranked rk JOIN vecs vv ON vv.vec_id = rk.vec_id
  WHERE rk.r = 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM ranked
  WHERE r <= {_Q247_NPROBE} AND vec_id < {_Q247_NQ}
),
"""
    + ",\n".join(_q251_rung_sql(m) for m in _Q251_LABEL_MAXES)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT * FROM row_{m}" for m in _Q251_LABEL_MAXES
    )
)


def q251_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q251 oracle: shared assignment/probe CTEs + one filtered
    candidate/truth chain per selectivity rung."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    return None if values is None else _Q251_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


Q251_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q249 — streaming PCA encode: the frozen basis riding the ingest stream
# --------------------------------------------------------------------------


def q249_streaming_pca_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q241's PCA projection riding the ingest stream — the streaming
    member of the dimension-reduction family, completing the pattern
    every other index transform already has (q203 PQ encode, q218 OPQ
    encode, q234/q236 curation screens, q244 near-dup): the basis is
    FROZEN (trained once on the batch corpus before the stream starts —
    the frozen-codebook discipline; embeddings drift is a retrain
    decision, not a per-batch one), each arriving micro-batch projects
    its vectors through the two codegen folds and appends a batchId-
    gated generation. Because the projection is a pure per-row
    transform over a static parameter set, the drained frame must equal
    the one-pass batch projection — so the oracle is q241's SQL
    VERBATIM (the q244/q207 index ≡ recompute discipline), and the
    >1-micro-batch assertion lives in `streaming_transform`.

    Scale shape: per micro-batch one scan-stage projection + one
    append; at 100 TB this is where the projected table (q242/q243's
    8×-cheaper screen artifact) is actually built — on the stream, so
    the screen index is servable while the corpus grows."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.decomposition import (
        pca_fit,
        pca_project_cols,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.filter_stream import (
        streaming_transform,
    )

    emb = table(spark, sf_dir, "embeddings")
    mean, comps, _ = pca_fit(emb, n_components=_Q241_COMPONENTS)
    split_dir = _split_embeddings(spark, sf_dir)

    def project(bdf: DataFrame) -> DataFrame:
        pcs = pca_project_cols(
            to_double_array(F.col("embedding")), mean, comps
        )
        return bdf.select(
            "vec_id", pcs[0].alias("pc1"), pcs[1].alias("pc2")
        )

    return streaming_transform(spark, split_dir, project)


# --------------------------------------------------------------------------
# q208 — perceptual-hash (dHash) near-dup over the multimodal payload
# --------------------------------------------------------------------------

_Q208_MAX_HAMMING = 6


def q208_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate detection over the BINARY payload column
    — the image-dedup member of the dedup family (q33 MinHash text, q34
    SimHash text, this one payload bytes): attach the canonical
    multimodal payload (q41's shape), Arrow-kernel each payload to a
    64-bit dHash split into 4 x 16-bit bands
    (operators/multimodal.py:dhash_bands), band-collision candidate
    pairs (pigeonhole: Hamming <= 3 always collides; above it the
    documented LSH recall trade-off), exact 64-bit Hamming verified on
    candidates only, threshold 6.

    The hash is a deterministic integer function of the payload bytes,
    so the oracle replays pixel sampling, bit packing, banding, and the
    popcount verify in plain SQL — bit-exact, no floats anywhere.

    Scale shape: signature pass is scan-stage (4 int64s per payload,
    size-independent); candidate generation is a band-value equi-join
    (corpus-linear); the quadratic Hamming verify touches candidate rows
    only. No all-pairs stage anywhere — the q62 discipline on bytes."""
    from wetsa_cams_solrad_timeseries_spark.operators.multimodal import (
        attach_payload,
        dhash_bands,
        dhash_hamming_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    # localCheckpoint: four plan branches consume the signatures (both
    # self-join sides + both verify sides), and without it the Arrow
    # hash kernel re-reads and re-hashes the corpus 4× (PLANS.json
    # showed python_kernels=4) — the q62 shared-subtree discipline.
    sigs = dhash_bands(attach_payload(docs, "doc_id", "text")).localCheckpoint(
        eager=True
    )
    return dhash_hamming_pairs(sigs, max_hamming=_Q208_MAX_HAMMING)


_Q208_BAND_COLS = ",\n         ".join(
    "CAST(list_sum([b[{lo} + i + 1] * (1 << i) FOR i IN range(0, 16)]) "
    "AS BIGINT) AS band{b}".format(lo=b * 16, b=b)
    for b in range(4)
)
_Q208_HAMMING = " + ".join(
    f"bit_count(xor(sa.band{b}, sb.band{b}))" for b in range(4)
)

# Pixel replay: payload = UTF-8 BYTES of text, extracted byte-faithfully
# from hex(encode(text)) — byte j (0-based) is the hex pair at 2j+1 —
# so the oracle agrees with the kernel's np.frombuffer-over-UTF-8 view
# on ANY corpus, not just ASCII (round-10 ADVICE fix). The 8x9 grid
# tiles the bytes modulo the byte length; bit k (k = r*8+c) compares
# grid cells k+k//8 and k+k//8+1 (the row-major flattening of
# pixel[r][c] < pixel[r][c+1]).
_Q208_PIX_CTES = """src AS (
  SELECT doc_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS n
  FROM documents
),
pix AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN [0 FOR j IN range(0, 72)]
              ELSE [('0x' || substr(h, CAST(j % n AS INT) * 2 + 1, 2))::INT
                    FOR j IN range(0, 72)]
         END AS p
  FROM src
),"""

Q208_ORACLE = f"""
WITH {_Q208_PIX_CTES}
bits AS (
  SELECT doc_id,
         [CASE WHEN p[k + (k // 8) + 1] < p[k + (k // 8) + 2]
               THEN 1 ELSE 0 END FOR k IN range(0, 64)] AS b
  FROM pix
),
sig AS (
  SELECT doc_id,
         {_Q208_BAND_COLS}
  FROM bits
),
stacked AS (
  SELECT doc_id,
         unnest([0, 1, 2, 3]) AS band,
         unnest([band0, band1, band2, band3]) AS val
  FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM stacked a
  JOIN stacked b ON a.band = b.band AND a.val = b.val
                AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST({_Q208_HAMMING} AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE {_Q208_HAMMING} <= {_Q208_MAX_HAMMING}
"""


# --------------------------------------------------------------------------
# q210 — incremental perceptual-hash index (cross-run image dedup)
# --------------------------------------------------------------------------

_Q210_BUCKETS = 8


def _dhash_index_rows(sig_df: DataFrame) -> DataFrame:
    """(doc_id, bkey, band0..band3) rows — one per band, the FULL
    signature denormalized onto every row (the q207 dl trick), with the
    single-column probe key ``bkey = band·2¹⁶ + value`` (band folded
    into the key the way q193 hashes the band into its bucket digest, so
    a bucketed layout on one column satisfies the probe join)."""
    bands = [c for c in sig_df.columns if c.startswith("band")]
    return sig_df.select(
        "doc_id",
        F.explode(
            F.array(*[
                (F.lit(b * 65536) + F.col(c)).alias("k")
                for b, c in enumerate(bands)
            ])
        ).alias("bkey"),
        *bands,
    )


def q210_incremental_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-run PERCEPTUAL dedup — q193's index lifecycle
    applied to q208's image signatures, completing the incremental index
    family (q193 text LSH, q197 PQ codes, q201 postings, this one
    payloads): history payloads are dHashed ONCE and their band rows
    persisted as a managed table bucketed on ``bkey``, with the full
    4-band signature DENORMALIZED onto every index row — so unlike q193
    (which must re-shingle candidate history docs to verify), the
    steady-state probe verifies ENTIRELY from the index: exact 64-bit
    Hamming popcounts compute from the band columns already sitting on
    the joined row. A steady-state run touches the new shard + the
    index, and history payloads are NEVER re-read (the probe plan's only
    Exchanges hang off the new-shard side —
    tests/test_bucketing.py::test_incremental_phash_history_side_no_shuffle).

    Output: (new_id, hist_id, hamming ≤ 6) — which of today's payloads
    perceptually duplicate the already-ingested corpus. Oracle: the
    equivalent BATCH computation over q208's bit-exact SQL fragments
    (incremental ≡ batch, the cross-run index invariance).

    Scale shape: per run, work = new-shard Arrow hash pass (4 int64s
    per payload) + a bucket-colocated probe join + candidate-sized
    popcounts. Appends ride the bucketed layout (q193's discipline)."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import table_generation
    from wetsa_cams_solrad_timeseries_spark.operators.multimodal import (
        attach_payload,
        dhash_bands,
    )
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import write_bucketed

    docs = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7

    def sigs(part: DataFrame) -> DataFrame:
        return dhash_bands(attach_payload(part, "doc_id", "text"))

    names = table_generation(
        spark,
        sf_dir,
        ("phashidx",),
        lambda n: write_bucketed(
            _dhash_index_rows(sigs(docs.filter(~is_new))), n[0],
            "bkey", n_buckets=_Q210_BUCKETS, sort_col="bkey",
        ),
    )
    hist_idx = (
        _dhash_index_rows(sigs(docs.filter(~is_new)))
        if names is None
        else spark.table(names[0])
    )

    probe = _dhash_index_rows(sigs(docs.filter(is_new)))
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
    hamming = None
    for c in bands:
        term = F.bit_count(F.col(f"{c}_n").bitwiseXOR(F.col(f"{c}_h")))
        hamming = term if hamming is None else hamming + term
    return (
        joined.select(
            "new_id", "hist_id", hamming.cast("long").alias("hamming")
        )
        .filter(F.col("hamming") <= _Q208_MAX_HAMMING)
        .distinct()
    )


Q210_ORACLE = f"""
WITH {_Q208_PIX_CTES}
bits AS (
  SELECT doc_id,
         [CASE WHEN p[k + (k // 8) + 1] < p[k + (k // 8) + 2]
               THEN 1 ELSE 0 END FOR k IN range(0, 64)] AS b
  FROM pix
),
sig AS (
  SELECT doc_id,
         {_Q208_BAND_COLS}
  FROM bits
),
stacked AS (
  SELECT doc_id,
         unnest([0, 1, 2, 3]) AS band,
         unnest([band0, band1, band2, band3]) AS val
  FROM sig
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
  FROM stacked n
  JOIN stacked h ON n.band = h.band AND n.val = h.val
  WHERE n.doc_id % 10 = 7 AND h.doc_id % 10 <> 7
)
SELECT new_id, hist_id, CAST({_Q208_HAMMING} AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.new_id
JOIN sig sb ON sb.doc_id = c.hist_id
WHERE {_Q208_HAMMING} <= {_Q208_MAX_HAMMING}
"""


# --------------------------------------------------------------------------
# q211 — ANN recall gate: IVF probe quality measured against brute force
# --------------------------------------------------------------------------

_Q211_K = 3


def q211_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evaluation of the IVF index against the exact baseline —
    the "measure, don't guess" gate a production pipeline runs BEFORE
    swapping an ANN index into serving (and after every parameter
    change: n_probe, cells, codebooks): per query, how many of the exact
    top-3 neighbors does q56's IVF probe (16 cells, 4 probed) return?
    Output: (query_id, hits, recall) — one row per query so low-recall
    outliers are visible, not averaged away; the aggregate gate is one
    more trivial agg on top.

    Both candidate lists already exist as verified operators (q56 / q38
    kernels); this query is their composition through ONE set-intersect
    join — and the oracle composes the SAME two verified SQL bodies
    (q56's literal-centroid CTE chain + q38's brute-force ranking), so
    the recall arithmetic is checked end to end, not trusted.

    Scale shape: both lists are top-k-bounded per query (k·|Q| rows);
    the intersect join and the per-query count are candidate-sized. The
    expensive inputs reuse their own documented scale paths."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ann_topk_ivf,
        brute_force_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    ivf = ann_topk_ivf(
        emb, query_ids_pred=lambda c: c < 50, k=_Q211_K, n_cells=16,
        n_probe=4,
    ).select("query_id", "neighbor_id")
    brute = brute_force_topk(
        # spread=True: 50-query exact-cosine truth is compute-bound on
        # the single-split scan (in-session A-B win at sf0.1).
        emb, emb.filter(F.col("vec_id") < 50), k=_Q211_K, spread=True
    ).select("query_id", "neighbor_id")
    return _hit_recall(brute, ivf, _Q211_K)


_Q211_ORACLE_TEMPLATE = f"""
WITH {{Q56_CTES}},
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM scored
  ) WHERE r <= {_Q211_K}
),
bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos('q.v', 'c.v')} AS cosine
  FROM vecs q JOIN vecs c ON q.vec_id < 50 AND c.vec_id <> q.vec_id
),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM bscored
  ) WHERE r <= {_Q211_K}
),
hits AS (
  SELECT b.query_id, count(*) AS h
  FROM brute b
  JOIN ivf i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
  GROUP BY 1
)
SELECT b.query_id,
       CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
       round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q211_K} + 1e-9, 6)
         AS recall
FROM (SELECT DISTINCT query_id FROM brute) b
LEFT JOIN hits h ON h.query_id = b.query_id
"""


def q211_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q211 oracle: q56's trained-centroid literalization feeds
    the shared IVF CTE chain; the brute baseline needs no literals."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _Q211_ORACLE_TEMPLATE.format(
        Q56_CTES=_Q56_CTES.replace("__IVF_VALUES__", values)
    )


Q211_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q213 — PQ serving pattern: ADC top-R candidates → exact rerank
# --------------------------------------------------------------------------

_Q213_R = 30  # ADC candidate depth feeding the exact rerank


def q213_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ serving pattern (Jégou et al.; how FAISS
    deployments actually answer queries): the compressed index screens —
    ADC top-R (R=30) over codes only — and the R survivors are reranked
    with EXACT squared-L2 on their raw vectors, returning top-3. This
    is the q62 candidates→verify discipline applied to ANN serving, and
    it is what q212's measurement exists to size: raw ADC@3 recall is
    ~0.17 at this compression, while the reranked pipeline recovers the
    exact ordering of everything ADC's top-30 retains — measured
    recall@3 at sf0.001: 0.17 raw → 0.58 reranked at R=30 (R is the
    dial: recall@3 ≈ P(exact top-3 ⊆ ADC top-R), monotone in R at
    R/corpus extra cost).

    Scale shape: the corpus-sized pass stays codes-only (ADC); the
    exact stage touches R·|Q| raw vectors through an equi-join on
    neighbor_id — candidate-bounded, never a second corpus scan of
    pairwise math; the per-query rerank window runs over ≤ R rows.

    Oracle: q195's literal-codebook CTE chain → ADC top-R → exact-L2
    rerank in SQL, rank ≤ 3 — the full two-stage pipeline replayed."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ann_topk_pq,
    )
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    cand = ann_topk_pq(
        emb, query_ids_pred=lambda c: c < _Q195_NQ, k=_Q213_R,
        m=_Q195_M, ksub=_Q195_KSUB, dim=_DIM,
    ).select("query_id", "neighbor_id")
    v = to_double_array(F.col("embedding"))
    qv = emb.filter(F.col("vec_id") < _Q195_NQ).select(
        F.col("vec_id").alias("query_id"), v.alias("__qv")
    )
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), v.alias("__cv"))
    d2 = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    reranked = (
        cand.join(F.broadcast(qv), on="query_id")
        .join(cv, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(d2 + F.lit(1e-9), 6).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id")
    )
    return reranked.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= _Q195_K)


_Q213_ORACLE_TEMPLATE = f"""
WITH {{Q195_CTES}},
pq_r AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc ASC, neighbor_id) AS r
    FROM adc
  ) WHERE r <= {_Q213_R}
),
rer AS (
  SELECT p.query_id, p.neighbor_id,
         round(list_sum([(q.v[i] - c.v[i]) * (q.v[i] - c.v[i])
                         FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6) AS dist
  FROM pq_r p
  JOIN vecs q ON q.vec_id = p.query_id
  JOIN vecs c ON c.vec_id = p.neighbor_id
)
SELECT query_id, neighbor_id, dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist ASC, neighbor_id) AS rank
  FROM rer
) WHERE rank <= {_Q195_K}
"""


def q213_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q213 oracle: q195's codebook literalization feeds the
    shared ADC CTE chain; the rerank stage needs no literals."""
    values = _pq_codebook_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _Q213_ORACLE_TEMPLATE.format(
        Q195_CTES=_Q195_CTES.replace("__PQ_VALUES__", values)
    )


Q213_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q214 — OPQ: rotation-optimized product quantization (ADC top-k)
# --------------------------------------------------------------------------


def q214_opq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ANN (Ge et al., CVPR 2013) — q195's PQ with a learned
    ORTHOGONAL rotation applied before encoding: plain PQ quantizes
    axis-aligned contiguous subspaces, so variance that straddles
    subspace boundaries is quantization error it cannot reduce; OPQ's
    alternating solver (operators/similarity.py:opq_core — codebooks ⇄
    Procrustes SVD) learns the R that aligns the data to the grid,
    completing the PQ refinement ladder (PQ q195 → IVF-PQ q205 → OPQ).
    Rotation is distance-preserving (RᵀR = I), so ADC still
    approximates true squared L2 and the q213 rerank composes
    unchanged. Measured by the q212 gate at sf0.001: recall@3 0.17
    (plain PQ) → 0.29 (OPQ) at the same 16× compression — the learned
    rotation buys ~1.75× recall for one extra scan-stage kernel.

    Cross-engine determinism: R and the codebooks are pure functions of
    the hash-bounded sample (opq_core replayed by the oracle on the
    same matrix → bit-identical artifacts, the q56/q195 literalization
    discipline), and the rotated COORDINATES round6 on both engines
    (rotate_vectors kernel vs the oracle's per-element fold over the R
    literal) BEFORE any distance, so encode/ADC compare identical
    inputs.

    Scale shape: rotation is one more scan-stage Arrow kernel (R rides
    the closure, ~32 KB); everything downstream is exactly q195's plan
    — codes-only corpus pass, broadcast LUT join, grouped ADC sum."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        adc_topk,
        opq_train,
        pq_encode,
        pq_query_luts,
        rotate_vectors,
    )

    emb = table(spark, sf_dir, "embeddings")
    rotation, books = opq_train(emb, m=_Q195_M, ksub=_Q195_KSUB, dim=_DIM)
    rot = rotate_vectors(emb, rotation)
    codes = pq_encode(rot, books).select(
        F.col("vec_id").alias("neighbor_id"), "sub", "code"
    )
    luts = pq_query_luts(rot.filter(F.col("vec_id") < _Q195_NQ), books)
    return adc_topk(codes, luts, k=_Q195_K)


_Q214_ORACLE_TEMPLATE = f"""
WITH {_OPQ_VECS_CTES},
{{Q195_PQ_TAIL}}
SELECT query_id, neighbor_id, adc, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc ASC, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {_Q195_K}
"""


def _opq_values(path: str, id_filter=None) -> tuple[str, str] | None:
    """(R nested-list literal, books VALUES literal) replaying
    ``opq_train`` bit-for-bit: same DuckDB-read id-ordered matrix, same
    hash-bounded cap, same opq_core (Lloyd ⇄ Procrustes SVD on
    identical input). ``id_filter`` restricts the training corpus
    BEFORE the cap (q217 trains on the history shard only — the
    _pq_codebook_values discipline). None → rows-only fallback."""
    try:
        import duckdb
        import numpy as np
    except ImportError:
        return None
    if not os.path.exists(path):
        return None
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        hash_bounded_sample_py,
        opq_core,
    )

    try:
        rows = duckdb.sql(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM read_parquet('{path}') ORDER BY vec_id"
        ).fetchall()
    except Exception:  # noqa: BLE001 — no oracle beats a broken import
        return None
    if id_filter is not None:
        rows = [r for r in rows if id_filter(r[0])]
    ids = [r[0] for r in rows]
    mat = hash_bounded_sample_py(
        ids, np.array([r[1] for r in rows], dtype=np.float64)
    )
    rotation, books = opq_core(mat, m=_Q195_M, ksub=_Q195_KSUB)
    r_lit = "[{}]".format(
        ", ".join(
            "[{}]".format(", ".join(repr(float(x)) for x in row))
            for row in rotation
        )
    )
    books_lit = ", ".join(
        "({}, {}, [{}])".format(
            s, c, ", ".join(repr(float(x)) for x in books[s][c])
        )
        for s in range(_Q195_M)
        for c in range(_Q195_KSUB)
    )
    return r_lit, books_lit


def q214_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q214 oracle: both trained artifacts (R + books) inlined
    as literals from the shared opq_core replay."""
    vals = _opq_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if vals is None:
        return None
    r_lit, books_lit = vals
    return _Q214_ORACLE_TEMPLATE.replace("__OPQ_R__", r_lit).format(
        Q195_PQ_TAIL=_Q195_PQ_TAIL.replace("__PQ_VALUES__", books_lit)
    )


Q214_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q212 — PQ recall gate: ADC ranking quality vs the exact-L2 baseline
# --------------------------------------------------------------------------


def q212_pq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q211's recall gate for the COMPRESSED index: how many of the
    exact squared-L2 top-3 does q195's PQ/ADC ranking keep? The metric
    matters — ADC approximates squared L2, not cosine, so the honest
    baseline is brute_force_topk_l2 (ranking PQ against a cosine
    baseline would confound quantization loss with metric mismatch).
    Together q211 (IVF: candidate loss from probing) and q212 (PQ:
    ranking loss from quantization) measure the two independent error
    sources an IVF-PQ deployment multiplies together.

    Output/oracle shape is q211's: per-query (hits, recall), oracle
    composes q195's literal-codebook CTE chain with an exact-L2 ranking
    in SQL — both sides of the recall arithmetic cross-checked.

    Measured: avg recall@3 ≈ 0.17 at sf0.001 — 8×16 codebooks on 64-dim
    uniform embeddings are aggressively lossy, which is precisely the
    number this gate exists to surface: production serves PQ as
    ADC-top-R (R ≫ k) followed by an exact rerank of the survivors
    (q62's candidates→verify discipline, noted in q195's scale story),
    and THIS measurement is what sizes R."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ann_topk_pq,
        brute_force_topk_l2,
    )

    emb = table(spark, sf_dir, "embeddings")
    adc = ann_topk_pq(
        emb, query_ids_pred=lambda c: c < _Q195_NQ, k=_Q195_K,
        m=_Q195_M, ksub=_Q195_KSUB, dim=_DIM,
    ).select("query_id", "neighbor_id")
    exact = brute_force_topk_l2(
        emb, emb.filter(F.col("vec_id") < _Q195_NQ), k=_Q195_K, dim=_DIM
    ).select("query_id", "neighbor_id")
    return _hit_recall(exact, adc, _Q195_K)


_Q212_L2 = (
    "round(list_sum([(q.v[i] - c.v[i]) * (q.v[i] - c.v[i])"
    f" FOR i IN range(1, {_DIM} + 1)]) + 1e-9, 6)"
)

_Q212_ORACLE_TEMPLATE = f"""
WITH {{Q195_CTES}},
pq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc ASC, neighbor_id) AS r
    FROM adc
  ) WHERE r <= {_Q195_K}
),
escored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_Q212_L2} AS dist
  FROM vecs q JOIN vecs c ON q.vec_id < {_Q195_NQ} AND c.vec_id <> q.vec_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, neighbor_id) AS r
    FROM escored
  ) WHERE r <= {_Q195_K}
),
hits AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN pq p ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
  GROUP BY 1
)
SELECT e.query_id,
       CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
       round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q195_K} + 1e-9, 6)
         AS recall
FROM (SELECT DISTINCT query_id FROM exact) e
LEFT JOIN hits h ON h.query_id = e.query_id
"""


def q212_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q212 oracle: q195's codebook literalization feeds the
    shared ADC CTE chain; the exact-L2 baseline needs no literals."""
    values = _pq_codebook_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _Q212_ORACLE_TEMPLATE.format(
        Q195_CTES=_Q195_CTES.replace("__PQ_VALUES__", values)
    )


Q212_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q257 — streaming graph insert: displacement merge ≡ one-shot insert
# --------------------------------------------------------------------------


def q257_streaming_graph_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q238's insert riding the ingest stream — the graph member of the
    streaming index-maintenance family (q203/q218/q249 encode twins,
    q244 LSH bands), and the one round 11 left open: new-shard vectors
    arrive as micro-batches (multi-file replay, maxFilesPerTrigger=1)
    and each batch inserts into the accumulated neighbor lists under
    the frozen history-trained quantizer via the DISPLACEMENT MERGE
    (streaming/graph_insert_stream.py): batch nodes link top-m against
    all present cell-mates; prior new nodes in touched cells merge
    their stored (d, dst) lists with the batch's distances and keep the
    top-m. top-m(top-m(S₁) ∪ S₂) = top-m(S₁ ∪ S₂), so by induction the
    drained lists are the one-shot insert's EDGE SET exactly —
    independent of batch boundaries and arrival order — and the serve
    surface (q238's beam for the new-shard queries) matches q238's
    output byte for byte. Oracle: q238's batch replay VERBATIM.

    Scale shape: per batch (|batch| + |prior ∩ touched cells|) ×
    |touched cell| distances, never Σ|cell|²; generation dirs with
    edges-written-last commit gates handle at-least-once re-execution;
    at 100 TB the generations become a cell-partitioned edge table and
    touched-cell reads prune by partition."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges,
        cell_medoids,
        ivf_assign,
        ivf_train_centroids,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.graph_insert_stream import (
        streaming_graph_insert,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    hist = emb.filter(~is_new)
    cents = ivf_train_centroids(hist, k=16, n_iter=2)
    med_df = cell_medoids(hist, cents)

    # Stream the NEW shard through the insert loop.
    split_dir = _split_embeddings(
        spark, sf_dir, n_files=3, pred=is_new, variant="new"
    )
    hist_members = ivf_assign(hist, cents, n_probe=1).join(
        hist.select("vec_id", to_double_array(F.col("embedding")).alias("__v")),
        on="vec_id",
    ).select("vec_id", "cell", "__v")

    new_knn, _no_tombs = streaming_graph_insert(
        spark, split_dir, hist_members, cents, m=_Q232_M
    )

    # Batch-side artifacts that do NOT depend on the drained state.
    base_knn = cell_knn_edges(hist, cents, m=_Q232_M).localCheckpoint(
        eager=True
    )
    probes_all = ivf_assign(emb, cents, n_probe=1 + _Q232_BRIDGE)
    q_bound = is_new & (F.col("vec_id") < _Q197_QBOUND)
    entry = _entry(probes_all, med_df, q_bound)

    # Assemble the full graph exactly as q238 does (base + bridges are
    # node-local / frozen-hub derived — order-independent by nature).
    directed = base_knn.unionByName(new_knn).unionByName(
        _medoid_bridges(probes_all, med_df)
    )
    edges = _sym_edges(directed).localCheckpoint(eager=True)
    va = _vectors(emb)
    qv = _query_vectors(va, q_bound)
    cand = _walk(va, qv, entry, edges, _Q232_BEAM, _Q232_HOPS)
    return _nearest(_served(va, qv, cand), _Q232_K)


Q257_ORACLE = None  # LAZY — q238's oracle verbatim (stream ≡ batch insert)


# --------------------------------------------------------------------------
# q258 — multi-layer HNSW descent: sparse upper layer refines the entry
# --------------------------------------------------------------------------

_Q258_GHOPS = 3  # greedy (beam=1) hops on the upper layer
_Q258_L1_MOD, _Q258_L1_RES = 7, 3  # ~14% sparse upper-layer membership


def _hnsw_layer(s: _Q232Setup, lvl: int):
    """Layer ``lvl`` ≥ 1 of the hierarchy on the q232 build: the nodes
    with ``vec_id % 7^lvl == _Q273_RES[lvl]`` plus every cell medoid
    (pinned, so the entry step stays well-defined and the layer stays
    connected), wired with the SAME construction restricted to the
    layer — within-cell kNN over its members + medoid bridges,
    symmetrized. Returns (member ids, edges), both checkpointed: the ids
    feed the membership joins and the audit count, the edges are read
    once per hop."""
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges,
    )

    ids = (
        s.emb.filter(F.col("vec_id") % _Q258_L1_MOD**lvl == _Q273_RES[lvl])
        .select("vec_id")
        .unionByName(s.med.select(F.col("medoid").alias("vec_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    knn = cell_knn_edges(
        s.emb.join(ids, on="vec_id", how="semi"), s.cents, m=_Q232_M
    )
    bridges = _medoid_bridges(s.probes.join(ids, on="vec_id", how="semi"), s.med)
    return ids, _sym_edges(knn.unionByName(bridges)).localCheckpoint(eager=True)


def q258_hnsw_multilayer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The log-layer HIERARCHY rung of the graph family — q232's
    single-layer NSW is HNSW with the upper-layer walk collapsed to one
    medoid step; this query erects a real sparse upper layer and prices
    what the hierarchy buys ON THE SAME BUILD (setup shared with
    q232/q235/q240 — the Σ|cell|² base is paid once per call):

    - **layer 1**: a deterministic ~1/7 node subset (``vec_id % 7 = 3``)
      with every cell's medoid PINNED in (real HNSW pins its entry
      point at the top; pinning the hubs keeps every cell reachable and
      the entry step well-defined), wired with the SAME construction
      restricted to the layer — within-cell kNN over layer members +
      medoid bridges, symmetrized. Sparser layer ⇒ the same m edges
      span longer distances — exactly the long-range links upper HNSW
      layers exist to provide.
    - **descent**: entry at the query's nearest-cell medoid, then
      ``g_hops`` GREEDY hops (beam = 1 — HNSW's ef=1 upper-layer walk)
      over the layer-1 graph; the best node visited becomes the
      layer-0 entry, from which q232's fixed-hop beam runs unchanged.

    Output: one gate row (m, g_hops, beam, hops, n_l1, n_queries,
    avg/min recall@k vs exact) — directly comparable to q232's row, so
    the ladder shows what the hierarchy is worth on this corpus.

    Scale shape: layer-1 build is Σ|cell ∩ L1|² ≈ Σ|cell|²/49 — the
    classic geometric-layer argument that upper layers are build-free
    in relative terms; the greedy walk adds hops·1·degree bounded rows
    per query. Oracle: the shared graph CTEs + the layer-1 CTEs + the
    greedy chain (hop CTEs at beam=1) + the beam chain, unrolled."""
    s = _q232_setup(spark, sf_dir)
    l1_ids, edges1 = _hnsw_layer(s, 1)
    # Greedy upper-layer walk from the medoid entry; the best node found
    # seeds the layer-0 beam — q232's walk unchanged.
    entry = _descend(s.va, s.qv, s.entry, edges1)
    cand = _walk(s.va, s.qv, entry, s.edges, _Q232_BEAM, _Q232_HOPS)
    n_l1 = l1_ids.agg(F.count(F.lit(1)).cast("long").alias("n_l1"))
    return (
        _gate_agg(_perq_recall(s, cand, s.qids))
        .crossJoin(F.broadcast(n_l1))
        .select(
            F.lit(_Q232_M).cast("long").alias("m"),
            F.lit(_Q258_GHOPS).cast("long").alias("g_hops"),
            F.lit(_Q232_BEAM).cast("long").alias("beam"),
            F.lit(_Q232_HOPS).cast("long").alias("hops"),
            "n_l1", "n_queries", "avg_recall", "min_recall",
        )
    )


_Q258_ORACLE_TEMPLATE = f"""
WITH {_Q232_GRAPH_CTES},
l1 AS (
  SELECT vec_id FROM vecs WHERE vec_id % {_Q258_L1_MOD} = {_Q258_L1_RES}
  UNION SELECT medoid AS vec_id FROM med
),
knn1p AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_Q232_L2.format(a='av', b='bv')} AS d
  FROM assigned a
  JOIN l1 la ON la.vec_id = a.vec_id
  JOIN assigned b ON b.cell = a.cell AND b.vec_id <> a.vec_id
  JOIN l1 lb ON lb.vec_id = b.vec_id
  JOIN vecs av ON av.vec_id = a.vec_id
  JOIN vecs bv ON bv.vec_id = b.vec_id
),
knn1 AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS r
    FROM knn1p
  ) WHERE r <= {_Q232_M}
),
bridges1 AS (
  SELECT rk.vec_id AS src, m.medoid AS dst
  FROM ranked rk
  JOIN l1 l ON l.vec_id = rk.vec_id
  JOIN med m ON m.cell = rk.cell
  WHERE rk.r BETWEEN 2 AND {1 + _Q232_BRIDGE} AND rk.vec_id <> m.medoid
),
edges1 AS (
  SELECT src, dst FROM knn1
  UNION SELECT src, dst FROM bridges1
  UNION SELECT dst AS src, src AS dst FROM knn1
  UNION SELECT dst AS src, src AS dst FROM bridges1
),
cg0 AS (SELECT query_id, node FROM c0),
{_q232_hop_ctes(_Q258_GHOPS, beam=1, tag="g", edges_cte="edges1")},
e0 AS (
  SELECT query_id, node FROM (
    SELECT c.query_id, c.node,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY {_Q232_L2.format(a='qv', b='nv')}, c.node) AS r
    FROM cg{_Q258_GHOPS} c
    JOIN vecs qv ON qv.vec_id = c.query_id
    JOIN vecs nv ON nv.vec_id = c.node
  ) WHERE r = 1
),
cz0 AS (SELECT query_id, node FROM e0),
{_q232_hop_ctes(_Q232_HOPS, beam=_Q232_BEAM, tag="z")},
fdist AS (
  SELECT c.query_id, c.node, {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM cz{_Q232_HOPS} c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.node
  WHERE c.node <> c.query_id
),
served AS (
  SELECT query_id, node AS neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, node) AS r
    FROM fdist
  ) WHERE r <= {_Q232_K}
),
hits AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN served s ON s.query_id = e.query_id
                AND s.neighbor_id = e.neighbor_id
  GROUP BY 1
),
perq AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q232_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact) e
  LEFT JOIN hits h ON h.query_id = e.query_id
)
SELECT CAST({_Q232_M} AS BIGINT) AS m,
       CAST({_Q258_GHOPS} AS BIGINT) AS g_hops,
       CAST({_Q232_BEAM} AS BIGINT) AS beam,
       CAST({_Q232_HOPS} AS BIGINT) AS hops,
       (SELECT CAST(count(*) AS BIGINT) FROM l1) AS n_l1,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(recall) + 1e-9, 6) AS avg_recall,
       round(min(recall) + 1e-9, 6) AS min_recall
FROM perq
"""


def _materialize_ctes(sql: str, names: list[str], tag: str) -> str:
    """Force MATERIALIZED on multiply-referenced heavy CTEs — q250's
    lesson (DuckDB inlining re-evaluates the full upstream per
    reference; the hop chains reference the graph/edge CTEs once per
    hop). Loud on drift: a cosmetic rename must fail here, not
    resurface as a driver-gate timeout."""
    for name in names:
        target = f"{name} AS ("
        if target not in sql:
            raise AssertionError(
                f"{tag} oracle: heavy CTE '{name}' not found for "
                "MATERIALIZED injection — template drifted"
            )
        sql = sql.replace(target, f"{name} AS MATERIALIZED (", 1)
    return sql


_Q258_HEAVY_CTES = [
    "vecs", "sims", "ranked", "assigned", "knn", "med", "edges",
    "knn1p", "knn1", "edges1", "exact",
    "cg0", "cg1", "cg2", "e0", "cz0", "cz1", "cz2",
]


def q258_oracle_for(sf_dir: str) -> str | None:
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _materialize_ctes(
        _Q258_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values),
        _Q258_HEAVY_CTES,
        "q258",
    )


Q258_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q265 — HNSW insert-time level assignment: the streamed hierarchy
# --------------------------------------------------------------------------


def q265_hnsw_level_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q257 × q258 — the piece that makes the hierarchy a LIFECYCLE
    rather than a batch artifact: real HNSW assigns every inserted node
    a level AT INSERT TIME (geometric random draw; here the
    deterministic ``vec_id % 7 == 3`` twin, so the oracle can replay
    it) and links it into EVERY layer up to that level. Streamed new
    nodes therefore maintain TWO neighbor-list states under the frozen
    history artifacts: all of them link into layer 0 (q257's
    displacement merge verbatim), and the level-1 subset additionally
    links into the sparse layer-1 graph against layer-1 cell-mates
    only. Both drains are order-independent by the same
    top-m(top-m(S₁)∪S₂) = top-m(S₁∪S₂) argument — run as two replays
    of the new shard (full, and level-1-filtered) whose batch
    boundaries deliberately differ: if either drain depended on
    batching, the serve surface would diverge from the one-pass oracle.

    Serve: q258's descent over the ASSEMBLED layers — entry at the
    query's nearest-cell frozen medoid (pinned into layer 1), greedy
    beam-1 hops on layer 1 (history layer-1 kNN + streamed layer-1
    inserts + layer-1 bridges), best node found seeds q238's layer-0
    beam (history kNN + streamed inserts + bridges).

    Oracle: the one-pass batch replay — q238's graph CTEs for layer 0
    + the layer-1 build split hist/new exactly like q238's (history
    members link among history layer-1; inserted members against ALL
    layer-1 cell-mates) + the greedy chain + the beam chain, unrolled.

    Scale shape: the layer-1 state is ~1/7 of the layer-0 state and
    its per-batch blocks are (|batch ∩ L1 ∩ cell| × |cell ∩ L1|) —
    the geometric-layer argument, now paid incrementally."""
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges,
        cell_medoids,
        ivf_assign,
        ivf_train_centroids,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.graph_insert_stream import (
        streaming_graph_insert_many,
    )

    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    is_l1 = F.col("vec_id") % _Q258_L1_MOD == _Q258_L1_RES
    hist = emb.filter(~is_new)
    cents = ivf_train_centroids(hist, k=16, n_iter=2)
    med_df = cell_medoids(hist, cents)  # frozen hubs, pinned into L1

    hist_members = ivf_assign(hist, cents, n_probe=1).join(
        hist.select("vec_id", to_double_array(F.col("embedding")).alias("__v")),
        on="vec_id",
    ).select("vec_id", "cell", "__v")
    l1_hist_ids = (
        hist.filter(is_l1)
        .select("vec_id")
        .unionByName(med_df.select(F.col("medoid").alias("vec_id")))
        .distinct()
    )
    hist_members_l1 = hist_members.join(l1_hist_ids, on="vec_id", how="semi")

    # Two replays of the new shard with DIFFERENT batch boundaries —
    # order-independence is part of what the oracle checks.
    split0 = _split_embeddings(
        spark, sf_dir, n_files=3, pred=is_new, variant="new"
    )
    split1 = _split_embeddings(
        spark, sf_dir, n_files=2, pred=is_new & is_l1, variant="newl1"
    )
    # The two replays are INDEPENDENT (disjoint state roots, different
    # layer memberships) — drain them as concurrent streaming queries so
    # their per-batch fixed costs overlap instead of summing; each
    # query's own batch sequence (and so its drained state) is
    # byte-identical to a solo run (guide §2.6).
    [(new_knn0, _t0), (new_knn1, _t1)] = streaming_graph_insert_many(
        spark,
        [
            (split0, hist_members, cents, _Q232_M, None),
            (split1, hist_members_l1, cents, _Q232_M, None),
        ],
    )

    # History-side build artifacts: independent of the drained state.
    knn0_h = cell_knn_edges(hist, cents, m=_Q232_M).localCheckpoint(eager=True)
    knn1_h = cell_knn_edges(
        emb.join(l1_hist_ids, on="vec_id", how="semi"), cents, m=_Q232_M
    ).localCheckpoint(eager=True)
    probes_all = ivf_assign(emb, cents, n_probe=1 + _Q232_BRIDGE)
    l1_all_ids = (
        emb.filter(is_l1)
        .select("vec_id")
        .unionByName(med_df.select(F.col("medoid").alias("vec_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    q_bound = is_new & (F.col("vec_id") < _Q197_QBOUND)
    entry = _entry(probes_all, med_df, q_bound)

    def build_edges(knn_parts, member_ids=None):
        probes = probes_all
        if member_ids is not None:
            probes = probes.join(member_ids, on="vec_id", how="semi")
        directed = knn_parts[0]
        for part in knn_parts[1:]:
            directed = directed.unionByName(part)
        directed = directed.unionByName(_medoid_bridges(probes, med_df))
        return _sym_edges(directed).localCheckpoint(eager=True)

    edges0 = build_edges([knn0_h, new_knn0])
    edges1 = build_edges([knn1_h, new_knn1], member_ids=l1_all_ids)

    va = _vectors(emb)
    qv = _query_vectors(va, q_bound)
    # Greedy walk on layer 1; the best node found seeds the layer-0 beam.
    entry = _descend(va, qv, entry, edges1)
    cand = _walk(va, qv, entry, edges0, _Q232_BEAM, _Q232_HOPS)
    return _nearest(_served(va, qv, cand), _Q232_K)


_Q265_ORACLE_TEMPLATE = f"""
WITH {_Q238_GRAPH_CTES},
l1 AS (
  SELECT vec_id FROM vecs WHERE vec_id % {_Q258_L1_MOD} = {_Q258_L1_RES}
  UNION SELECT medoid AS vec_id FROM med
),
knn1p_h AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_Q232_L2.format(a='av', b='bv')} AS d
  FROM assigned a
  JOIN l1 la ON la.vec_id = a.vec_id
  JOIN assigned b ON b.cell = a.cell AND b.vec_id <> a.vec_id
  JOIN l1 lb ON lb.vec_id = b.vec_id
  JOIN vecs av ON av.vec_id = a.vec_id
  JOIN vecs bv ON bv.vec_id = b.vec_id
  WHERE a.vec_id % 10 <> 7 AND b.vec_id % 10 <> 7
),
knn1_h AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS r
    FROM knn1p_h
  ) WHERE r <= {_Q232_M}
),
knn1p_n AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_Q232_L2.format(a='av', b='bv')} AS d
  FROM assigned a
  JOIN l1 la ON la.vec_id = a.vec_id
  JOIN assigned b ON b.cell = a.cell AND b.vec_id <> a.vec_id
  JOIN l1 lb ON lb.vec_id = b.vec_id
  JOIN vecs av ON av.vec_id = a.vec_id
  JOIN vecs bv ON bv.vec_id = b.vec_id
  WHERE a.vec_id % 10 = 7
),
knn1_n AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS r
    FROM knn1p_n
  ) WHERE r <= {_Q232_M}
),
bridges1 AS (
  SELECT rk.vec_id AS src, m.medoid AS dst
  FROM ranked rk
  JOIN l1 l ON l.vec_id = rk.vec_id
  JOIN med m ON m.cell = rk.cell
  WHERE rk.r BETWEEN 2 AND {1 + _Q232_BRIDGE} AND rk.vec_id <> m.medoid
),
edges1 AS (
  SELECT src, dst FROM knn1_h
  UNION SELECT src, dst FROM knn1_n
  UNION SELECT src, dst FROM bridges1
  UNION SELECT dst AS src, src AS dst FROM knn1_h
  UNION SELECT dst AS src, src AS dst FROM knn1_n
  UNION SELECT dst AS src, src AS dst FROM bridges1
),
cg0 AS (SELECT query_id, node FROM c0),
{_q232_hop_ctes(_Q258_GHOPS, beam=1, tag="g", edges_cte="edges1")},
e0 AS (
  SELECT query_id, node FROM (
    SELECT c.query_id, c.node,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY {_Q232_L2.format(a='qv', b='nv')}, c.node) AS r
    FROM cg{_Q258_GHOPS} c
    JOIN vecs qv ON qv.vec_id = c.query_id
    JOIN vecs nv ON nv.vec_id = c.node
  ) WHERE r = 1
),
cz0 AS (SELECT query_id, node FROM e0),
{_q232_hop_ctes(_Q232_HOPS, beam=_Q232_BEAM, tag="z")},
fdist AS (
  SELECT c.query_id, c.node, {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM cz{_Q232_HOPS} c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.node
  WHERE c.node <> c.query_id
)
SELECT query_id, node AS neighbor_id, CAST(r AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist, node) AS r
  FROM fdist
) WHERE r <= {_Q232_K}
"""


_Q265_HEAVY_CTES = [
    "vecs", "sims", "ranked", "assigned", "med",
    "knnp_h", "knn_h", "knnp_n", "knn_n", "edges",
    "knn1p_h", "knn1_h", "knn1p_n", "knn1_n", "edges1",
    # Each hop CTE is referenced twice (score + union) — inlined, the
    # chain re-evaluates upstream 2^hops times.
    "cg0", "cg1", "cg2", "e0", "cz0", "cz1", "cz2",
]


def q265_oracle_for(sf_dir: str) -> str | None:
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        id_filter=lambda i: i % 10 != 7,
    )
    if values is None:
        return None
    return _materialize_ctes(
        _Q265_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values),
        _Q265_HEAVY_CTES,
        "q265",
    )


Q265_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q266 — ρ-sampled NN-descent: the bounded-fan-out production build
# --------------------------------------------------------------------------

# Per-node neighbor sample size S = ceil(ρ·m) with ρ = 0.5, m = _Q232_M:
# Dong et al. (WWW 2011) §4's neighbor sampling, the mitigation
# SCALING.md's hub-degree note promises for the exact 2-hop expansion's
# indeg² cost — every node (hubs included) contributes at most S
# neighbors per side of the join, so the expansion volume is hard-capped
# at |sampled edges|·S ≤ n·S² and per-mid cost falls from indeg² to
# indeg·S.
_Q266_S = 3
# Deterministic hash-pick constants: ids are reduced mod _Q266_IDMOD
# before multiplying so every intermediate stays far below int64 even at
# 100 TB id ranges, and the arithmetic is plain non-negative integer
# ops that evaluate IDENTICALLY in Spark and DuckDB — the sample is
# replayable by the oracle, which is what makes a sampled build
# oracle-checkable at all.
_Q266_IDMOD, _Q266_HA, _Q266_HB, _Q266_HP = 1048573, 4099, 7919, 104729
# Round salt for the ladder (q272): Dong et al. RESAMPLE each iteration
# — a fixed sample would make round 2 a fixed point (no new candidates,
# observed). Salting the dst coefficient per round derandomizes that
# resample while staying integer-exact and oracle-replayable; salt=0 is
# q266's single-round key, unchanged.
_Q266_HC = 5843


def _q266_sample_key(src, dst, salt: int = 0):
    return (
        (src % _Q266_IDMOD) * _Q266_HA
        + (dst % _Q266_IDMOD) * (_Q266_HB + salt * _Q266_HC)
    ) % _Q266_HP


def _sampled_neighbors(graph: DataFrame, s: int, salt: int = 0) -> DataFrame:
    """Per-node deterministic sample of ≤ s neighbors: rank each src's
    out-list by the replayable hash key (dst tie-break), keep the first
    s. On the symmetrized graph the out-list IS the neighbor list."""
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(
        _q266_sample_key(F.col("src"), F.col("dst"), salt), F.col("dst")
    )
    return (
        graph.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= s)
        .select("src", "dst")
    )


def _local_join(samp: DataFrame) -> DataFrame:
    """Dong et al.'s LOCAL JOIN: every ordered pair of a node's sampled
    neighbors becomes a candidate edge. On the symmetrized graph this
    generates the same pair set as the 2-hop expansion restricted to
    sampled lists — but keyed on the CENTER node, so each join key
    emits at most S² rows regardless of the center's degree: the shuffle
    partition holding a hub does S²-bounded work where the exact 2-hop
    self-join does indeg² (the 100 TB hot-spot this query retires)."""
    return (
        samp.select(F.col("src").alias("__v"), F.col("dst").alias("src"))
        .join(samp.select(F.col("src").alias("__v"), "dst"), on="__v")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def _q266_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized :func:`_descent_base` graph (within-cell kNN ∪
    medoid bridges, checkpointed) — shared by the query and its
    bound-locking pytest."""
    return _descent_base(spark, sf_dir)[-1]


def q266_sampled_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ρ-sampled NN-descent (Dong et al. §4 neighbor sampling) measured
    NEXT TO the exact round it approximates — the one promised-but-
    unbuilt 100 TB lever from SCALING.md's hub-degree note: the exact
    2-hop expansion (q237/q239) squares medoid in-degree (indeg ≈
    n/n_bridges), which at 100× scale hot-spots the hub partitions
    beyond what AQE skew-split absorbs. The sampled round instead takes
    a per-node DETERMINISTIC hash-pick of ≤ S neighbors and generates
    candidates with Dong's LOCAL JOIN — every pair of a node's sampled
    neighbors — so each shuffle key (the center node) emits ≤ S² rows
    however hubby the center, total expansion is ≤ n·S², and a node
    RECEIVES ≤ S·deg = ρ·m·deg candidates (both bounds pytest-locked).
    The price is a measured recall delta per round, which is exactly
    what this audit reports (production recovers it by running more of
    these now-cheap rounds — Dong et al.'s convergence argument).

    One row per variant over the SAME base graph (:func:`_descent_base`:
    within-cell kNN ∪ medoid bridges, symmetrized): ``exact`` (s=0, the
    unsampled expansion) and ``sampled`` (s=S). Columns: candidate-pair volume
    and edge recall against the exact top-m truth on the q237 hash
    sample — the production dial (recall lost per candidate-volume
    saved) read directly off the driver-checked output. Because the
    sampled candidate set is a subset of the exact one and every true
    edge present in a candidate set survives its top-m (fewer than m
    candidates can be closer), sampled recall ≤ exact recall is a
    THEOREM, not a sample artifact (pytest asserts it on the output).

    Determinism: the sample key is pure integer arithmetic on (src,
    dst) — no RNG — so the oracle REPLAYS the identical sample; rank
    ties break by dst. Scale shape: one window over the edge table
    (n·deg rows) + a self-join of the S-bounded sample (≤ n·S² rows,
    hub-safe by construction) + candidate-bounded exact verify; the
    truth side is sample-bounded (q221's audit convention)."""
    from functools import reduce

    emb = table(spark, sf_dir, "embeddings")
    graph = _q266_graph(spark, sf_dir)  # both variants + the sample window
    samp = _sampled_neighbors(graph, _Q266_S).localCheckpoint(eager=True)
    # The EXACT variant's candidate set is _nn_descent_round's
    # (_exact_candidates, keyed repartition — profiled r14: AQE folded
    # its bare distinct to one 3.2 s 2-task stage, a third of the
    # query); the SAMPLED variant's set is deliberately small (that is
    # the point of the sampling) and keeps the bare distinct (the r14
    # A-B measured the repartition flat-to-negative on the capped/
    # sampled sets). Both are checkpointed: the verify AND the
    # cand_pairs count read them.
    cands = {
        "exact": _exact_candidates(graph).localCheckpoint(eager=True),
        "sampled": graph.unionByName(_local_join(samp))
        .distinct()
        .localCheckpoint(eager=True),
    }
    va = _vectors(emb).localCheckpoint(eager=True)  # both variants' verify
    rungs = _recall_rungs(
        _sample_truth(emb),
        {v: _refine_topm(va, cand, _Q232_M) for v, cand in cands.items()},
    )
    frames = []
    for variant, s in (("exact", 0), ("sampled", _Q266_S)):
        npairs = cands[variant].agg(F.count(F.lit(1)).alias("cand_pairs"))
        frames.append(
            rungs[variant].crossJoin(F.broadcast(npairs)).select(
                F.lit(variant).alias("variant"),
                F.lit(s).cast("long").alias("s"),
                F.col("cand_pairs").cast("long").alias("cand_pairs"),
                "n_true",
                "edge_recall",
            )
        )
    return reduce(DataFrame.unionByName, frames)


_Q266_ORACLE_TEMPLATE = f"""
WITH {_Q232_GRAPH_CTES},
e2x AS (
  SELECT a.src, b.dst
  FROM edges a JOIN edges b ON a.dst = b.src AND b.dst <> a.src
),
candx AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT src, dst FROM e2x
  )
),
samp AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY
             ((src % {_Q266_IDMOD}) * {_Q266_HA}
              + (dst % {_Q266_IDMOD}) * {_Q266_HB}) % {_Q266_HP},
             dst) AS r
    FROM edges
  ) WHERE r <= {_Q266_S}
),
e2s AS (
  SELECT a.dst AS src, b.dst AS dst
  FROM samp a JOIN samp b ON a.src = b.src AND a.dst <> b.dst
),
cands AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT src, dst FROM e2s
  )
),
refx AS (
  SELECT src, dst FROM (
    SELECT c.src, c.dst,
           row_number() OVER (PARTITION BY c.src
                              ORDER BY {_Q232_L2.format(a='sv', b='dv')},
                                       c.dst) AS r
    FROM candx c
    JOIN vecs sv ON sv.vec_id = c.src
    JOIN vecs dv ON dv.vec_id = c.dst
  ) WHERE r <= {_Q232_M}
),
refs AS (
  SELECT src, dst FROM (
    SELECT c.src, c.dst,
           row_number() OVER (PARTITION BY c.src
                              ORDER BY {_Q232_L2.format(a='sv', b='dv')},
                                       c.dst) AS r
    FROM cands c
    JOIN vecs sv ON sv.vec_id = c.src
    JOIN vecs dv ON dv.vec_id = c.dst
  ) WHERE r <= {_Q232_M}
),
sscored AS (
  SELECT q.vec_id AS src, c.vec_id AS dst,
         {_Q232_L2.format(a='q', b='c')} AS dist
  FROM vecs q JOIN vecs c
    ON q.vec_id % {_Q237_SAMPLE_MOD} = 0 AND c.vec_id <> q.vec_id
),
strue AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src
                                 ORDER BY dist ASC, dst) AS r
    FROM sscored
  ) WHERE r <= {_Q232_M}
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM strue)
SELECT 'exact' AS variant, CAST(0 AS BIGINT) AS s,
       (SELECT CAST(count(*) AS BIGINT) FROM candx) AS cand_pairs,
       nt AS n_true,
       round(CAST((SELECT count(*) FROM refx l
                   JOIN strue t ON t.src = l.src AND t.dst = l.dst) AS DOUBLE)
             / greatest(nt, 1) + 1e-9, 6) AS edge_recall
FROM nt
UNION ALL
SELECT 'sampled' AS variant, CAST({_Q266_S} AS BIGINT) AS s,
       (SELECT CAST(count(*) AS BIGINT) FROM cands) AS cand_pairs,
       nt AS n_true,
       round(CAST((SELECT count(*) FROM refs l
                   JOIN strue t ON t.src = l.src AND t.dst = l.dst) AS DOUBLE)
             / greatest(nt, 1) + 1e-9, 6) AS edge_recall
FROM nt
"""

_Q266_HEAVY_CTES = [
    "vecs", "sims", "ranked", "assigned", "knn", "med", "edges",
    "samp", "candx", "cands", "strue",
]


def q266_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q266 oracle: the shared graph CTEs + BOTH expansions
    (exact and hash-replayed sample) + the refine/recall algebra per
    variant."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _materialize_ctes(
        _Q266_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values),
        _Q266_HEAVY_CTES,
        "q266",
    )


Q266_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q272 — hub-capped descent ladder: recall recovery over bounded rounds
# --------------------------------------------------------------------------

_Q272_ROUNDS = 4
_Q272_C = 16  # per-mid forwarded-list cap (q209's hot-bucket cap analog)


def _capped_candidates(graph: DataFrame, c: int, salt: int) -> DataFrame:
    """The hub-capped candidate set: current graph ∪ the exact 2-hop
    expansion with each mid's FORWARDED list capped at ≤ c hash-picked
    neighbors (salted per round so successive rounds forward different
    subsets — the derandomized per-iteration resample). Through a
    normal-degree node (deg ≤ c) this IS the exact expansion; through a
    hub it does indeg·c work instead of indeg². Candidates always
    include the current graph, so monotonicity holds round over
    round."""
    capped = _sampled_neighbors(graph, c, salt)
    e2 = (
        graph.select("src", F.col("dst").alias("__mid"))
        .join(
            capped.select(F.col("src").alias("__mid"), "dst"), on="__mid"
        )
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    # Bare distinct, NOT _exact_candidates' fixed-N repartition: the
    # hub cap keeps this candidate set small enough that the in-session
    # A-B measured the repartition flat-to-negative here (q272/q274/q266
    # within noise) while the uncapped exact expansion won 17-26%.
    return graph.unionByName(e2).distinct()


def _capped_descent_round(
    va: DataFrame, graph: DataFrame, m: int, c: int, salt: int
) -> DataFrame:
    """One HUB-CAPPED NN-descent keep: :func:`_refine_topm` over
    :func:`_capped_candidates`."""
    return _refine_topm(va, _capped_candidates(graph, c, salt), m)


def q272_capped_descent_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hub-SAFE descent build that actually CONVERGES on this
    topology — the production complement to q266's honest negative:
    uniform ρ-sampling starves exploration through the medoid hubs
    (measured: one sampled round recovers ~3% of the exact round's
    gain, and further rounds plateau — the hub proposes only S² of its
    indeg² pairs per round, and on a graph whose within-cell lists are
    already locally optimal ALL the remaining gain is cross-cell,
    i.e. hub-routed). The mitigation that fits is q209's hot-bucket
    discipline applied to the expansion: expand EXACTLY like
    :func:`_exact_candidates`' 2-hop, but cap each mid's FORWARDED list
    at C hash-picked neighbors, re-salted per round. Normal-degree nodes (deg ≤ C)
    forward everything — identical to exact; a hub forwards C diverse
    targets per round, so per-mid join cost is indeg·C, never indeg²,
    total candidate volume ≤ n·deg·C per round (the verdict's n·ρ·deg
    bound with ρ·deg = C), and successive rounds rotate WHICH C the
    hub forwards (measured here: recall climbs 0.31 → 0.46 → 0.72 →
    0.80 → 0.87 over four rounds at ~30% of the exact round's
    candidate volume each).

    Monotonicity is structural exactly as in q239: every round's
    candidate set CONTAINS the current kept list (the cap shrinks only
    the EXPANSION), so a kept true edge is only displaced by a closer
    — hence true — edge; per-round recall is non-decreasing
    (pytest-locked), and the ladder shows where the capped rounds
    saturate — the build-budget dial read from measurement.

    Output: one row per round (round, m, c, n_true, edge_recall);
    round 0 = the within-cell kNN lists, bridges re-added to every
    round's graph (q239's convention). Oracle: the shared graph CTEs +
    the capped round unrolled once per round, the hash-capped forward
    lists replayed exactly."""
    from functools import reduce

    emb, *_, knn, bridges, graph = _descent_base(spark, sf_dir)
    va = _vectors(emb)
    lists = {0: knn}
    for r in range(1, _Q272_ROUNDS + 1):
        refined = _capped_descent_round(
            va, graph, _Q232_M, _Q272_C, salt=r
        ).localCheckpoint(eager=True)
        lists[r] = refined
        if r < _Q272_ROUNDS:
            graph = _sym_edges(refined.unionByName(bridges)).localCheckpoint(
                eager=True
            )

    rungs = _recall_rungs(_sample_truth(emb), lists)
    return reduce(DataFrame.unionByName, [
        rung.select(
            F.lit(r).cast("long").alias("round"),
            F.lit(_Q232_M).cast("long").alias("m"),
            F.lit(_Q272_C).cast("long").alias("c"),
            "n_true",
            "edge_recall",
        )
        for r, rung in rungs.items()
    ])


def _q272_round_ctes(r: int) -> str:
    """One capped round unrolled: hash-capped forward lists (round-
    salted), the expansion through them, exact verify, per-src top-m
    keep, next round's symmetrized graph (bridges re-added)."""
    g_in = "edges" if r == 1 else f"g{r - 1}"
    return f"""ccap_{r} AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY
             ((src % {_Q266_IDMOD}) * {_Q266_HA}
              + (dst % {_Q266_IDMOD})
                * {_Q266_HB + r * _Q266_HC}) % {_Q266_HP},
             dst) AS r
    FROM {g_in}
  ) WHERE r <= {_Q272_C}
),
ce2_{r} AS (
  SELECT a.src, b.dst
  FROM {g_in} a JOIN ccap_{r} b ON a.dst = b.src AND b.dst <> a.src
),
scand_{r} AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM {g_in} UNION ALL SELECT src, dst FROM ce2_{r}
  )
),
sref_{r} AS (
  SELECT src, dst FROM (
    SELECT c.src, c.dst,
           row_number() OVER (PARTITION BY c.src
                              ORDER BY {_Q232_L2.format(a='sv', b='dv')},
                                       c.dst) AS r
    FROM scand_{r} c
    JOIN vecs sv ON sv.vec_id = c.src
    JOIN vecs dv ON dv.vec_id = c.dst
  ) WHERE r <= {_Q232_M}
),
g{r} AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM sref_{r} UNION ALL SELECT src, dst FROM bridges
    UNION ALL SELECT dst AS src, src AS dst FROM sref_{r}
    UNION ALL SELECT dst AS src, src AS dst FROM bridges
  )
)"""


def _q272_recall_row(rnd: int, list_cte: str) -> str:
    return f"""SELECT CAST({rnd} AS BIGINT) AS round,
       CAST({_Q232_M} AS BIGINT) AS m,
       CAST({_Q272_C} AS BIGINT) AS c,
       (SELECT CAST(count(*) AS BIGINT) FROM strue) AS n_true,
       round(CAST((SELECT count(*) FROM {list_cte} l
                   JOIN strue t ON t.src = l.src AND t.dst = l.dst) AS DOUBLE)
             / greatest((SELECT count(*) FROM strue), 1) + 1e-9, 6)
         AS edge_recall"""


_Q272_ORACLE_TEMPLATE = (
    f"""
WITH {_Q232_GRAPH_CTES},
"""
    + ",\n".join(_q272_round_ctes(r) for r in range(1, _Q272_ROUNDS + 1))
    + f""",
sscored AS (
  SELECT q.vec_id AS src, c.vec_id AS dst,
         {_Q232_L2.format(a='q', b='c')} AS dist
  FROM vecs q JOIN vecs c
    ON q.vec_id % {_Q237_SAMPLE_MOD} = 0 AND c.vec_id <> q.vec_id
),
strue AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src
                                 ORDER BY dist ASC, dst) AS r
    FROM sscored
  ) WHERE r <= {_Q232_M}
)
"""
    + "\nUNION ALL\n".join(
        _q272_recall_row(r, "knn" if r == 0 else f"sref_{r}")
        for r in range(_Q272_ROUNDS + 1)
    )
)

_Q272_HEAVY_CTES = [
    "vecs", "sims", "ranked", "assigned", "knn", "med", "bridges", "edges",
    "strue",
] + [
    name
    for r in range(1, _Q272_ROUNDS + 1)
    for name in (f"ccap_{r}", f"sref_{r}", f"g{r}")
    if name != f"g{_Q272_ROUNDS}"  # last graph is never referenced
]


def q272_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q272 oracle: the shared graph CTEs + the sampled round
    unrolled once per round + one recall row per round."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _materialize_ctes(
        _Q272_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values),
        _Q272_HEAVY_CTES,
        "q272",
    )


Q272_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q273 — full log-layer HNSW descent: the hierarchy beyond two layers
# --------------------------------------------------------------------------

_Q273_LEVELS = 2  # extra layers above 0 — log_7(n) ≈ 3 at the test corpus
# Nested deterministic memberships: level(v) ≥ l iff vec_id % 7^l == r_l
# with r_l = 3·(7^l − 1)/6 (3, 24, …) — r_{l+1} ≡ r_l (mod 7^l), so
# L2 ⊆ L1 exactly like HNSW's geometric level draw, and the residues
# are oracle-replayable constants.
_Q273_RES = {1: 3, 2: 24}


def q273_hnsw_log_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL log-layer hierarchy — q258 generalized from one upper
    layer to the whole geometric stack (round-12 verdict item #4, the
    'mechanical generalization' priced here): layer l holds the
    deterministic ~7⁻ˡ node subset (nested memberships, every cell
    medoid pinned into EVERY layer so the entry step stays well-defined
    and each layer stays connected), wired with the SAME construction
    restricted to the layer. Descent is HNSW's: enter at the query's
    nearest-cell medoid on the TOP layer, greedy (beam=1) hops per
    layer, the best node visited seeds the next layer down, and the
    layer-0 beam runs unchanged from the refined entry.

    Output: one gate row (m, g_hops, beam, hops, n_l1, n_l2,
    n_queries, avg/min recall@k vs exact) — directly comparable to
    q232's (flat) and q258's (one upper layer) rows, completing the
    hierarchy ladder: what each additional layer buys is a measurement,
    not folklore ('pricing, not capability' — recall is expected
    FLAT at test SFs; the hierarchy pays in hop count at corpus sizes
    where one medoid step cannot reach the right region).

    Scale shape: layer-l build is Σ|cell ∩ Lˡ|² ≈ Σ|cell|²/49ˡ — the
    geometric argument that upper layers are build-free in relative
    terms; each greedy walk adds hops·1·degree bounded candidate rows
    per query. Oracle: the shared graph CTEs + per-layer build CTEs +
    three unrolled walk chains (greedy L2 → greedy L1 → beam L0)."""
    s = _q232_setup(spark, sf_dir)
    layers = {lvl: _hnsw_layer(s, lvl) for lvl in range(1, _Q273_LEVELS + 1)}

    # Top-down descent: greedy walk per layer, best node seeds the next.
    entry = s.entry
    for lvl in range(_Q273_LEVELS, 0, -1):
        entry = _descend(s.va, s.qv, entry, layers[lvl][1])
    # Layer-0 beam from the refined entry — q232's walk unchanged.
    cand = _walk(s.va, s.qv, entry, s.edges, _Q232_BEAM, _Q232_HOPS)
    layer_n = {
        lvl: ids.agg(F.count(F.lit(1)).cast("long").alias(f"n_l{lvl}"))
        for lvl, (ids, _) in layers.items()
    }
    return (
        _gate_agg(_perq_recall(s, cand, s.qids))
        .crossJoin(F.broadcast(layer_n[1]))
        .crossJoin(F.broadcast(layer_n[2]))
        .select(
            F.lit(_Q232_M).cast("long").alias("m"),
            F.lit(_Q258_GHOPS).cast("long").alias("g_hops"),
            F.lit(_Q232_BEAM).cast("long").alias("beam"),
            F.lit(_Q232_HOPS).cast("long").alias("hops"),
            "n_l1", "n_l2", "n_queries", "avg_recall", "min_recall",
        )
    )


def _q273_layer_ctes(lvl: int) -> str:
    """One upper layer's build CTEs: membership (medoids pinned),
    within-cell kNN restricted to the layer, layer bridges, symmetrized
    edge set."""
    mod = _Q258_L1_MOD ** lvl
    return f"""l{lvl} AS (
  SELECT vec_id FROM vecs WHERE vec_id % {mod} = {_Q273_RES[lvl]}
  UNION SELECT medoid AS vec_id FROM med
),
knn{lvl}p AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_Q232_L2.format(a='av', b='bv')} AS d
  FROM assigned a
  JOIN l{lvl} la ON la.vec_id = a.vec_id
  JOIN assigned b ON b.cell = a.cell AND b.vec_id <> a.vec_id
  JOIN l{lvl} lb ON lb.vec_id = b.vec_id
  JOIN vecs av ON av.vec_id = a.vec_id
  JOIN vecs bv ON bv.vec_id = b.vec_id
),
knn{lvl} AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS r
    FROM knn{lvl}p
  ) WHERE r <= {_Q232_M}
),
bridges{lvl} AS (
  SELECT rk.vec_id AS src, m.medoid AS dst
  FROM ranked rk
  JOIN l{lvl} l ON l.vec_id = rk.vec_id
  JOIN med m ON m.cell = rk.cell
  WHERE rk.r BETWEEN 2 AND {1 + _Q232_BRIDGE} AND rk.vec_id <> m.medoid
),
edges{lvl} AS (
  SELECT src, dst FROM knn{lvl}
  UNION SELECT src, dst FROM bridges{lvl}
  UNION SELECT dst AS src, src AS dst FROM knn{lvl}
  UNION SELECT dst AS src, src AS dst FROM bridges{lvl}
)"""


def _q273_refine_entry(tag_in: str, hops: int, name: str) -> str:
    """Best-1 pick over a finished walk chain → the next layer's seed."""
    return f"""{name} AS (
  SELECT query_id, node FROM (
    SELECT c.query_id, c.node,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY {_Q232_L2.format(a='qv', b='nv')}, c.node) AS r
    FROM c{tag_in}{hops} c
    JOIN vecs qv ON qv.vec_id = c.query_id
    JOIN vecs nv ON nv.vec_id = c.node
  ) WHERE r = 1
)"""


_Q273_ORACLE_TEMPLATE = f"""
WITH {_Q232_GRAPH_CTES},
{_q273_layer_ctes(1)},
{_q273_layer_ctes(2)},
ch0 AS (SELECT query_id, node FROM c0),
{_q232_hop_ctes(_Q258_GHOPS, beam=1, tag="h", edges_cte="edges2")},
{_q273_refine_entry("h", _Q258_GHOPS, "e1")},
cg0 AS (SELECT query_id, node FROM e1),
{_q232_hop_ctes(_Q258_GHOPS, beam=1, tag="g", edges_cte="edges1")},
{_q273_refine_entry("g", _Q258_GHOPS, "e0")},
cz0 AS (SELECT query_id, node FROM e0),
{_q232_hop_ctes(_Q232_HOPS, beam=_Q232_BEAM, tag="z")},
fdist AS (
  SELECT c.query_id, c.node, {_Q232_L2.format(a='qv', b='nv')} AS dist
  FROM cz{_Q232_HOPS} c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs nv ON nv.vec_id = c.node
  WHERE c.node <> c.query_id
),
served AS (
  SELECT query_id, node AS neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, node) AS r
    FROM fdist
  ) WHERE r <= {_Q232_K}
),
hits AS (
  SELECT e.query_id, count(*) AS h
  FROM exact e
  JOIN served s ON s.query_id = e.query_id
                AND s.neighbor_id = e.neighbor_id
  GROUP BY 1
),
perq AS (
  SELECT round(CAST(coalesce(h.h, 0) AS DOUBLE) / {_Q232_K} + 1e-9, 6)
           AS recall
  FROM (SELECT DISTINCT query_id FROM exact) e
  LEFT JOIN hits h ON h.query_id = e.query_id
)
SELECT CAST({_Q232_M} AS BIGINT) AS m,
       CAST({_Q258_GHOPS} AS BIGINT) AS g_hops,
       CAST({_Q232_BEAM} AS BIGINT) AS beam,
       CAST({_Q232_HOPS} AS BIGINT) AS hops,
       (SELECT CAST(count(*) AS BIGINT) FROM l1) AS n_l1,
       (SELECT CAST(count(*) AS BIGINT) FROM l2) AS n_l2,
       CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(recall) + 1e-9, 6) AS avg_recall,
       round(min(recall) + 1e-9, 6) AS min_recall
FROM perq
"""

_Q273_HEAVY_CTES = (
    [
        "vecs", "sims", "ranked", "assigned", "knn", "med", "edges",
        "knn1p", "knn1", "edges1", "knn2p", "knn2", "edges2", "exact",
        "e1", "e0",
    ]
    + [f"ch{h}" for h in range(_Q258_GHOPS + 1)]
    + [f"cg{h}" for h in range(_Q258_GHOPS + 1)]
    + [f"cz{h}" for h in range(_Q232_HOPS + 1)]
)


def q273_oracle_for(sf_dir: str) -> str | None:
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _materialize_ctes(
        _Q273_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values),
        _Q273_HEAVY_CTES,
        "q273",
    )


Q273_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q274 — capped-descent SLA: the cheapest bounded round meeting the floor
# --------------------------------------------------------------------------

_Q274_FLOOR = 0.85  # edge-recall floor the capped build must reach


def q274_capped_descent_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate→derive→serve rung on q272's NEW dial — the family's
    SLA discipline (q235 beam, q243 PCA depth, q246 banding, q250
    exact-descent depth) applied to the hub-capped build: for every
    capped round the ladder records BOTH axes of the production
    decision — the candidate volume actually paid (the cost the cap
    exists to bound) and the edge recall actually bought — and flags
    the MINIMAL round meeting the floor. At the measured corpus the
    pick is non-trivial: rounds 1–3 fail a 0.85 floor and round 4
    passes (0.87), so the derived build budget is 4 capped rounds at
    ~30% of one exact round's candidate volume each — a number read
    off the driver-checked output, not folklore.

    Output: one row per round (round, m, c, cand_pairs, n_true,
    edge_recall, met, picked); round 0 = the within-cell kNN lists with
    the standing graph as its candidate cost. ``met`` compares the
    ROUNDED recall (both engines round identically by the q250
    convention); ``picked`` = met ∧ round = min met round, computed
    in-plan and replayed by the oracle's scalar subquery. Scale shape:
    q272's per round (window sample + indeg·C-bounded expansion +
    candidate-bounded verify) plus one count aggregate per rung."""
    from functools import reduce

    emb, *_, knn, bridges, graph = _descent_base(spark, sf_dir)
    va = _vectors(emb)
    lists = {0: knn}
    cands = {0: graph}  # round 0's standing cost: the base graph itself
    for r in range(1, _Q272_ROUNDS + 1):
        cand = _capped_candidates(graph, _Q272_C, salt=r).localCheckpoint(
            eager=True  # consumed by the verify AND the count rung
        )
        refined = _refine_topm(va, cand, _Q232_M).localCheckpoint(
            eager=True
        )
        lists[r], cands[r] = refined, cand
        if r < _Q272_ROUNDS:
            graph = _sym_edges(refined.unionByName(bridges)).localCheckpoint(
                eager=True
            )

    frames = []
    for r, rung in _recall_rungs(_sample_truth(emb), lists).items():
        npairs = cands[r].agg(F.count(F.lit(1)).alias("cand_pairs"))
        frames.append(
            rung.crossJoin(F.broadcast(npairs)).select(
                F.lit(r).cast("long").alias("round"),
                F.lit(_Q232_M).cast("long").alias("m"),
                F.lit(_Q272_C).cast("long").alias("c"),
                F.col("cand_pairs").cast("long").alias("cand_pairs"),
                "n_true",
                "edge_recall",
                (F.col("edge_recall") >= F.lit(float(_Q274_FLOOR))).alias(
                    "met"
                ),
            )
        )
    # Two consumers below (the min-met-round aggregate and the output
    # join) — checkpoint the 5-row ladder or the whole union subtree
    # executes twice (50 → ~8 exchanges measured).
    ladder = reduce(DataFrame.unionByName, frames).localCheckpoint(eager=True)
    return _pick_cheapest(ladder, "round")


def _q274_ladder_row(rnd: int) -> str:
    list_cte = "knn" if rnd == 0 else f"sref_{rnd}"
    cand_cte = "edges" if rnd == 0 else f"scand_{rnd}"
    recall = (
        f"round(CAST((SELECT count(*) FROM {list_cte} l JOIN strue t "
        f"ON t.src = l.src AND t.dst = l.dst) AS DOUBLE) "
        f"/ greatest((SELECT count(*) FROM strue), 1) + 1e-9, 6)"
    )
    return f"""SELECT CAST({rnd} AS BIGINT) AS round,
       CAST({_Q232_M} AS BIGINT) AS m,
       CAST({_Q272_C} AS BIGINT) AS c,
       (SELECT CAST(count(*) AS BIGINT) FROM {cand_cte}) AS cand_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM strue) AS n_true,
       {recall} AS edge_recall,
       coalesce({recall} >= {_Q274_FLOOR}, FALSE) AS met"""


_Q274_ORACLE_TEMPLATE = (
    f"""
WITH {_Q232_GRAPH_CTES},
"""
    + ",\n".join(_q272_round_ctes(r) for r in range(1, _Q272_ROUNDS + 1))
    + f""",
sscored AS (
  SELECT q.vec_id AS src, c.vec_id AS dst,
         {_Q232_L2.format(a='q', b='c')} AS dist
  FROM vecs q JOIN vecs c
    ON q.vec_id % {_Q237_SAMPLE_MOD} = 0 AND c.vec_id <> q.vec_id
),
strue AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src
                                 ORDER BY dist ASC, dst) AS r
    FROM sscored
  ) WHERE r <= {_Q232_M}
),
ladder AS (
"""
    + "\nUNION ALL\n".join(
        _q274_ladder_row(r) for r in range(_Q272_ROUNDS + 1)
    )
    + """
)
SELECT round, m, c, cand_pairs, n_true, edge_recall, met,
       coalesce(met AND round = (SELECT min(round) FROM ladder WHERE met),
                FALSE) AS picked
FROM ladder
"""
)


def q274_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q274 oracle: q272's capped rounds + the ladder/pick
    algebra (the q250 pattern) in one statement."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    heavy = _Q272_HEAVY_CTES + [
        # The ladder rows COUNT each round's candidate set, adding a
        # second reference to every scand_r — materialize them too.
        f"scand_{r}" for r in range(1, _Q272_ROUNDS + 1)
    ]
    return _materialize_ctes(
        _Q274_ORACLE_TEMPLATE.replace("__IVF_VALUES__", values),
        heavy,
        "q274",
    )


Q274_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q278 — streaming capped descent: stream-build → bounded refine
# --------------------------------------------------------------------------
def q278_streaming_capped_descent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production composition the round-13 build pointed at but had
    not yet landed: STREAM-build the graph, then run the bounded
    (hub-capped) descent refine on what the stream drained — q257 ×
    q272. New-shard vectors arrive as micro-batches and insert under
    the frozen quantizer via the displacement merge; the drained
    directed lists equal the one-shot batch insert's EXACTLY (q257's
    top-m merge theorem), so one capped descent round
    (:func:`_capped_descent_round`, salt=1) over the stream-built
    symmetrized graph must produce the SAME refined lists as the batch
    pipeline — which is precisely what
    the oracle replays: q238's batch graph CTEs + q272's capped round,
    no streaming anywhere in the SQL. Stream-then-refine ≡
    batch-then-refine, proven at the edge-recall surface.

    Why this matters at 100 TB: an ingest stream builds the graph
    incrementally all day (bounded per-batch cost), and the refine is
    the nightly maintenance job — this query pins that the nightly job
    may run on the streamed state directly, no batch rebuild first, and
    that its cost stays the capped n·deg·C bound however the batches
    were cut.

    Output: q272's ladder schema — (round, m, c, n_true, edge_recall)
    for round 0 (the stream-drained lists: history within-cell kNN +
    streamed new-node lists) and round 1 (one capped refine round),
    recall against the hash-sampled exact top-m truth.
    """
    from functools import reduce

    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_knn_edges,
        cell_medoids,
        ivf_assign,
        ivf_train_centroids,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.graph_insert_stream import (
        streaming_graph_insert,
    )

    # Stream-build: identical recipe to q257 (hist-trained quantizer,
    # new shard drained through the displacement merge).
    emb = table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 7
    hist = emb.filter(~is_new)
    cents = ivf_train_centroids(hist, k=16, n_iter=2)
    med_df = cell_medoids(hist, cents)
    split_dir = _split_embeddings(
        spark, sf_dir, n_files=3, pred=is_new, variant="new"
    )
    hist_members = (
        ivf_assign(hist, cents, n_probe=1)
        .join(
            hist.select(
                "vec_id", to_double_array(F.col("embedding")).alias("__v")
            ),
            on="vec_id",
        )
        .select("vec_id", "cell", "__v")
    )
    new_knn, _no_tombs = streaming_graph_insert(
        spark, split_dir, hist_members, cents, m=_Q232_M
    )
    # The history kNN build and the exact truth are independent of the
    # drained state.
    base_knn = cell_knn_edges(hist, cents, m=_Q232_M).localCheckpoint(
        eager=True
    )
    strue = _sample_truth(emb)
    lists0 = base_knn.unionByName(new_knn).localCheckpoint(eager=True)
    probes_all = ivf_assign(emb, cents, n_probe=1 + _Q232_BRIDGE)
    graph = _sym_edges(
        lists0.unionByName(_medoid_bridges(probes_all, med_df))
    ).localCheckpoint(eager=True)

    # Bounded refine on the streamed state (q272's round 1).
    refined = _capped_descent_round(
        _vectors(emb), graph, _Q232_M, _Q272_C, salt=1
    ).localCheckpoint(eager=True)

    rungs = _recall_rungs(strue, {0: lists0, 1: refined})
    return reduce(DataFrame.unionByName, [
        rung.select(
            F.lit(rnd).cast("long").alias("round"),
            F.lit(_Q232_M).cast("long").alias("m"),
            F.lit(_Q272_C).cast("long").alias("c"),
            "n_true",
            "edge_recall",
        )
        for rnd, rung in rungs.items()
    ])


_Q278_ORACLE_TEMPLATE = (
    f"""
WITH {_Q238_GRAPH_CTES},
knn AS (
  SELECT src, dst FROM knn_h UNION SELECT src, dst FROM knn_n
),
"""
    + _q272_round_ctes(1)
    + f""",
sscored AS (
  SELECT q.vec_id AS src, c.vec_id AS dst,
         {_Q232_L2.format(a='q', b='c')} AS dist
  FROM vecs q JOIN vecs c
    ON q.vec_id % {_Q237_SAMPLE_MOD} = 0 AND c.vec_id <> q.vec_id
),
strue AS (
  SELECT src, dst FROM (
    SELECT *, row_number() OVER (PARTITION BY src
                                 ORDER BY dist ASC, dst) AS r
    FROM sscored
  ) WHERE r <= {_Q232_M}
)
"""
    + _q272_recall_row(0, "knn")
    + "\nUNION ALL\n"
    + _q272_recall_row(1, "sref_1")
)


def q278_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q278 oracle: q238's hist-trained graph CTEs (the batch
    replay of the stream build) + q272's capped round unrolled once."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet"),
        id_filter=lambda i: i % 10 != 7,
    )
    return None if values is None else _Q278_ORACLE_TEMPLATE.replace(
        "__IVF_VALUES__", values
    )


Q278_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


# --------------------------------------------------------------------------
# q285 — IR serving metrics: MRR@k and NDCG@k of the IVF index
# --------------------------------------------------------------------------
_Q285_K = 10
# IDCG@k for binary relevance with k relevant items — a CONSTANT, so it
# is computed once here and inlined identically into both engines.
_Q285_IDCG = sum(math.log(2.0) / math.log(p + 1.0) for p in range(1, _Q285_K + 1))


def q285_serving_ir_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 and NDCG@10 of the IVF serving list against the exact
    cosine truth — the IR-standard POSITION-AWARE metrics beside the
    recall gates (q211 counts set overlap; a serving stack also cares
    WHERE the true neighbors land in the returned ranking, because
    downstream consumers read top-to-bottom). Relevance is binary
    membership in the exact top-10; per query the output carries the
    first-relevant position (0 = none), the reciprocal rank, the DCG
    and the NDCG against the constant binary-relevance IDCG@10.

    Composition discipline: both ranked lists are the verified q56/q38
    kernels; the metric layer is one left join + one per-query
    aggregate over ≤ k rows. Cross-engine float lockstep: each DCG term
    rounds to 6 decimals BEFORE the per-query sum (q202's per-pair
    discipline — the exact term sum is then a 1e-6-grid decimal, and
    round6's nudge clears the grid-boundary tie), ln on both engines.

    Scale shape: metric cost is k·|Q| rows regardless of corpus size;
    the ranked inputs reuse their own documented scale paths.
    """
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ann_topk_ivf,
        brute_force_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    served = ann_topk_ivf(
        emb, query_ids_pred=lambda c: c < 50, k=_Q285_K, n_cells=16,
        n_probe=4,
    ).select("query_id", "neighbor_id", F.col("rank").alias("pos"))
    truth = brute_force_topk(
        # spread=True: 50-query exact-cosine truth, same rationale as
        # q211 (in-session A-B 1.31 -> 1.04 s at sf0.1).
        emb, emb.filter(F.col("vec_id") < 50), k=_Q285_K, spread=True
    ).select("query_id", "neighbor_id", F.lit(1).alias("rel"))

    scored = served.join(
        truth, on=["query_id", "neighbor_id"], how="left"
    ).select(
        "query_id",
        "pos",
        F.coalesce("rel", F.lit(0)).alias("rel"),
    )
    term = F.round(
        F.col("rel")
        * (F.lit(math.log(2.0)) / F.log(F.col("pos") + F.lit(1.0)))
        + F.lit(1e-9),
        6,
    )
    per_q = scored.groupBy("query_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("pos"))).alias("fh"),
        F.sum(term).alias("dcg_raw"),
    )
    all_q = truth.select("query_id").distinct()
    return (
        all_q.join(per_q, on="query_id", how="left")
        .select(
            "query_id",
            F.coalesce("fh", F.lit(0)).cast("long").alias("first_hit"),
            F.round(
                F.when(
                    F.col("fh").isNotNull(), F.lit(1.0) / F.col("fh")
                ).otherwise(F.lit(0.0))
                + F.lit(1e-9),
                6,
            ).alias("rr"),
            F.round(F.coalesce("dcg_raw", F.lit(0.0)) + F.lit(1e-9), 6).alias(
                "dcg"
            ),
            F.round(
                F.coalesce("dcg_raw", F.lit(0.0)) / F.lit(_Q285_IDCG)
                + F.lit(1e-9),
                6,
            ).alias("ndcg"),
        )
    )


_Q285_ORACLE_TEMPLATE = f"""
WITH {{Q56_CTES}},
served AS (
  SELECT query_id, neighbor_id, r AS pos FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM scored
  ) WHERE r <= {_Q285_K}
),
bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos('q.v', 'c.v')} AS cosine
  FROM vecs q JOIN vecs c ON q.vec_id < 50 AND c.vec_id <> q.vec_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM bscored
  ) WHERE r <= {_Q285_K}
),
rels AS (
  SELECT s.query_id, s.pos,
         CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS rel
  FROM served s
  LEFT JOIN truth t ON t.query_id = s.query_id
                   AND t.neighbor_id = s.neighbor_id
),
per_q AS (
  SELECT query_id,
         min(CASE WHEN rel = 1 THEN pos END) AS fh,
         sum(round(rel * ({math.log(2.0)!r} / ln(pos + 1.0)) + 1e-9, 6))
           AS dcg_raw
  FROM rels GROUP BY query_id
)
SELECT a.query_id,
       CAST(coalesce(p.fh, 0) AS BIGINT) AS first_hit,
       round(CASE WHEN p.fh IS NOT NULL
                  THEN CAST(1.0 AS DOUBLE) / p.fh ELSE 0.0 END + 1e-9, 6) AS rr,
       round(coalesce(p.dcg_raw, 0.0) + 1e-9, 6) AS dcg,
       round(coalesce(p.dcg_raw, 0.0) / {_Q285_IDCG!r} + 1e-9, 6) AS ndcg
FROM (SELECT DISTINCT query_id FROM truth) a
LEFT JOIN per_q p ON p.query_id = a.query_id
"""


def q285_oracle_for(sf_dir: str) -> str | None:
    """sf-aware q285 oracle: q56's trained-centroid CTE chain feeds the
    served ranking; truth needs no literals."""
    values = _ivf_centroid_values(
        os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    )
    if values is None:
        return None
    return _Q285_ORACLE_TEMPLATE.format(
        Q56_CTES=_Q56_CTES.replace("__IVF_VALUES__", values)
    )


Q285_ORACLE = None  # LAZY — oracle_fn resolved at call time (q56 pattern)


from wetsa_cams_solrad_timeseries_spark.plans._spec import make_specs

SPECS = make_specs(
    [
        ("q38_cosine_topk", q38_cosine_topk, Q38_ORACLE, (), "exact cosine top-k"),
        ("q39_ann_lsh_topk", q39_ann_lsh_topk, Q39_ORACLE, (), "SRP-LSH approximate top-k"),
        ("q40_embedding_neardup", q40_embedding_neardup, Q40_ORACLE, (),
         "exact near-dup VERIFICATION stage (block-matmul, no crossJoin/"
         "collect; compute is quadratic because exact all-pairs IS the "
         "problem statement — at 100 TB feed it q73's LSH candidates)"),
        ("q73_neardup_lsh", q73_neardup_lsh, Q73_ORACLE, (),
         "LSH-prefiltered near-dup — the corpus-linear scale path: "
         "candidates = SRP bucket mates only, then q40's exact verify"),
        ("q41_multimodal_features", q41_multimodal_features, Q41_ORACLE, (), "binary payload features"),
        ("q42_streaming_tumbling", q42_streaming_tumbling, Q42_ORACLE, (), "streaming window twin"),
        ("q53_streaming_stateful", q53_streaming_stateful, Q53_ORACLE, (), "keyed-state streaming"),
        ("q77_streaming_multibatch", q77_streaming_multibatch, Q53_ORACLE, (), "multi-batch state recovery"),
        ("q82_streaming_dedup", q82_streaming_dedup, Q82_ORACLE, (), "cross-batch streaming dedup"),
        ("q71_streaming_sessions", q71_streaming_sessions, Q71_ORACLE, (), "event-time-timeout sessions"),
        ("q56_ann_ivf_topk", q56_ann_ivf_topk, Q56_ORACLE, (), "IVF inverted-file ANN"),  # oracle_fn attached below
        ("q63_streaming_sliding", q63_streaming_sliding, Q63_ORACLE, (), "streaming sliding windows"),
        ("q98_int8_quantization", q98_int8_quantization, Q98_ORACLE, (), "int8 quantization error stats"),
        ("q99_stream_stream_join", q99_stream_stream_join, Q99_ORACLE, (),
         "watermarked stream-stream interval join"),
        ("q194_hybrid_retrieval", q194_hybrid_retrieval, Q194_ORACLE, (),
         "hybrid BM25 + vector retrieval, reciprocal-rank fused"),
        ("q207_hybrid_from_index", q207_hybrid_from_index, Q194_ORACLE, (),
         "hybrid retrieval served from the persisted bucketed postings "
         "index (index ≡ recompute: the oracle is q194's SQL verbatim)"),
        ("q208_phash_neardup", q208_phash_neardup, Q208_ORACLE, (),
         "perceptual-hash (dHash) near-dup over the binary payload: "
         "Hamming-banded candidates, exact popcount verify"),
        ("q210_incremental_phash", q210_incremental_phash, Q210_ORACLE, (),
         "incremental perceptual-hash index: signatures denormalized "
         "onto the bucketed band rows, steady state verifies from the "
         "index alone (history payloads never re-read)"),
        ("q211_ann_recall_gate", q211_ann_recall_gate, Q211_ORACLE, (),
         "ANN recall@k gate: IVF probe vs exact baseline, per-query "
         "hit counts (the pre-serving index quality check)"),
        ("q212_pq_recall_gate", q212_pq_recall_gate, Q212_ORACLE, (),
         "PQ recall@k gate: ADC ranking vs the exact squared-L2 "
         "baseline (quantization loss, metric-matched)"),
        ("q213_pq_rerank_topk", q213_pq_rerank_topk, Q213_ORACLE, (),
         "production PQ serving: ADC top-R screen, exact-L2 rerank of "
         "the R survivors (codes-only corpus pass)"),
        ("q214_opq_adc_topk", q214_opq_adc_topk, Q214_ORACLE, (),
         "OPQ: learned-rotation product quantization (Procrustes "
         "alternating trainer, rotation kernel, q195's ADC tail)"),
        ("q215_ivfpq_recall_gate", q215_ivfpq_recall_gate, Q215_ORACLE, (),
         "IVF-PQ recall@k gate: the composite index's candidate x "
         "ranking loss product vs the exact-L2 baseline"),
        ("q195_pq_adc_topk", q195_pq_adc_topk, Q195_ORACLE, (),
         "product-quantization ANN (PQ codes + asymmetric distance)"),
        ("q196_semantic_dedup", q196_semantic_dedup, Q196_ORACLE, (),
         "SemDeDup: cluster-bounded embedding dedup with survivors"),
        ("q197_incremental_pq_index", q197_incremental_pq_index, Q197_ORACLE, (),
         "incremental PQ index: frozen books + persisted code table"),
        ("q200_hard_negatives", q200_hard_negatives, Q200_ORACLE, (),
         "hard-negative mining (top-k cross-label cosine)"),
        ("q203_streaming_pq_encode", q203_streaming_pq_encode, Q203_ORACLE, (),
         "streaming PQ encode: foreachBatch append to the code index"),
        ("q205_ivfpq_topk", q205_ivfpq_topk, Q205_ORACLE, (),
         "IVF-PQ residual-encoded ANN (cell-probed ADC)"),
        ("q216_ann_serving_sla", q216_ann_serving_sla, Q216_ORACLE, (),
         "tuned ANN serving: gate-derived (n_probe, R) meeting recall@10"),
        ("q217_incremental_opq_index", q217_incremental_opq_index,
         Q217_ORACLE, (),
         "incremental OPQ index: frozen rotation + books + code table"),
        ("q218_streaming_opq_encode", q218_streaming_opq_encode,
         Q218_ORACLE, (),
         "streaming OPQ encode: frozen (R, books) riding the stream"),
        ("q219_multiprobe_lsh", q219_multiprobe_lsh, Q219_ORACLE, (),
         "multiprobe SRP-LSH: 1-flip probe fan-out, same index"),
        ("q220_sq8_topk", q220_sq8_topk, Q220_ORACLE, (),
         "scalar-quantized (SQ8) ANN: 8-bit codes, codegen-only path"),
        ("q223_ivfsq_topk", q223_ivfsq_topk, Q223_ORACLE, (),
         "IVF-SQ8 composite ANN: coarse cells + 8-bit residual codes"),
        ("q224_binary_hamming_topk", q224_binary_hamming_topk,
         Q224_ORACLE, (),
         "binary sign quantization: Hamming screen + exact rerank"),
        ("q227_incremental_ivfsq_index", q227_incremental_ivfsq_index,
         Q227_ORACLE, (),
         "incremental IVF-SQ8: cell-partitioned codes, pruned probes"),
        ("q228_hybrid_retrieval_sla", q228_hybrid_retrieval_sla,
         Q228_ORACLE, (),
         "hybrid-retrieval recall SLA: gate-derived (bm_depth, "
         "vec_depth) meeting fused recall@10"),
        ("q230_semantic_contamination", q230_semantic_contamination,
         Q230_ORACLE, (),
         "semantic contamination screen: eval vectors probe the IVF "
         "index, cosine-threshold flags (q104's embedding-space twin)"),
        ("q231_stream_to_serving", q231_stream_to_serving, Q231_ORACLE, (),
         "streaming ingest → servable index: micro-batch frozen-book "
         "encode, then ADC serving with batch-parity oracle"),
        ("q232_graph_ann_recall", q232_graph_ann_recall, Q232_ORACLE, (),
         "graph ANN (NSW-style): within-cell kNN + medoid bridges, "
         "fixed-hop beam search, recall gate vs exact L2"),
        ("q233_hybrid_sla_from_index", q233_hybrid_sla_from_index,
         Q233_ORACLE, (),
         "the SLA loop served FROM the persisted postings index "
         "(derived depths + q207's bucket-pruned probe; oracle = "
         "q228's recompute replay)"),
        ("q235_graph_ann_sla", q235_graph_ann_sla, Q235_ORACLE, (),
         "graph-ANN tuning SLA: the beam ladder measured rung by rung, "
         "minimal rung meeting recall@3 flagged"),
        ("q237_nn_descent_refine", q237_nn_descent_refine, Q237_ORACLE, (),
         "NN-descent graph refinement: neighbor-of-neighbor candidates, "
         "exact verify, edge-recall audit before vs after"),
        ("q238_incremental_graph_ann", q238_incremental_graph_ann,
         Q238_ORACLE, (),
         "incremental graph-ANN index: persisted directed edges + "
         "frozen hubs, HNSW-style insert, beam serve (incremental ≡ "
         "batch oracle)"),
        ("q257_streaming_graph_insert", q257_streaming_graph_insert,
         Q257_ORACLE, (),
         "streaming graph insert: displacement merge == one-shot insert"),
        ("q258_hnsw_multilayer", q258_hnsw_multilayer, Q258_ORACLE, (),
         "multi-layer HNSW: sparse pinned-hub upper layer, greedy "
         "descent refines the layer-0 entry, recall gate vs exact"),
        ("q265_hnsw_level_insert", q265_hnsw_level_insert, Q265_ORACLE, (),
         "HNSW insert-time level assignment: streamed two-layer "
         "maintenance, descent serve (stream == one-pass batch)"),
        ("q266_sampled_nn_descent", q266_sampled_nn_descent, Q266_ORACLE,
         (),
         "rho-sampled NN-descent (Dong et al. neighbor sampling): "
         "hub-safe bounded expansion vs the exact round, recall delta "
         "and candidate volume measured"),
        ("q272_capped_descent_ladder", q272_capped_descent_ladder,
         Q272_ORACLE, (),
         "hub-capped descent round ladder: monotone recall recovery at "
         "indeg*C per-hub cost (the q266 family's converging build)"),
        ("q273_hnsw_log_layers", q273_hnsw_log_layers, Q273_ORACLE, (),
         "full log-layer HNSW descent: nested geometric layers, greedy "
         "walk per layer, gate row comparable to q232/q258"),
        ("q274_capped_descent_sla", q274_capped_descent_sla, Q274_ORACLE,
         (),
         "capped-descent SLA: minimal bounded round meeting the edge-"
         "recall floor, candidate volume as the measured cost axis"),
        ("q278_streaming_capped_descent", q278_streaming_capped_descent,
         Q278_ORACLE, (),
         "streaming capped descent: stream-built graph + one bounded "
         "refine round == batch-then-refine (oracle replays the batch)"),
        ("q285_serving_ir_metrics", q285_serving_ir_metrics,
         Q285_ORACLE, (),
         "MRR@10/NDCG@10 of IVF serving vs exact truth — the position-"
         "aware IR metrics beside the recall gates"),
        ("q239_nn_descent_rounds", q239_nn_descent_rounds, Q239_ORACLE, (),
         "NN-descent round ladder: per-round edge recall vs exact "
         "truth, monotone by construction"),
        ("q240_refined_graph_serving", q240_refined_graph_serving,
         Q240_ORACLE, (),
         "refined-graph serving gate: q232's beam on base vs "
         "NN-descent-rewired graph, query recall side by side"),
        ("q241_pca_projection", q241_pca_projection, Q241_ORACLE, (),
         "PCA projection: deterministic 2-component basis, "
         "whole-stage-codegen fold projection (bit-identical twin)"),
        ("q242_pca_ann_gate", q242_pca_ann_gate, Q242_ORACLE, (),
         "PCA-screened ANN: low-rank candidate screen + exact rerank, "
         "recall gate vs exact L2 baseline"),
        ("q243_pca_screen_sla", q243_pca_screen_sla, Q243_ORACLE, (),
         "PCA screen-depth SLA: the rung ladder from ONE scored pass "
         "(prefix property), minimal depth meeting recall@3 picked "
         "in-plan"),
        ("q247_filtered_ann_gate", q247_filtered_ann_gate, Q247_ORACLE, (),
         "filtered ANN: metadata predicate pre-filters the inverted "
         "lists, recall gate vs the exact filtered baseline"),
        ("q249_streaming_pca_encode", q249_streaming_pca_encode,
         Q241_ORACLE, (),
         "streaming PCA encode: frozen basis riding ingest, drained "
         "projections ≡ batch (oracle = q241's SQL verbatim)"),
        ("q250_descent_depth_sla", q250_descent_depth_sla, Q250_ORACLE, (),
         "NN-descent depth SLA: serving recall per descent round over "
         "the shared build, minimal depth meeting recall@3 picked "
         "in-plan"),
        ("q251_filter_selectivity_ladder", q251_filter_selectivity_ladder,
         Q251_ORACLE, (),
         "filtered-ANN selectivity ladder: q247 at three predicates "
         "over one shared index — recall vs selectivity, measured"),
    ]
)

import dataclasses as _dc

SPECS["q56_ann_ivf_topk"] = _dc.replace(
    SPECS["q56_ann_ivf_topk"], oracle_fn=q56_oracle_for
)
SPECS["q211_ann_recall_gate"] = _dc.replace(
    SPECS["q211_ann_recall_gate"], oracle_fn=q211_oracle_for
)
SPECS["q212_pq_recall_gate"] = _dc.replace(
    SPECS["q212_pq_recall_gate"], oracle_fn=q212_oracle_for
)
SPECS["q213_pq_rerank_topk"] = _dc.replace(
    SPECS["q213_pq_rerank_topk"], oracle_fn=q213_oracle_for
)
SPECS["q214_opq_adc_topk"] = _dc.replace(
    SPECS["q214_opq_adc_topk"], oracle_fn=q214_oracle_for
)
SPECS["q215_ivfpq_recall_gate"] = _dc.replace(
    SPECS["q215_ivfpq_recall_gate"], oracle_fn=q215_oracle_for
)
SPECS["q216_ann_serving_sla"] = _dc.replace(
    SPECS["q216_ann_serving_sla"], oracle_fn=q216_oracle_for
)
SPECS["q217_incremental_opq_index"] = _dc.replace(
    SPECS["q217_incremental_opq_index"], oracle_fn=q217_oracle_for
)
SPECS["q218_streaming_opq_encode"] = _dc.replace(
    SPECS["q218_streaming_opq_encode"], oracle_fn=q218_oracle_for
)
SPECS["q220_sq8_topk"] = _dc.replace(
    SPECS["q220_sq8_topk"], oracle_fn=q220_oracle_for
)
SPECS["q223_ivfsq_topk"] = _dc.replace(
    SPECS["q223_ivfsq_topk"], oracle_fn=q223_oracle_for
)
SPECS["q224_binary_hamming_topk"] = _dc.replace(
    SPECS["q224_binary_hamming_topk"], oracle_fn=q224_oracle_for
)
SPECS["q227_incremental_ivfsq_index"] = _dc.replace(
    SPECS["q227_incremental_ivfsq_index"], oracle_fn=q227_oracle_for
)
SPECS["q228_hybrid_retrieval_sla"] = _dc.replace(
    SPECS["q228_hybrid_retrieval_sla"], oracle_fn=q228_oracle_for
)
SPECS["q230_semantic_contamination"] = _dc.replace(
    SPECS["q230_semantic_contamination"], oracle_fn=q230_oracle_for
)
SPECS["q231_stream_to_serving"] = _dc.replace(
    SPECS["q231_stream_to_serving"], oracle_fn=q195_oracle_for
)
SPECS["q232_graph_ann_recall"] = _dc.replace(
    SPECS["q232_graph_ann_recall"], oracle_fn=q232_oracle_for
)
SPECS["q235_graph_ann_sla"] = _dc.replace(
    SPECS["q235_graph_ann_sla"], oracle_fn=q235_oracle_for
)
SPECS["q237_nn_descent_refine"] = _dc.replace(
    SPECS["q237_nn_descent_refine"], oracle_fn=q237_oracle_for
)
SPECS["q238_incremental_graph_ann"] = _dc.replace(
    SPECS["q238_incremental_graph_ann"], oracle_fn=q238_oracle_for
)
SPECS["q257_streaming_graph_insert"] = _dc.replace(
    SPECS["q257_streaming_graph_insert"], oracle_fn=q238_oracle_for
)
SPECS["q258_hnsw_multilayer"] = _dc.replace(
    SPECS["q258_hnsw_multilayer"], oracle_fn=q258_oracle_for
)
SPECS["q265_hnsw_level_insert"] = _dc.replace(
    SPECS["q265_hnsw_level_insert"], oracle_fn=q265_oracle_for
)
SPECS["q266_sampled_nn_descent"] = _dc.replace(
    SPECS["q266_sampled_nn_descent"], oracle_fn=q266_oracle_for
)
SPECS["q272_capped_descent_ladder"] = _dc.replace(
    SPECS["q272_capped_descent_ladder"], oracle_fn=q272_oracle_for
)
SPECS["q273_hnsw_log_layers"] = _dc.replace(
    SPECS["q273_hnsw_log_layers"], oracle_fn=q273_oracle_for
)
SPECS["q274_capped_descent_sla"] = _dc.replace(
    SPECS["q274_capped_descent_sla"], oracle_fn=q274_oracle_for
)
SPECS["q278_streaming_capped_descent"] = _dc.replace(
    SPECS["q278_streaming_capped_descent"], oracle_fn=q278_oracle_for
)
SPECS["q285_serving_ir_metrics"] = _dc.replace(
    SPECS["q285_serving_ir_metrics"], oracle_fn=q285_oracle_for
)
SPECS["q239_nn_descent_rounds"] = _dc.replace(
    SPECS["q239_nn_descent_rounds"], oracle_fn=q239_oracle_for
)
SPECS["q240_refined_graph_serving"] = _dc.replace(
    SPECS["q240_refined_graph_serving"], oracle_fn=q240_oracle_for
)
SPECS["q241_pca_projection"] = _dc.replace(
    SPECS["q241_pca_projection"], oracle_fn=q241_oracle_for
)
SPECS["q242_pca_ann_gate"] = _dc.replace(
    SPECS["q242_pca_ann_gate"], oracle_fn=q242_oracle_for
)
SPECS["q243_pca_screen_sla"] = _dc.replace(
    SPECS["q243_pca_screen_sla"], oracle_fn=q243_oracle_for
)
SPECS["q247_filtered_ann_gate"] = _dc.replace(
    SPECS["q247_filtered_ann_gate"], oracle_fn=q247_oracle_for
)
SPECS["q249_streaming_pca_encode"] = _dc.replace(
    SPECS["q249_streaming_pca_encode"], oracle_fn=q241_oracle_for
)
SPECS["q250_descent_depth_sla"] = _dc.replace(
    SPECS["q250_descent_depth_sla"], oracle_fn=q250_oracle_for
)
SPECS["q251_filter_selectivity_ladder"] = _dc.replace(
    SPECS["q251_filter_selectivity_ladder"], oracle_fn=q251_oracle_for
)
SPECS["q233_hybrid_sla_from_index"] = _dc.replace(
    SPECS["q233_hybrid_sla_from_index"], oracle_fn=q228_oracle_for
)
SPECS["q195_pq_adc_topk"] = _dc.replace(
    SPECS["q195_pq_adc_topk"], oracle_fn=q195_oracle_for
)
SPECS["q196_semantic_dedup"] = _dc.replace(
    SPECS["q196_semantic_dedup"], oracle_fn=q196_oracle_for
)
SPECS["q197_incremental_pq_index"] = _dc.replace(
    SPECS["q197_incremental_pq_index"], oracle_fn=q197_oracle_for
)
SPECS["q203_streaming_pq_encode"] = _dc.replace(
    SPECS["q203_streaming_pq_encode"], oracle_fn=q203_oracle_for
)
SPECS["q205_ivfpq_topk"] = _dc.replace(
    SPECS["q205_ivfpq_topk"], oracle_fn=q205_oracle_for
)
