"""Training-data pipeline operators (round 4): deterministic dataset
splitting, stratified sampling, n-gram vocabulary statistics, and keyed
state-store GC — the data-curation surface a 100 TB LLM corpus pipeline
needs beyond dedup/similarity (llm_ops.py, vector.py).

All four follow the engine-wide determinism rules (_spec docstring):
hash-derived orderings use md5 hex strings (bit-identical in Spark and
DuckDB, binary collation both), integer sums CAST to BIGINT in the
oracle (DuckDB sums to HUGEINT), float aggregates round via the nudge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import table
from wetsa_cams_solrad_timeseries_spark.plans._spec import (
    exact_sum_sql,
    round6,
    round6_sql,
)

# --------------------------------------------------------------------------
# q86 — deterministic train/val/test hash split
# --------------------------------------------------------------------------
def q86_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-stable dataset splitting: bucket = first hex char of
    md5(doc_id) → train (0-b, 12/16), val (c-d), test (e-f). The split is
    a pure per-row map (no shuffle until the 3-group rollup), reproducible
    across engines/runs/cluster sizes, and stable under corpus growth —
    adding documents never moves an existing one between splits (the
    property random() splits lack). Scan-bound at any scale."""
    docs = table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


Q86_ORACLE = """
WITH tagged AS (
  SELECT *, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                 WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                 ELSE 'test' END AS split
  FROM documents
)
SELECT split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM tagged
GROUP BY split
"""


# --------------------------------------------------------------------------
# q87 — stratified deterministic sample (k per stratum, hash order)
# --------------------------------------------------------------------------
_SAMPLE_K = 10


def q87_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=10 documents per language, chosen as the k smallest md5(doc_id)
    per stratum — a deterministic uniform sample (md5 order is
    independent of any data column).

    Scale shape: the q50 two-stage bounded-k selection, not a per-stratum
    global sort. Stage 1 (mapInPandas, map-side, zero shuffle) keeps each
    Arrow batch's k smallest hashes per stratum — a row outside its
    batch's bottom-k cannot be in the global bottom-k. Stage 2 ranks the
    ≤ partitions·k survivors per stratum with a window over a provably
    bounded set. A hot stratum (one language owning most of 100 TB)
    therefore never funnels its full row set through one reducer."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    hashed = docs.withColumn("h", F.md5(F.col("doc_id").cast("string")))

    def bottom_k(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            yield (
                pdf.sort_values(["h", "doc_id"])
                .groupby("lang", group_keys=False)
                .head(_SAMPLE_K)
            )

    survivors = hashed.mapInPandas(
        bottom_k, schema="doc_id long, lang string, h string"
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _SAMPLE_K)
        .select("doc_id", "lang", "rn")
    )


Q87_ORACLE = f"""
SELECT doc_id, lang, rn
FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
WHERE rn <= {_SAMPLE_K}
"""


# --------------------------------------------------------------------------
# q88 — corpus bigram vocabulary (top-k n-grams)
# --------------------------------------------------------------------------
_NGRAM_TOPK = 25


def q88_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 word bigrams corpus-wide with deterministic tie-break — the
    vocabulary-building / n-gram-LM statistics pass. Explode + count is
    the map-side-combinable form (partial counts per partition, one
    shuffle on the bigram key); the final top-k ranks the (small)
    aggregated side only, never the exploded fact set."""
    docs = table(spark, sf_dir, "documents")
    with_words = docs.select(F.split(F.col("text"), " ").alias("w")).filter(
        F.size("w") >= 2
    )
    bigrams = with_words.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))"
            )
        ).alias("bigram")
    )
    counts = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    # orderBy+limit plans as TakeOrderedAndProject: per-partition top-k,
    # then a k-row merge on the driver — the vocabulary never funnels
    # through a single-partition global sort. The row_number window then
    # ranks only the k survivors.
    top = counts.orderBy(F.col("cnt").desc(), F.col("bigram")).limit(_NGRAM_TOPK)
    w = Window.orderBy(F.col("cnt").desc(), F.col("bigram"))
    return top.withColumn("rn", F.row_number().over(w).cast("long")).select(
        "bigram", "cnt", "rn"
    )


Q88_ORACLE = f"""
WITH words AS (
  SELECT string_split(text, ' ') AS w FROM documents
),
bigrams AS (
  SELECT unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS bigram
  FROM words
  WHERE len(w) >= 2
),
counts AS (
  SELECT bigram, count(*) AS cnt FROM bigrams GROUP BY bigram
)
SELECT bigram, cnt, rn
FROM (
  SELECT bigram, cnt,
         row_number() OVER (ORDER BY cnt DESC, bigram) AS rn
  FROM counts
)
WHERE rn <= {_NGRAM_TOPK}
"""


# --------------------------------------------------------------------------
# q89 — streaming TTL eviction (state-store GC)
# --------------------------------------------------------------------------
_TTL_MS = 6 * 3600 * 1000  # 6 h idle → evict


def q89_streaming_ttl_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed streaming state with a TTL: users idle > 6 h behind the
    watermark are EVICTED — final totals emitted exactly once via
    EventTimeTimeout, state cleared (streaming/ttl.py). Emitted rows are
    produced ONLY by the timeout path, so the result being a strict,
    non-empty subset of users proves the GC executed and that active
    keys were retained; the fn raises otherwise. Bounds state to keys
    active within the TTL window — the unbounded-stream requirement the
    NoTimeout operator (q53) does not meet."""
    from wetsa_cams_solrad_timeseries_spark.streaming.ttl import (
        streaming_ttl_evictions,
    )

    out = streaming_ttl_evictions(
        spark, f"{sf_dir}/events.parquet", ttl_ms=_TTL_MS
    )
    n_evicted = out.count()
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    if not 0 < n_evicted < n_users:
        raise RuntimeError(
            f"TTL eviction degenerate: {n_evicted} evicted of {n_users} "
            "users — the timeout/GC path did not run as a strict subset"
        )
    return out


# Eviction rule mirrored from the operator (q71's ms-truncation
# convention): deadline_ms = floor(epoch_us(last event)/1000) + ttl_ms
# fires iff strictly below the final watermark floor(epoch_us(max ts)/1000).
Q89_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         count(*) AS n_events,
         {round6_sql('sum(value)')} AS sum_value,
         max(ts) AS last_ts
  FROM events
  GROUP BY user_id
),
wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events)
SELECT user_id, n_events, sum_value, last_ts
FROM per_user CROSS JOIN wm
WHERE (epoch_us(last_ts) // 1000) + {_TTL_MS} < wm_ms
"""


# --------------------------------------------------------------------------
# q90 — end-to-end curation funnel (quality → canonical dedup → split)
# --------------------------------------------------------------------------
_QUALITY_MIN = 0.5


def q90_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pipeline as ONE lazy plan:

    1. quality gate — composite score ≥ 0.5 (shared rule with q36,
       llm_ops.quality_score_expr), a scan-parallel per-row filter;
    2. canonical dedup — documents identical up to word order/repetition
       collapse: key = md5 of the sorted distinct word set, keep the
       smallest doc_id per key (the bag-of-words canonicalization step
       between exact dedup (q31) and MinHash near-dup (q33));
    3. deterministic split tag (q86's md5-bucket rule);
    4. per-split rollup: surviving docs, chars, languages.

    One scan feeds everything; the only shuffles are the dedup groupBy
    (keyed on a 32-hex digest — uniform, skew-free at any corpus size)
    and the 3-group rollup. Catalyst keeps the quality filter inside the
    scan stage, so rejected documents never reach the dedup exchange."""
    docs = table(spark, sf_dir, "documents")
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import quality_score_expr

    canon_key = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
            ),
            " ",
        )
    )
    kept = (
        docs.filter(quality_score_expr(F.col("text")) >= _QUALITY_MIN)
        .withColumn("canon_key", canon_key)
        .groupBy("canon_key")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
            F.min_by("lang", "doc_id").alias("lang"),
        )
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = F.when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
    return (
        kept.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def _q90_oracle() -> str:
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import quality_score_sql

    return f"""
WITH kept AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
           string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS canon_key,
         doc_id, n_chars, lang
  FROM documents
  WHERE {quality_score_sql('text')} >= {_QUALITY_MIN}
),
dedup AS (
  SELECT canon_key,
         min(doc_id) AS doc_id,
         min_by(n_chars, doc_id) AS n_chars,
         min_by(lang, doc_id) AS lang
  FROM kept GROUP BY canon_key
)
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM dedup
GROUP BY 1
"""


Q90_ORACLE = _q90_oracle()


# --------------------------------------------------------------------------
# q91 — partition-pruned scan over a hive-partitioned layout
# --------------------------------------------------------------------------
def q91_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reads ONLY the matching partition directory of a hive-partitioned
    events layout (``event_type=click/…``) — partition pruning, the
    cheapest 100 TB lever: the filter is resolved against directory
    metadata, so non-matching partitions are never listed, opened, or
    scanned. The layout is written once per process per SF (same
    lifecycle as q77's split replay input); the fn RAISES unless the
    executed plan's PartitionFilters actually prune (so the property is
    driver-visible, like q81's zero-Exchange assert). Aggregates go
    through the exact-decimal sum: the rewritten layout's row order
    differs from the source file's, which is exactly the reorder case
    round6 alone cannot stabilize."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import tmp_generation
    from wetsa_cams_solrad_timeseries_spark.plans._spec import exact_sum

    part_dir = tmp_generation(
        sf_dir,
        "events_parts",
        lambda path: table(spark, sf_dir, "events")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(path),
    )

    df = (
        spark.read.parquet(part_dir)
        .filter(F.col("event_type") == "click")
        .groupBy(F.dayofweek("ts").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round6(exact_sum("value")).alias("sum_value"),
        )
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters: [" not in plan or "event_type" not in plan.split(
        "PartitionFilters:", 1
    )[1].split("]", 1)[0]:
        raise RuntimeError(
            "partitioned scan did not prune on event_type — "
            "PartitionFilters missing from the executed plan"
        )
    return df


# DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday → +1 aligns (q48).
Q91_ORACLE = f"""
SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       count(*) AS n_events,
       {round6_sql(exact_sum_sql('value'))} AS sum_value
FROM events
WHERE event_type = 'click'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q92 — KMV sketch MERGE (distributed-sketch composability)
# --------------------------------------------------------------------------
_MERGE_K = 256
_MERGE_SCALE = float((_MERGE_K - 1) * 4294967296)


def q92_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches distributed-friendly: per-group
    KMV sketches MERGE losslessly into the global estimate. Any hash in
    the global bottom-k is, within its own group, preceded by < k smaller
    hashes — so it survives that group's k-truncated sketch, and
    (dedup → bottom-k) over the union of sketches reproduces the global
    bottom-k exactly. The global estimate therefore needs only the tiny
    per-group sketch arrays, never a re-scan — how a 1000-executor
    rollup serves any group-combination cardinality from one pass.

    Scale shape: per-batch map-side bottom-k prune (zero shuffle) bounds
    every collect_list to ≤ partitions·k rows, as in q50/q87. The final
    merge touches ≤ groups·k longs. Output also carries the exact
    distinct count, so the row verifies estimate-vs-truth in one look."""
    from wetsa_cams_solrad_timeseries_spark.functions.hashing import hash32

    ev = table(spark, sf_dir, "events")
    dh = ev.select(
        "event_type", hash32(F.col("user_id").cast("string")).alias("h")
    ).distinct()

    def bottom_k(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            yield (
                pdf.sort_values("h")
                .groupby("event_type", group_keys=False)
                .head(_MERGE_K)
            )

    pruned = dh.mapInPandas(bottom_k, schema="event_type string, h long")
    sketches = pruned.groupBy("event_type").agg(
        F.slice(F.sort_array(F.collect_list("h")), 1, _MERGE_K).alias("sketch")
    )
    merged = sketches.select(F.explode("sketch").alias("h")).distinct()
    agg = merged.agg(
        F.count(F.lit(1)).alias("n_h"),
        F.element_at(F.sort_array(F.collect_list("h")), _MERGE_K).alias("hk"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    return agg.crossJoin(exact).select(
        F.when(
            F.col("n_h") >= _MERGE_K,
            F.round(F.lit(_MERGE_SCALE) / F.col("hk") + F.lit(1e-9), 0).cast("long"),
        )
        .otherwise(F.col("n_h"))
        .alias("kmv_users"),
        "exact_users",
    )


Q92_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM events
),
stats AS (SELECT count(*) AS n_h FROM h),
kth AS (SELECT h FROM h ORDER BY h LIMIT 1 OFFSET {_MERGE_K - 1})
SELECT CASE WHEN stats.n_h >= {_MERGE_K}
            THEN CAST(round({_MERGE_SCALE} / kth.h + 1e-9, 0) AS BIGINT)
            ELSE stats.n_h END AS kmv_users,
       (SELECT count(DISTINCT user_id) FROM events) AS exact_users
FROM stats LEFT JOIN kth ON true
"""


# --------------------------------------------------------------------------
# q93 — per-label embedding centroids (class-centroid training op)
# --------------------------------------------------------------------------
def q93_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label in DIMENSION-MAJOR form: posexplode →
    one hash aggregate on (label, pos). The combiner-friendly layout for
    vector aggregation at scale — map-side partials hold one running
    (sum, count) per (label, dim) instead of whole vectors, the shuffle
    carries labels·dim scalars, and no executor materializes a per-group
    vector list (the collect_list anti-pattern). Output stays flat
    (label, pos, centroid_val) so the cross-engine hash compares scalars,
    not nested arrays; a consumer needing array form sorts + collects the
    64 rows per label."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    return (
        flat.groupBy("label", (F.col("pos") + 1).cast("long").alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            round6(F.avg("v")).alias("centroid_val"),
        )
    )


Q93_ORACLE = f"""
WITH flat AS (
  -- Per-row unnest (zipped with generate_subscripts) so ragged arrays
  -- expand to exactly their own elements — a global max-len range would
  -- pad short rows with NULL positions and inflate count(*), silently
  -- diverging from Spark's posexplode if dims ever varied.
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT label, CAST(pos AS BIGINT) AS pos,
       count(*) AS n_vectors,
       {round6_sql('avg(v)')} AS centroid_val
FROM flat
GROUP BY label, pos
"""


# --------------------------------------------------------------------------
# q94 — OHLC resample (ordered first/last aggregation per time bucket)
# --------------------------------------------------------------------------
def q94_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open/high/low/close per event type — the downsampling shape
    tumbling means (q02) cannot express, because open/close are
    ORDER-dependent aggregates. One window over (type, day) ordered by
    (ts, event_id) serves every statistic: first/last value by event
    time plus frame-wide min/max/count, then the rn=1 row per bucket is
    kept. Single shuffle on the bucket key, per-bucket sort bounded by
    bucket size — the same cost envelope as the plain bucket aggregate.
    The event_id tie-break makes duplicate timestamps deterministic in
    both engines."""
    ev = table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "event_type",
            "day",
            F.row_number().over(w).alias("rn"),
            F.first("value").over(w).alias("open"),
            F.last("value").over(wfull).alias("close"),
            F.min("value").over(wfull).alias("low"),
            F.max("value").over(wfull).alias("high"),
            F.count(F.lit(1)).over(wfull).alias("n_events"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


Q94_ORACLE = """
SELECT event_type, day, open, close, low, high, n_events
FROM (
  SELECT event_type,
         -- DuckDB date_trunc('day') yields DATE; Spark yields TIMESTAMP
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         row_number() OVER win AS rn,
         first_value(value) OVER win AS open,
         last_value(value) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING) AS close,
         min(value) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS low,
         max(value) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS high,
         count(*) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS n_events
  FROM events
  WINDOW win AS (PARTITION BY event_type, date_trunc('day', ts)
                 ORDER BY ts, event_id)
)
WHERE rn = 1
"""


from wetsa_cams_solrad_timeseries_spark.plans._spec import make_specs

SPECS = make_specs(
    [
        ("q86_hash_split", q86_hash_split, Q86_ORACLE, (), "deterministic hash split"),
        ("q87_stratified_sample", q87_stratified_sample, Q87_ORACLE, (), "stratified bounded-k sample"),
        ("q88_bigram_topk", q88_bigram_topk, Q88_ORACLE, (), "n-gram vocabulary top-k"),
        ("q89_streaming_ttl_eviction", q89_streaming_ttl_eviction, Q89_ORACLE, (), "streaming state TTL/GC"),
        ("q90_curation_funnel", q90_curation_funnel, Q90_ORACLE, (), "quality→dedup→split funnel"),
        ("q91_partition_pruned_scan", q91_partition_pruned_scan, Q91_ORACLE, (), "hive-partition pruning"),
        ("q92_sketch_merge", q92_sketch_merge, Q92_ORACLE, (), "KMV sketch mergeability"),
        ("q93_label_centroids", q93_label_centroids, Q93_ORACLE, (), "per-label embedding centroids"),
        ("q94_ohlc_resample", q94_ohlc_resample, Q94_ORACLE, (), "OHLC ordered resample"),
    ]
)
