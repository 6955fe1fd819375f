"""Corpus-curation operators (round 5): domain-mixture rebalancing,
PII-shaped regex scrubbing, repetition filtering, benchmark-contamination
screening, plus the two classic decorrelated-subquery TPC-H shapes the
relational surface still lacked (Q17 small-quantity revenue, Q18 large
orders).

These extend the training-data pipeline surface (pipeline_ops.py,
llm_ops.py) with the remaining steps a production pretraining curation
run performs between raw scrape and tokenizer: decide the sampling
weight per domain, strip sensitive spans, drop degenerate/repetitive
documents, and verify the corpus does not contain the eval benchmarks.

All queries follow the engine-wide determinism rules (_spec docstring):
float aggregates round via the +1e-9 nudge, integer sums CAST to BIGINT
in the oracle, money sums use exact DECIMAL(27,6), hash orderings have
unique tie-breaks. Regex patterns avoid constructs that differ between
Java regex (Spark) and RE2 (DuckDB) — word boundaries, alternation and
character classes only — and are passed as Column literals on the Spark
side so no SQL-string escape pass touches the backslashes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import table
from wetsa_cams_solrad_timeseries_spark.functions.hashing import (
    hash32,
    hash32_sql_duckdb,
)
from wetsa_cams_solrad_timeseries_spark.plans._spec import (
    exact_sum,
    exact_sum_sql,
    maybe_broadcast,
    round6,
    round6_sql,
)


# --------------------------------------------------------------------------
# q101 — domain-mixture rebalancing weights
# --------------------------------------------------------------------------


def q101_domain_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain sampling weights that move the corpus toward a uniform
    source mixture — the "data mixing" step every pretraining pipeline
    runs before sampling (cf. DoReMi / The Pile's per-source epochs).

    weight(s) = min(1, target_share / actual_share) with a uniform
    target: over-represented domains are downsampled, under-represented
    ones kept whole (no upsampling — duplication is dedup's enemy).

    Scale shape: one partial-aggregated count per source (map-side
    combine, shuffle carries ~n_sources rows), then a single-row global
    total joined back by broadcast. No window over the corpus, no sort;
    at 100 TB this is a scan plus two tiny exchanges.
    """
    docs = table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    # 1-row aggregate: broadcast is scale-invariant by construction.
    j = per.crossJoin(F.broadcast(tot))
    share = F.col("n_docs") / F.col("total")
    target = F.lit(1.0) / F.col("n_sources")
    weight = F.least(F.lit(1.0), target / share)
    return j.select(
        "source",
        "n_docs",
        round6(share).alias("share"),
        round6(weight).alias("weight"),
        round6(F.col("n_docs") * weight).alias("expected_docs"),
    )


Q101_ORACLE = f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM per
)
SELECT source,
       n_docs,
       {round6_sql('n_docs * 1.0 / total')} AS share,
       {round6_sql('least(1.0, (1.0 / n_sources) / (n_docs * 1.0 / total))')}
         AS weight,
       {round6_sql('n_docs * least(1.0, (1.0 / n_sources) / (n_docs * 1.0 / total))')}
         AS expected_docs
FROM per, tot
"""


# --------------------------------------------------------------------------
# q102 — PII-shaped regex scrub
# --------------------------------------------------------------------------

# Denylist stand-in for the email/phone/SSN patterns a real scrubber
# carries (the synthetic corpus has no digits, so the pattern targets two
# frequent terms instead; the pipeline shape — count, redact, measure —
# is identical). \b and alternation behave the same in Java regex and
# RE2.
_Q102_PAT = r"\b(key|value)\b"
_Q102_SUB = "[PII]"


def q102_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrubbing pipeline: per document count the sensitive-span
    matches, redact them, measure the size delta; report per-source
    totals — the audit summary a PII pass emits alongside the cleaned
    corpus.

    Scale shape: regexp_extract_all / regexp_replace are JVM
    whole-stage-codegen expressions evaluated in the scan stage
    (scan-parallel, zero Python); the only shuffle is the tiny
    per-source rollup with map-side partial aggregation. The redacted
    text itself would be written back columnar (K3); here the audit
    aggregate is the query result.
    """
    docs = table(spark, sf_dir, "documents")
    pat = F.lit(_Q102_PAT)
    n_hits = F.size(F.regexp_extract_all(F.col("text"), pat, F.lit(0)))
    red_len = F.length(F.regexp_replace(F.col("text"), _Q102_PAT, _Q102_SUB))
    per_doc = docs.select(
        "source",
        n_hits.cast("long").alias("n_hits"),
        red_len.cast("long").alias("red_len"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_hits").alias("total_hits"),
        F.sum((F.col("n_hits") > 0).cast("long")).alias("docs_with_hits"),
        round6(F.avg("n_hits")).alias("avg_hits"),
        F.sum("red_len").alias("redacted_chars"),
        F.sum("n_chars").alias("original_chars"),
    )


Q102_ORACLE = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_hits) AS BIGINT) AS total_hits,
       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_hits,
       {round6_sql('avg(n_hits)')} AS avg_hits,
       CAST(sum(red_len) AS BIGINT) AS redacted_chars,
       CAST(sum(n_chars) AS BIGINT) AS original_chars
FROM (
  SELECT source,
         len(regexp_extract_all(text, '{_Q102_PAT}')) AS n_hits,
         length(regexp_replace(text, '{_Q102_PAT}', '{_Q102_SUB}', 'g'))
           AS red_len,
         n_chars
  FROM documents
)
GROUP BY source
"""


# --------------------------------------------------------------------------
# q103 — repetition filter (Gopher-style max-token-fraction)
# --------------------------------------------------------------------------

_Q103_THRESHOLD = 0.18


def q103_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-repetition filter: per document, the fraction of tokens
    taken by the single most frequent token and the distinct-token
    ratio — the Rae et al. (Gopher) quality rules that drop
    boilerplate/spam pages; reported as a per-language summary.

    Scale shape: explode(split) fans each document into its tokens in
    the scan stage (no shuffle — generation is pipeline-local), then two
    keyed aggregations: (doc, token) counts and the per-doc rollup, both
    with map-side partial aggregation and both keyed by doc_id, so AQE
    coalesces them into one exchange lineage. Per-doc state is bounded
    by the doc's vocabulary, never the corpus's.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    cnt = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = cnt.groupBy("doc_id", "lang").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("max_frac"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("distinct_ratio"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("max_frac") > _Q103_THRESHOLD).cast("long")).alias(
            "n_repetitive"
        ),
        round6(F.avg("max_frac")).alias("avg_max_frac"),
        round6(F.avg("distinct_ratio")).alias("avg_distinct_ratio"),
    )


Q103_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
cnt AS (
  SELECT doc_id, lang, tok, count(*) AS c
  FROM toks GROUP BY doc_id, lang, tok
),
per_doc AS (
  SELECT doc_id, lang,
         CAST(max(c) AS DOUBLE) / sum(c) AS max_frac,
         CAST(count(*) AS DOUBLE) / sum(c) AS distinct_ratio
  FROM cnt GROUP BY doc_id, lang
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN max_frac > {_Q103_THRESHOLD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repetitive,
       {round6_sql('avg(max_frac)')} AS avg_max_frac,
       {round6_sql('avg(distinct_ratio)')} AS avg_distinct_ratio
FROM per_doc
GROUP BY lang
"""


# --------------------------------------------------------------------------
# q104 — benchmark-contamination screen (n-gram overlap)
# --------------------------------------------------------------------------

_Q104_EVAL_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set
_Q104_N = 4  # shingle width


def q104_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination screen: flag corpus documents sharing any
    4-token shingle with the held-out benchmark set (here: every 97th
    doc stands in for the benchmark), the decontamination step run
    before any pretraining corpus ships (cf. GPT-3 appendix C's 13-gram
    screen — width is a dial, the plan is identical).

    Scale shape: shingles are built with a per-document lead() window
    (sort bounded by document length), the benchmark side is reduced to
    DISTINCT shingles, and membership is a semi-join on the shingle
    string. Real benchmark suites are fixed-size (they do NOT grow with
    the corpus), so the eval side is broadcast-able at any corpus scale;
    here the hint is size-gated (maybe_broadcast) because the stand-in
    eval set scales with SF. The candidate side never materializes
    per-pair state — the semi-join short-circuits on first match, and
    the distinct doc set is one keyed aggregation.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")]
    for i in range(1, _Q104_N):
        parts += [F.lit(" "), F.lead("tok", i).over(w)]
    # sh feeds BOTH the eval-distinct side and the candidate side of the
    # semi-join; localCheckpoint the (tokenize + per-doc window) subtree
    # once so Catalyst does not re-derive the most expensive lineage for
    # each consumer — the multi-consumer convention q155/q176 use.
    sh = (
        toks.select("doc_id", "source", F.concat(*parts).alias("sh"))
        .filter(F.col("sh").isNotNull())
        .localCheckpoint(eager=True)
    )
    is_eval = F.col("doc_id") % _Q104_EVAL_MOD == 0
    eval_sh = sh.filter(is_eval).select("sh").distinct()
    cand = sh.filter(~is_eval)
    contaminated = (
        cand.join(maybe_broadcast(eval_sh), "sh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    base = docs.filter(~is_eval).select("doc_id", "source")
    return (
        base.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("long")).alias(
                "n_contaminated"
            ),
            round6(
                F.avg(F.coalesce(F.col("hit"), F.lit(0)).cast("double"))
            ).alias("contaminated_frac"),
        )
    )


def _q104_shingle_sql() -> str:
    parts = ["tok"]
    for i in range(1, _Q104_N):
        parts += ["' '", f"lead(tok, {i}) OVER w"]
    return " || ".join(parts)


Q104_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         generate_subscripts(arr, 1) AS pos,
         unnest(arr) AS tok
  FROM (
    SELECT doc_id, source,
           string_split_regex(trim(text), '\\s+') AS arr
    FROM documents
  )
),
sh AS (
  SELECT doc_id, source, {_q104_shingle_sql()} AS sh
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
eval_sh AS (
  SELECT DISTINCT sh FROM sh
  WHERE doc_id % {_Q104_EVAL_MOD} = 0 AND sh IS NOT NULL
),
contaminated AS (
  SELECT DISTINCT doc_id FROM sh
  WHERE doc_id % {_Q104_EVAL_MOD} <> 0 AND sh IS NOT NULL
    AND sh IN (SELECT sh FROM eval_sh)
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       {round6_sql('avg(CASE WHEN c.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END)')}
         AS contaminated_frac
FROM documents d
LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE d.doc_id % {_Q104_EVAL_MOD} <> 0
GROUP BY d.source
"""


# --------------------------------------------------------------------------
# q105 — small-quantity-order revenue (TPC-H Q17 shape)
# --------------------------------------------------------------------------

_Q105_BRANDS = ("Brand#13", "Brand#23")


def q105_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's average order quantity) moved to
    bulk. The correlated scalar subquery decorrelated as an
    aggregate-then-rejoin on l_partkey — the OTHER decorrelation form
    from q46's window (here the subquery aggregates a DIFFERENT grain
    than the probe rows, so a window cannot express it without carrying
    every row through the sort).

    Scale shape: the brand filter reaches the part scan (pushdown); the
    filtered part keys are size-gated-broadcast into lineitem
    (maybe_broadcast: part scales with SF), so the big fact is scanned
    once and reduced early. The per-part averages re-join the SAME
    filtered lineitem on the SAME key — both sides hash-partitioned on
    l_partkey, so the second exchange reuses the first's partitioning.
    Money sum in exact decimal. Per-part avg quantity is a sum of small
    integers (exact in double at any summation order) divided by a
    count, so the 0.2·avg threshold is bit-identical in both engines.

    Reference: classic decision-support shape; no reference-repo analog
    (the reference has no relational engine) — included for relational
    surface completeness.
    """
    pa = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(*_Q105_BRANDS))
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_b = li.join(
        maybe_broadcast(pa), li.l_partkey == F.col("p_partkey")
    ).drop("p_partkey")
    lim = li_b.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_lim")
    )
    small = li_b.join(lim, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_lim")
    )
    return small.agg(
        round6(exact_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


Q105_ORACLE = f"""
WITH li_b AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand IN ('{_Q105_BRANDS[0]}', '{_Q105_BRANDS[1]}')
),
lim AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_lim
  FROM li_b GROUP BY l_partkey
)
SELECT {round6_sql(exact_sum_sql('s.l_extendedprice') + ' / 7.0')}
         AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM li_b s
JOIN lim ON s.l_partkey = lim.l_partkey
WHERE s.l_quantity < lim.qty_lim
"""


# --------------------------------------------------------------------------
# q106 — large-volume orders (TPC-H Q18 shape)
# --------------------------------------------------------------------------

_Q106_MIN_QTY = 300
_Q106_TOPK = 100


def q106_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: the top-100 largest-volume orders (total line
    quantity above a threshold) with their customer — GROUP BY + HAVING
    on the fact's own key feeding a dimension join.

    Scale shape: the quantity rollup partial-aggregates map-side and
    shuffles once on l_orderkey; the HAVING filter reduces it to a tiny
    key set BEFORE any join, and that set drives orders via a size-gated
    broadcast (the surviving keys are threshold-bounded — far smaller
    than orders — but still SF-scaling, hence maybe_broadcast, not a
    hard hint). customer joins shuffle-to-shuffle on c_custkey
    (SF-scaling, never hinted). Final top-k is TakeOrderedAndProject —
    per-partition heaps, no global sort. o_orderkey breaks totalprice
    ties so the kept 100 are deterministic in both engines.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > _Q106_MIN_QTY)
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(maybe_broadcast(big), o.o_orderkey == F.col("l_orderkey"))
        .drop("l_orderkey")
        .join(cu, o.o_custkey == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(_Q106_TOPK)
    )


Q106_ORACLE = f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, b.sum_qty
FROM orders o
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > {_Q106_MIN_QTY}
) b ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT {_Q106_TOPK}
"""


# --------------------------------------------------------------------------
# q107 — corpus quality deciles via distributed exact NTILE
# --------------------------------------------------------------------------

_Q107_K = 10


def q107_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length deciles — the "what does each quality/size band
    look like" profile used to tune mixture and filter thresholds.
    NTILE over a corpus-wide ordering is the interesting part: a naked
    ``Window.orderBy`` ntile collapses the corpus into ONE task, so this
    runs :func:`operators.rank.global_ntile` — range-repartition +
    per-range row_number + per-partition offsets — which is exact,
    deterministic (doc_id tie-break), and scales as a normal sort.
    The oracle is plain ``ntile(10) OVER (ORDER BY …)``: the distributed
    decomposition reproduces SQL-standard NTILE bit-for-bit.
    """
    from wetsa_cams_solrad_timeseries_spark.operators.rank import global_ntile

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tiled = global_ntile(
        docs, ["n_chars", "doc_id"], _Q107_K, tile_col="decile"
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        round6(F.avg("n_chars")).alias("avg_chars"),
    )


Q107_ORACLE = f"""
WITH tiled AS (
  SELECT doc_id, n_chars,
         ntile({_Q107_K}) OVER (ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       {round6_sql('avg(n_chars)')} AS avg_chars
FROM tiled
GROUP BY decile
"""


# --------------------------------------------------------------------------
# q108 — fixed-width histogram with cumulative distribution
# --------------------------------------------------------------------------

_Q108_NB = 12


def q108_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of the event value distribution with running
    cumulative share — the profiling primitive behind threshold picking
    (where to cut a quality score, where the tail starts).

    Scale shape: the min/max envelope is one partial-aggregated 1-row
    pass broadcast back into the scan; bucket assignment is a pure
    arithmetic expression (whole-stage codegen, no UDF, no shuffle until
    the ~NB-row bucket rollup). The cumulative window runs over NB rows —
    bounded by the bucket count, not the data. Bucket edges use the same
    IEEE double arithmetic in both engines, so boundary assignment is
    bit-identical.
    """
    ev = table(spark, sf_dir, "events").select("value")
    env = ev.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    j = ev.crossJoin(F.broadcast(env))  # 1-row envelope
    w = (F.col("vmax") - F.col("vmin")) / F.lit(_Q108_NB)
    bucket = F.least(
        F.lit(_Q108_NB - 1),
        F.floor((F.col("value") - F.col("vmin")) / w),
    ).cast("int")
    hist = (
        j.select(
            bucket.alias("bucket"),
            F.col("vmin"),
            (F.col("vmin") + w * bucket).alias("lo_raw"),
            (F.col("vmin") + w * (bucket + 1)).alias("hi_raw"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round6(F.min("lo_raw")).alias("bucket_lo"),
            round6(F.min("hi_raw")).alias("bucket_hi"),
        )
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "bucket",
        "bucket_lo",
        "bucket_hi",
        "n_events",
        round6(F.col("n_events") / F.sum("n_events").over(total)).alias(
            "share"
        ),
        round6(
            F.sum("n_events").over(cum) / F.sum("n_events").over(total)
        ).alias("cum_share"),
    )


Q108_ORACLE = f"""
WITH env AS (
  SELECT min(value) AS vmin, max(value) AS vmax FROM events
),
b AS (
  SELECT least({_Q108_NB} - 1,
               CAST(floor((value - vmin) / ((vmax - vmin) / {_Q108_NB}))
                    AS BIGINT)) AS bucket,
         vmin, (vmax - vmin) / {_Q108_NB} AS w
  FROM events, env
),
hist AS (
  SELECT CAST(bucket AS INTEGER) AS bucket,
         CAST(count(*) AS BIGINT) AS n_events,
         {round6_sql('min(vmin + w * bucket)')} AS bucket_lo,
         {round6_sql('min(vmin + w * (bucket + 1))')} AS bucket_hi
  FROM b GROUP BY bucket
)
SELECT bucket, bucket_lo, bucket_hi, n_events,
       {round6_sql('n_events * 1.0 / sum(n_events) OVER ()')} AS share,
       {round6_sql('sum(n_events) OVER (ORDER BY bucket ROWS BETWEEN '
                   'UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / '
                   'sum(n_events) OVER ()')} AS cum_share
FROM hist
"""


# --------------------------------------------------------------------------
# q109 — stream–static enrichment join (streaming q57)
# --------------------------------------------------------------------------


def q109_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q57's dimension-chain enrichment as a REAL Structured Streaming
    plan: readStream events joined per-micro-batch against the static
    customer→nation→region chain (pre-joined batch-side into one
    custkey→region dimension), then a watermarked daily windowed
    aggregate. Stream–static joins buffer NO stream state — the third
    streaming join class in the inventory next to stream-stream (q99)
    and stateful aggregation (q53). Result equals the batch join+agg,
    which the oracle checks (streaming/enrich.py).
    """
    from wetsa_cams_solrad_timeseries_spark.streaming.enrich import (
        streaming_enriched_agg,
    )

    cu = table(spark, sf_dir, "customer")
    na = table(spark, sf_dir, "nation")
    re = table(spark, sf_dir, "region")
    dim = (
        cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .select(
            F.col("c_custkey").alias("user_key"),
            F.col("r_name").alias("region_name"),
        )
    )
    return streaming_enriched_agg(
        spark,
        f"{sf_dir}/events.parquet",
        maybe_broadcast(dim),
        stream_key="user_id",
        dim_key="user_key",
    )


Q109_ORACLE = """
SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS bucket_start,
       r.r_name AS region_name,
       e.event_type,
       count(*) AS n_events,
       round(sum(e.value) + 1e-9, 6) AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# q110 — set operations (INTERSECT / EXCEPT / UNION DISTINCT)
# --------------------------------------------------------------------------


def q110_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra: purchasers vs clickers as INTERSECT (did
    both), EXCEPT (clicked but never bought — the retargeting segment),
    and UNION DISTINCT (reached either way) — the remaining ANSI set
    operators the inventory had not declared (UNION ALL is q10).

    Scale shape: each side is reduced to DISTINCT user_ids FIRST (keyed
    partial-aggregated distinct, shuffle carries unique keys only);
    Catalyst compiles intersect/subtract to left-semi/left-anti joins on
    those deduplicated sides, hash-partitioned on the same key so the
    exchanges line up. Counts come off 1-row aggregates combined by a
    width-1 crossJoin (broadcast, scale-free). When ONLY the counts are
    wanted (as here), the two-shuffle rewrite — per-user boolean flags
    (has_buy, has_click) then one global conditional aggregate — computes
    all five numbers in a single pass; the declared plan keeps the
    actual set OPERATORS because producing the member sets is the
    general contract.
    """
    ev = table(spark, sf_dir, "events")

    def users(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select("user_id")
            .distinct()
        )

    buyers, clickers = users("purchase"), users("click")
    counts = [
        buyers.agg(F.count(F.lit(1)).alias("n_buyers")),
        clickers.agg(F.count(F.lit(1)).alias("n_clickers")),
        buyers.intersect(clickers).agg(F.count(F.lit(1)).alias("n_both")),
        clickers.subtract(buyers).agg(
            F.count(F.lit(1)).alias("n_click_only")
        ),
        buyers.union(clickers)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_either")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


Q110_ORACLE = """
WITH buyers AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
clickers AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM buyers) AS n_buyers,
  (SELECT CAST(count(*) AS BIGINT) FROM clickers) AS n_clickers,
  (SELECT CAST(count(*) AS BIGINT) FROM
     (SELECT user_id FROM buyers INTERSECT SELECT user_id FROM clickers))
    AS n_both,
  (SELECT CAST(count(*) AS BIGINT) FROM
     (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers))
    AS n_click_only,
  (SELECT CAST(count(*) AS BIGINT) FROM
     (SELECT user_id FROM buyers UNION SELECT user_id FROM clickers))
    AS n_either
"""


# --------------------------------------------------------------------------
# q111 — bounded window frames (ROWS n PRECEDING + RANGE interval)
# --------------------------------------------------------------------------


def q111_rolling_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling statistics with the two bounded frame classes the
    window inventory lacked: a ROWS frame (last-5-events moving average)
    and a RANGE frame (all events within the trailing 10 minutes by
    event time — frame membership by VALUE distance, so timestamp peers
    are always included together regardless of tie order).

    Scale shape: one shuffle on user_id serves both frames (two sort
    orders within the same partitioning — Catalyst plans one Exchange,
    two local Sorts); frames are evaluated with sliding accumulators
    over each sorted run, never re-scanning the partition per row.
    RANGE ordering uses epoch seconds (Spark's rangeBetween requires a
    numeric ordering key; floor-of-seconds in both engines).
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("ts").cast("long").alias("ts_s"),
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        round6(F.avg("value").over(w_rows)).alias("avg_last5"),
        round6(F.sum("value").over(w_range)).alias("sum_10m"),
        F.count(F.lit(1)).over(w_range).alias("n_10m"),
    )


Q111_ORACLE = """
SELECT event_id, user_id,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 1e-9, 6)
         AS avg_last5,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) + 1e-9, 6)
         AS sum_10m,
       count(*) OVER (
         PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS n_10m
FROM events
"""


# --------------------------------------------------------------------------
# q112 — explicit GROUPING SETS + grouping_id
# --------------------------------------------------------------------------


def q112_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order totals at three explicit granularities — (status, priority),
    (status), and grand total — via GROUPING SETS, completing the
    multi-granularity family next to ROLLUP (q16) and CUBE (q44).
    grouping_id disambiguates NULL-as-ALL from a genuine NULL key (both
    engines use the leftmost-column-is-MSB bitmask convention).

    Scale shape: Spark expands grouping sets with one Expand node (each
    row replicated once per set) feeding a single hash aggregate with
    map-side partial aggregation — one shuffle regardless of how many
    sets, and replication factor = n_sets, not n_columns².
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_price"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders",
                "total_price", "gid")
    )


Q112_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {exact_sum_sql('o_totalprice')} AS total_price,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
"""


# --------------------------------------------------------------------------
# q113 — cohort retention
# --------------------------------------------------------------------------


def q113_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-active week, then
    the share of each cohort active N weeks later — the standard
    product-analytics matrix, and a distinct composition (two
    self-derived aggregates re-joined on the cohort key) from funnel
    (q68) and sessionization (q15).

    Scale shape: (user, week) activity is a keyed distinct with map-side
    partial aggregation; the cohort assignment is a min-aggregate on
    user_id and re-joins the activity set on user_id — both sides
    hash-partitioned on the same key, so the join reuses the exchange.
    Cohort sizes are a ~weeks-sized frame joined by size-gated
    broadcast. No window over the corpus anywhere.
    """
    ev = table(spark, sf_dir, "events")
    activity = (
        ev.select(
            "user_id", F.date_trunc("week", F.col("ts")).alias("week")
        )
        .distinct()
    )
    cohort = activity.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    joined = activity.join(cohort, "user_id")
    weeks_since = (
        (F.col("week").cast("long") - F.col("cohort_week").cast("long"))
        / F.lit(604800)
    ).cast("long")
    ret = joined.groupBy(
        "cohort_week", weeks_since.alias("weeks_since")
    ).agg(F.countDistinct("user_id").alias("n_active"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    return (
        ret.join(maybe_broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            "n_active",
            "cohort_size",
            round6(F.col("n_active") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
    )


Q113_ORACLE = f"""
WITH activity AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id
),
ret AS (
  SELECT c.cohort_week,
         CAST((epoch(a.week) - epoch(c.cohort_week)) / 604800 AS BIGINT)
           AS weeks_since,
         CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
  FROM activity a JOIN cohort c ON a.user_id = c.user_id
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT)
           AS cohort_size
  FROM cohort GROUP BY cohort_week
)
SELECT r.cohort_week, r.weeks_since, r.n_active, s.cohort_size,
       {round6_sql('r.n_active * 1.0 / s.cohort_size')} AS retention
FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
"""


# --------------------------------------------------------------------------
# q114 — output-shard planning via distributed prefix sum
# --------------------------------------------------------------------------

_Q114_TARGET = 8192  # bytes per shard


def q114_shard_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer planning: cut the corpus into ~8 KB output shards in
    doc_id order by exact running byte total — the "which file does each
    record land in" decision every sharded-dataset writer makes
    (WebDataset tars, TFRecord shards, parquet row-group planning).
    shard = floor(bytes_before_this_doc / target).

    The running total comes from
    :func:`operators.rank.global_prefix_sum` — range repartition +
    per-range local cumsum + per-partition offsets — never a one-task
    window; integer byte counts make the result exactly
    partitioning-invariant. The oracle is the plain single-window SQL
    cumsum, which the decomposition must reproduce exactly.
    """
    from wetsa_cams_solrad_timeseries_spark.operators.rank import (
        global_prefix_sum,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cum = global_prefix_sum(docs, ["doc_id"], "n_chars", out_col="cum_bytes")
    shard = (
        (F.col("cum_bytes") - F.col("n_chars")) / F.lit(_Q114_TARGET)
    ).cast("long")
    return (
        cum.select("doc_id", "n_chars", shard.alias("shard_id"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


Q114_ORACLE = f"""
WITH cum AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
  FROM documents
)
SELECT CAST(floor((cum_bytes - n_chars) * 1.0 / {_Q114_TARGET}) AS BIGINT)
         AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM cum
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q115 — streaming MERGE via foreachBatch
# --------------------------------------------------------------------------


def q115_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep a keyed table current from a stream: foreachBatch applies the
    q100-style full-outer latest-wins MERGE per micro-batch and swaps the
    target generation atomically (streaming/upsert_stream.py). The merge
    is associative, so ANY micro-batch slicing converges to the batch
    answer — which this oracle checks across a forced 3-batch replay
    (maxFilesPerTrigger=1; the kernel asserts >1 batch ran)."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _split_events
    from wetsa_cams_solrad_timeseries_spark.streaming.upsert_stream import (
        streaming_foreachbatch_upsert,
    )

    split_dir = _split_events(spark, sf_dir)
    return streaming_foreachbatch_upsert(spark, split_dir)


Q115_ORACLE = """
WITH ranked AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT user_id, ts AS last_ts, event_id AS last_event,
       value AS last_val, CAST(n AS BIGINT) AS n_events
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# q116 — Arrow-vectorized pandas_udf scoring (the sanctioned UDF path)
# --------------------------------------------------------------------------

# Deterministic 64-dim weight vector (no RNG — reproducible literals).
_Q116_W = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
_Q116_TOPK = 20


def q116_pandas_udf_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scoring escape hatch: when a formula outgrows expression
    trees (a real model would call into numpy/torch), the engine's rule
    is an Arrow-batched ``@pandas_udf`` — NEVER a row-at-a-time Python
    UDF. Here a linear relevance head (w·x through a sigmoid) scores
    every embedding; the UDF body is one BLAS matmul per Arrow batch,
    and the sigmoid + top-k stay JVM-side so only the dot product pays
    the Python boundary. Top-k via TakeOrderedAndProject.

    The oracle recomputes the identical formula with DuckDB's
    list_dot_product, so this also pins the Arrow float32→float64
    widening behavior cross-engine.
    """
    from wetsa_cams_solrad_timeseries_spark.functions.vectorized import (
        dot_literal,
        sigmoid,
    )

    dot_w = dot_literal(_Q116_W)
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id", sigmoid(dot_w(F.col("embedding"))).alias("raw")
    )
    return (
        scored.select("vec_id", round6(F.col("raw")).alias("score"))
        .orderBy(F.desc("raw"), F.asc("vec_id"))
        .limit(_Q116_TOPK)
    )


def _q116_w_sql() -> str:
    return "[" + ", ".join(repr(w) for w in _Q116_W) + "]"


Q116_ORACLE = f"""
SELECT vec_id,
       {round6_sql('1.0 / (1.0 + exp(-list_dot_product('
                   'CAST(embedding AS DOUBLE[]), ' + _q116_w_sql() + ')))')}
         AS score
FROM embeddings
ORDER BY 1.0 / (1.0 + exp(-list_dot_product(
         CAST(embedding AS DOUBLE[]), {_q116_w_sql()}))) DESC, vec_id ASC
LIMIT {_Q116_TOPK}
"""


# --------------------------------------------------------------------------
# q117 — JSON-lines source scan with declared schema
# --------------------------------------------------------------------------


def q117_json_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingestion: the events table re-materialized once per
    process as newline-delimited JSON (the wire format logs actually
    arrive in), then scanned back with a DECLARED schema — no sampling
    inference pass, the production rule for JSON at scale (schema
    inference reads the data twice and locks in whatever the sample
    happened to contain). The aggregate proves the scan round-trips
    values exactly (Jackson writes shortest-round-trip doubles; the
    oracle reads the original parquet).

    Scale shape: JSON parsing is JVM-side (Jackson) and scan-parallel;
    with a declared schema Spark prunes to the referenced fields during
    parsing. Still ~10× the CPU of parquet — the archived-columnar copy
    (K3) is where repeated analytics should run; this query is the
    landing-zone reader.
    """
    from wetsa_cams_solrad_timeseries_spark._artifacts import tmp_generation

    ev = table(spark, sf_dir, "events")
    # Default JSON timestampFormat truncates to milliseconds; declare
    # microsecond precision on BOTH sides so event times round-trip.
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    json_dir = tmp_generation(
        sf_dir,
        "events_json",
        lambda path: ev.write.mode("overwrite")
        .option("timestampFormat", ts_fmt)
        .json(path),
    )
    parsed = (
        spark.read.schema(ev.schema)
        .option("timestampFormat", ts_fmt)
        .json(json_dir)
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        round6(F.sum("value")).alias("sum_value"),
        F.max("ts").alias("max_ts"),
    )


Q117_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {round6_sql('sum(value)')} AS sum_value,
       max(ts) AS max_ts
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q118 — last-observation-carried-forward imputation
# --------------------------------------------------------------------------


def q118_locf_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap handling by LAST-OBSERVATION-CARRIED-FORWARD — the imputation
    family's other member next to q96's linear interpolation (which
    needs BOTH brackets; LOCF is the causal/streaming-safe variant that
    never looks ahead). Sensor readings during 'error' events are
    treated as missing and filled with the user's most recent good
    value via ``last(..., ignorenulls=True)`` over an unbounded-
    preceding frame.

    Scale shape: one shuffle on user_id, per-user sort, a single
    running-last accumulator per row — the same cost envelope as any
    cumulative window. Output aggregates per event_type so the driver
    row stays small while every per-row fill participates.
    """
    ev = table(spark, sf_dir, "events")
    good = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.select(
        "event_type",
        good.alias("good_value"),
        F.last(good, ignorenulls=True).over(w).alias("filled_value"),
    )
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("good_value").isNull().cast("long")).alias("n_missing"),
        F.sum(F.col("filled_value").isNull().cast("long")).alias(
            "n_unfillable"
        ),
        round6(F.avg("filled_value")).alias("avg_filled"),
    )


Q118_ORACLE = f"""
WITH filled AS (
  SELECT event_type,
         CASE WHEN event_type <> 'error' THEN value END AS good_value,
         last_value(CASE WHEN event_type <> 'error' THEN value END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS filled_value
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN good_value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing,
       CAST(sum(CASE WHEN filled_value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unfillable,
       {round6_sql('avg(filled_value)')} AS avg_filled
FROM filled
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q119 — ranking function family (rank / percent_rank / cume_dist)
# --------------------------------------------------------------------------


def q119_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation league table by order revenue with the tie-aware ranking
    family: rank (gaps on ties), percent_rank ((rank-1)/(n-1)) and
    cume_dist (peers-inclusive fraction) — the SQL-standard trio the
    window inventory had not yet declared (dense_rank lives in q43,
    NTILE in q107). All three share ONE window sort.

    Scale shape: ranking runs over the nation-level AGGREGATE (25 rows),
    not the fact table — the fact shuffle is the revenue rollup with
    map-side combine; the single-partition window sorts only the
    dimension-sized result, the same bounded pattern as q108's CDF.
    """
    o = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    na = table(spark, sf_dir, "nation")
    rev = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(exact_sum("o_totalprice").alias("revenue"))
    )
    w = Window.orderBy(F.desc("revenue"))
    return rev.select(
        "nation",
        "revenue",
        F.rank().over(w).cast("long").alias("rnk"),
        round6(F.percent_rank().over(w)).alias("pct_rank"),
        round6(F.cume_dist().over(w)).alias("cume"),
    )


Q119_ORACLE = f"""
WITH rev AS (
  SELECT n.n_name AS nation,
         {exact_sum_sql('o.o_totalprice')} AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT nation, revenue,
       rank() OVER (ORDER BY revenue DESC) AS rnk,
       {round6_sql('percent_rank() OVER (ORDER BY revenue DESC)')}
         AS pct_rank,
       {round6_sql('cume_dist() OVER (ORDER BY revenue DESC)')} AS cume
FROM rev
"""


# --------------------------------------------------------------------------
# q121 — probability-proportional-to-size (PPS) systematic sample
# --------------------------------------------------------------------------

_Q121_TARGET = 200  # target sample size


def q121_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling, probability proportional to document SIZE —
    systematic PPS: walk the corpus in doc_id order accumulating byte
    weights and take one document at every ``total/target`` bytes (a doc
    is selected iff a step boundary falls inside its weight interval;
    big docs can span several boundaries but are emitted once). The
    token-budget-fair way to subsample a corpus: selection probability ∝
    n_chars, deterministic, no RNG, no transcendental math — unlike
    Efraimidis-Spirakis keys (u^(1/w)), whose log/pow make cross-engine
    bit-parity a libm lottery.

    Scale shape: the running weight total is the distributed prefix sum
    (operators/rank.py — range repartition + offsets, no one-task
    window); boundary selection is scan-stage arithmetic; the per-source
    audit rollup is the only further shuffle.
    """
    from wetsa_cams_solrad_timeseries_spark.operators.rank import (
        global_prefix_sum,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    cum = global_prefix_sum(docs, ["doc_id"], "n_chars", out_col="cum_w")
    tot = cum.agg(F.max("cum_w").alias("total"))
    j = cum.crossJoin(F.broadcast(tot))  # 1-row total
    step = F.col("total") / F.lit(_Q121_TARGET)
    picked = F.floor(F.col("cum_w") / step) > F.floor(
        (F.col("cum_w") - F.col("n_chars")) / step
    )
    return (
        j.filter(picked)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_bytes"),
            F.min("doc_id").alias("first_doc"),
        )
    )


Q121_ORACLE = f"""
WITH cum AS (
  SELECT doc_id, source, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
  FROM documents
),
tot AS (SELECT max(cum_w) AS total FROM cum)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sampled_bytes,
       min(doc_id) AS first_doc
FROM cum, tot
WHERE floor(cum_w / (total / {_Q121_TARGET}.0))
      > floor((cum_w - n_chars) / (total / {_Q121_TARGET}.0))
GROUP BY source
"""


# --------------------------------------------------------------------------
# q120 — Z-order (Morton) clustering key
# --------------------------------------------------------------------------

_Q120_BITS = 8


def _zvalue(a, b):
    """Interleave the low 8 bits of two int columns into a 16-bit Morton
    key — pure shift/mask arithmetic (whole-stage codegen; identical
    integer semantics in DuckDB)."""
    z = F.lit(0)
    for i in range(_Q120_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def q120_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering key: the Morton/Z-order interleave of
    (user bucket, value bucket) — the layout technique behind Delta/
    Iceberg ``ZORDER BY``: sort-write by z and BOTH dimensions become
    range-prunable from the same file order, because a contiguous z
    range bounds a small rectangle in (a, b) space. The query computes
    the key and the per-z-bucket min/max envelopes of both dimensions —
    exactly the footer stats a reader would prune against; narrow
    envelopes per bucket ARE the locality property (the oracle checks
    the full manifest bit-for-bit, integer arithmetic end to end).

    Scale shape: the z key is scan-stage integer arithmetic; the
    manifest rollup is one shuffle on the 256-bucket key. The write path
    (not part of the declared result) is ``repartitionByRange(z).
    sortWithinPartitions(z)`` — a normal distributed sort, no new
    machinery.
    """
    ev = table(spark, sf_dir, "events")
    a = (F.col("user_id") % 256).cast("int")
    b = F.least(
        F.lit(255), F.greatest(F.lit(0), F.floor(F.col("value") * 2.55))
    ).cast("int")
    z = _zvalue(a, b)
    rows = ev.select(a.alias("a"), b.alias("b"), z.alias("z"))
    return (
        rows.groupBy(F.shiftright(F.col("z"), 8).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"),
        )
    )


def _zvalue_sql(a: str, b: str) -> str:
    terms = []
    for i in range(_Q120_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


Q120_ORACLE = f"""
WITH rows_ AS (
  SELECT CAST(user_id % 256 AS INTEGER) AS a,
         CAST(least(255, greatest(0, floor(value * 2.55))) AS INTEGER) AS b
  FROM events
),
keyed AS (
  SELECT a, b, {_zvalue_sql('a', 'b')} AS z FROM rows_
)
SELECT CAST(z >> 8 AS INTEGER) AS zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(a) AS min_a, max(a) AS max_a,
       min(b) AS min_b, max(b) AS max_b,
       CAST(min(z) AS INTEGER) AS min_z, CAST(max(z) AS INTEGER) AS max_z
FROM keyed
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q122 — incremental aggregate (materialized-view) maintenance
# --------------------------------------------------------------------------


def q122_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-(event_type, day)
    aggregate table is kept current by MERGING a late delta batch into
    the previously materialized base — never recomputing over history.
    Works because the maintained statistics are ALGEBRAIC (count and sum
    combine additively; avg re-derives from them at read time) — the
    same decomposition streaming partial aggregation uses, here applied
    to batch view maintenance.

    The base/delta split reuses the multi-file replay layout (all files
    but the last = history, the last file = the late batch). Merge = full-outer coalesce +
    add. The oracle aggregates the WHOLE table in one pass: additive
    maintenance must land on exactly the answer a full recompute gives,
    regardless of which rows fell in the delta — that invariance IS the
    correctness property of incremental view maintenance.

    Scale shape: the delta is delta-sized in every step (scan, partial
    agg, merge join on the view key); the base view is only re-written
    where keys changed (here: full-outer join sized by view keys, not
    by history rows). At 100 TB this is the difference between touching
    yesterday's partition and replaying three years.
    """
    import glob as _glob

    from wetsa_cams_solrad_timeseries_spark.plans.vector import _split_events

    split_dir = _split_events(spark, sf_dir)
    files = sorted(_glob.glob(os.path.join(split_dir, "part-*.parquet")))
    assert len(files) >= 2, files
    ts_col = F.col("ts")

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("day", F.date_trunc("day", ts_col))
            .groupBy("event_type", "day")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
        )

    from wetsa_cams_solrad_timeseries_spark.catalog import normalize_ts

    base = rollup(normalize_ts(spark.read.parquet(*files[:-1])))
    delta = rollup(normalize_ts(spark.read.parquet(files[-1])))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, ["event_type", "day"], "full_outer").select(
        "event_type",
        "day",
        (
            F.coalesce(F.col("b.n_events"), F.lit(0))
            + F.coalesce(F.col("d.n_events"), F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("b.sum_value"), F.lit(0.0))
            + F.coalesce(F.col("d.sum_value"), F.lit(0.0))
        ).alias("sum_value"),
    )
    return merged.select(
        "event_type",
        "day",
        "n_events",
        round6(F.col("sum_value")).alias("sum_value"),
        round6(F.col("sum_value") / F.col("n_events")).alias("avg_value"),
    )


Q122_ORACLE = f"""
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       {round6_sql('sum(value)')} AS sum_value,
       {round6_sql('sum(value) / count(*)')} AS avg_value
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q123 — blocked fuzzy matching (edit-distance entity resolution)
# --------------------------------------------------------------------------

_Q123_TITLE_LEN = 24
_Q123_BLOCK_LEN = 8
_Q123_MAX_DIST = 6


def q123_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance: near-identical document titles
    (first 24 chars) within Levenshtein ≤ 6 — the classic fuzzy-dedup
    pass for titles/names that exact and shingle dedup both miss
    (single-character typos shift every shingle).

    Scale shape: the quadratic is tamed by BLOCKING, the same discipline
    as every dedup operator here — candidates are pairs sharing an
    8-char title prefix, so pair volume is Σ block² with data-bounded
    blocks, never corpus². One shuffle on the block key; levenshtein is
    a JVM expression on the candidate pairs. Production tightens recall
    with multi-pass blocking (prefix, suffix, sorted-token key) unioned;
    the plan per pass is identical.
    """
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.substring("text", 1, _Q123_TITLE_LEN).alias("title"),
        F.substring("text", 1, _Q123_BLOCK_LEN).alias("blk"),
    )
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein("a.title", "b.title").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= _Q123_MAX_DIST)
    )


Q123_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         substr(text, 1, {_Q123_TITLE_LEN}) AS title,
         substr(text, 1, {_Q123_BLOCK_LEN}) AS blk
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
FROM t a
JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= {_Q123_MAX_DIST}
"""


# --------------------------------------------------------------------------
# q124 — schema-evolution union (unionByName allowMissingColumns)
# --------------------------------------------------------------------------


def q124_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-batch append: an old-schema extract (no event_type
    column) unioned with a new-schema extract (event_type added, value
    dropped) via ``unionByName(allowMissingColumns=True)`` — columns
    align BY NAME and absent ones null-fill, the ingestion reality when
    a feed's schema evolves mid-corpus. The audit aggregate counts the
    per-column null exposure the evolution introduced. DuckDB's
    ``UNION ALL BY NAME`` has identical semantics, which the oracle
    exercises literally.

    Scale shape: a by-name union is a zero-shuffle plan concatenation
    (each side keeps its partitions; missing columns become null
    literals in the projection); only the audit rollup exchanges.
    """
    ev = table(spark, sf_dir, "events")
    old_batch = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    new_batch = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type"
    )
    combined = old_batch.unionByName(new_batch, allowMissingColumns=True)
    return combined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_value"),
        F.sum(F.col("event_type").isNull().cast("long")).alias(
            "null_event_type"
        ),
        round6(F.sum("value")).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


Q124_ORACLE = f"""
WITH combined AS (
  SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 0
  UNION ALL BY NAME
  SELECT event_id, user_id, event_type FROM events WHERE event_id % 2 = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_value,
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_event_type,
       {round6_sql('sum(value)')} AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM combined
"""



# --------------------------------------------------------------------------
# q198 — maximal cross-document repeated token spans (ExactSubstr dedup)
# --------------------------------------------------------------------------

_Q198_W = 4  # gram width in tokens (GPT-3 used 13; a dial, not structure)
_Q198_MIN_DOCS = 2


def q198_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document repeated token spans — the cut-and-remove
    form of exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": remove the repeated
    SPAN, keep the document), at token-n-gram granularity instead of a
    suffix array. q104 answers "is this document contaminated?"; q198
    answers "WHICH token range is boilerplate?" — per document, every
    maximal run of consecutive 4-grams that also appear in ≥1 OTHER
    document, as (start_pos, end_pos, span_tokens) 1-based token
    coordinates a downstream pass can splice out.

    Composition: per-doc lead() window builds the grams (q104's
    pattern); one grouped aggregate finds grams spanning ≥2 distinct
    docs; a semi-join keeps the repeated positions; and a
    gaps-and-islands window (pos − row_number, the q129 streak idiom)
    merges adjacent gram hits into maximal spans. Intra-document-only
    repeats are deliberately out of scope (count DISTINCT docs).

    Scale shape: the gram aggregate is the only corpus-sized shuffle —
    at 100 TB hash each gram to an 8-byte key (xxhash64) before the
    shuffle and semi-join on the hash, so shuffle volume is fixed-width
    per token, never gram-string-sized (the q33 banding discipline;
    strings kept here for oracle readability at gate SFs). Everything
    else is per-document windows bounded by document length and one
    grouped min/max — no global stage, no collect."""
    from wetsa_cams_solrad_timeseries_spark.operators.text import (
        repeated_spans,
    )

    return repeated_spans(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        w=_Q198_W, min_docs=_Q198_MIN_DOCS,
    )


def _q198_gram_sql() -> str:
    parts = ["tok"]
    for i in range(1, _Q198_W):
        parts += ["' '", f"lead(tok, {i}) OVER w"]
    return " || ".join(parts)


Q198_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(arr, 1) AS pos,
         unnest(arr) AS tok
  FROM (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
    FROM documents
  )
),
g AS (
  SELECT doc_id, pos, {_q198_gram_sql()} AS gram
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g2 AS MATERIALIZED (
  -- referenced by BOTH rep and hits (the q192 materialization lesson)
  SELECT doc_id, pos, gram FROM g WHERE gram IS NOT NULL
),
rep AS (
  SELECT gram FROM g2 GROUP BY gram
  HAVING count(DISTINCT doc_id) >= {_Q198_MIN_DOCS}
),
hits AS (
  SELECT doc_id, pos FROM g2 WHERE gram IN (SELECT gram FROM rep)
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM hits
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS start_pos,
       CAST(max(pos) + {_Q198_W - 1} AS BIGINT) AS end_pos,
       CAST(max(pos) + {_Q198_W - 1} - min(pos) + 1 AS BIGINT)
         AS span_tokens
FROM isl GROUP BY doc_id, isl
"""


# --------------------------------------------------------------------------
# q199 — temperature mixture resampling: epochs + deterministic multiplicity
# --------------------------------------------------------------------------

_Q199_ALPHA = 0.5  # temperature exponent: target share ∝ tokens^α
_Q199_CAP = 4.0  # max effective epochs per domain


def q199_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixture resampling — the step between
    q101's "what weight should each domain get?" and the tokenizer:
    flatten the natural token distribution with target share ∝ tokens^α
    (the multilingual sampling rule of XLM-R/mT5, α=0.5), convert each
    domain's target-vs-natural share ratio into EFFECTIVE EPOCHS capped
    at 4 (the data-constrained-scaling guidance that up to ~4 repeats
    behave like fresh data — Muennighoff et al. 2023), then assign every
    document a DETERMINISTIC multiplicity: floor(epochs) copies plus one
    more iff its portable-hash uniform draw falls under the fractional
    part. Output per domain: corpus stats, shares, epochs, and the
    sampled-plan totals (docs and tokens after multiplicity).

    The hash-Bernoulli residual (hash32(doc_id)/2^32 < frac) is what
    makes the sampled corpus a reproducible PLAN rather than an RNG
    draw: every engine, run, and executor picks the same copies, so the
    materialization step — explode(sequence(1, mult)), scan-stage, no
    shuffle — can run independently per partition at 100 TB and still
    compose into exactly this accounting.

    Scale shape: two grouped aggregates (per-doc token count → domain
    stats), one 1-row totals broadcast, one small-dim broadcast join
    back to docs, one final grouped sum. No window, no collect; the
    epochs ratio is computed on raw doubles and round6'd ONCE, and the
    rounded value drives the multiplicity compare on both engines."""
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    dom = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    wt = F.pow(F.col("n_tokens").cast("double"), F.lit(_Q199_ALPHA))
    tot = dom.agg(
        F.sum("n_tokens").cast("double").alias("__tot"),
        F.sum(wt).alias("__wsum"),
    )
    nat = F.col("n_tokens") / F.col("__tot")
    tgt = wt / F.col("__wsum")
    sh = dom.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        round6(nat).alias("natural_share"),
        round6(tgt).alias("target_share"),
        round6(F.least(tgt / nat, F.lit(_Q199_CAP))).alias("epochs"),
    )
    u = hash32(F.col("doc_id").cast("string")) / F.lit(4294967296.0)
    mult = F.floor(F.col("epochs")).cast("long") + F.when(
        u < F.col("epochs") - F.floor(F.col("epochs")), F.lit(1)
    ).otherwise(F.lit(0))
    magg = (
        per_doc.join(maybe_broadcast(sh.select("source", "epochs")), "source")
        .select("source", "n_tok", mult.alias("mult"))
        .groupBy("source")
        .agg(
            F.sum("mult").cast("long").alias("n_sampled_docs"),
            F.sum(F.col("mult") * F.col("n_tok")).cast("long").alias(
                "n_sampled_tokens"
            ),
        )
    )
    return sh.join(magg, "source")


Q199_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok
  FROM documents
),
dom AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM per_doc GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
         sum(power(CAST(n_tokens AS DOUBLE), {_Q199_ALPHA})) AS wsum
  FROM dom
),
sh AS MATERIALIZED (
  SELECT source, n_docs, n_tokens,
         round(n_tokens / tot + 1e-9, 6) AS natural_share,
         round(power(CAST(n_tokens AS DOUBLE), {_Q199_ALPHA}) / wsum
               + 1e-9, 6) AS target_share,
         round(least((power(CAST(n_tokens AS DOUBLE), {_Q199_ALPHA}) / wsum)
                     / (n_tokens / tot), {_Q199_CAP}) + 1e-9, 6) AS epochs
  FROM dom CROSS JOIN tot
),
m AS (
  SELECT p.source, p.n_tok,
         CAST(floor(s.epochs) AS BIGINT)
         + CASE WHEN {hash32_sql_duckdb("CAST(p.doc_id AS VARCHAR)")}
                     / 4294967296.0 < s.epochs - floor(s.epochs)
                THEN 1 ELSE 0 END AS mult
  FROM per_doc p JOIN sh s USING (source)
),
magg AS (
  SELECT source,
         CAST(sum(mult) AS BIGINT) AS n_sampled_docs,
         CAST(sum(mult * n_tok) AS BIGINT) AS n_sampled_tokens
  FROM m GROUP BY source
)
SELECT s.source, s.n_docs, s.n_tokens, s.natural_share, s.target_share,
       s.epochs, magg.n_sampled_docs, magg.n_sampled_tokens
FROM sh s JOIN magg USING (source)
"""


# --------------------------------------------------------------------------
# q202 — bigram-LM perplexity scoring (CCNet-style quality filter)
# --------------------------------------------------------------------------


def q202_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filtering — the CCNet recipe (Wenzek et
    al. 2020: score every document with an LM trained on a trusted
    corpus, gate on perplexity) with the KenLM stand-in this engine can
    train DISTRIBUTED: an add-1-smoothed bigram model. The history
    shard (doc_id % 10 != 7) supplies unigram counts, bigram counts and
    vocabulary size; each NEW-shard document is scored with the average
    per-pair log-probability ln((C(w1,w2)+1)/(C(w1)+V)) and its
    pseudo-perplexity exp(−avg). Unseen words/pairs fall through the
    smoothing via left joins + coalesce(0).

    The same two-count-table scaffold is the DSIR importance-resampling
    backbone (Xie et al. 2023): score each doc under a TARGET-domain
    model and a SOURCE model, and the weight is the likelihood ratio —
    one more copy of these joins.

    Determinism: per-pair logp round6 before the sum (the engine-wide
    float-lockstep convention), doc aggregate round6 again; ln on both
    engines (q64's parity).

    Scale shape: training is two grouped counts over the history scan;
    scoring is delta-sized — the new shard's pairs LEFT-join the count
    tables on (w1,w2) and w1 (corpus-linear shuffles, partial-agg
    combinable), plus one 1-row vocab broadcast. The count tables are
    the persistable artifact: bucket them on their join keys (q201's
    layout) and steady-state scoring shuffles only the day's shard."""
    docs = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7
    raw = F.split(F.lower("text"), "[^a-z0-9]+")
    ws = F.filter(raw, lambda x: x != "")
    # toks feeds uni AND vocab AND (via pairs) bi AND scored — four
    # consumers with different filters, which ReuseExchange cannot merge;
    # checkpoint the tokenize once (the q104/q198 shared-subtree
    # convention), and the pair build once for its two consumers.
    toks = docs.select("doc_id", ws.alias("ws")).localCheckpoint(eager=True)
    n = F.size("ws")
    pairs_col = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice("ws", F.lit(1), n - 1).alias("w1"),
            F.slice("ws", F.lit(2), n - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        toks.select("doc_id", F.explode(pairs_col).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .localCheckpoint(eager=True)
    )

    hist_toks = toks.filter(~is_new)
    uni = (
        hist_toks.select(F.explode("ws").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    bi = (
        pairs.filter(~is_new)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("__v"))

    logp = round6(
        F.log(
            (F.coalesce("cb", F.lit(0)).cast("double") + F.lit(1.0))
            / (F.coalesce("cu", F.lit(0)).cast("double") + F.col("__v"))
        )
    )
    scored = (
        pairs.filter(is_new)
        .join(bi, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", logp.alias("lp"))
    )
    avg_lp = F.round(F.sum("lp") / F.count(F.lit(1)) + F.lit(1e-9), 6)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        avg_lp.alias("avg_logp"),
    ).select(
        "doc_id",
        "n_pairs",
        "avg_logp",
        round6(F.exp(-F.col("avg_logp"))).alias("pseudo_ppl"),
    )


Q202_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents
),
pairs AS (
  -- parallel unnest of two aligned slices (range() cannot lateral-join)
  SELECT doc_id,
         unnest(ws[1:len(ws) - 1]) AS w1,
         unnest(ws[2:len(ws)]) AS w2
  FROM toks
  WHERE len(ws) >= 2
),
uni AS (
  SELECT w1, count(*) AS cu FROM (
    SELECT unnest(ws) AS w1 FROM toks WHERE doc_id % 10 <> 7
  ) GROUP BY w1
),
bi AS (
  SELECT w1, w2, count(*) AS cb FROM pairs
  WHERE doc_id % 10 <> 7 GROUP BY w1, w2
),
vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
scored AS (
  SELECT p.doc_id,
         round(ln((CAST(coalesce(bi.cb, 0) AS DOUBLE) + 1.0)
                  / (CAST(coalesce(uni.cu, 0) AS DOUBLE) + vocab.v))
               + 1e-9, 6) AS lp
  FROM pairs p
  LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
  LEFT JOIN uni ON uni.w1 = p.w1
  CROSS JOIN vocab
  WHERE p.doc_id % 10 = 7
),
agg AS (
  SELECT doc_id, count(*) AS n_pairs,
         round(sum(lp) / count(*) + 1e-9, 6) AS avg_logp
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_pairs, avg_logp,
       round(exp(-avg_logp) + 1e-9, 6) AS pseudo_ppl
FROM agg
"""


# --------------------------------------------------------------------------
# q206 — vocabulary KL drift (pre-append distribution-shift monitor)
# --------------------------------------------------------------------------

_Q206_TOPK = 20


def q206_vocab_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary distribution drift between today's shard and the
    history corpus — the pre-append monitor an ingestion pipeline runs
    before q193/q197/q201 commit the shard to their indexes: smoothed
    token distributions p (new shard) and q (history) over the UNION
    vocabulary (add-1 smoothing, so both are proper distributions on
    the same support and unseen-on-one-side tokens contribute finitely),
    and the top-20 tokens by KL contribution p·ln(p/q) — the per-token
    ATTRIBUTION of the drift, which is what an operator actually reads
    (q131 answers "how much vocabulary is shared"; this answers "which
    tokens changed frequency enough to matter").

    Determinism: p and q round6 BEFORE the ln (identical inputs ⇒
    identical ln up to ULP, absorbed by the outer round6 + nudge);
    top-k ordering has the token tiebreak.

    Scale shape: ONE grouped aggregate over the token scan computes
    both shards' counts (conditional sums — no second scan, no join of
    two count tables), one 1-row totals broadcast, TakeOrdered top-k.
    Shuffle keys are tokens; hash them to 8 bytes at 100 TB (q33's
    discipline)."""
    docs = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token"),
    ).where(F.col("token") != "")
    counts = tok.groupBy("token").agg(
        F.sum(F.when(is_new, 1).otherwise(0)).cast("long").alias("c_new"),
        F.sum(F.when(~is_new, 1).otherwise(0)).cast("long").alias("c_hist"),
    )
    tot = counts.agg(
        F.sum("c_new").cast("double").alias("__nn"),
        F.sum("c_hist").cast("double").alias("__nh"),
        F.count(F.lit(1)).cast("double").alias("__v"),
    )
    p = round6((F.col("c_new") + 1) / (F.col("__nn") + F.col("__v")))
    q_ = round6((F.col("c_hist") + 1) / (F.col("__nh") + F.col("__v")))
    sc = counts.crossJoin(F.broadcast(tot)).select(
        "token", "c_new", "c_hist", p.alias("p"), q_.alias("q")
    )
    kl = round6(F.col("p") * F.log(F.col("p") / F.col("q")))
    return (
        sc.select("token", "c_new", "c_hist", "p", "q", kl.alias("kl_term"))
        .orderBy(F.desc("kl_term"), "token")
        .limit(_Q206_TOPK)
    )


Q206_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
  FROM documents
),
counts AS (
  SELECT token,
         CAST(sum(CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT)
           AS c_new,
         CAST(sum(CASE WHEN doc_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT)
           AS c_hist
  FROM tok WHERE token <> '' GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c_new) AS DOUBLE) AS nn,
         CAST(sum(c_hist) AS DOUBLE) AS nh,
         CAST(count(*) AS DOUBLE) AS v
  FROM counts
),
sc AS (
  SELECT token, c_new, c_hist,
         round((c_new + 1) / (nn + v) + 1e-9, 6) AS p,
         round((c_hist + 1) / (nh + v) + 1e-9, 6) AS q
  FROM counts CROSS JOIN tot
)
SELECT token, c_new, c_hist, p, q,
       round(p * ln(p / q) + 1e-9, 6) AS kl_term
FROM sc ORDER BY kl_term DESC, token LIMIT {_Q206_TOPK}
"""


# --------------------------------------------------------------------------
# q229 — the end-to-end curation pipeline as ONE declared plan
# --------------------------------------------------------------------------

_Q229_JACCARD = 0.5  # q62's verified-duplicate threshold
_Q229_QUALITY = 0.5  # q36/q90's composite-score gate


def _shingles4(df: DataFrame) -> DataFrame:
    """q104's ``_Q104_N``-token shingles ``(doc_id, sh)`` over any frame
    with (doc_id, text) — per-doc lead window, nulls (tail positions)
    dropped. Shared by q229's decontamination stage and q236's
    streaming screen."""
    toks = df.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")]
    for i in range(1, _Q104_N):
        parts += [F.lit(" "), F.lead("tok", i).over(w)]
    return toks.select("doc_id", F.concat(*parts).alias("sh")).filter(
        F.col("sh").isNotNull()
    )


def q229_curation_pipeline(
    spark: SparkSession, sf_dir: str, takedown_pred=None
) -> DataFrame:
    """The verified curation stages composed into ONE DataFrame plan with
    a per-stage attrition audit — the raw-scrape→training-layout run a
    pretraining data owner actually executes, proving the operators
    compose without a driver round-trip between stages:

    0. ingest           — the raw corpus (doc count + whitespace tokens);
    1. quality          — composite score ≥ 0.5 (q36/q90's shared rule);
    2. exact_dedup      — keep the lowest doc_id per md5(text) (q31's
                          canonical-survivor rule, applied to survivors);
    3. lsh_dedup        — MinHash-LSH candidates → exact-Jaccard verify ≥
                          0.5 (q33∘q62 on the survivor set), drop the
                          GREATER id of each verified pair;
    4. decontaminate    — drop benchmark docs (doc_id % 97 == 0) and any
                          doc sharing a 4-token shingle with them (q104's
                          screen, eval shingles from the ORIGINAL corpus —
                          the benchmark is fixed, not curated);
    5. token_mix        — per-source 3000-token greedy quota in q226's
                          deterministic hash-shuffle order;
    6. packed           — q222/q225's concat-then-chunk layout: training
                          sequences (bins) per source, content tokens
                          carried through.

    Output: one row per stage ``(stage_ord, stage, n_docs, n_tokens,
    n_bins)`` — docs surviving the stage, their whitespace-token total,
    and (final stage only) the training-sequence count.

    Scale shape: every stage is the already-audited plan of its source
    query — scan-stage quality filter, md5-keyed dedup groupBy, band-
    bucketed LSH join, shingle semi-join with a broadcast-able eval side,
    per-source cumsum windows — so the composition's shuffle set is the
    UNION of the parts', nothing new. Stage survivor frames are
    localCheckpoint'ed because each feeds two consumers (its audit row
    and the next stage) — the q208 shared-subtree discipline; at
    production scale these checkpoints are the stage tables a curation
    run persists anyway.

    Oracle: the verified CTE bodies of q36/q62/q104/q226/q225 nested
    stage-over-stage (the q225 pattern), one SQL statement."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        _BANDS as _LSH_BANDS,
        _N_PERM as _LSH_PERMS,
        _Q222_CAP,
        _Q226_BUDGET,
        quality_score_expr,
    )

    docs = table(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    ws_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"[ \t\n\r]+"))
    )
    d0 = docs.select(
        "doc_id", "source", "text", ws_tokens.cast("long").alias("n_tokens")
    ).localCheckpoint(eager=True)

    # 0b. takedown (q260): right-to-be-forgotten applies at the HEAD of
    # the pipeline, so it propagates through every derived artifact — a
    # deleted doc can no longer win an exact-dedup group (its duplicates
    # survive on their own merits), seed an LSH pair, or spend mix
    # budget. The eval/benchmark side of decontamination deliberately
    # still reads d0: the benchmark is a fixed external artifact, not
    # part of the curated corpus.
    shift = 1 if takedown_pred is not None else 0
    if takedown_pred is not None:
        st = d0.filter(~takedown_pred).localCheckpoint(eager=True)
        base = st
    else:
        base = d0

    # 1. quality gate (scan-parallel filter).
    s1 = base.filter(
        quality_score_expr(F.col("text")) >= _Q229_QUALITY
    ).localCheckpoint(eager=True)

    # 2. exact dedup: lowest doc_id per md5(text) — uniform 32-hex key.
    w_exact = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    s2 = (
        s1.withColumn("__rn", F.row_number().over(w_exact))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=True)
    )

    # 3. LSH near-dup (q62 on the survivor set): drop the greater id of
    # every verified pair.
    sh2 = word_shingles(s2, "doc_id", "text", n=2).localCheckpoint(eager=True)
    sigs = minhash_signatures(sh2, "doc_id", n_perm=_LSH_PERMS)
    cand = lsh_candidate_pairs(sigs, "doc_id", n_perm=_LSH_PERMS, bands=_LSH_BANDS)
    a = sh2.select(F.col("doc_id").alias("id_a"), F.col("shingle_hash").alias("h"))
    b = sh2.select(F.col("doc_id").alias("id_b"), F.col("shingle_hash").alias("h"))
    common = (
        cand.join(a, on="id_a").join(b, on=["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    jac = F.col("n_common") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    dups = (
        common.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")),
            on="id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b")),
            on="id_b",
        )
        .filter(F.round(jac + F.lit(1e-9), 6) >= _Q229_JACCARD)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(dups, on="doc_id", how="left_anti").localCheckpoint(eager=True)

    # 4. decontaminate (q104's 4-shingle screen; eval side from the
    # ORIGINAL corpus — the benchmark set is fixed).
    is_eval = F.col("doc_id") % _Q104_EVAL_MOD == 0
    eval_sh = _shingles4(d0.filter(is_eval)).select("sh").distinct()
    contaminated = (
        _shingles4(s3.filter(~is_eval))
        .join(maybe_broadcast(eval_sh), on="sh", how="left_semi")
        .select("doc_id")
        .distinct()
    )
    s4 = (
        s3.filter(~is_eval)
        .join(contaminated, on="doc_id", how="left_anti")
        .localCheckpoint(eager=True)
    )

    # 5. token-budget mix (q226's greedy quota in hash-shuffle order).
    keyed = s4.withColumn(
        "shuffle_key",
        hash32(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))),
    )
    w_mix = (
        Window.partitionBy("source")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s5 = (
        keyed.withColumn("__cum", F.sum("n_tokens").over(w_mix).cast("long"))
        .filter(F.col("__cum") <= _Q226_BUDGET)
        .localCheckpoint(eager=True)
    )

    # Audit rows: one 1-row aggregate per stage.
    def _row(df: DataFrame, ord_: int, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        ).select(
            F.lit(ord_).cast("long").alias("stage_ord"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
            F.lit(0).cast("long").alias("n_bins"),
        )

    # 6. packed: q225's ceiling-division bin count per source.
    per_src = s5.groupBy("source").agg(
        F.count(F.lit(1)).alias("nd"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("nt"),
    )
    packed = per_src.select(
        "nd",
        "nt",
        F.expr(f"CAST((nt + {_Q222_CAP} - 1) DIV {_Q222_CAP} AS BIGINT)").alias(
            "bins"
        ),
    ).agg(
        F.coalesce(F.sum("nd"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.sum("bins"), F.lit(0)).cast("long").alias("n_bins"),
    ).select(
        F.lit(6 + shift).cast("long").alias("stage_ord"),
        F.lit("packed").alias("stage"),
        "n_docs",
        "n_tokens",
        "n_bins",
    )

    audit = _row(d0, 0, "ingest")
    if takedown_pred is not None:
        audit = audit.unionByName(_row(st, 1, "takedown"))
    audit = (
        audit
        .unionByName(_row(s1, 1 + shift, "quality"))
        .unionByName(_row(s2, 2 + shift, "exact_dedup"))
        .unionByName(_row(s3, 3 + shift, "lsh_dedup"))
        .unionByName(_row(s4, 4 + shift, "decontaminate"))
        .unionByName(_row(s5, 5 + shift, "token_mix"))
        .unionByName(packed)
    )
    return audit


def _q229_oracle(takedown_where: str | None = None) -> str:
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        _BAND_LIST,
        _MINHASH_COLS,
        _Q222_CAP,
        _Q226_BUDGET,
        quality_score_sql,
        shingles_sql_from,
    )

    ws_tok = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r]+')) "
        "END AS BIGINT)"
    )
    sh4 = _q104_shingle_sql()
    audit_row = (
        "SELECT CAST({o} AS BIGINT) AS stage_ord, '{n}' AS stage, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens, "
        "CAST(0 AS BIGINT) AS n_bins FROM {src}"
    )
    shift = 1 if takedown_where else 0
    takedown_cte = (
        f"st AS (SELECT * FROM d0 WHERE NOT ({takedown_where})),\n"
        if takedown_where
        else ""
    )
    s1_src = "st" if takedown_where else "d0"
    return f"""
WITH d0 AS (
  SELECT doc_id, source, text, {ws_tok} AS n_tokens FROM documents
),
{takedown_cte}s1 AS (SELECT * FROM {s1_src} WHERE {quality_score_sql('text')} >= {_Q229_QUALITY}),
s2 AS (
  SELECT * FROM s1
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
{shingles_sql_from('s2')},
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
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
  GROUP BY c.id_a, c.id_b
),
dups AS (
  SELECT DISTINCT id_b AS doc_id
  FROM common
  JOIN sizes za ON za.doc_id = id_a
  JOIN sizes zb ON zb.doc_id = id_b
  WHERE round(n_common * 1.0 / (za.sz + zb.sz - n_common) + 1e-9, 6)
          >= {_Q229_JACCARD}
),
s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
etoks AS (
  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
  FROM (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
    FROM d0 WHERE doc_id % {_Q104_EVAL_MOD} = 0
  )
),
esh0 AS (
  SELECT doc_id, {sh4} AS sh FROM etoks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
esh AS (SELECT DISTINCT sh FROM esh0 WHERE sh IS NOT NULL),
ctoks AS (
  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
  FROM (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
    FROM s3 WHERE doc_id % {_Q104_EVAL_MOD} <> 0
  )
),
csh AS (
  SELECT doc_id, {sh4} AS sh FROM ctoks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
contaminated AS (
  SELECT DISTINCT doc_id FROM csh
  WHERE sh IS NOT NULL AND sh IN (SELECT sh FROM esh)
),
s4 AS (
  SELECT * FROM s3
  WHERE doc_id % {_Q104_EVAL_MOD} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
s5 AS (
  SELECT * FROM (
    SELECT s4.*,
           CAST(('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS shuffle_key
    FROM s4
  )
  QUALIFY sum(n_tokens) OVER (
    PARTITION BY source ORDER BY shuffle_key, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= {_Q226_BUDGET}
)
{audit_row.format(o=0, n='ingest', src='d0')}
{("UNION ALL " + audit_row.format(o=1, n='takedown', src='st')) if takedown_where else ""}
UNION ALL {audit_row.format(o=1 + shift, n='quality', src='s1')}
UNION ALL {audit_row.format(o=2 + shift, n='exact_dedup', src='s2')}
UNION ALL {audit_row.format(o=3 + shift, n='lsh_dedup', src='s3')}
UNION ALL {audit_row.format(o=4 + shift, n='decontaminate', src='s4')}
UNION ALL {audit_row.format(o=5 + shift, n='token_mix', src='s5')}
UNION ALL
SELECT CAST(6 + {shift} AS BIGINT) AS stage_ord, 'packed' AS stage,
       CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(sum(bins), 0) AS BIGINT) AS n_bins
FROM (
  SELECT count(*) AS nd, sum(n_tokens) AS nt,
         (sum(n_tokens) + {_Q222_CAP} - 1) // {_Q222_CAP} AS bins
  FROM s5 GROUP BY source
)
"""


Q229_ORACLE = _q229_oracle()


# --------------------------------------------------------------------------
# q234 — streaming quality filter: the curation gate riding ingest
# --------------------------------------------------------------------------


def _split_documents(spark: SparkSession, sf_dir: str, n_files: int = 2) -> str:
    """Documents twin of vector._split_embeddings (same tmp generation)
    — the multi-file replay input for document-stream queries."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import tmp_generation

    return tmp_generation(
        sf_dir,
        "docs_split",
        lambda path: spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(path),
        suffix=f"_f{n_files}",
    )


def q234_streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation quality gate riding the ingest stream — document
    shards arrive as micro-batches (multi-file replay,
    maxFilesPerTrigger=1) and each batch passes the q36/q90 composite-
    score filter as a scan-stage expression, survivors appending as
    batchId-gated generations (streaming/filter_stream.py, >1
    micro-batch asserted). Rejected documents are dropped the moment
    they land — at 100 TB this is WHERE the quality gate runs: on the
    ingest stream, not as a post-hoc batch rewrite of the raw store.

    Because the gate is a pure per-row predicate, the drained survivor
    set must equal the one-pass batch filter — the oracle computes
    exactly that (batch filter + the same per-source rollup), so batch
    boundaries, arrival order, and at-least-once re-execution provably
    cannot change what survives. Output: per source, survivor count,
    token total, mean quality score."""
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        quality_score_expr,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.filter_stream import (
        streaming_filter,
    )

    split_dir = _split_documents(spark, sf_dir)
    trimmed = F.trim(F.col("text"))
    ws_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"[ \t\n\r]+"))
    )
    survivors = streaming_filter(
        spark,
        split_dir,
        predicate=quality_score_expr(F.col("text")) >= _Q229_QUALITY,
        projection=[
            F.col("doc_id"),
            F.col("source"),
            ws_tokens.cast("long").alias("n_tokens"),
            round6(quality_score_expr(F.col("text"))).alias("q"),
        ],
    )
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        round6(F.avg("q")).alias("avg_quality"),
    )


def _q234_oracle() -> str:
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        quality_score_sql,
    )

    return f"""
WITH survivors AS (
  SELECT doc_id, source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r]+'))
         END AS BIGINT) AS n_tokens,
         round({quality_score_sql('text')} + 1e-9, 6) AS q
  FROM documents
  WHERE {quality_score_sql('text')} >= {_Q229_QUALITY}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(avg(q) + 1e-9, 6) AS avg_quality
FROM survivors
GROUP BY source
"""


Q234_ORACLE = _q234_oracle()


# --------------------------------------------------------------------------
# q236 — streaming decontamination: q104's screen riding ingest
# --------------------------------------------------------------------------


def q236_streaming_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q104's benchmark-contamination screen riding the ingest stream —
    the streaming twin q234 is to the quality gate: the eval-set
    shingle dictionary is STATIC (benchmarks are fixed; computed once
    from the batch corpus, checkpointed, broadcast into every batch),
    and each arriving micro-batch shingles its documents, semi-joins
    the eval dictionary, and appends only the clean non-eval survivors
    (streaming/filter_stream.py::streaming_transform — a per-batch
    join against a static side keeps batch ≡ stream equivalence, which
    is exactly what the oracle checks). Output: per source, surviving
    doc count + token total.

    Scale shape: per micro-batch one shingle projection (per-doc lead
    window, bounded by document length), one broadcast semi-join (eval
    side is fixed-size), one anti-join, one append. At 100 TB this is
    where decontamination runs — on the stream, so a contaminated doc
    never reaches the curated store at all."""
    from wetsa_cams_solrad_timeseries_spark.streaming.filter_stream import (
        streaming_transform,
    )

    split_dir = _split_documents(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % _Q104_EVAL_MOD == 0
    eval_sh = (
        _shingles4(docs.filter(is_eval))
        .select("sh")
        .distinct()
        .localCheckpoint(eager=True)  # static side, reused every batch
    )

    trimmed = F.trim(F.col("text"))
    ws_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"[ \t\n\r]+"))
    )

    def screen(bdf: DataFrame) -> DataFrame:
        cand = bdf.filter(~is_eval)
        contaminated = (
            _shingles4(cand)
            .join(maybe_broadcast(eval_sh), on="sh", how="left_semi")
            .select("doc_id")
            .distinct()
        )
        return cand.join(contaminated, on="doc_id", how="left_anti").select(
            "doc_id", "source", ws_tokens.cast("long").alias("n_tokens")
        )

    survivors = streaming_transform(spark, split_dir, screen)
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


Q236_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
  FROM (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
    FROM documents
  )
),
sh AS (
  SELECT doc_id, {_q104_shingle_sql()} AS sh
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
eval_sh AS (
  SELECT DISTINCT sh FROM sh
  WHERE doc_id % {_Q104_EVAL_MOD} = 0 AND sh IS NOT NULL
),
contaminated AS (
  SELECT DISTINCT doc_id FROM sh
  WHERE doc_id % {_Q104_EVAL_MOD} <> 0 AND sh IS NOT NULL
    AND sh IN (SELECT sh FROM eval_sh)
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(d.text), '[ \\t\\n\\r]+'))
                END AS BIGINT)) AS BIGINT) AS n_tokens
FROM documents d
LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE d.doc_id % {_Q104_EVAL_MOD} <> 0 AND c.doc_id IS NULL
GROUP BY d.source
"""


# --------------------------------------------------------------------------
# q245 — incremental curation: the day's shard against persisted state
# --------------------------------------------------------------------------

def q245_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q229's curation pipeline in its INCREMENTAL form — the shape a
    production ingest actually runs every day: curate ONLY the new shard
    (doc_id % 10 == 7) against PERSISTED history state, never re-reading
    or re-curating the history corpus. History is immutable
    (first-seen-wins): a new doc is dropped if its text already exists
    in the curated store, or near-matches it, regardless of ids.

    Persisted state (the q193/q227/q238 lifecycle): the curated
    history's (a) exact-dedup md5 set and (b) MinHash band index — the
    index bucketed on the probe key (``sinks/bucketed.py``), written
    LAST as the generation commit gate; steady state loads both and the
    history corpus is re-read only for the CANDIDATE docs of the LSH
    verify (a semi-join on the bounded candidate id set —
    tests/test_graph_incremental.py bombs ``write_bucketed`` to prove
    the build path never re-runs).

    Stages on the new shard, each with an attrition audit row
    (stage_ord, stage, n_docs, n_tokens):
      0. ingest_new         — the arriving shard;
      1. quality            — the shared q36/q90 scan-stage gate;
      2. exact_vs_history   — md5 ∉ history set AND lowest-id within the
                              shard's own md5 group (q31's canonical rule
                              under history immutability);
      3. lsh_vs_history     — band-probe the persisted index AND the
                              shard's own bands; exact-Jaccard verify ≥
                              0.5 on candidates only; drop a new doc that
                              verifies against ANY history doc or a
                              lower-id shard-mate;
      4. decontaminate      — q104's 4-shingle screen (eval set static,
                              from the ORIGINAL corpus).

    Scale shape: per run, work is proportional to the new shard (scan
    gate, one md5 anti-join against a key-only table, shingle→signature
    →bands over the shard, one bucketed-index probe whose only Exchange
    is the delta side) plus the candidate set (verify). Oracle: the
    batch replay — history state recomputed inline from the same
    predicates — because incremental ≡ batch is exactly the property
    persisted curation state must hold."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_band_rows,
        minhash_signatures,
        word_shingles,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        _BANDS as _LSH_BANDS,
        _N_PERM as _LSH_PERMS,
        quality_score_expr,
    )
    from wetsa_cams_solrad_timeseries_spark._artifacts import table_generation
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import (
        write_bucketed,
    )

    docs = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7
    trimmed = F.trim(F.col("text"))
    ws_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"[ \t\n\r]+"))
    )
    d0n = (
        docs.filter(is_new)
        .select(
            "doc_id", "source", "text", ws_tokens.cast("long").alias("n_tokens")
        )
        .localCheckpoint(eager=True)
    )

    def hist_q() -> DataFrame:
        # The curated store: history docs past the quality gate. LAZY —
        # executed only when the state tables must be (re)built.
        return docs.filter(~is_new).filter(
            quality_score_expr(F.col("text")) >= _Q229_QUALITY
        )

    def hist_bands(hq: DataFrame) -> DataFrame:
        return lsh_band_rows(
            minhash_signatures(
                word_shingles(hq, "doc_id", "text", n=2),
                "doc_id",
                n_perm=_LSH_PERMS,
            ),
            "doc_id",
            n_perm=_LSH_PERMS,
            bands=_LSH_BANDS,
        )

    def build(names: list[str]) -> None:
        hash_t, band_t = names
        hq = hist_q().localCheckpoint(eager=True)  # hash AND band build
        hq.select(F.md5("text").alias("__md5")).distinct().write.mode(
            "overwrite"
        ).saveAsTable(hash_t)
        # Band index LAST: the commit gate for the state generation.
        write_bucketed(
            hist_bands(hq), band_t, "bucket", n_buckets=16, sort_col="bucket"
        )

    names = table_generation(spark, sf_dir, ("curhash", "curband"), build)
    if names is None:
        hq = hist_q().localCheckpoint(eager=True)
        hist_md5 = hq.select(F.md5("text").alias("__md5")).distinct()
        hist_idx = hist_bands(hq)
    else:
        hist_md5, hist_idx = (spark.table(n) for n in names)

    # 1. quality gate on the shard.
    s1 = d0n.filter(
        quality_score_expr(F.col("text")) >= _Q229_QUALITY
    ).localCheckpoint(eager=True)

    # 2. exact dedup vs history + within-shard canonical survivor.
    w_exact = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    s2 = (
        s1.withColumn("__rn", F.row_number().over(w_exact))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("__md5", F.md5(F.col("text")))
        .join(maybe_broadcast(hist_md5), on="__md5", how="left_anti")
        .drop("__md5")
        .localCheckpoint(eager=True)
    )

    # 3. LSH near-dup vs history and within the shard.
    new_sh = word_shingles(s2, "doc_id", "text", n=2).localCheckpoint(
        eager=True
    )
    probe = lsh_band_rows(
        minhash_signatures(new_sh, "doc_id", n_perm=_LSH_PERMS),
        "doc_id",
        n_perm=_LSH_PERMS,
        bands=_LSH_BANDS,
    ).localCheckpoint(eager=True)  # probes the index AND itself
    cand_h = (
        probe.select(F.col("doc_id").alias("new_id"), "bucket")
        .join(
            hist_idx.select(F.col("doc_id").alias("hist_id"), "bucket"),
            on="bucket",
        )
        .select("new_id", "hist_id")
        .distinct()
        .localCheckpoint(eager=True)  # semi-join bound + verify join
    )
    cand_n = (
        probe.select(F.col("doc_id").alias("id_a"), "bucket")
        .join(probe.select(F.col("doc_id").alias("id_b"), "bucket"), on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify vs history: shingle ONLY the candidate history docs.
    hist_cand_docs = docs.filter(~is_new).join(
        cand_h.select(F.col("hist_id").alias("doc_id")).distinct(),
        on="doc_id",
        how="semi",
    )
    hist_sh = word_shingles(hist_cand_docs, "doc_id", "text", n=2)
    a_n = new_sh.select(
        F.col("doc_id").alias("new_id"), F.col("shingle_hash").alias("h")
    )
    b_h = hist_sh.select(
        F.col("doc_id").alias("hist_id"), F.col("shingle_hash").alias("h")
    )
    common_h = (
        cand_h.join(a_n, on="new_id")
        .join(b_h, on=["hist_id", "h"])
        .groupBy("new_id", "hist_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_new = new_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sz_hist = hist_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    jac_h = F.col("n_common") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    dups_h = (
        common_h.join(
            sz_new.select(F.col("doc_id").alias("new_id"), F.col("sz").alias("sz_a")),
            on="new_id",
        )
        .join(
            sz_hist.select(
                F.col("doc_id").alias("hist_id"), F.col("sz").alias("sz_b")
            ),
            on="hist_id",
        )
        .filter(F.round(jac_h + F.lit(1e-9), 6) >= _Q229_JACCARD)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    a2 = new_sh.select(
        F.col("doc_id").alias("id_a"), F.col("shingle_hash").alias("h")
    )
    b2 = new_sh.select(
        F.col("doc_id").alias("id_b"), F.col("shingle_hash").alias("h")
    )
    common_n = (
        cand_n.join(a2, on="id_a")
        .join(b2, on=["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    dups_n = (
        common_n.join(
            sz_new.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")),
            on="id_a",
        )
        .join(
            sz_new.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b")),
            on="id_b",
        )
        .filter(F.round(jac_h + F.lit(1e-9), 6) >= _Q229_JACCARD)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s3 = (
        s2.join(dups_h, on="doc_id", how="left_anti")
        .join(dups_n, on="doc_id", how="left_anti")
        .localCheckpoint(eager=True)
    )

    # 4. decontaminate: eval shingles static, from the ORIGINAL corpus.
    is_eval = F.col("doc_id") % _Q104_EVAL_MOD == 0
    eval_sh = _shingles4(docs.filter(is_eval)).select("sh").distinct()
    contaminated = (
        _shingles4(s3.filter(~is_eval))
        .join(maybe_broadcast(eval_sh), on="sh", how="left_semi")
        .select("doc_id")
        .distinct()
    )
    s4 = (
        s3.filter(~is_eval)
        .join(contaminated, on="doc_id", how="left_anti")
        .localCheckpoint(eager=True)
    )

    def _row(df: DataFrame, ord_: int, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        ).select(
            F.lit(ord_).cast("long").alias("stage_ord"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )

    return (
        _row(d0n, 0, "ingest_new")
        .unionByName(_row(s1, 1, "quality"))
        .unionByName(_row(s2, 2, "exact_vs_history"))
        .unionByName(_row(s3, 3, "lsh_vs_history"))
        .unionByName(_row(s4, 4, "decontaminate"))
    )


def _q245_oracle() -> str:
    from wetsa_cams_solrad_timeseries_spark.plans.llm_ops import (
        _BAND_LIST,
        _MINHASH_COLS,
        _h32,
        quality_score_sql,
        shingles_sql_from,
    )

    ws_tok = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r]+')) "
        "END AS BIGINT)"
    )
    sh4 = _q104_shingle_sql()
    audit_row = (
        "SELECT CAST({o} AS BIGINT) AS stage_ord, '{n}' AS stage, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM {src}"
    )
    return f"""
WITH d0 AS (
  SELECT doc_id, source, text, {ws_tok} AS n_tokens FROM documents
  WHERE doc_id % 10 = 7
),
histq AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 10 <> 7 AND {quality_score_sql('text')} >= {_Q229_QUALITY}
),
hist_md5 AS (SELECT DISTINCT md5(text) AS m FROM histq),
s1 AS (SELECT * FROM d0 WHERE {quality_score_sql('text')} >= {_Q229_QUALITY}),
s2 AS (
  SELECT * FROM s1
  WHERE md5(text) NOT IN (SELECT m FROM hist_md5)
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
{shingles_sql_from('s2')},
sigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST}]) AS bucket
  FROM sigs
),
hw AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM histq
),
hsh0 AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 2
              THEN list_distinct([array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))])
              ELSE [array_to_string(ws, ' ')] END AS shs
  FROM hw
),
hsh AS (
  SELECT DISTINCT doc_id, {_h32('s')} AS h
  FROM (SELECT doc_id, unnest(shs) AS s FROM hsh0)
),
hsigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM hsh GROUP BY doc_id
),
hbanded AS (
  SELECT doc_id, unnest([{_BAND_LIST}]) AS bucket
  FROM hsigs
),
cand_h AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
  FROM banded n JOIN hbanded h ON n.bucket = h.bucket
),
cand_n AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes_n AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
sizes_h AS (SELECT doc_id, count(*) AS sz FROM hsh GROUP BY doc_id),
common_h AS (
  SELECT c.new_id, c.hist_id, count(*) AS n_common
  FROM cand_h c
  JOIN sh sa ON sa.doc_id = c.new_id
  JOIN hsh sb ON sb.doc_id = c.hist_id AND sb.h = sa.h
  GROUP BY 1, 2
),
dups_h AS (
  SELECT DISTINCT new_id AS doc_id
  FROM common_h
  JOIN sizes_n za ON za.doc_id = new_id
  JOIN sizes_h zb ON zb.doc_id = hist_id
  WHERE round(n_common * 1.0 / (za.sz + zb.sz - n_common) + 1e-9, 6)
          >= {_Q229_JACCARD}
),
common_n AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand_n c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
  GROUP BY 1, 2
),
dups_n AS (
  SELECT DISTINCT id_b AS doc_id
  FROM common_n
  JOIN sizes_n za ON za.doc_id = id_a
  JOIN sizes_n zb ON zb.doc_id = id_b
  WHERE round(n_common * 1.0 / (za.sz + zb.sz - n_common) + 1e-9, 6)
          >= {_Q229_JACCARD}
),
s3 AS (
  SELECT * FROM s2
  WHERE doc_id NOT IN (SELECT doc_id FROM dups_h)
    AND doc_id NOT IN (SELECT doc_id FROM dups_n)
),
etoks AS (
  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
  FROM (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
    FROM documents WHERE doc_id % {_Q104_EVAL_MOD} = 0
  )
),
esh0 AS (
  SELECT doc_id, {sh4} AS sh FROM etoks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
esh AS (SELECT DISTINCT sh FROM esh0 WHERE sh IS NOT NULL),
ctoks AS (
  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
  FROM (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
    FROM s3 WHERE doc_id % {_Q104_EVAL_MOD} <> 0
  )
),
csh AS (
  SELECT doc_id, {sh4} AS sh FROM ctoks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
contaminated AS (
  SELECT DISTINCT doc_id FROM csh
  WHERE sh IS NOT NULL AND sh IN (SELECT sh FROM esh)
),
s4 AS (
  SELECT * FROM s3
  WHERE doc_id % {_Q104_EVAL_MOD} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
)
{audit_row.format(o=0, n='ingest_new', src='d0')}
UNION ALL {audit_row.format(o=1, n='quality', src='s1')}
UNION ALL {audit_row.format(o=2, n='exact_vs_history', src='s2')}
UNION ALL {audit_row.format(o=3, n='lsh_vs_history', src='s3')}
UNION ALL {audit_row.format(o=4, n='decontaminate', src='s4')}
"""


Q245_ORACLE = _q245_oracle()


from wetsa_cams_solrad_timeseries_spark.plans._spec import make_specs

SPECS = make_specs(
    [
        ("q101_domain_rebalance", q101_domain_rebalance, Q101_ORACLE, (),
         "domain-mixture sampling weights"),
        ("q102_pii_scrub", q102_pii_scrub, Q102_ORACLE, (),
         "regex PII scrub audit"),
        ("q103_repetition_score", q103_repetition_score, Q103_ORACLE, (),
         "Gopher-style repetition filter"),
        ("q104_contamination", q104_contamination, Q104_ORACLE, (),
         "benchmark n-gram contamination screen"),
        ("q229_curation_pipeline", q229_curation_pipeline, Q229_ORACLE, (),
         "end-to-end curation: quality → exact+LSH dedup → decontaminate "
         "→ token mix → packing, ONE plan with a per-stage attrition "
         "audit"),
        ("q234_streaming_quality_filter", q234_streaming_quality_filter,
         Q234_ORACLE, (),
         "streaming curation gate: per-micro-batch quality filter, "
         "drained survivors ≡ batch filter"),
        ("q236_streaming_decontamination", q236_streaming_decontamination,
         Q236_ORACLE, (),
         "streaming decontamination: per-batch shingle screen against "
         "the static broadcast eval dictionary"),
        ("q245_incremental_curation", q245_incremental_curation,
         Q245_ORACLE, (),
         "incremental curation: the new shard against persisted history "
         "state (md5 set + bucketed band index), per-stage attrition "
         "audit (incremental ≡ batch oracle)"),
        ("q105_small_qty_revenue", q105_small_qty_revenue, Q105_ORACLE, (),
         "TPC-H Q17 decorrelated aggregate-rejoin"),
        ("q106_large_orders", q106_large_orders, Q106_ORACLE, (),
         "TPC-H Q18 HAVING + top-k"),
        ("q107_quality_deciles", q107_quality_deciles, Q107_ORACLE, (),
         "distributed exact NTILE deciles"),
        ("q108_value_histogram", q108_value_histogram, Q108_ORACLE, (),
         "equi-width histogram + CDF"),
        ("q109_stream_static_enrich", q109_stream_static_enrich, Q109_ORACLE,
         (), "stream-static dimension enrichment"),
        ("q110_set_operations", q110_set_operations, Q110_ORACLE, (),
         "INTERSECT/EXCEPT/UNION DISTINCT"),
        ("q111_rolling_frames", q111_rolling_frames, Q111_ORACLE, (),
         "ROWS + RANGE bounded window frames"),
        ("q112_grouping_sets", q112_grouping_sets, Q112_ORACLE, (),
         "GROUPING SETS + grouping_id"),
        ("q113_cohort_retention", q113_cohort_retention, Q113_ORACLE, (),
         "weekly cohort retention matrix"),
        ("q114_shard_planning", q114_shard_planning, Q114_ORACLE, (),
         "shard cuts via distributed prefix sum"),
        ("q115_streaming_upsert", q115_streaming_upsert, Q115_ORACLE, (),
         "foreachBatch MERGE into keyed table"),
        ("q116_pandas_udf_scoring", q116_pandas_udf_scoring, Q116_ORACLE, (),
         "Arrow-vectorized pandas_udf scoring"),
        ("q117_json_source_scan", q117_json_source_scan, Q117_ORACLE, (),
         "JSON-lines scan with declared schema"),
        ("q118_locf_imputation", q118_locf_imputation, Q118_ORACLE, (),
         "LOCF gap imputation (causal fill)"),
        ("q119_rank_functions", q119_rank_functions, Q119_ORACLE, (),
         "rank / percent_rank / cume_dist"),
        ("q120_zorder_clustering", q120_zorder_clustering, Q120_ORACLE, (),
         "Morton/Z-order clustering manifest"),
        ("q121_pps_sample", q121_pps_sample, Q121_ORACLE, (),
         "systematic PPS weighted sample"),
        ("q122_incremental_agg", q122_incremental_agg, Q122_ORACLE, (),
         "incremental materialized-view merge"),
        ("q123_fuzzy_match", q123_fuzzy_match, Q123_ORACLE, (),
         "blocked edit-distance entity resolution"),
        ("q124_schema_evolution_union", q124_schema_evolution_union,
         Q124_ORACLE, (), "unionByName with schema evolution"),
        ("q198_repeated_spans", q198_repeated_spans, Q198_ORACLE, (),
         "maximal cross-doc repeated token spans (ExactSubstr dedup)"),
        ("q199_mixture_epochs", q199_mixture_epochs, Q199_ORACLE, (),
         "temperature mixture resampling with deterministic multiplicity"),
        ("q202_bigram_perplexity", q202_bigram_perplexity, Q202_ORACLE, (),
         "bigram-LM perplexity scoring (CCNet-style quality filter)"),
        ("q206_vocab_kl_drift", q206_vocab_kl_drift, Q206_ORACLE, (),
         "vocabulary KL drift with per-token attribution"),
    ]
)
