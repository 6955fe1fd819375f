"""Advanced engine surface (round 5, q147+): streaming SCD2 maintenance,
banded epsilon joins, map-typed columns, sequential funnels, CDC snapshot
diffs, inverted-index builds, data-quality audits, and non-associative
per-key folds.

Conventions are plans/_spec's: every computed column aliased identically
on both sides; multi-row float aggregates through round6/round6_sql;
money sums through exact_sum; top-k orderings carry a unique tiebreak.
Each docstring ends with the 100 TB scale shape of the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import table
from wetsa_cams_solrad_timeseries_spark.functions.hashing import hash32_sql_duckdb
from wetsa_cams_solrad_timeseries_spark.plans._spec import (
    exact_sum,
    exact_sum_sql,
    maybe_broadcast,
    round6,
    round6_sql,
)


# --------------------------------------------------------------------------
# q147 — streaming SCD2 merge with out-of-order close-out
# --------------------------------------------------------------------------


def q147_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a type-2 slowly-changing dimension from a stream: each
    user's event_type is the tracked attribute; versions are the
    consecutive-change timeline with [valid_from, valid_to) validity and
    a per-user version ordinal. The multi-file replay (maxFilesPerTrigger=1)
    delivers points OUT OF EVENT-TIME ORDER across micro-batches, so late
    rows must split existing intervals, merge same-attribute neighbors,
    and renumber versions — the foreachBatch merge reconciles whole keys
    from an append-only change-point log (streaming/scd2_stream.py; the
    kernel asserts >1 batch AND that a genuinely late point arrived).

    Scale shape: per-batch cost is proportional to the TOUCHED keys'
    history (log semi-join + per-key window), not the table; untouched
    keys carry forward via anti-join. This is the Delta/Iceberg MERGE
    cost model with the commit spelled as a generation swap."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _split_events
    from wetsa_cams_solrad_timeseries_spark.streaming.scd2_stream import (
        streaming_scd2_merge,
    )

    split_dir = _split_events(spark, sf_dir)
    return streaming_scd2_merge(spark, split_dir)


Q147_ORACLE = """
WITH pts AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
), ch AS (
  SELECT user_id, ts AS valid_from, event_id AS from_event,
         event_type AS status
  FROM pts WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, from_event) AS valid_to,
       from_event, status,
       CAST(row_number() OVER (PARTITION BY user_id
                               ORDER BY valid_from, from_event) AS BIGINT)
         AS version
FROM ch
"""


# --------------------------------------------------------------------------
# q148 — banded epsilon self-join (similarity band join)
# --------------------------------------------------------------------------

_Q148_EPS = 0.002


def q148_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs whose first coordinate differs by <= eps —
    the scalar epsilon-join that underlies similarity banding, sensor
    alignment, and near-value matching. The naive plan is a quadratic
    theta-join; the engine's plan BANDS the axis into floor(x/width)
    buckets and equi-joins each point against its own and two adjacent
    buckets (one exploded side), so every qualifying pair is found
    exactly once (|bucket_a - bucket_b| <= 1 is implied by |dx| <= eps,
    and the equi-join matches a single exploded copy).

    Bucket width is 2*eps, NOT eps: with width == eps, a pair at exactly
    |dx| == eps has a quotient gap of 1.0, and one ULP of float-division
    noise near an integer boundary can push the floors 2 buckets apart —
    silently missing a pair the exact |dx| <= eps predicate admits. At
    width 2*eps the quotient gap for any qualifying pair is <= 0.5, a
    half-bucket guard band that dwarfs division rounding error, so the
    +-1 explode provably covers every candidate; the exact predicate
    then prunes the (~2x) wider candidate set.

    Scale shape: shuffle on bucket id — output-proportional work instead
    of n^2; skew only if the axis itself is degenerate (then salt the
    hot bucket). tests/test_advanced_plans.py asserts no CartesianProduct
    in the physical plan."""
    em = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
    )
    eps = F.lit(_Q148_EPS)
    bkt = F.floor(F.col("x") / F.lit(2 * _Q148_EPS)).cast("long")
    left = em.select(
        F.col("vec_id").alias("vid_a"),
        F.col("x").alias("xa"),
        bkt.alias("bkt"),
    )
    right = em.select(
        F.col("vec_id").alias("vid_b"),
        F.col("x").alias("xb"),
        F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("bkt"),
    )
    return (
        left.join(right, "bkt")
        .where(
            (F.col("vid_a") < F.col("vid_b"))
            & (F.abs(F.col("xa") - F.col("xb")) <= eps)
        )
        .select(
            "vid_a",
            "vid_b",
            round6(F.abs(F.col("xa") - F.col("xb"))).alias("dx"),
        )
    )


Q148_ORACLE = f"""
SELECT a.vec_id AS vid_a, b.vec_id AS vid_b,
       {round6_sql('abs(CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))')}
         AS dx
FROM embeddings a JOIN embeddings b
  ON a.vec_id < b.vec_id
 AND abs(CAST(a.embedding[1] AS DOUBLE) - CAST(b.embedding[1] AS DOUBLE))
       <= {_Q148_EPS}
"""


# --------------------------------------------------------------------------
# q149 — map-typed column construction + higher-order map functions
# --------------------------------------------------------------------------

_Q149_FREQ = 15


def q149_map_column_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type histogram as a first-class MapType column —
    built with map_from_entries over a grouped collect, then consumed
    with the higher-order map functions (element_at lookups, map_filter
    for the frequent subset, aggregate over map_values for the total).
    Exercises the engine's map plumbing end-to-end; every output is a
    map-order-independent scalar, so the nondeterministic collect_list
    order cannot leak into results.

    Scale shape: one shuffle to (user, type), one to user; map payload
    per key is bounded by the type vocabulary (5 here), so the map column
    is O(1) per row — the safe shape for map columns at 100 TB (maps keyed
    by an unbounded id would be the row-explosion anti-pattern)."""
    ev = table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    zero = F.lit(0).cast("long")
    return m.select(
        "user_id",
        F.size(F.map_keys("m")).alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("click")), zero).alias("clicks"),
        F.coalesce(F.element_at("m", F.lit("view")), zero).alias("views"),
        F.coalesce(F.element_at("m", F.lit("error")), zero).alias("errors"),
        F.size(
            F.map_filter("m", lambda k, v: v >= F.lit(_Q149_FREQ))
        ).alias("n_frequent"),
        F.aggregate(F.map_values("m"), zero, lambda acc, x: acc + x).alias(
            "total_events"
        ),
    )


Q149_ORACLE = f"""
WITH c AS (
  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS INT) AS n_types,
       CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN n END), 0)
            AS BIGINT) AS clicks,
       CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN n END), 0)
            AS BIGINT) AS views,
       CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN n END), 0)
            AS BIGINT) AS errors,
       CAST(sum(CASE WHEN n >= {_Q149_FREQ} THEN 1 ELSE 0 END) AS INT)
         AS n_frequent,
       CAST(sum(n) AS BIGINT) AS total_events
FROM c GROUP BY user_id
"""


# --------------------------------------------------------------------------
# q150 — ordered funnel (sequential conditional conversion)
# --------------------------------------------------------------------------


def q150_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel: first view, then the earliest
    click AFTER that view, then the earliest purchase AFTER that click —
    per user, reported as per-stage user counts and mean stage-to-stage
    lag. Unlike a per-type min (which would count out-of-order journeys),
    each stage's search window is anchored on the previous stage's
    timestamp, so the dependency is genuinely sequential: three grouped
    min-aggregations, each joined back on user_id.

    Scale shape: three shuffles on the SAME key (user_id) — AQE/exchange
    reuse co-locates them; each stage's input is pre-filtered to one
    event type before the shuffle. No windows, no per-user sort."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("ts1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts2"), F.min("ts1").alias("ts1"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("ts2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts3"), F.min("ts2").alias("ts2"))
    )
    null_lag = F.lit(None).cast("double")
    s1 = v.agg(F.count(F.lit(1)).alias("n_users")).select(
        F.lit("1_view").alias("stage"), "n_users", null_lag.alias("avg_lag_s")
    )
    s2 = c.agg(
        F.count(F.lit(1)).alias("n_users"),
        round6(
            F.avg(F.col("ts2").cast("double") - F.col("ts1").cast("double"))
        ).alias("avg_lag_s"),
    ).select(F.lit("2_click").alias("stage"), "n_users", "avg_lag_s")
    s3 = p.agg(
        F.count(F.lit(1)).alias("n_users"),
        round6(
            F.avg(F.col("ts3").cast("double") - F.col("ts2").cast("double"))
        ).alias("avg_lag_s"),
    ).select(F.lit("3_purchase").alias("stage"), "n_users", "avg_lag_s")
    return s1.unionByName(s2).unionByName(s3)


Q150_ORACLE = f"""
WITH v AS (
  SELECT user_id, min(ts) AS ts1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, min(e.ts) AS ts2, min(v.ts1) AS ts1
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.ts1 GROUP BY 1
), p AS (
  SELECT e.user_id, min(e.ts) AS ts3, min(c.ts2) AS ts2
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.ts2 GROUP BY 1
)
SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
       CAST(NULL AS DOUBLE) AS avg_lag_s FROM v
UNION ALL
SELECT '2_click', CAST(count(*) AS BIGINT),
       {round6_sql('avg(epoch(ts2) - epoch(ts1))')} FROM c
UNION ALL
SELECT '3_purchase', CAST(count(*) AS BIGINT),
       {round6_sql('avg(epoch(ts3) - epoch(ts2))')} FROM p
"""


# --------------------------------------------------------------------------
# q151 — CDC snapshot diff (insert / update / delete / unchanged)
# --------------------------------------------------------------------------


def q151_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture derivation by snapshot diff: two keyed
    snapshots of the orders table (deterministic modulus slices standing
    in for 'yesterday' and 'today'; the 'today' slice re-prices every
    3rd key by x1.1) are full-outer joined on the key and every row is
    classified insert/delete/update/unchanged, with the net money delta
    per class. This is how CDC is bootstrapped when the source emits no
    change log — and the audit query run against real CDC to validate it.

    Scale shape: one full-outer shuffle join on the primary key (both
    sides pre-projected to key+payload), then a 4-group aggregate; money
    deltas through exact decimal sums so the class totals are
    partitioning-invariant."""
    o = table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    old = o.where(key % 10 != 3).select(
        key.alias("k"), F.col("o_totalprice").alias("old_price")
    )
    new = o.where(key % 7 != 2).select(
        key.alias("k"),
        F.when(key % 3 == 0, F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    j = old.join(new, "k", "full_outer")
    change_type = (
        F.when(F.col("old_price").isNull(), "insert")
        .when(F.col("new_price").isNull(), "delete")
        .when(F.col("old_price") != F.col("new_price"), "update")
        .otherwise("unchanged")
    )
    return (
        j.select(
            change_type.alias("change_type"),
            (
                F.coalesce(F.col("new_price"), F.lit(0.0))
                - F.coalesce(F.col("old_price"), F.lit(0.0))
            ).alias("delta"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("delta").alias("net_delta"),
        )
    )


Q151_ORACLE = f"""
WITH old AS (
  SELECT o_orderkey AS k, o_totalprice AS old_price
  FROM orders WHERE o_orderkey % 10 <> 3
), new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS new_price
  FROM orders WHERE o_orderkey % 7 <> 2
), j AS (
  SELECT old.old_price, new.new_price
  FROM old FULL OUTER JOIN new ON old.k = new.k
)
SELECT CASE WHEN old_price IS NULL THEN 'insert'
            WHEN new_price IS NULL THEN 'delete'
            WHEN old_price <> new_price THEN 'update'
            ELSE 'unchanged' END AS change_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       {exact_sum_sql('coalesce(new_price, 0) - coalesce(old_price, 0)')}
         AS net_delta
FROM j GROUP BY 1
"""


# --------------------------------------------------------------------------
# q152 — inverted-index build (token postings)
# --------------------------------------------------------------------------

_Q152_TOPK = 50


def q152_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token posting-list statistics over the document corpus: tokenize,
    per-(token, doc) term frequency, then per-token document frequency,
    corpus frequency, and the top document (highest tf, doc_id tiebreak)
    — the build step of an inverted index / BM25 statistics table. Top-50
    tokens by (df desc, token) with a unique tiebreak.

    Scale shape: posexplode-free tokenize (split+explode stays in
    codegen), two partial-aggregated shuffles (token,doc) then (token);
    the top document per token rides the same aggregate as a struct-max
    (no window); the final top-k is TakeOrderedAndProject (no global
    sort materialization)."""
    from wetsa_cams_solrad_timeseries_spark.operators.text import (
        postings_stats,
    )

    st = postings_stats(table(spark, sf_dir, "documents"), "doc_id", "text")
    return (
        st.select(
            "token",
            "df",
            "total_tf",
            F.col("top.doc_id").alias("top_doc"),
            F.col("top.tf").alias("top_tf"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(_Q152_TOPK)
    )


Q152_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
  FROM documents
), tf AS (
  SELECT token, doc_id, count(*) AS tf
  FROM tok WHERE token <> '' GROUP BY 1, 2
), st AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS total_tf
  FROM tf GROUP BY 1
), r AS (
  SELECT token, doc_id AS top_doc, CAST(tf AS BIGINT) AS top_tf,
         row_number() OVER (PARTITION BY token
                            ORDER BY tf DESC, doc_id DESC) AS rn
  FROM tf
)
SELECT st.token, st.df, st.total_tf, r.top_doc, r.top_tf
FROM st JOIN r USING (token) WHERE r.rn = 1
ORDER BY st.df DESC, st.token ASC LIMIT {_Q152_TOPK}
"""


# --------------------------------------------------------------------------
# q153 — data-quality expectations audit
# --------------------------------------------------------------------------


def q153_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (deequ/dbt-test shape): primary-key
    uniqueness, referential integrity, domain and range expectations,
    null/empty guards — evaluated across five tables, one fused aggregate
    pass per table, reported as (table, check, n_rows, violations,
    passed). One check (events value <= 400) fails by construction, so
    the report's failure path is exercised, not vacuous.

    Scale shape: checks against the same table FUSE into a single scan +
    1-row aggregate (stack() fans the scalar results back out to rows);
    the referential check is a shuffle anti-join re-aggregated to one
    row. No collects; the report is itself a DataFrame."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cu = table(spark, sf_dir, "customer")
    ev = table(spark, sf_dir, "events")
    docs = table(spark, sf_dir, "documents")

    def _report(agg_df, table_name: str, pairs: list[tuple[str, str]]):
        stack_args = ", ".join(f"'{name}', {expr}" for name, expr in pairs)
        return agg_df.select(
            F.lit(table_name).alias("table_name"),
            F.expr(
                f"stack({len(pairs)}, {stack_args}) AS (check_name, violations)"
            ),
            F.col("n_rows"),
        ).select(
            "table_name",
            "check_name",
            "n_rows",
            "violations",
            (F.col("violations") == 0).alias("passed"),
        )

    oa = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("nd"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("bad_status"),
    )
    orders_rows = _report(
        oa,
        "orders",
        [("orders_pk_unique", "n_rows - nd"), ("orders_status_domain", "bad_status")],
    )

    la = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
            .otherwise(0)
        ).alias("bad_qty"),
    )
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    lineitem_rows = _report(
        la.crossJoin(F.broadcast(orphans)),
        "lineitem",
        [("lineitem_qty_range", "bad_qty"), ("lineitem_fk_orders", "orphans")],
    )

    ca = cu.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                (F.col("c_acctbal") < -1000) | (F.col("c_acctbal") > 10000), 1
            ).otherwise(0)
        ).alias("bad_bal"),
    )
    customer_rows = _report(ca, "customer", [("customer_acctbal_range", "bad_bal")])

    ea = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("bad_ts"),
        F.sum(F.when(F.col("value") > 400, 1).otherwise(0)).alias("big_value"),
    )
    events_rows = _report(
        ea,
        "events",
        [("events_ts_bounds", "bad_ts"), ("events_value_max_le_400", "big_value")],
    )

    da = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("text").isNull() | (F.length("text") == 0), 1)
            .otherwise(0)
        ).alias("empty_text"),
    )
    docs_rows = _report(da, "documents", [("documents_text_nonempty", "empty_text")])

    return (
        orders_rows.unionByName(lineitem_rows)
        .unionByName(customer_rows)
        .unionByName(events_rows)
        .unionByName(docs_rows)
    )


Q153_ORACLE = """
SELECT 'orders' AS table_name, 'orders_pk_unique' AS check_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
       count(*) - count(DISTINCT o_orderkey) = 0 AS passed
FROM orders
UNION ALL
SELECT 'orders', 'orders_status_domain', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
            AS BIGINT),
       sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'lineitem', 'lineitem_qty_range', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
            AS BIGINT),
       sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem', 'lineitem_fk_orders',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
       CAST(count(*) AS BIGINT), count(*) = 0
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'customer', 'customer_acctbal_range', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN c_acctbal < -1000 OR c_acctbal > 10000
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN c_acctbal < -1000 OR c_acctbal > 10000
                THEN 1 ELSE 0 END) = 0
FROM customer
UNION ALL
SELECT 'events', 'events_ts_bounds', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01'
                       OR ts >= TIMESTAMP '2025-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN ts < TIMESTAMP '2024-01-01'
                  OR ts >= TIMESTAMP '2025-01-01'
                THEN 1 ELSE 0 END) = 0
FROM events
UNION ALL
SELECT 'events', 'events_value_max_le_400', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN value > 400 THEN 1 ELSE 0 END) = 0
FROM events
UNION ALL
SELECT 'documents', 'documents_text_nonempty', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) = 0
FROM documents
"""


# --------------------------------------------------------------------------
# q154 — capped running balance (non-associative per-key fold)
# --------------------------------------------------------------------------

_Q154_CAP = 200.0


def q154_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user capped running balance: purchases credit ``value``,
    errors debit it, and the balance is clamped to [0, 200] after every
    step. The clamp makes the fold NON-associative — no window-function
    or partial-aggregate rewrite computes it — so the plan is the
    operator class Spark lacks natively: a per-key ordered fold via
    ``groupBy().applyInPandas`` (operators/sequential.py). The DuckDB
    oracle is a recursive CTE walking the identical order, so the
    equivalence is checked step-for-step, not just in aggregate.

    Scale shape: shuffle partitions by user (millions of keys → full
    cluster width); O(1) state per key; the per-row Python loop is the
    honest cost, swappable for a Numba kernel without plan changes."""
    from wetsa_cams_solrad_timeseries_spark.operators.sequential import (
        capped_running_balance,
    )

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "error"))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(-F.col("value"))
            .alias("delta"),
        )
    )
    return capped_running_balance(ev, cap=_Q154_CAP)


Q154_ORACLE = f"""
WITH RECURSIVE seq AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN value ELSE -value END
           AS delta,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events WHERE event_type IN ('purchase', 'error')
), walk AS (
  SELECT user_id, rn,
         least(greatest(CAST(0 AS DOUBLE) + delta, 0), {_Q154_CAP}) AS bal,
         CASE WHEN 0 + delta < 0 THEN 1 ELSE 0 END AS lo,
         CASE WHEN 0 + delta > {_Q154_CAP} THEN 1 ELSE 0 END AS hi
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn,
         least(greatest(w.bal + s.delta, 0), {_Q154_CAP}),
         w.lo + CASE WHEN w.bal + s.delta < 0 THEN 1 ELSE 0 END,
         w.hi + CASE WHEN w.bal + s.delta > {_Q154_CAP} THEN 1 ELSE 0 END
  FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn + 1
)
SELECT user_id, {round6_sql('bal')} AS final_balance,
       CAST(lo AS BIGINT) AS n_clamp_low,
       CAST(hi AS BIGINT) AS n_clamp_high,
       CAST(rn AS BIGINT) AS n_steps
FROM walk
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) = 1
"""


# --------------------------------------------------------------------------
# q155 — triangle counting (degree-oriented distributed enumeration)
# --------------------------------------------------------------------------


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected part co-purchase edges (u < v): group each
    order's parts into a sorted array and emit i<j pairs JVM-side
    (higher-order transform/slice) — one shuffle on l_orderkey instead
    of a self-join that shuffles the table twice and probes 600k x 600k
    (measured 3-7x faster at sf0.1). Per-order arrays are bounded by
    order width, so no skew risk. localCheckpointed: every consumer
    (q155's census, q161's iterations) reuses it several times."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ps = li.groupBy("l_orderkey").agg(
        F.sort_array(F.array_distinct(F.collect_list("l_partkey"))).alias("ps")
    )
    return (
        ps.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> transform("
                    "slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
        .localCheckpoint(eager=True)
    )


def q155_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts are adjacent
    when some order contains both): the standard distributed triangle
    enumeration. Edges are ORIENTED from the lower-(degree, id) endpoint
    to the higher — a total order, so every triangle is generated by
    exactly one wedge and the wedge count drops from sum(deg^2) to
    sum(outdeg^2), the classic skew-killer (a celebrity node of degree d
    contributes d^2 wedges unoriented but ~(d/2)^2 oriented, and hub-hub
    edges orient away from both hubs).

    Scale shape: the closing step is NEIGHBOR-ARRAY INTERSECTION, not
    wedge materialization — per oriented edge (x,y), triangles through it
    are |N+(x) ∩ N+(y)| (array_intersect, JVM-side), so the shuffle
    volume is edges x bounded-array, never the sum(outdeg^2) wedge set.
    Orientation bounds every out-list at ~sqrt(2|E|). The edge set is
    localCheckpointed once (graph.py's convention) because four
    downstream ops reuse it — without it Catalyst re-derives the
    lineitem self-join per consumer.
    """
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e2 = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    swap = F.struct(F.col("dv"), F.col("v")) < F.struct(F.col("du"), F.col("u"))
    oriented = e2.select(
        F.when(swap, F.col("v")).otherwise(F.col("u")).alias("src"),
        F.when(swap, F.col("u")).otherwise(F.col("v")).alias("dst"),
    ).localCheckpoint(eager=True)
    adj = maybe_broadcast(
        oriented.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    n_tris = (
        oriented.join(
            adj.select(F.col("src"), F.col("nbrs").alias("nx")), "src"
        )
        .join(
            adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("ny")),
            "dst",
        )
        .agg(
            F.sum(F.size(F.array_intersect("nx", "ny")))
            .cast("long")
            .alias("n_triangles")
        )
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = oriented.agg(F.count(F.lit(1)).alias("n_edges"))
    # 1-row aggregates: hint them broadcast per the file idiom (a poor
    # size estimate must never degrade these scalar augments).
    return n_nodes.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(n_tris))


Q155_ORACLE = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT CAST((SELECT count(DISTINCT n) FROM (
         SELECT u AS n FROM e UNION ALL SELECT v FROM e)) AS BIGINT)
         AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT count(*) FROM e e1
             JOIN e e2 ON e2.u = e1.v
             JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT)
         AS n_triangles
"""


# --------------------------------------------------------------------------
# q156 — 2-D skyline / Pareto frontier
# --------------------------------------------------------------------------


def q156_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts: minimize retail price, maximize size; a part
    is dominated if another is <= on price and >= on size with one
    strict. SQL's only general spelling is the quadratic NOT EXISTS
    dominance test (the oracle); the engine's plan is the two-phase
    distributed skyline (operators/skyline.py): per-partition sweep
    prunes to ~polylog candidates, one merge sweep finishes.

    Scale shape: phase 1 full cluster width, phase 2 input is the union
    of tiny per-partition frontiers; anti-correlated data degrades to a
    large frontier, where grid partitioning is the documented fallback."""
    from wetsa_cams_solrad_timeseries_spark.operators.skyline import skyline_2d

    p = table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    sky = skyline_2d(p, min_col="p_retailprice", max_col="p_size")
    return sky.select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )


Q156_ORACLE = """
SELECT p_partkey, p_retailprice AS price, p_size AS size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
"""


# --------------------------------------------------------------------------
# q157 — exact weighted median per group
# --------------------------------------------------------------------------


def q157_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: the
    smallest value whose cumulative weight reaches half the group total —
    the exact weighted-percentile operator (inventory valuation, fair
    pricing) that percentile_approx only approximates. Pre-aggregating to
    (group, value) makes the cumulative window deterministic (unique
    ORDER BY key) and shrinks the window input to distinct values.

    Scale shape: one (group, value) partial-agg shuffle, then a per-group
    cumulative sum. Groups here are 3 wide flags — fine locally; when a
    single group's distinct values outgrow one task, the same cumulative
    sum decomposes by range partition exactly as operators/rank.py's
    global_prefix_sum (per-partition subtotals + broadcast offsets), so
    the operator scales without a sort-merge of the whole group. Weights
    are integral doubles -> sums are exact, so the half-total comparison
    is partitioning-invariant."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    aggv = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum("l_quantity").alias("w")
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wall = Window.partitionBy("l_returnflag")
    c = aggv.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("w").over(wcum).alias("cum"),
        F.sum("w").over(wall).alias("tot"),
    )
    return (
        c.where(F.col("cum") >= F.col("tot") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median"),
            F.min("tot").cast("long").alias("total_weight"),
        )
    )


Q157_ORACLE = """
WITH a AS (
  SELECT l_returnflag, l_extendedprice, sum(l_quantity) AS w
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, l_extendedprice,
         sum(w) OVER (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice) AS cum,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM a
)
SELECT l_returnflag, min(l_extendedprice) AS weighted_median,
       CAST(min(tot) AS BIGINT) AS total_weight
FROM c WHERE cum >= tot / 2 GROUP BY 1
"""


# --------------------------------------------------------------------------
# q158 — nearest-neighbor as-of join (bidirectional with tolerance)
# --------------------------------------------------------------------------

_Q158_TOL_S = 5 * 86400  # 5 days


def q158_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event picks the customer's NEAREST order in time — backward
    or forward, whichever is closer within a 5-day tolerance, ties to
    backward (pandas ``merge_asof(direction='nearest')``). Extends the
    q17/q60 as-of family with the bidirectional variant sensors-vs-
    reference alignment needs (reference: the exact-grid comparison join,
    get-cams-solrad-ts.py's aligned series — this is its tolerant form).

    Scale shape: operators/joins.py::nearest_join — ONE shuffle of
    |L|+|R| keyed by customer and one sort serving both window frames
    (backward carry + mirror forward carry); strictly no row explosion,
    vs the oracle's candidate-join which multiplies events by orders
    within tolerance."""
    from wetsa_cams_solrad_timeseries_spark.operators.joins import nearest_join

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("nearest_orderkey"))
        .select(
            "user_id",
            F.col("o_orderdate").cast("timestamp").alias("od_ts"),
            "nearest_orderkey",
            F.col("o_orderdate").alias("nearest_orderdate"),
        )
    )
    out = nearest_join(
        ev,
        orders,
        left_ts="ts",
        right_ts="od_ts",
        by=["user_id"],
        right_cols=["nearest_orderkey", "nearest_orderdate"],
        tolerance_seconds=_Q158_TOL_S,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "nearest_orderkey",
        "nearest_orderdate",
        "direction",
        "gap_s",
    )


Q158_ORACLE = f"""
WITH ord AS (
  SELECT o_custkey AS user_id, o_orderdate AS d,
         max(o_orderkey) AS k
  FROM orders GROUP BY 1, 2
), cand AS (
  SELECT e.event_id, o.k, o.d,
         abs(epoch(e.ts) - epoch(CAST(o.d AS TIMESTAMP))) AS gap,
         CASE WHEN CAST(o.d AS TIMESTAMP) <= e.ts THEN 0 ELSE 1 END AS fwd
  FROM events e JOIN ord o USING (user_id)
  WHERE abs(epoch(e.ts) - epoch(CAST(o.d AS TIMESTAMP))) <= {_Q158_TOL_S}
), best AS (
  SELECT *, row_number() OVER (PARTITION BY event_id
                               ORDER BY gap, fwd, d, k) AS rn
  FROM cand
)
SELECT e.event_id, e.user_id, e.ts,
       b.k AS nearest_orderkey, b.d AS nearest_orderdate,
       CASE WHEN b.fwd = 0 THEN 'backward'
            WHEN b.fwd = 1 THEN 'forward' END AS direction,
       b.gap AS gap_s
FROM events e LEFT JOIN best b ON b.event_id = e.event_id AND b.rn = 1
"""


# --------------------------------------------------------------------------
# q159 — survivorship merge (golden-record field selection)
# --------------------------------------------------------------------------


def q159_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-data survivorship: assemble one golden record per user,
    each FIELD taken independently from its own source-priority ladder —
    ``value`` from purchase > click > view (then latest), the JSON ``k``
    attribute from signup > error (then latest). The Spark plan is ONE
    grouped aggregate: each field's winner rides a struct-max whose
    leading keys are (priority, ts, event_id), so no per-field window,
    no self-joins, and adding a field adds one aggregate expression —
    while the SQL spelling (the oracle) needs a ranked CTE per field
    plus joins.

    Scale shape: single shuffle on user_id with map-side partial
    struct-max; state per key is O(#fields)."""
    ev = table(spark, sf_dir, "events")
    vp = (
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "view", 1)
    )
    kp = (
        F.when(F.col("event_type") == "signup", 2)
        .when(F.col("event_type") == "error", 1)
    )
    k_val = F.get_json_object("props", "$.k").cast("int")
    v_struct = F.when(
        vp.isNotNull(),
        F.struct(
            vp.alias("p"),
            F.col("ts").alias("ts"),
            F.col("event_id").alias("eid"),
            F.col("value").alias("v"),
            F.col("event_type").alias("src"),
        ),
    )
    k_struct = F.when(
        kp.isNotNull(),
        F.struct(
            kp.alias("p"),
            F.col("ts").alias("ts"),
            F.col("event_id").alias("eid"),
            k_val.alias("k"),
            F.col("event_type").alias("src"),
        ),
    )
    g = ev.groupBy("user_id").agg(
        F.max(v_struct).alias("vw"),
        F.max(k_struct).alias("kw"),
        F.countDistinct("event_type").alias("n_sources"),
    )
    return g.select(
        "user_id",
        F.col("vw.v").alias("best_value"),
        F.col("vw.src").alias("value_source"),
        F.col("vw.ts").alias("value_ts"),
        F.col("kw.k").alias("best_k"),
        F.col("kw.src").alias("k_source"),
        "n_sources",
    )


Q159_ORACLE = """
WITH v AS (
  SELECT user_id, value AS best_value, event_type AS value_source,
         ts AS value_ts,
         row_number() OVER (PARTITION BY user_id ORDER BY
           CASE event_type WHEN 'purchase' THEN 3 WHEN 'click' THEN 2
                ELSE 1 END DESC, ts DESC, event_id DESC) AS rn
  FROM events WHERE event_type IN ('purchase', 'click', 'view')
), k AS (
  SELECT user_id,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS best_k,
         event_type AS k_source,
         row_number() OVER (PARTITION BY user_id ORDER BY
           CASE event_type WHEN 'signup' THEN 2 ELSE 1 END DESC,
           ts DESC, event_id DESC) AS rn
  FROM events WHERE event_type IN ('signup', 'error')
), c AS (
  SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_sources
  FROM events GROUP BY 1
)
SELECT c.user_id, v.best_value, v.value_source, v.value_ts,
       k.best_k, k.k_source, c.n_sources
FROM c
LEFT JOIN (SELECT * FROM v WHERE rn = 1) v USING (user_id)
LEFT JOIN (SELECT * FROM k WHERE rn = 1) k USING (user_id)
"""


# --------------------------------------------------------------------------
# q160 — event-path mining (first-k sequence distribution)
# --------------------------------------------------------------------------


def q160_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of each user's FIRST-3-event path ('signup>view>
    click'): the entry-journey mining behind onboarding funnels. The
    per-user prefix is taken with a bounded window (row_number <= 3
    filter BEFORE the collect), so per-key state in the aggregate is 3
    rows regardless of history length — never collect-then-slice of an
    unbounded event list.

    Scale shape: one user_id window shuffle (early-filtering to rank<=3),
    one 3-element collect per user, one path-sized (<= |types|^3 rows)
    rollup. At 100 TB the rank filter is the lever: the expensive
    aggregate sees 3 rows/user."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    seq = first3.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return seq.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


Q160_ORACLE = """
WITH seq AS (
  SELECT user_id,
         array_to_string(
           list_slice(array_agg(event_type ORDER BY ts, event_id), 1, 3),
           '>') AS path
  FROM events GROUP BY 1
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM seq GROUP BY 1
"""


# --------------------------------------------------------------------------
# q161 — PageRank (fixed-iteration distributed power method)
# --------------------------------------------------------------------------

_Q161_D = 0.85
# Spelled as a literal, NOT 1 - _Q161_D: Python computes 1.0 - 0.85 =
# 0.15000000000000002 (one ULP off double(0.15)), while the oracle's
# CAST(0.15 AS DOUBLE) is exactly double(0.15) — the pair must be the
# same constant or every iteration diverges by an ULP before round6.
_Q161_BASE = 0.15
_Q161_ITERS = 3
_Q161_TOPK = 20


def q161_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three power-method iterations of PageRank (damping 0.85) over the
    undirected part co-purchase graph; top-20 parts by rank. The
    ITERATIVE operator class beyond q72's connected components: each
    round is one contribution join + one per-node aggregate, the loop
    lives in the driver, the data never does.

    Cross-engine determinism for an iterated float computation: every
    iteration's contribution sum AND new rank pass through round6 on
    BOTH engines, so the engines re-synchronize each round instead of
    compounding summation-order ULP drift across iterations.

    Scale shape: edges localCheckpointed once (per-iteration reuse);
    per-iteration cost is one edge-sized shuffle + one node-sized
    aggregate, the plan GraphX/Pregel would run. Rank state is a
    node-sized frame, never driver-side. A fixed iteration count keeps
    the oracle expressible; convergence looping adds a driver-side
    delta check on a 1-row aggregate, nothing else changes."""
    e = _copurchase_edges(spark, sf_dir)
    b = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = (
        b.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    n = deg.count()
    bd = b.join(deg, "src").localCheckpoint(eager=True)
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("r"))
    for _ in range(_Q161_ITERS):
        contrib = (
            bd.join(ranks, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(round6(F.sum(F.col("r") / F.col("outdeg"))).alias("s"))
        )
        ranks = (
            deg.select(F.col("src").alias("node"))
            .join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                round6(
                    F.lit(_Q161_BASE / n)
                    + F.lit(_Q161_D) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return (
        ranks.select("node", F.col("r").alias("pr"))
        .orderBy(F.desc("pr"), "node")
        .limit(_Q161_TOPK)
    )


def _q161_iteration_sql() -> str:
    # Explicit DOUBLE casts: DuckDB numeric literals are DECIMAL, and
    # decimal arithmetic would diverge from Spark's double math.
    base = f"(CAST({_Q161_BASE} AS DOUBLE) / (SELECT c FROM n))"
    prev = "r0"
    sql = ""
    for i in range(1, _Q161_ITERS + 1):
        contrib = round6_sql(f"sum({prev}.r / deg.outdeg)")
        newr = round6_sql(
            f"{base} + CAST({_Q161_D} AS DOUBLE) * coalesce(c{i}.s, 0)"
        )
        sql += f""", c{i} AS (
  SELECT b.dst, {contrib} AS s
  FROM b JOIN {prev} ON b.src = {prev}.node
         JOIN deg ON b.src = deg.src
  GROUP BY 1
), r{i} AS (
  SELECT deg.src AS node, {newr} AS r
  FROM deg LEFT JOIN c{i} ON deg.src = c{i}.dst
)"""
        prev = f"r{i}"
    return sql


Q161_ORACLE = f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), b AS (
  SELECT u AS src, v AS dst FROM e
  UNION ALL SELECT v AS src, u AS dst FROM e
), deg AS (
  SELECT src, count(*) AS outdeg FROM b GROUP BY 1
), n AS (
  SELECT count(*) AS c FROM deg
), r0 AS (
  SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT c FROM n) AS r FROM deg
){_q161_iteration_sql()}
SELECT node, r AS pr FROM r{_Q161_ITERS}
ORDER BY pr DESC, node ASC LIMIT {_Q161_TOPK}
"""


# --------------------------------------------------------------------------
# q162 — stream-stream LEFT OUTER interval join (watermark-proved nulls)
# --------------------------------------------------------------------------


def q162_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode LEFT OUTER stream-stream join: each purchase joined to
    the same user's errors in the following 10 minutes; purchases with no
    match emit a null row only once the watermark PROVES no on-time match
    can arrive. The outer case q99's inner join avoids: it needs a
    chronological replay (watermark must genuinely advance) and its
    finite-prefix answer differs from the batch left join by exactly the
    final watermark's blind spot — unmatched purchases whose join window
    ends after min(max_purchase_ts, max_error_ts) - delay stay buffered,
    and the oracle reproduces that cut (streaming/outer_join_stream.py).

    Scale shape: state = both sides' last (interval + delay) of rows per
    user key, watermark-evicted; the chronological split is the harness
    stand-in for an ordered source (Kafka per-partition order)."""
    from wetsa_cams_solrad_timeseries_spark.streaming.outer_join_stream import (
        chrono_split,
        streaming_left_outer_interval_join,
    )

    split_dir = chrono_split(spark, sf_dir)
    return streaming_left_outer_interval_join(spark, split_dir)


Q162_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase'
), e AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'error'
), wm AS (
  SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM e))
           - INTERVAL 1 MINUTE AS w
), j AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
         p.value AS purchase_value, e.event_id AS error_id,
         e.ts AS error_ts, e.value AS error_value
  FROM p LEFT JOIN e
    ON e.user_id = p.user_id AND e.ts > p.ts
   AND e.ts <= p.ts + INTERVAL 10 MINUTE
)
SELECT * FROM j
WHERE error_id IS NOT NULL
   OR purchase_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
"""


# --------------------------------------------------------------------------
# q163 — custom offset-tracked streaming source (Python DataSource V2)
# --------------------------------------------------------------------------


def q163_custom_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals streamed through the engine's OWN
    streaming connector (sources/replay_stream.py): a Python
    DataSourceStreamReader that owns its offsets ({'slice': k}), advances
    one content-stable slice (event_id % 3) per micro-batch, and serves
    partitions executor-side — the Kafka/CDC connector contract
    demonstrated end-to-end, instead of leaning on file-source
    maxFilesPerTrigger. Asserts every slice arrived in its own
    micro-batch; final complete-mode state equals the batch aggregation
    (the oracle).

    Scale shape: driver holds one offset counter; per batch the source
    plans `readers` partitions; aggregation state lives in the state
    store exactly as with built-in sources."""
    from wetsa_cams_solrad_timeseries_spark.sources.replay_stream import (
        register_events_replay_source,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import drain_rows

    register_events_replay_source(spark)
    # Two slices = the minimum multi-batch replay (offset advance +
    # cross-batch aggregation state both exercised); each extra slice
    # costs a full micro-batch of Python-source plan/read/commit
    # overhead without demonstrating anything new.
    n_slices = 2
    src = (
        spark.readStream.format("events_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("slices", str(n_slices))
        .load()
    )
    agg = src.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        round6(F.sum("value")).alias("sum_value"),
    )
    n_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    return drain_rows(
        spark,
        agg,
        n_rows=n_rows,
        output_mode="complete",
        min_fed_batches=n_slices,
        what="modulo-offset replay (one batch per offset advance)",
    )


Q163_ORACLE = f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       {round6_sql('sum(value)')} AS sum_value
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# q164 — VARIANT semi-structured column (Spark 4 parse_json)
# --------------------------------------------------------------------------


def q164_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over the VARIANT type: ``props`` JSON
    parsed ONCE into a binary variant column (parse_json), fields then
    extracted with typed variant_get paths — the Spark-4-native
    replacement for repeated get_json_object string re-parsing (the
    engine's older JSON path, timeseries.py F-family). Per event type:
    count, null-k count, mean/max of the extracted int.

    Scale shape: parse once, extract many — variant decode happens in
    the scan stage projection; extraction is JVM-side on the binary
    encoding (no Python, no per-extract JSON re-parse). At 100 TB the
    parse cost amortizes over every downstream field access, and
    shredded-variant storage (Parquet variant shredding) removes the
    parse entirely — a storage change, not a plan change."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.parse_json("props").alias("vp"),
    ).select(
        "event_type",
        F.try_variant_get("vp", "$.k", "int").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_null_k"),
        round6(F.avg("k")).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


Q164_ORACLE = f"""
-- TRY_CAST mirrors Spark's try_variant_get(..., 'int') exactly: a k
-- that is PRESENT but not an integer counts as null on BOTH sides
-- (a bare extract-string null check would diverge, and an unguarded
-- CAST would make the oracle RAISE on such a payload).
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN TRY_CAST(json_extract_string(props, '$.k')
                              AS INTEGER) IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k,
       {round6_sql("avg(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))")}
         AS avg_k,
       max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# q165 — Python UDTF document chunking (LLM-context windows)
# --------------------------------------------------------------------------

_Q165_SIZE = 50
_Q165_STRIDE = 25


def q165_udtf_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (50-token windows, stride 25) —
    the context-window preparation step of an LLM training/RAG pipeline —
    implemented as a Python UDTF in a LATERAL join: one input row fans
    out to a variable number of chunk rows, the generator shape that
    scalar UDFs cannot express and explode() can only fake by
    materializing the full chunk list per row first.

    Scale shape: the UDTF streams chunks row-by-row (no per-doc chunk
    array materialized), parallel over document partitions; chunk count
    per doc is len/stride, so output scales with corpus token count.
    Python execution is the extension-point cost — the same lateral
    shape holds for an Arrow-optimized or JVM UDTF."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "chunk_id int, n_tokens int, chunk_text string"
    ))
    class ChunkDocs:
        def eval(self, text: str):
            if text is None:
                return
            toks = text.split(" ")
            start = 0
            cid = 0
            while start < len(toks):
                window = toks[start : start + _Q165_SIZE]
                yield cid, len(window), " ".join(window)
                cid += 1
                start += _Q165_STRIDE

    spark.udtf.register("chunk_docs", ChunkDocs)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.n_tokens, c.chunk_text
        FROM {docs} d, LATERAL chunk_docs(d.text) c
        """,
        docs=table(spark, sf_dir, "documents"),
    )


Q165_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT t.doc_id, CAST(r.i AS INTEGER) AS chunk_id,
       CAST(len(list_slice(t.toks, r.i * {_Q165_STRIDE} + 1,
                           r.i * {_Q165_STRIDE} + {_Q165_SIZE})) AS INTEGER)
         AS n_tokens,
       array_to_string(list_slice(t.toks, r.i * {_Q165_STRIDE} + 1,
                                  r.i * {_Q165_STRIDE} + {_Q165_SIZE}), ' ')
         AS chunk_text
-- Chunk index space bounded by the CORPUS MAXIMUM chunk count,
-- data-derived via the SCALAR list form of range() over a 1-row
-- aggregate (the table function only accepts constants) — so no
-- document can ever be silently truncated the way a fixed literal
-- cap could (the repo's no-silent-caps rule); the WHERE trims each
-- doc to its own chunks.
FROM t, (
  SELECT unnest(range(0, m)) AS i
  FROM (SELECT CAST(ceil(max(len(toks)) * 1.0 / {_Q165_STRIDE}) AS BIGINT)
          AS m FROM t)
) r
WHERE r.i * {_Q165_STRIDE} < len(t.toks)
"""


# --------------------------------------------------------------------------
# q166 — extended grouped statistics (geometric/harmonic mean, mode)
# --------------------------------------------------------------------------


def q166_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type geometric mean (log-domain, overflow-immune), harmonic
    mean, and modal value bucket (most frequent floor(value), ties to
    the smallest bucket) — the multiplicative/rate statistics a plain
    avg misses. Mode rides a (type, bucket) count + struct-max with a
    NEGATED bucket as tiebreak, so no window and no second shuffle over
    the fact table.

    Scale shape: two aggregates — one value-level (moment sums commute),
    one bucket-level for the mode — joined on the 5-row type dimension
    (broadcast). Log-domain products are THE 100 TB form: a direct
    product over-/underflows doubles after a few thousand rows."""
    # Positive support only: geometric/harmonic means are undefined at
    # zero (sf0.1 contains value=0.0 rows — DuckDB errors on ln(0) while
    # Spark's non-ANSI log returns null, so the filter is also what
    # keeps the two engines in the same algebra).
    ev = table(spark, sf_dir, "events").where(F.col("value") > 0)
    moments = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        round6(F.exp(F.avg(F.log("value")))).alias("geo_mean"),
        round6(
            F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("value"))
        ).alias("harmonic_mean"),
    )
    buckets = (
        ev.select("event_type", F.floor("value").alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("event_type")
        .agg(F.max(F.struct(F.col("cnt"), (-F.col("bucket")).alias("nb"))).alias("m"))
        .select(
            "event_type",
            (-F.col("m.nb")).alias("mode_bucket"),
            F.col("m.cnt").alias("mode_n"),
        )
    )
    return moments.join(buckets, "event_type")


Q166_ORACLE = f"""
WITH ev AS (
  SELECT * FROM events WHERE value > 0
), moments AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         {round6_sql('exp(avg(ln(value)))')} AS geo_mean,
         {round6_sql('count(*) / sum(1.0 / value)')} AS harmonic_mean
  FROM ev GROUP BY 1
), b AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket, count(*) AS cnt
  FROM ev GROUP BY 1, 2
), m AS (
  SELECT event_type, bucket AS mode_bucket, CAST(cnt AS BIGINT) AS mode_n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, bucket ASC) AS rn
  FROM b
)
SELECT moments.event_type, moments.n, moments.geo_mean,
       moments.harmonic_mean, m.mode_bucket, m.mode_n
FROM moments JOIN m ON moments.event_type = m.event_type AND m.rn = 1
"""


# --------------------------------------------------------------------------
# q167 — recursive CTE hierarchy rollup (Spark 4 WITH RECURSIVE)
# --------------------------------------------------------------------------


def q167_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ancestor-closure rollup via Spark 4's native ``WITH RECURSIVE``:
    every part climbs the synthetic decimal hierarchy (parent = key DIV
    10) to its single-digit root; per root, member count, max depth, and
    a key checksum. This is the SQL-recursion operator class (bill of
    materials, org charts, folder trees) expressed in the engine's own
    SQL surface — the driver-side-loop alternatives (q72 connected
    components, q161 PageRank) cover iteration where the step is a
    JOIN; WITH RECURSIVE covers it where the step is a self-referencing
    CTE the optimizer unrolls (UnionLoop).

    Scale shape: per recursion level one distributed projection+filter
    over the previous level's frame; depth is log10(keyspace) (~5-7 at
    any corpus size), so the unrolled plan stays shallow. The closure
    (n x depth rows) exists only as the union feeding the aggregate —
    never driver-side."""
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth
          FROM {part}
          UNION ALL
          SELECT node, cur DIV 10, depth + 1 FROM anc WHERE cur >= 10
        )
        SELECT cur AS root, CAST(count(*) AS BIGINT) AS n_parts,
               CAST(max(depth) AS INT) AS max_depth,
               CAST(sum(node) AS BIGINT) AS sum_nodes
        FROM anc WHERE cur < 10 GROUP BY cur
        """,
        part=table(spark, sf_dir, "part"),
    )


Q167_ORACLE = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth FROM part
  UNION ALL
  SELECT node, cur // 10, depth + 1 FROM anc WHERE cur >= 10
)
SELECT cur AS root, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(max(depth) AS INT) AS max_depth,
       CAST(sum(node) AS BIGINT) AS sum_nodes
FROM anc WHERE cur < 10 GROUP BY cur
"""


# --------------------------------------------------------------------------
# q168 — interval-overlap self-join (banded, no per-key cross join)
# --------------------------------------------------------------------------

_Q168_LEN_DAYS = 30


def q168_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of a customer's order-validity intervals ([orderdate,
    orderdate+30d)) that OVERLAP — the interval-interval join (q51 is
    the point-in-interval case). Naively a per-customer theta join; the
    engine's plan grids time into 30-day cells, explodes each interval
    onto the <=2 cells it touches (sequence(), JVM-side), equi-joins on
    (customer, cell), exact-filters the overlap predicate, and
    DISTINCTs pairs discovered in both shared cells. Reported per
    customer: overlapping-pair count and mean overlap days.

    Scale shape: shuffle on (customer, cell); per-pair work is
    output-proportional since a cell only holds intervals touching its
    30 days. Cell width = interval length is the optimum: <=2 cells per
    interval, <=2 duplicate discoveries per pair. Skewed customers salt
    exactly like any hot equi-key."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.col("o_orderkey").alias("k"),
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("sd"),
    ).withColumn("ed", F.col("sd") + _Q168_LEN_DAYS)
    cells = o.select(
        "c",
        "k",
        "sd",
        "ed",
        F.explode(
            F.sequence(
                (F.col("sd") / _Q168_LEN_DAYS).cast("long"),
                ((F.col("ed") - 1) / _Q168_LEN_DAYS).cast("long"),
            )
        ).alias("cell"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.k") < F.col("b.k")),
        )
        .where(
            (F.col("a.sd") < F.col("b.ed")) & (F.col("b.sd") < F.col("a.ed"))
        )
        .select(
            F.col("a.c").alias("c"),
            F.col("a.k").alias("k1"),
            F.col("b.k").alias("k2"),
            (
                F.least(F.col("a.ed"), F.col("b.ed"))
                - F.greatest(F.col("a.sd"), F.col("b.sd"))
            ).alias("overlap_days"),
        )
        .distinct()
    )
    return pairs.groupBy(F.col("c").alias("o_custkey")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        round6(F.avg("overlap_days")).alias("avg_overlap_days"),
    )


Q168_ORACLE = f"""
WITH o AS (
  SELECT o_custkey AS c, o_orderkey AS k,
         date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS sd
  FROM orders
), iv AS (
  SELECT c, k, sd, sd + {_Q168_LEN_DAYS} AS ed FROM o
), pairs AS (
  SELECT a.c, a.k AS k1, b.k AS k2,
         least(a.ed, b.ed) - greatest(a.sd, b.sd) AS overlap_days
  FROM iv a JOIN iv b
    ON a.c = b.c AND a.k < b.k AND a.sd < b.ed AND b.sd < a.ed
)
SELECT c AS o_custkey, CAST(count(*) AS BIGINT) AS n_pairs,
       {round6_sql('avg(overlap_days)')} AS avg_overlap_days
FROM pairs GROUP BY 1
"""


# --------------------------------------------------------------------------
# q169 — business-day latency (weekend-aware calendar arithmetic)
# --------------------------------------------------------------------------

# f(d) = business days from the anchor Monday (1990-01-01) to d
# (exclusive): whole weeks contribute 5, the partial week contributes
# min(weekday, 5). Identical integer arithmetic on both engines.


def _busday_expr(date_col: str) -> F.Column:
    days = F.datediff(F.col(date_col), F.lit("1990-01-01").cast("date")).cast(
        "long"
    )
    return (F.floor(days / 7) * 5 + F.least(days % 7, F.lit(5))).cast("long")


def _busday_sql(expr: str) -> str:
    days = f"date_diff('day', DATE '1990-01-01', CAST({expr} AS DATE))"
    return f"(({days}) // 7) * 5 + least(({days}) % 7, 5)"


def q169_business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-ship latency in BUSINESS days (weekends excluded)
    per order priority — q144's calendar-day SLA refined with the
    closed-form business-day counter f(d) = 5*(weeks since an anchor
    Monday) + min(weekday, 5), evaluated as pure integer arithmetic (no
    per-day explode, no calendar table join). Holidays would be one
    broadcast anti-count against a literal dimension.

    Scale shape: one min-agg shuffle on l_orderkey, one join back to
    orders on the same key (exchange reuse), one 5-row rollup. The
    counter is O(1) per row in the scan stage."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    j = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
    lat = j.select(
        "o_orderpriority",
        (
            _busday_expr("first_ship") - _busday_expr("o_orderdate")
        ).alias("bus_days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        round6(F.avg("bus_days")).alias("avg_bus_days"),
        F.max("bus_days").alias("max_bus_days"),
    )


Q169_ORACLE = f"""
WITH fs AS (
  SELECT l_orderkey, min(l_shipdate) AS first_ship
  FROM lineitem GROUP BY 1
)
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       {round6_sql(f'avg(({_busday_sql("fs.first_ship")}) - ({_busday_sql("o.o_orderdate")}))')}
         AS avg_bus_days,
       CAST(max(({_busday_sql("fs.first_ship")}) - ({_busday_sql("o.o_orderdate")}))
            AS BIGINT) AS max_bus_days
FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q170 — weighted sample without replacement (A-ExpJ, deterministic)
# --------------------------------------------------------------------------

_Q170_K = 50


def q170_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-Res): each document draws key = ln(u)/w with u a content-stable
    md5 uniform and w = n_chars; the top-k keys ARE a weighted sample
    without replacement. Fully distributed (partial top-k per
    partition, TakeOrderedAndProject) and REPRODUCIBLE — u derives from
    the md5 bridge (functions/hashing.py), so Spark, DuckDB, and any
    re-run select the identical sample; no RNG state, no seed plumbing.

    Scale shape: one scan + top-k; no shuffle beyond the k-row
    gather. The q121 PPS sampler covers the fixed-rate systematic
    design; this is the bounded-k without-replacement design."""
    from wetsa_cams_solrad_timeseries_spark.functions.hashing import hash32

    docs = table(spark, sf_dir, "documents")
    u = (hash32(F.col("doc_id").cast("string")) + 1) / F.lit(2.0**32 + 1)
    key = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").alias("w"),
            round6(key * 1e6).alias("key_ppm"),
        )
        .orderBy(F.desc("key_ppm"), "doc_id")
        .limit(_Q170_K)
    )


Q170_ORACLE = f"""
SELECT doc_id, n_chars AS w,
       {round6_sql(
           "(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
           "AS BIGINT) + 1) / (POW(2.0, 32) + 1)) / n_chars) * 1e6"
       )} AS key_ppm
FROM documents
ORDER BY key_ppm DESC, doc_id ASC LIMIT {_Q170_K}
"""


# --------------------------------------------------------------------------
# q171 — revenue concentration (Gini coefficient per nation)
# --------------------------------------------------------------------------


def q171_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-nation customer-revenue inequality: the exact Gini
    coefficient via the sorted-rank identity
    G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n. Rank ties (equal revenues) don't
    disturb the statistic — Σ i·x_i is permutation-invariant among equal
    x — so the custkey tiebreak only pins determinism, not the value.
    Per-customer revenue through exact decimal sums first (money rule).

    Scale shape: one per-customer rollup, one broadcast-dim join chain,
    one rank window per nation, one 25-row rollup. A nation group too
    big for one task decomposes by the operators/rank.py range-partition
    rank — the formula only needs i, not a global sort materialized."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    na = F.broadcast(table(spark, sf_dir, "nation"))
    rev = o.groupBy("o_custkey").agg(
        exact_sum("o_totalprice").alias("rev")
    )
    j = (
        rev.join(cu, rev.o_custkey == cu.c_custkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .select("n_name", "o_custkey", "rev")
    )
    w = Window.partitionBy("n_name").orderBy("rev", "o_custkey")
    ranked = j.select("n_name", "rev", F.row_number().over(w).alias("i"))
    return ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        round6(
            (F.lit(2.0) * F.sum(F.col("i") * F.col("rev")))
            / (F.count(F.lit(1)) * F.sum("rev"))
            - (F.count(F.lit(1)) + F.lit(1)) / F.count(F.lit(1))
        ).alias("gini"),
    )


Q171_ORACLE = f"""
WITH rev AS (
  SELECT o_custkey, {exact_sum_sql('o_totalprice')} AS rev
  FROM orders GROUP BY 1
), j AS (
  SELECT n.n_name, r.rev,
         row_number() OVER (PARTITION BY n.n_name
                            ORDER BY r.rev, r.o_custkey) AS i
  FROM rev r
  JOIN customer c ON r.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
       {round6_sql('(2.0 * sum(i * rev)) / (count(*) * sum(rev))'
                   ' - (count(*) + 1) / count(*)')} AS gini
FROM j GROUP BY 1
"""


# --------------------------------------------------------------------------
# q172 — position-based (U-shaped) attribution
# --------------------------------------------------------------------------


def q172_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution over each user's click journey:
    first and last touch get 0.4 credit each, the middle splits the
    remaining 0.2 evenly (n=1 → 1.0, n=2 → 0.5/0.5). Credit is then
    rolled up per touch DAY — the marketing-mix view. Complements q128
    (last-touch): position weights need the journey's rank AND length,
    i.e. one row_number + one count window over the same user partition,
    then pure scan-stage arithmetic.

    Scale shape: one user_id window shuffle (two frames share the sort),
    one calendar-sized rollup. Credit conservation (Σ per user = 1) is
    enforced by construction."""
    from pyspark.sql import Window

    clicks = table(spark, sf_dir, "events").where(
        F.col("event_type") == "click"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    pos = clicks.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("i") == 1, F.lit(0.4))
        .when(F.col("i") == F.col("n"), F.lit(0.4))
        .when(F.col("n") == 2, F.lit(0.0))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    adj = F.when(
        (F.col("n") == 2) & (F.col("i") == 1), F.lit(0.1)
    ).otherwise(F.lit(0.0))
    # n=2: the two endpoint touches split evenly (0.5 each) — spelled as
    # 0.4 + 0.1 so every branch stays a literal both engines parse to
    # the same double.
    pos = pos.select(
        "day",
        (credit + adj + F.when(
            (F.col("n") == 2) & (F.col("i") == F.col("n")), F.lit(0.1)
        ).otherwise(F.lit(0.0))).alias("credit"),
    )
    return pos.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_touches"),
        round6(F.sum("credit")).alias("credit"),
    )


Q172_ORACLE = f"""
WITH pos AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE event_type = 'click'
), c AS (
  SELECT day,
         (CASE WHEN n = 1 THEN 1.0
               WHEN i = 1 THEN 0.4
               WHEN i = n THEN 0.4
               WHEN n = 2 THEN 0.0
               ELSE CAST(0.2 AS DOUBLE) / (n - 2) END
          + CASE WHEN n = 2 AND i = 1 THEN 0.1 ELSE 0.0 END
          + CASE WHEN n = 2 AND i = n THEN 0.1 ELSE 0.0 END) AS credit
  FROM pos
)
SELECT day, CAST(count(*) AS BIGINT) AS n_touches,
       {round6_sql('sum(credit)')} AS credit
FROM c GROUP BY 1
"""


# --------------------------------------------------------------------------
# q173 — map merge with map_zip_with (weekday/weekend histograms)
# --------------------------------------------------------------------------


def q173_map_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two MapType histograms per user — weekday and weekend event-type
    counts — merged with ``map_zip_with`` (null-safe elementwise sum
    over the key union): the map-MERGE half of the map surface q149's
    build/filter/lookup half doesn't touch. Outputs are map-order-
    independent scalars as always.

    Scale shape: same bounded-vocabulary contract as q149 — the merge
    lambda runs JVM-side per row over <=|vocab| entries."""
    ev = table(spark, sf_dir, "events")
    wk = F.weekday(F.col("ts"))  # 0=Mon .. 6=Sun
    per = (
        ev.select(
            "user_id",
            "event_type",
            F.when(wk >= 5, F.lit("we")).otherwise(F.lit("wd")).alias("part"),
        )
        .groupBy("user_id", "part", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    maps = per.groupBy("user_id", "part").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    wide = maps.groupBy("user_id").pivot("part", ["wd", "we"]).agg(
        F.first("m")
    )
    zero = F.lit(0).cast("long")
    empty = F.expr("CAST(map() AS MAP<STRING, BIGINT>)")
    merged = F.map_zip_with(
        F.coalesce(F.col("wd"), empty),
        F.coalesce(F.col("we"), empty),
        lambda k, v1, v2: F.coalesce(v1, zero) + F.coalesce(v2, zero),
    )
    return wide.select(
        "user_id",
        F.size(F.coalesce(F.col("wd"), empty)).alias("n_types_wd"),
        F.size(F.coalesce(F.col("we"), empty)).alias("n_types_we"),
        F.size(merged).alias("n_types_total"),
        F.coalesce(F.element_at(merged, F.lit("click")), zero).alias(
            "clicks_total"
        ),
        F.aggregate(
            F.map_values(merged), zero, lambda acc, x: acc + x
        ).alias("events_total"),
    )


Q173_ORACLE = """
WITH c AS (
  SELECT user_id, event_type,
         CASE WHEN isodow(ts) >= 6 THEN 'we' ELSE 'wd' END AS part,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT user_id,
       CAST(count(DISTINCT CASE WHEN part = 'wd' THEN event_type END)
            AS INT) AS n_types_wd,
       CAST(count(DISTINCT CASE WHEN part = 'we' THEN event_type END)
            AS INT) AS n_types_we,
       CAST(count(DISTINCT event_type) AS INT) AS n_types_total,
       CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN n END), 0)
            AS BIGINT) AS clicks_total,
       CAST(sum(n) AS BIGINT) AS events_total
FROM c GROUP BY 1
"""


# --------------------------------------------------------------------------
# q174 — event co-occurrence PMI matrix
# --------------------------------------------------------------------------


def q174_pmi_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring in
    the same (user, hour) unit: PMI(a,b) = ln(n_ab·N / (n_a·n_b)) over
    presence sets — the association statistic behind co-occurrence
    embeddings and market-basket lift's information-theoretic cousin
    (q145 computes lift; PMI is its log form over presence units).

    Scale shape: presence dedup is one (unit, type) DISTINCT; the pair
    build joins presence with itself ON THE UNIT KEY (pair volume
    bounded by units x vocab^2, never corpus^2); marginals are
    vocab-sized and broadcast; N rides a 1-row crossJoin."""
    ev = table(spark, sf_dir, "events")
    pres = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "event_type",
    ).distinct()
    total = (
        pres.select("user_id", "h")
        .distinct()
        .agg(F.count(F.lit(1)).alias("N"))
    )
    pa = pres.groupBy("event_type").agg(F.count(F.lit(1)).alias("na"))
    a, b = pres.alias("a"), pres.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.count(F.lit(1)).alias("nab"))
    )
    out = (
        pairs.crossJoin(F.broadcast(total))
        .join(
            F.broadcast(pa.select(F.col("event_type").alias("ta"),
                                  F.col("na").alias("na_a"))), "ta"
        )
        .join(
            F.broadcast(pa.select(F.col("event_type").alias("tb"),
                                  F.col("na").alias("na_b"))), "tb"
        )
    )
    return out.select(
        "ta",
        "tb",
        F.col("nab").alias("n_units"),
        round6(
            F.log((F.col("nab") * F.col("N")) / (F.col("na_a") * F.col("na_b")))
        ).alias("pmi"),
    )


Q174_ORACLE = f"""
WITH pres AS (
  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h, event_type
  FROM events
), tot AS (
  SELECT count(*) AS n FROM (SELECT DISTINCT user_id, h FROM pres)
), pa AS (
  SELECT event_type, count(*) AS na FROM pres GROUP BY 1
), pr AS (
  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS nab
  FROM pres a JOIN pres b
    ON a.user_id = b.user_id AND a.h = b.h
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT pr.ta, pr.tb, CAST(pr.nab AS BIGINT) AS n_units,
       {round6_sql('ln((pr.nab * (SELECT n FROM tot)) / (p1.na * p2.na))')}
         AS pmi
FROM pr
JOIN pa p1 ON pr.ta = p1.event_type
JOIN pa p2 ON pr.tb = p2.event_type
"""


# --------------------------------------------------------------------------
# q175 — population stability index (distribution drift between periods)
# --------------------------------------------------------------------------

_Q175_NBINS = 10
_Q175_SPLIT = "2024-01-16"


def q175_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month, per event type: PSI = Σ (p_i − q_i)·ln(p_i/q_i) over 10
    fixed-width value bins — the standard model-monitoring drift metric
    (complements q143's entropy and q130's chi-square: PSI is the
    directional, binned, industry-threshold one). Laplace-smoothed bin
    shares keep ln() defined when a bin is empty on one side.

    Scale shape: one (type, period, bin) rollup — three-level group key,
    fully partial-aggregated — then a vocab x bins reshape; all
    arithmetic in the final tiny frame."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(_Q175_SPLIT).cast("timestamp")
    bin_id = F.least(
        F.floor(F.col("value") / 50.0).cast("long"), F.lit(_Q175_NBINS - 1)
    )
    binned = ev.select(
        "event_type",
        F.when(F.col("ts") < split, "a").otherwise("b").alias("period"),
        bin_id.alias("bin"),
    ).groupBy("event_type", "period", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = binned.groupBy("event_type", "period").agg(
        F.sum("n").alias("tot")
    )
    shares = binned.join(tot, ["event_type", "period"]).select(
        "event_type",
        "period",
        "bin",
        ((F.col("n") + F.lit(1.0)) / (F.col("tot") + F.lit(_Q175_NBINS)))
        .alias("p"),
    )
    wide = (
        shares.groupBy("event_type", "bin")
        .pivot("period", ["a", "b"])
        .agg(F.first("p"))
    )
    # A bin absent from a period entirely: smoothed floor 1/(tot+k).
    ta = tot.where(F.col("period") == "a").select(
        "event_type", F.col("tot").alias("tot_a")
    )
    tb = tot.where(F.col("period") == "b").select(
        "event_type", F.col("tot").alias("tot_b")
    )
    filled = (
        wide.join(ta, "event_type")
        .join(tb, "event_type")
        .select(
            "event_type",
            F.coalesce(
                F.col("a"),
                F.lit(1.0) / (F.col("tot_a") + F.lit(_Q175_NBINS)),
            ).alias("p"),
            F.coalesce(
                F.col("b"),
                F.lit(1.0) / (F.col("tot_b") + F.lit(_Q175_NBINS)),
            ).alias("q"),
        )
    )
    return filled.groupBy("event_type").agg(
        round6(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))
        ).alias("psi"),
        F.count(F.lit(1)).alias("n_bins"),
    )


Q175_ORACLE = f"""
WITH binned AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_Q175_SPLIT}' THEN 'a' ELSE 'b' END
           AS period,
         least(CAST(floor(value / 50.0) AS BIGINT), {_Q175_NBINS - 1})
           AS bin,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
), tot AS (
  SELECT event_type, period, sum(n) AS tot FROM binned GROUP BY 1, 2
), grid AS (
  SELECT DISTINCT b.event_type, b.bin FROM binned b
), filled AS (
  SELECT g.event_type, g.bin,
         (coalesce(ba.n, 0) + CAST(1.0 AS DOUBLE)) / (ta.tot + {_Q175_NBINS}) AS p,
         (coalesce(bb.n, 0) + CAST(1.0 AS DOUBLE)) / (tb.tot + {_Q175_NBINS}) AS q
  FROM grid g
  JOIN tot ta ON ta.event_type = g.event_type AND ta.period = 'a'
  JOIN tot tb ON tb.event_type = g.event_type AND tb.period = 'b'
  LEFT JOIN binned ba ON ba.event_type = g.event_type
        AND ba.bin = g.bin AND ba.period = 'a'
  LEFT JOIN binned bb ON bb.event_type = g.event_type
        AND bb.bin = g.bin AND bb.period = 'b'
)
SELECT event_type,
       {round6_sql('sum((p - q) * ln(p / q))')} AS psi,
       CAST(count(*) AS BIGINT) AS n_bins
FROM filled GROUP BY 1
"""


# --------------------------------------------------------------------------
# q176 — k-core peeling (iterative graph decomposition, unrolled oracle)
# --------------------------------------------------------------------------

_Q176_K = 90
_Q176_ROUNDS = 3


def q176_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three peeling rounds toward the k-core (k=90, between the p10 and median degree at every SF, so each round genuinely peels) of the part co-purchase
    graph: each round drops every node with degree < k and the edges
    touching it — the iterative graph-decomposition class (community
    cores, spam-cluster trimming) distinct from q72's label propagation
    and q161's value iteration because the GRAPH ITSELF shrinks each
    round. A fixed round count keeps the oracle expressible as unrolled
    CTEs; full k-core = loop until a 1-row 'any node dropped?' aggregate
    says stop.

    Scale shape: per round one degree aggregate + two semi-joins — all
    edge-sized shuffles on node keys; the frontier never materializes
    driver-side."""
    # _copurchase_edges already localCheckpoints eagerly — re-checkpointing
    # would run one full extra job and store a second executor copy.
    edges = _copurchase_edges(spark, sf_dir)
    rounds = []
    for _ in range(_Q176_ROUNDS):
        deg = (
            edges.select(F.col("u").alias("n"))
            .unionAll(edges.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= _Q176_K).select("n")
        # Lazy checkpoint + ONE combined stats aggregate = a single job
        # per round (was three: eager checkpoint, node-count, edge-count).
        # The stats action materializes the checkpoint as a side effect;
        # exploding (u, v) counts every edge twice — so n_edges is an
        # exact count(*)/2 — and distinct endpoints in the same pass.
        edges = (
            edges.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        stats = (
            edges.select(F.explode(F.array("u", "v")).alias("n"))
            .agg(
                F.countDistinct("n").alias("nodes"),
                (F.count(F.lit(1)) / F.lit(2)).cast("long").alias("nedges"),
            )
            .collect()[0]
        )
        rounds.append((len(rounds) + 1, stats["nodes"], stats["nedges"]))
    return spark.createDataFrame(
        rounds, "round int, n_nodes long, n_edges long"
    )


def _q176_round_sql() -> str:
    # AS MATERIALIZED: DuckDB inlines plain CTEs, so every later
    # reference would recompute the lineitem self-join — at sf0.1 that
    # spilled temp storage to disk exhaustion. Materializing pins each
    # round to one evaluation (Spark's localCheckpoint twin).
    sql = ""
    prev = "e0"
    for i in range(1, _Q176_ROUNDS + 1):
        sql += f""", d{i} AS MATERIALIZED (
  SELECT n, count(*) AS d FROM (
    SELECT u AS n FROM {prev} UNION ALL SELECT v AS n FROM {prev}
  ) GROUP BY 1
), k{i} AS (
  SELECT n FROM d{i} WHERE d >= {_Q176_K}
), e{i} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT n FROM k{i}) AND v IN (SELECT n FROM k{i})
)"""
        prev = f"e{i}"
    return sql


Q176_ORACLE = f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
){_q176_round_sql()}
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT {i} AS round, "
      f"(SELECT CAST(count(DISTINCT n) AS BIGINT) FROM ("
      f"SELECT u AS n FROM e{i} UNION ALL SELECT v AS n FROM e{i})) "
      f"AS n_nodes, "
      f"(SELECT CAST(count(*) AS BIGINT) FROM e{i}) AS n_edges"
      for i in range(1, _Q176_ROUNDS + 1)
  )}
)
"""


# --------------------------------------------------------------------------
# q177 — quantile normalization across sources (batch-effect correction)
# --------------------------------------------------------------------------


def q177_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize document lengths across sources: each doc's
    within-source percent_rank is mapped onto the GLOBAL length
    distribution via a 101-point exact-percentile grid — the
    batch-effect correction that makes per-source features comparable
    (microarray heritage, now feature-prep). Grid index =
    floor(rank·100), floor not round: a .5 product would hit the
    engines' different round-half rules. Reported per source: mean raw
    vs mean normalized length (normalization visibly collapses the
    spread).

    Scale shape: one rank window per source; the global grid is a 1-row
    aggregate crossJoined (101 doubles, broadcast-trivial); the mapping
    is an element_at in the scan stage. Exact percentile swaps for
    percentile_approx at 100 TB, plumbing unchanged."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    probs = [i / 100.0 for i in range(101)]
    grid = docs.agg(
        F.expr(
            f"percentile(n_chars, array({', '.join(str(p) for p in probs)}))"
        ).alias("grid")
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "n_chars", F.percent_rank().over(w).alias("pr")
    )
    idx = F.floor(F.col("pr") * 100).cast("int")
    mapped = ranked.crossJoin(F.broadcast(grid)).select(
        "source",
        "n_chars",
        F.element_at(F.col("grid"), idx + 1).alias("norm"),
    )
    return mapped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round6(F.avg("n_chars")).alias("mean_raw"),
        round6(F.avg("norm")).alias("mean_norm"),
    )


Q177_ORACLE = f"""
WITH grid AS (
  SELECT quantile_cont(n_chars,
           [{', '.join(str(i / 100.0) for i in range(101))}]) AS g
  FROM documents
), ranked AS (
  SELECT source, n_chars,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS pr
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       {round6_sql('avg(n_chars)')} AS mean_raw,
       {round6_sql('avg(g[CAST(floor(pr * 100) AS INT) + 1])')} AS mean_norm
FROM ranked, grid
GROUP BY source
"""


# --------------------------------------------------------------------------
# q178 — quarantine / dead-letter routing for malformed records
# --------------------------------------------------------------------------


def q178_quarantine_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter semantics for semi-structured ingestion: every 7th
    record's JSON payload is deterministically corrupted (truncated —
    trailing-garbage corruption would NOT work: Spark's Jackson parser
    accepts it while DuckDB's json_valid rejects it, an engine-semantics
    split this query deliberately stays out of), then the batch is routed ok/quarantine by parse outcome —
    ``from_json`` in its default PERMISSIVE stance yields null for
    malformed input instead of failing the task, which IS the
    quarantine-pipeline contract (count, never crash; the reference's
    per-task error isolation O2 applied to record-level parsing).
    Reported per route: row count, payload-field sum, distinct users.

    Scale shape: parse + route are scan-stage expressions; the report
    is a 2-group aggregate. A real pipeline writes the quarantine route
    to its own sink — one extra filter on the same scan."""
    ev = table(spark, sf_dir, "events")
    raw = ev.select(
        "event_id",
        "user_id",
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substring(props, 1, length(props) - 2)"),
        )
        .otherwise(F.col("props"))
        .alias("raw"),
    )
    parsed = raw.withColumn("j", F.from_json("raw", "k INT"))
    valid = F.col("j").isNotNull() & F.col("j.k").isNotNull()
    return (
        parsed.select(
            F.when(valid, "ok").otherwise("quarantine").alias("route"),
            F.when(valid, F.col("j.k")).alias("k"),
            "user_id",
        )
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


Q178_ORACLE = """
WITH raw AS (
  SELECT event_id, user_id,
         CASE WHEN event_id % 7 = 0 THEN substr(props, 1, length(props) - 2)
              ELSE props END AS raw
  FROM events
), safe AS (
  -- json_extract_string RAISES on malformed input under some vectorized
  -- plans even inside a json_valid()-guarded CASE branch (bit at sf0.1
  -- only); sanitize the payload first so extraction is always legal.
  SELECT user_id, json_valid(raw) AS ok_json,
         CASE WHEN json_valid(raw) THEN raw ELSE '{}' END AS raw
  FROM raw
), cls AS (
  -- Route on INT-castability (TRY_CAST), mirroring Spark's
  -- from_json("k INT").k IS NOT NULL: a present-but-non-integer k must
  -- quarantine on BOTH sides.
  SELECT CASE WHEN ok_json
                AND TRY_CAST(json_extract_string(raw, '$.k') AS INT)
                      IS NOT NULL
              THEN 'ok' ELSE 'quarantine' END AS route,
         CASE WHEN ok_json
              THEN TRY_CAST(json_extract_string(raw, '$.k') AS INT) END AS k,
         user_id
  FROM safe
)
SELECT route, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM cls GROUP BY 1
"""


# --------------------------------------------------------------------------
# q179 — RANGE-offset streaming source (offset contract = pushed predicate)
# --------------------------------------------------------------------------


def q179_range_offset_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats streamed through the engine's RANGE-offset
    connector (sources/replay_stream.py:EventsRangeStreamReader): offsets
    are EVENT-TIME boundaries derived from parquet footer statistics, and
    each micro-batch's ``[lo, hi)`` range is pushed into the pyarrow scan
    as a dataset filter — row groups outside the range are pruned from
    STATISTICS, before any page decode. This is the production offset
    design (Kafka timestamps / CDC LSNs / time-partitioned files) that
    q163's modulo-offset reader documents as its own upgrade path: the
    offset contract itself becomes scan pruning. Asserts one micro-batch
    per time slice; final complete-mode state equals the batch
    aggregation (the oracle).

    Scale shape: driver holds the boundary list (footer stats only — no
    data scan); per batch the source plans `readers` partitions whose
    range predicate prunes row groups reader-side; aggregation state
    lives in the state store exactly as with built-in sources."""
    from wetsa_cams_solrad_timeseries_spark.sources.replay_stream import (
        register_events_replay_source,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import drain_rows

    register_events_replay_source(spark)
    n_slices = 2
    src = (
        spark.readStream.format("events_range_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("slices", str(n_slices))
        .load()
    )
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        round6(F.sum("value")).alias("sum_value"),
        round6(F.avg("value")).alias("avg_value"),
    )
    n_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    return drain_rows(
        spark,
        agg,
        n_rows=n_rows,
        output_mode="complete",
        min_fed_batches=n_slices,
        what="range-offset replay (one batch per offset advance)",
    )


Q179_ORACLE = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       {round6_sql('sum(value)')} AS sum_value,
       {round6_sql('avg(value)')} AS avg_value
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# q180 — point-in-time (PIT) feature join against an SCD2 timeline
# --------------------------------------------------------------------------


def q180_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE feature-store correctness operator: join each training example
    (purchase events) to the dimension version that was valid AT ITS
    EVENT TIME — never a later one (that would be target leakage, the
    bug point-in-time joins exist to prevent). The dimension is the
    per-user SCD2 status timeline built from the user's non-purchase
    events (streaming/scd2_stream.py:scd2_versions, the batch twin of
    q147's streamed merge); purchases before the first version get NULL
    (no feature existed yet — the honest answer, not a fill).

    Plan: because SCD2 intervals are consecutive, interval containment
    equals "latest valid_from <= ts" — so the PIT join IS the as-of join
    (operators/joins.py:asof_join): one shuffle of |facts|+|versions|
    keyed by user, one window sort, no interval explosion and no range
    join. Zero-width versions (superseded at the same timestamp) are
    dropped first so the as-of pick is well-defined and matches the
    containment oracle exactly.

    Scale shape: as-of join cost — shuffle + sort per user key; version
    history rides the same partitioning as the facts. At 100 TB this is
    the standard PIT plan (Feast/Tecton compile to exactly this shape).
    """
    from wetsa_cams_solrad_timeseries_spark.operators.joins import asof_join
    from wetsa_cams_solrad_timeseries_spark.streaming.scd2_stream import (
        scd2_versions,
    )

    ev = table(spark, sf_dir, "events")
    dim_pts = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id", "event_type"
    )
    ver = scd2_versions(dim_pts, key="user_id", ts_col="ts", attr="event_type")
    dim = ver.filter(
        F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from"))
    ).select("user_id", "valid_from", "status", "version")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pit_ts"),
        round6(F.col("value")).alias("purchase_value"),
    )
    out = asof_join(
        facts,
        dim,
        left_ts="pit_ts",
        right_ts="valid_from",
        by=["user_id"],
        right_cols=["status", "version"],
        how="left",
    )
    return out.select(
        "user_id", "purchase_id", "pit_ts", "purchase_value",
        "status", "version",
    )


Q180_ORACLE = """
WITH pts AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events WHERE event_type <> 'purchase'
), ch AS (
  SELECT user_id, ts AS valid_from, event_id AS from_event,
         event_type AS status
  FROM pts WHERE prev IS NULL OR prev <> event_type
), ver AS (
  SELECT user_id, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, from_event) AS valid_to,
         status,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY valid_from, from_event) AS BIGINT)
           AS version
  FROM ch
), dim AS (
  SELECT * FROM ver WHERE valid_to IS NULL OR valid_to > valid_from
), facts AS (
  SELECT user_id, event_id AS purchase_id, ts AS pit_ts,
         round(value + 1e-9, 6) AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT f.user_id, f.purchase_id, f.pit_ts, f.purchase_value,
       d.status, d.version
FROM facts f LEFT JOIN dim d
  ON d.user_id = f.user_id AND d.valid_from <= f.pit_ts
 AND (d.valid_to IS NULL OR f.pit_ts < d.valid_to)
"""


# --------------------------------------------------------------------------
# q181 — dynamic pivot (long → wide relational reshape)
# --------------------------------------------------------------------------

_Q181_TYPES = ("click", "view", "purchase", "signup", "error")


def q181_dynamic_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational pivot: daily activity reshaped long → wide with one
    avg-value column per event type — the `.pivot()` API surface the
    inventory's export-only pivot (R1, netcdf dense grid) doesn't cover.
    The pivot values are passed EXPLICITLY: without them Spark runs an
    extra distinct-scan job to discover the column set and the output
    schema becomes data-dependent — the wrong default for a production
    pipeline (schema drift on a new enum value) and for a 100 TB scan
    (a full pass just to name columns).

    Scale shape: pivot with known values compiles to exactly the q126
    conditional-aggregation shape — one hash aggregate, map-side
    combine, output width fixed by the value list. No extra job, no
    second pass."""
    ev = table(spark, sf_dir, "events")
    piv = (
        ev.select(F.to_date("ts").alias("day"), "event_type", "value")
        .groupBy("day")
        .pivot("event_type", list(_Q181_TYPES))
        .agg(F.round(F.avg("value") + F.lit(1e-9), 6))
    )
    return piv.select(
        "day", *[F.col(t).alias(f"avg_{t}") for t in _Q181_TYPES]
    )


Q181_ORACLE = f"""
SELECT CAST(ts AS DATE) AS day,
       {', '.join(
           f"round(avg(CASE WHEN event_type = '{t}' THEN value END) + 1e-9, 6)"
           f" AS avg_{t}" for t in _Q181_TYPES
       )}
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# q182 — stratified train/val/test split assignment (hash-based)
# --------------------------------------------------------------------------


def q182_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment for a training corpus:
    each document lands in a split by a salted content-key hash
    (hash32("split_" || doc_id) % 100 → 80/10/10), so membership is
    REPRODUCIBLE across runs, engines, and repartitions — no rand(), no
    sampleBy (both are seed- and partitioning-dependent, the classic
    train/test contamination bug when a pipeline is re-run). The audit
    reports, per (lang, split): document count, token mass, and the
    realized share within the language — the check that hash splitting
    kept every stratum close to 80/10/10.

    vs q86 (pipeline_ops): q86 is the global split on the raw digest's
    leading hex char (coarse 16ths, corpus-level rollup). This query is
    the STRATIFIED audit — percent-exact bucket arithmetic, a salt so
    re-splitting with a new salt is independent of the old assignment,
    and per-stratum shares (the quantity a skewed-language corpus can
    silently get wrong even when the global 80/10/10 holds).

    Scale shape: assignment is a scan-stage expression (no shuffle, no
    state); the audit is one grouped aggregate plus a broadcast-sized
    per-lang total join. At 100 TB the assignment column is written once
    and every trainer filters on it — the split IS the data, not a
    runtime coin flip."""
    from wetsa_cams_solrad_timeseries_spark.functions.hashing import hash32

    docs = table(spark, sf_dir, "documents")
    bucket = hash32(
        F.concat(F.lit("split_"), F.col("doc_id").cast("string"))
    ) % 100
    tagged = docs.select(
        "lang",
        "n_chars",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    per = tagged.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    tot = per.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return per.join(F.broadcast(tot), on="lang").select(
        "lang",
        "split",
        "n_docs",
        "sum_chars",
        round6(F.col("n_docs") / F.col("n_lang")).alias("share"),
    )


Q182_ORACLE = f"""
WITH tagged AS (
  SELECT lang, n_chars,
         CASE WHEN {hash32_sql_duckdb("'split_' || CAST(doc_id AS VARCHAR)")} % 100 < 80
              THEN 'train'
              WHEN {hash32_sql_duckdb("'split_' || CAST(doc_id AS VARCHAR)")} % 100 < 90
              THEN 'val' ELSE 'test' END AS split
  FROM documents
), per AS (
  SELECT lang, split, count(*) AS n_docs, sum(n_chars) AS sum_chars
  FROM tagged GROUP BY 1, 2
)
SELECT lang, split, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sum_chars AS BIGINT) AS sum_chars,
       {round6_sql('n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang)')}
         AS share
FROM per
"""


# --------------------------------------------------------------------------
# q183 — bounded-state streaming dedup (dropDuplicatesWithinWatermark)
# --------------------------------------------------------------------------


def q183_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-STATE production form of q82's streaming dedup:
    ``withWatermark(ts, delay).dropDuplicatesWithinWatermark(keys)`` —
    state for a key is GC'd once the event-time watermark passes its
    last occurrence plus the delay, which is what keeps an UNBOUNDED
    stream's dedup state finite (q82's plain dropDuplicates holds one
    state entry per distinct key forever). Same kernel
    (streaming/dedup_stream.py), same multi-batch replay, same loud
    single-batch failure.

    With the delay covering the replayed span, every recurrence falls
    inside the retention window and the result equals exact DISTINCT —
    so the batch oracle pins that the bounded operator drops NOTHING it
    shouldn't (the only divergence a correct implementation may show is
    re-emitting a key whose state was already GC'd, which the
    span-covering delay rules out here; the parity is additionally
    pytest-locked in tests/test_streaming_semantics.py).

    Scale shape: state = keys seen within the watermark horizon, not
    all keys ever — the difference between O(active window) and
    O(lifetime cardinality) at 100 TB."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _split_events
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
        within_watermark="45 days",
    )


Q183_ORACLE = """
SELECT DISTINCT user_id, event_type
FROM events
"""


# --------------------------------------------------------------------------
# q184 — calendar-spine business days with a holiday dimension
# --------------------------------------------------------------------------


def q184_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→first-ship latency in business days EXCLUDING holidays —
    the calendar-dimension plan q169's closed-form counter documents as
    its extension path. The engine GENERATES the calendar spine
    (sequence over the data's own date bounds — computed distributed,
    never collected to the driver), marks weekends and a fixed-date
    holiday list (Jan 1 / Jul 4 / Dec 25), and pre-computes a RUNNING
    BUSINESS-DAY INDEX over the spine. Business days between two dates
    is then idx(ship) − idx(order): two broadcast equi-joins on exact
    date, O(1) per fact row.

    This is the scalable calendar form — the naive alternative (range
    join fact × calendar, count matching days) explodes every order
    into its latency-many calendar rows and needs a theta-join; the
    index form touches each fact row twice via hash lookups. The
    running index itself is a window over the CALENDAR (dimension-sized,
    ~2.5k rows — bounded by the date span, never by the fact table), so
    the one-partition window is a non-issue by construction.

    Scale shape: one min-agg shuffle on l_orderkey, the orders join on
    the same key, two broadcast joins against the ~2.5k-row indexed
    spine, one priority-sized rollup."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship")
    )
    facts = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("order_d"),
    ).join(first_ship, o.o_orderkey == first_ship.l_orderkey)

    # Date bounds as a 1-row frame (distributed agg, no driver pull),
    # computed from COLUMN-PRUNED scans of the raw tables rather than
    # the facts subtree — deriving bounds from `facts` would execute the
    # min-agg + orders join lineage once per downstream use (it feeds
    # both broadcast spine sides plus the main join = 3 full passes).
    # The raw min/max is a superset range; a wider spine only shifts
    # every index by a constant, which the idx(ship) − idx(order)
    # difference cancels.
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo")
    ).crossJoin(
        F.broadcast(
            li.agg(F.max(F.col("l_shipdate").cast("date")).alias("hi"))
        )
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    # Weekend via Spark dayofweek (Sun=1..Sat=7); holidays by fixed
    # (month, day) — both pure date arithmetic, engine-portable.
    is_weekend = F.dayofweek("day").isin(1, 7)
    is_holiday = F.concat_ws(
        "-", F.month("day"), F.dayofmonth("day")
    ).isin("1-1", "7-4", "12-25")
    cal = spine.select(
        "day",
        F.when(is_weekend | is_holiday, 0).otherwise(1).alias("is_bus"),
    )
    from pyspark.sql import Window as _W

    # localCheckpoint: the indexed spine feeds BOTH broadcast sides;
    # without it each side re-executes bounds→sequence→window (2× the
    # spine lineage, ~4 extra exchanges). Eager + ~2.5k rows → trivial
    # cost, same GC-managed pattern as q161/q176's iteration state.
    cal_idx = cal.select(
        "day",
        F.sum("is_bus")
        .over(_W.orderBy("day").rowsBetween(_W.unboundedPreceding, 0))
        .alias("bidx"),
    ).localCheckpoint(eager=True)
    c1 = cal_idx.select(F.col("day").alias("order_d"), F.col("bidx").alias("i0"))
    c2 = cal_idx.select(F.col("day").alias("first_ship"), F.col("bidx").alias("i1"))
    lat = (
        facts.join(F.broadcast(c1), "order_d")
        .join(F.broadcast(c2), "first_ship")
        .select(
            "o_orderpriority",
            (F.col("i1") - F.col("i0")).alias("bus_days"),
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        round6(F.avg("bus_days")).alias("avg_bus_days"),
        F.max("bus_days").alias("max_bus_days"),
    )


Q184_ORACLE = f"""
WITH first_ship AS (
  SELECT l_orderkey, CAST(min(l_shipdate) AS DATE) AS first_ship
  FROM lineitem GROUP BY 1
), facts AS (
  SELECT o.o_orderpriority, CAST(o.o_orderdate AS DATE) AS order_d,
         f.first_ship
  FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
), bounds AS (
  SELECT min(order_d) AS lo, max(first_ship) AS hi FROM facts
), spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM bounds
), cal AS (
  SELECT day,
         CASE WHEN isodow(day) IN (6, 7)
                OR (CAST(month(day) AS VARCHAR) || '-' ||
                    CAST(dayofmonth(day) AS VARCHAR))
                    IN ('1-1', '7-4', '12-25')
              THEN 0 ELSE 1 END AS is_bus
  FROM spine
), cal_idx AS (
  SELECT day, sum(is_bus) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS bidx
  FROM cal
)
SELECT f.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {round6_sql('avg(c2.bidx - c1.bidx)')} AS avg_bus_days,
       CAST(max(c2.bidx - c1.bidx) AS BIGINT) AS max_bus_days
FROM facts f
JOIN cal_idx c1 ON c1.day = f.order_d
JOIN cal_idx c2 ON c2.day = f.first_ship
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q185 — two-dimensional range query over the z-ordered layout
# --------------------------------------------------------------------------

_Q185_TOKEN = __import__("uuid").uuid4().hex[:12]


def q185_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query form q120's z-order manifest promises: events are
    sort-WRITTEN by the Morton key (``repartitionByRange(z) +
    sortWithinPartitions(z)`` — a normal distributed sort), then a
    TWO-dimensional rectangle predicate (a < 32 AND b < 32) runs against
    the layout. Because a contiguous z range bounds a small (a, b)
    rectangle, per-file footer statistics are narrow in BOTH interleaved
    dimensions and most files are skippable — single-column sorting can
    only ever prune one of the two. The fn PROVES the skip at footer
    level on every execution (pyarrow metadata: the candidate file set
    for the rectangle must be under half the layout) and RAISES
    otherwise — same driver-visible-property contract as q91's
    PartitionFilters assert. The oracle runs the identical rectangle on
    the raw table: pruning must be lossless.

    Scale shape: layout write is one range-partitioned sort (once, like
    any OPTIMIZE/ZORDER maintenance job); the query is then a scan whose
    row-group/file pruning is proportional to the rectangle, not the
    table. Aggregates go through the exact-decimal sum because the
    rewritten layout reorders rows — the case round6 alone cannot
    stabilize."""
    import glob
    import os
    import tempfile

    import pyarrow.parquet as pq

    from wetsa_cams_solrad_timeseries_spark._artifacts import claim_artifact_dir
    from wetsa_cams_solrad_timeseries_spark.plans.curation import _zvalue

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    zdir = claim_artifact_dir(
        os.path.join(tempfile.gettempdir(), f"wetsa_zorder_*_{sf_tag}"),
        _Q185_TOKEN,
        os.path.join(
            tempfile.gettempdir(), f"wetsa_zorder_{_Q185_TOKEN}_{sf_tag}"
        ),
    )
    if not os.path.exists(os.path.join(zdir, "_SUCCESS")):
        ev = table(spark, sf_dir, "events")
        a = (F.col("user_id") % 256).cast("int")
        b = F.least(
            F.lit(255), F.greatest(F.lit(0), F.floor(F.col("value") * 2.55))
        ).cast("int")
        keyed = ev.select(
            "event_type", "value", a.alias("a"), b.alias("b")
        ).withColumn("z", _zvalue(F.col("a"), F.col("b")))
        (
            keyed.repartitionByRange(16, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(zdir)
        )

    # Footer-level skip proof: files whose (a, b) envelope intersects the
    # rectangle. This is the math any lakehouse reader runs; if the
    # z-layout stopped confining the corner, the property is gone and the
    # query must fail loudly rather than silently full-scan.
    cand = nonempty = 0
    for f in sorted(glob.glob(os.path.join(zdir, "part-*.parquet"))):
        md = pq.read_metadata(f)
        if md.num_rows == 0:
            continue
        nonempty += 1
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats = [
            (md.row_group(rg).column(idx["a"]).statistics,
             md.row_group(rg).column(idx["b"]).statistics)
            for rg in range(md.num_row_groups)
        ]
        if any(sa is None or sb is None for sa, sb in stats):
            raise RuntimeError(
                f"z-order layout file {f} carries no column statistics — "
                "nothing to prune against"
            )
        lo_a = min(sa.min for sa, _ in stats)
        lo_b = min(sb.min for _, sb in stats)
        if lo_a < 32 and lo_b < 32:
            cand += 1
    # Confinement is only MEASURABLE on a genuinely multi-file layout;
    # at a tiny SF where the sort-write leaves <4 non-empty files there
    # is nothing to skip and nothing to prove (cand==nonempty==1 is the
    # correct outcome there, not a lost property). cand==0 would mean
    # the rectangle's own data vanished — always wrong, any layout.
    if cand == 0:
        raise RuntimeError(
            "z-order skip proof found no candidate file for the 32x32 "
            f"corner across {nonempty} files — the layout lost the data"
        )
    if nonempty >= 4 and cand > nonempty // 2:
        raise RuntimeError(
            f"z-order layout did not confine the 32x32 corner: "
            f"{cand}/{nonempty} candidate files (expected <= half)"
        )

    return (
        spark.read.parquet(zdir)
        .filter((F.col("a") < 32) & (F.col("b") < 32))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            round6(exact_sum("value")).alias("sum_value"),
            F.max("a").alias("max_a"),
            F.max("b").alias("max_b"),
        )
    )


Q185_ORACLE = f"""
WITH keyed AS (
  SELECT event_type, value,
         CAST(user_id % 256 AS INTEGER) AS a,
         CAST(least(255, greatest(0, floor(value * 2.55))) AS INTEGER) AS b
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       {round6_sql(exact_sum_sql('value'))} AS sum_value,
       max(a) AS max_a, max(b) AS max_b
FROM keyed
WHERE a < 32 AND b < 32
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q186 — Kafka-shaped keyed streaming source (per-partition offset map)
# --------------------------------------------------------------------------


def q186_keyed_offset_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity stats streamed through the engine's
    Kafka-SHAPED connector (sources/replay_stream.py:
    EventsKeyedStreamReader): the offset is a PER-PARTITION position map
    — the key space hashes into independent ordered logs, each log's
    position advances on its own, a commit is a vector of positions,
    and a restart resumes every partition from its own watermark. This
    completes the module's offset-design trilogy: q163 = monotone
    counter, q179 = event-time RANGE boundaries, q186 = partition
    map — the three shapes real connectors (file replay, time-ordered
    CDC, Kafka topics) actually use. Asserts the replay spread over the
    configured number of micro-batches; final complete-mode state
    equals the batch aggregation (the oracle).

    Scale shape: driver state is one integer per partition; each batch
    plans one InputPartition per keyed log, served executor-side in
    Arrow batches. Per-key ORDER holds within a partition (the Kafka
    guarantee) — which is exactly why keyed processors downstream can
    fold per-key state without a sort."""
    from wetsa_cams_solrad_timeseries_spark.sources.replay_stream import (
        register_events_replay_source,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming._drain import drain_rows

    register_events_replay_source(spark)
    n_batches = 2
    src = (
        spark.readStream.format("events_keyed_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("partitions", "4")
        .option("batches", str(n_batches))
        .load()
    )
    agg = src.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        round6(F.avg("value")).alias("avg_value"),
        F.max("value").alias("max_value"),
    )
    n_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    return drain_rows(
        spark,
        agg,
        n_rows=n_rows,
        output_mode="complete",
        min_fed_batches=n_batches,
        what="keyed-offset replay (one batch per offset advance)",
    )


Q186_ORACLE = f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       {round6_sql('avg(value)')} AS avg_value,
       max(value) AS max_value
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# q187 — greedy sequence packing (non-spanning bin fold)
# --------------------------------------------------------------------------

_Q187_BUDGET = 2000


def q187_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-example packing WITHOUT document spanning: per language,
    walk documents in doc_id order and fill ≤2000-char bins; a document
    that does not fit OPENS the next bin (oversized documents get a bin
    alone). The per-bin report (doc count, char mass, fill ratio) is
    what a packing job emits to size its training shards.

    This is the OTHER packing from q114: concat-and-chunk (q114) lets
    items span shard boundaries, so the boundary is a closed form over
    the prefix sum — embarrassingly parallel. No-span packing is a
    NON-associative fold (the boundary depends on the running
    remainder), so the faithful plan is the per-key ordered scan
    (operators/sequential.py:greedy_pack, q154's applyInPandas shape)
    and the oracle is a recursive CTE replaying the same recurrence.

    Scale shape: shuffle by language, O(1) fold state per key; millions
    of independent keys → full cluster width. The recursion lives in
    the ORACLE only — the engine side is one pass."""
    from wetsa_cams_solrad_timeseries_spark.operators.sequential import (
        greedy_pack,
    )

    docs = table(spark, sf_dir, "documents")
    packed = greedy_pack(
        docs, key="lang", order_col="doc_id", size_col="n_chars",
        budget=_Q187_BUDGET,
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        round6(F.sum("n_chars") / F.lit(float(_Q187_BUDGET))).alias(
            "fill_ratio"
        ),
    )


Q187_ORACLE = f"""
WITH RECURSIVE ordered AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
), rec AS (
  SELECT lang, doc_id, n_chars, rn,
         CAST(0 AS BIGINT) AS bin_id, n_chars AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.lang, o.doc_id, o.n_chars, o.rn,
         CASE WHEN r.fill + o.n_chars <= {_Q187_BUDGET}
              THEN r.bin_id ELSE r.bin_id + 1 END,
         CASE WHEN r.fill + o.n_chars <= {_Q187_BUDGET}
              THEN r.fill + o.n_chars ELSE o.n_chars END
  FROM ordered o JOIN rec r ON o.lang = r.lang AND o.rn = r.rn + 1
)
SELECT lang, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       {round6_sql(f'sum(n_chars) / {_Q187_BUDGET}.0')} AS fill_ratio
FROM rec GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q188 — deterministic negative sampling for contrastive training
# --------------------------------------------------------------------------

_Q188_K = 3


def q188_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-pair generation for contrastive/embedding training:
    every anchor vector gets K=3 pseudo-random negatives WITHOUT a cross
    join and WITHOUT engine RNG — the partner is a hash-offset on the
    id ring, ``neg = (anchor + 1 + h(anchor, k) mod (n−1)) mod n``,
    which is uniform over the other ids, collision-free with the anchor
    by construction, and REPRODUCIBLE across runs, engines, and
    partitionings (the md5 bridge; rand() would re-deal every run — the
    classic irreproducible-training-pairs bug). Each pair carries the
    exact cosine and a same-label flag so a trainer can drop false
    negatives — the cosine is computed JVM-side with
    ``zip_with``/``aggregate`` higher-order functions, no Python.

    Scale shape: pair construction is a scan-stage expression; the ONLY
    shuffle is the equi-join that fetches the partner's vector and
    label (corpus-linear, K rows per anchor). The n-row count rides a
    1-row broadcast. Contrast the naive crossJoin-then-sample, which is
    Θ(n²) before the sample."""
    from wetsa_cams_solrad_timeseries_spark.functions.hashing import hash32

    emb = table(spark, sf_dir, "embeddings")
    n1 = emb.agg((F.max("vec_id") + 1).alias("n"))
    offs = F.array(
        *[
            hash32(
                F.concat(
                    F.lit(f"neg{k}_"), F.col("vec_id").cast("string")
                )
            )
            % (F.col("n") - 1)
            + 1
            for k in range(_Q188_K)
        ]
    )
    cand = (
        emb.crossJoin(F.broadcast(n1))
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").alias("ea"),
            "n",
            F.posexplode(offs).alias("k", "off"),
        )
        .select(
            "anchor_id",
            "anchor_label",
            "ea",
            (F.col("k") + 1).cast("long").alias("neg_rank"),
            ((F.col("anchor_id") + F.col("off")) % F.col("n")).alias("neg_id"),
        )
    )
    partner = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("eb"),
    )
    j = cand.join(partner, "neg_id")

    # Native element-wise Cast instead of an interpreted transform
    # lambda (guide §4.1). The dot itself stays the aggregate fold: the
    # candidate set is K·n pairs but the r13 unroll measurement showed
    # the unrolled 64-term tree is TIME-NEUTRAL here (0.98 → 0.97 s)
    # while tripling the plan text — below the keep bar.
    def to_d(c):
        return c.cast("array<double>")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    va, vb = to_d(F.col("ea")), to_d(F.col("eb"))
    cos = dot(va, vb) / F.sqrt(dot(va, va) * dot(vb, vb))
    return j.select(
        "anchor_id",
        "neg_rank",
        "neg_id",
        (F.col("anchor_label") == F.col("neg_label")).alias("same_label"),
        F.round(cos + F.lit(1e-9), 6).alias("cosine"),
    )


Q188_ORACLE = f"""
WITH n1 AS (SELECT max(vec_id) + 1 AS n FROM embeddings),
cand AS (
  SELECT e.vec_id AS anchor_id, e.label AS anchor_label,
         CAST(t.k + 1 AS BIGINT) AS neg_rank,
         (e.vec_id
          + ({hash32_sql_duckdb("'neg' || CAST(t.k AS VARCHAR) || '_' || CAST(e.vec_id AS VARCHAR)")}
             % (n.n - 1)) + 1) % n.n AS neg_id
  FROM embeddings e CROSS JOIN n1 n CROSS JOIN range({_Q188_K}) t(k)
),
joined AS (
  SELECT c.anchor_id, c.neg_rank, c.neg_id,
         c.anchor_label = p.label AS same_label,
         CAST(a.embedding AS DOUBLE[]) AS va,
         CAST(p.embedding AS DOUBLE[]) AS vb
  FROM cand c
  JOIN embeddings p ON p.vec_id = c.neg_id
  JOIN embeddings a ON a.vec_id = c.anchor_id
)
SELECT anchor_id, neg_rank, neg_id, same_label,
       round(list_sum([va[i] * vb[i] FOR i IN range(1, 65)])
             / sqrt(list_sum([va[i] * va[i] FOR i IN range(1, 65)])
                    * list_sum([vb[i] * vb[i] FOR i IN range(1, 65)]))
             + 1e-9, 6) AS cosine
FROM joined
"""


# --------------------------------------------------------------------------
# q189 — unpivot / melt (wide → long relational reshape)
# --------------------------------------------------------------------------

_Q189_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q189_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q181's inverse: the wide lineitem measure block melted to long
    form with the native ``unpivot`` operator (Spark ≥3.4 — compiles to
    one Expand node, NOT a union of N scans), then a per-(measure,
    returnflag) profile. Long form is what generic profilers, drift
    monitors, and metric stores consume — one row per (entity, metric)
    regardless of how many measure columns the source grows.

    Scale shape: Expand multiplies rows by the measure count in the
    SCAN stage (no extra pass over the table per measure — the
    union-of-selects spelling would scan 4×); the rollup is an ordinary
    grouped aggregate on a (measure × flag)-sized key space. Exact
    decimal sums (reordered accumulation vs the source layout)."""
    li = table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=list(_Q189_MEASURES),
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("measure", "l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        round6(exact_sum("val")).alias("sum_val"),
        round6(F.avg("val")).alias("avg_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


Q189_ORACLE = f"""
WITH long AS (
  SELECT l_returnflag, measure, val
  FROM lineitem
  UNPIVOT (val FOR measure IN ({', '.join(_Q189_MEASURES)}))
)
SELECT measure, l_returnflag, CAST(count(*) AS BIGINT) AS n,
       {round6_sql(exact_sum_sql('val'))} AS sum_val,
       {round6_sql('avg(val)')} AS avg_val,
       min(val) AS min_val, max(val) AS max_val
FROM long GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q190 — Holt double-exponential smoothing (forecasting primitive)
# --------------------------------------------------------------------------

_Q190_ALPHA, _Q190_BETA = 0.5, 0.3


def q190_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting baseline the inventory lacked: Holt's linear (double
    exponential) smoothing over each event type's DAILY count series —
    level and trend state folded through time, emitting the final state
    and the 1-step-ahead forecast (level + trend). The recurrence
    ``level_t = α·y_t + (1−α)(level_{t−1}+trend_{t−1})`` is a
    NON-associative ordered fold (same class as q154/q187), so the plan
    is: distributed daily aggregate first (the data-sized work), then a
    per-key applyInPandas scan over the tiny per-type series.

    Cross-engine float lockstep: both engines round level and trend to
    6 decimals AFTER EVERY STEP (q161's per-iteration resync
    precedent) — without it, 30 chained multiply-adds let DuckDB's
    vectorized/FMA arithmetic drift a ULP from Python's scalar ops and
    the final rounded digit can flip.

    Scale shape: the fold input is one row per (type, day) — aggregate-
    sized, not event-sized; millions of independent series → full
    cluster width via the q154 keyed-fold shape."""
    import math

    import pandas as pd

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )

    a, b = _Q190_ALPHA, _Q190_BETA

    def r6(x: float) -> float:
        # Half-away-from-zero with the repo's +1e-9 nudge — bit-matches
        # DuckDB round(x + 1e-9, 6) (python's round() banker's-rounds).
        y = x + 1e-9
        return math.copysign(math.floor(abs(y) * 1e6 + 0.5), y) / 1e6

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day", kind="mergesort")
        ys = pdf["y"].to_numpy(dtype=float)
        level, trend = float(ys[0]), 0.0
        for y in ys[1:]:
            prev = level
            level = r6(a * y + (1 - a) * (level + trend))
            trend = r6(b * (level - prev) + (1 - b) * trend)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(ys)],
                "level": [level],
                "trend": [trend],
                "forecast_1": [r6(level + trend)],
            }
        )

    out_schema = (
        "event_type string, n_days long, level double, trend double, "
        "forecast_1 double"
    )
    from wetsa_cams_solrad_timeseries_spark.operators.sequential import (
        _fold_by_key,
    )

    return _fold_by_key(daily, "event_type", fold, out_schema)


Q190_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
  FROM events GROUP BY 1, 2
), ordered AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
), rec AS (
  SELECT event_type, rn, CAST(y AS DOUBLE) AS level,
         CAST(0.0 AS DOUBLE) AS trend
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.rn,
         round({_Q190_ALPHA} * o.y
               + {1 - _Q190_ALPHA} * (r.level + r.trend) + 1e-9, 6),
         round({_Q190_BETA} * (round({_Q190_ALPHA} * o.y
               + {1 - _Q190_ALPHA} * (r.level + r.trend) + 1e-9, 6)
               - r.level)
               + {1 - _Q190_BETA} * r.trend + 1e-9, 6)
  FROM ordered o JOIN rec r
    ON o.event_type = r.event_type AND o.rn = r.rn + 1
)
SELECT r.event_type, CAST(r.rn AS BIGINT) AS n_days,
       r.level, r.trend,
       round(r.level + r.trend + 1e-9, 6) AS forecast_1
FROM rec r
JOIN (SELECT event_type, max(rn) AS m FROM rec GROUP BY 1) last
  ON last.event_type = r.event_type AND last.m = r.rn
"""


# --------------------------------------------------------------------------
# q191 — mergeable quantile sketch (fixed-centroid digest, q92 for quantiles)
# --------------------------------------------------------------------------

# Fixed centroid grid: bin = floor(price / 1024). The grid is a LITERAL
# (q56's literalized-centroids precedent), so per-shard summaries are
# deterministic regardless of partitioning and the DuckDB oracle can
# replay the identical sketch. l_extendedprice spans ~[900, 105000] →
# ≤ ~103 occupied bins at any SF.
_Q191_BIN_W = 1024.0
_Q191_LEVELS = (0.25, 0.5, 0.75, 0.9, 0.99)


def q191_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate-quantile sketch — the q92 (KMV merge)
    pattern applied to quantiles, i.e. the operator SCALING.md promises
    as q18's 100 TB replacement. Per shard (ship YEAR — stand-in for
    "per ingest batch / executor"), build a bounded fixed-centroid
    digest of l_extendedprice: for each grid bin, (weight = row count,
    s = EXACT-decimal value sum). Digests then merge LOSSLESSLY into
    the global digest by summing per-bin weights and sums — decimal
    addition is associative-exact, so merge(shards) ≡ sketch(union)
    bit-for-bit (tests/test_quantile_sketch.py proves it). Quantile
    read-off: first bin whose cumulative weight reaches q·N, estimate =
    that bin's centroid mean s/w. Engine-native sketches
    (percentile_approx / DuckDB approx_quantile) are unverifiable
    cross-engine by design (q50's reasoning), so the digest is built
    from portable expressions and the output carries the EXACT
    percentile alongside (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, the q18 pairing) — each row shows
    estimate-vs-truth in one look.

    Scale shape: one map-side-combinable groupBy(shard, bin) over the
    scan (the only data-sized stage), then all downstream work is on
    ≤ shards·bins rows. The cumulative-weight window is partition-less
    but GRID-bounded (≤ ~103 rows by the literal bin width, corpus-size
    independent) — allow-listed in tools/plan_report.py. The exact
    percentile runs at verification scale only; at 100 TB the digest IS
    the answer and that column is dropped."""
    li = table(spark, sf_dir, "lineitem")
    binned = li.select(
        F.year("l_shipdate").alias("shard"),
        F.floor(F.col("l_extendedprice") / F.lit(_Q191_BIN_W))
        .cast("int")
        .alias("bin"),
        "l_extendedprice",
    )
    # Per-shard digest rows. NOTE: decimal sum kept AS DECIMAL (not
    # _spec.exact_sum, which casts double) — the merge level must add
    # decimals to stay associative-exact.
    digests = binned.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).alias("s"),
    )
    return _q191_readoff(digests, li)


def _q191_readoff(digests: DataFrame, li: DataFrame) -> DataFrame:
    """Merge + quantile read-off + exact-audit tail over ANY pile of
    per-shard digest rows ``(…, bin, w, s)`` — shard structure is
    irrelevant because the decimal merge is associative-exact, which is
    precisely what lets q252 feed per-MICRO-BATCH digests through the
    identical tail and still match q191's oracle verbatim."""
    merged = digests.groupBy("bin").agg(
        F.sum("w").alias("mw"), F.sum("s").alias("ms")
    )
    from pyspark.sql import Window

    wspec = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        "bin",
        "mw",
        "ms",
        F.sum("mw").over(wspec).alias("cumw"),
        F.sum("mw").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    levels = F.array(*[F.lit(q) for q in _Q191_LEVELS])
    picked = (
        cum.select(F.explode(levels).alias("qlevel"), "bin", "mw", "ms", "cumw", "n")
        .filter(F.col("cumw") >= F.col("qlevel") * F.col("n"))
        .groupBy("qlevel")
        .agg(F.min(F.struct("bin", "mw", "ms")).alias("p"))
        .select(
            "qlevel",
            F.col("p.bin").alias("bin"),
            round6(F.col("p.ms").cast("double") / F.col("p.mw")).alias(
                "est_sketch"
            ),
        )
    )
    # ONE array-form exact percentile: percentile(col, array(...)) sorts
    # the column ONCE for all five levels — the five separate
    # percentile(col, q) aggregates each buffered and sorted the full
    # column independently (measured 8.75 s vs 3.65 s at sf0.1; VERDICT
    # r7 item 4). Same outputs, one buffer.
    levels_sql = ", ".join(str(q) for q in _Q191_LEVELS)
    exact = li.agg(
        F.expr(f"percentile(l_extendedprice, array({levels_sql}))").alias("ea")
    )
    stack_args = ", ".join(
        f"CAST({q} AS DOUBLE), round(ea[{i}] + 1e-9, 6)"
        for i, q in enumerate(_Q191_LEVELS)
    )
    exact_long = exact.select(
        F.expr(
            f"stack({len(_Q191_LEVELS)}, {stack_args}) AS (qlevel, exact_pct)"
        )
    )
    return picked.join(maybe_broadcast(exact_long), on="qlevel")


def q252_streaming_quantile_digest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q191's mergeable quantile digest as STREAMING STATE — the sketch
    family's answer to "what are the corpus percentiles while it is
    still arriving": each micro-batch reduces to its own bounded
    fixed-centroid digest (one groupBy(bin) inside the batch — the
    batch never leaves the executors row-wise) and appends it as a
    batchId-gated generation; the final read-off merges all committed
    digests by decimal-exact per-bin addition. Because the merge is
    associative-exact and shard structure is irrelevant to the merged
    digest, drained-and-merged ≡ one-pass batch sketch — the oracle is
    q191's SQL VERBATIM (the q244/q249 discipline), and a pytest
    asserts Spark-side row equality with q191.

    Scale shape: per micro-batch one map-side-combinable grouped
    aggregate producing ≤ ~103 rows (the literal grid bound), one
    append; the read-off works on generations·bins rows. This is the
    digest lifecycle a 100 TB ingest runs: per-batch summaries, exact
    merge, quantiles always current; the exact-percentile audit column
    runs at verification scale only."""
    from wetsa_cams_solrad_timeseries_spark.streaming.filter_stream import (
        streaming_transform,
    )

    li = table(spark, sf_dir, "lineitem")
    split_dir = _split_lineitem(spark, sf_dir)

    def digest(bdf: DataFrame) -> DataFrame:
        return (
            bdf.select(
                F.floor(F.col("l_extendedprice") / F.lit(_Q191_BIN_W))
                .cast("int")
                .alias("bin"),
                "l_extendedprice",
            )
            .groupBy("bin")
            .agg(
                F.count(F.lit(1)).alias("w"),
                F.sum(
                    F.col("l_extendedprice").cast("decimal(27,6)")
                ).alias("s"),
            )
        )

    digests = streaming_transform(spark, split_dir, digest)
    return _q191_readoff(digests, li)


def _split_lineitem(spark: SparkSession, sf_dir: str, n_files: int = 3) -> str:
    """Lineitem twin of curation._split_documents (same artifact
    discipline) — the multi-file replay input for fact-table streams."""
    import os
    import tempfile

    from wetsa_cams_solrad_timeseries_spark._artifacts import claim_artifact_dir
    from wetsa_cams_solrad_timeseries_spark.plans.pipeline_ops import (
        _PROC_TOKEN,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    split_dir = claim_artifact_dir(
        os.path.join(tempfile.gettempdir(), f"wetsa_li_split_*_{sf_tag}*"),
        _PROC_TOKEN,
        os.path.join(
            tempfile.gettempdir(),
            f"wetsa_li_split_{_PROC_TOKEN}_{sf_tag}_f{n_files}",
        ),
    )
    if not os.path.exists(os.path.join(split_dir, "_SUCCESS")):
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_extendedprice"
        ).repartition(n_files).write.mode("overwrite").parquet(split_dir)
    return split_dir


_Q191_LEVELS_SQL = ", ".join(f"CAST({q} AS DOUBLE)" for q in _Q191_LEVELS)
# Array-form exact side (mirrors the Spark change): one quantile_cont
# over one sort, unpacked per level. DuckDB lists are 1-indexed.
_Q191_EXACT_SQL = (
    "SELECT quantile_cont(l_extendedprice, ["
    + ", ".join(str(q) for q in _Q191_LEVELS)
    + "]) AS ea FROM lineitem"
)
_Q191_EXACT_UNPACK = " UNION ALL ".join(
    f"SELECT CAST({q} AS DOUBLE) AS qlevel, "
    f"{round6_sql(f'ea[{i + 1}]')} AS exact_pct FROM ex0"
    for i, q in enumerate(_Q191_LEVELS)
)

Q191_ORACLE = f"""
WITH binned AS (
  SELECT year(l_shipdate) AS shard,
         CAST(floor(l_extendedprice / {_Q191_BIN_W}) AS INTEGER) AS bin,
         l_extendedprice
  FROM lineitem
),
digests AS (
  SELECT shard, bin, count(*) AS w,
         sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS s
  FROM binned GROUP BY 1, 2
),
merged AS (
  SELECT bin, CAST(sum(w) AS BIGINT) AS mw, sum(s) AS ms
  FROM digests GROUP BY 1
),
cum AS (
  SELECT bin, mw, ms,
         CAST(sum(mw) OVER (ORDER BY bin) AS BIGINT) AS cumw,
         CAST(sum(mw) OVER () AS BIGINT) AS n
  FROM merged
),
levels AS (SELECT unnest([{_Q191_LEVELS_SQL}]) AS qlevel),
picked AS (
  SELECT qlevel, min(bin) AS bin
  FROM levels JOIN cum ON cumw >= qlevel * n
  GROUP BY 1
),
ex0 AS MATERIALIZED ({_Q191_EXACT_SQL}),
ex AS ({_Q191_EXACT_UNPACK})
SELECT p.qlevel, p.bin,
       {round6_sql('CAST(m.ms AS DOUBLE) / m.mw')} AS est_sketch,
       ex.exact_pct
FROM picked p
JOIN merged m ON m.bin = p.bin
JOIN ex ON ex.qlevel = p.qlevel
"""


# --------------------------------------------------------------------------
# q193 — incremental (cross-run) dedup against a persisted LSH index
# --------------------------------------------------------------------------

_Q193_TOKEN = __import__("uuid").uuid4().hex[:12]
_Q193_PERM, _Q193_BANDS, _Q193_BUCKETS = 16, 4, 16


def q193_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production LLM-ingestion form of
    q33/q62: a NEW shard (doc_id % 10 == 7, the day's crawl) is deduped
    against an ALREADY-INDEXED history corpus without ever re-shuffling
    the history. The history's LSH band rows (operators/dedup.py:
    lsh_band_rows — (doc_id, band, bucket) with the band id hashed INTO
    the bucket digest, so ``bucket`` alone is a complete join key) are
    persisted ONCE as a managed table bucketed on ``bucket``
    (sinks/bucketed.py); each incremental run then MinHashes only the
    new shard and probes the index with a join in which the history
    side's bucketed layout already satisfies the join distribution —
    the only Exchange in the plan is the (tiny) probe side
    (tests/test_bucketing.py::test_incremental_dedup_history_side_no_shuffle
    locks that). Candidates are verified with exact Jaccard computed
    ONLY on candidate pairs (q62's verify stage), over shingles of ONLY
    the candidate history documents — the history corpus is re-shingled
    by a run ONLY when the index table must be (re)built; a steady-state
    run's history-side work is the bucketed index read + a semi-joined
    shingle pass over the candidate docs.

    Oracle: the equivalent BATCH computation — band rows over the full
    corpus, split by the same predicate, joined on bucket, verified on
    shingles — because incremental-vs-batch equivalence is exactly the
    property a cross-run index must hold.

    Scale shape: per ingest run, work is proportional to the NEW shard
    (shingle → signature → band rows → bucket-join probe) plus the
    CANDIDATE set (verify); history cost is a bucketed-scan read of
    matching buckets, paid shuffle-free forever after the one write. At
    100 TB the index table is also the APPEND target: today's band rows
    insert into the same bucketed layout, so tomorrow's probe sees them
    with no reorganization."""
    import os

    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_band_rows,
        minhash_signatures,
        word_shingles,
    )
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import write_bucketed

    docs = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7
    new_sh = word_shingles(
        docs.filter(is_new), "doc_id", "text", n=2
    ).localCheckpoint(eager=True)

    def hist_band():
        # Full-history shingle → signature → band rows: executed ONLY
        # when the index is absent (LAZY — an eager frame here would
        # re-scan the whole history corpus on every steady-state run).
        return lsh_band_rows(
            minhash_signatures(
                word_shingles(docs.filter(~is_new), "doc_id", "text", n=2),
                "doc_id",
                n_perm=_Q193_PERM,
            ),
            "doc_id",
            n_perm=_Q193_PERM,
            bands=_Q193_BANDS,
        )

    # Persist the index bucketed on the probe key (q81's artifact
    # lifecycle: process-unique token, orphan sweep, atexit removal).
    tag = "".join(c for c in os.path.basename(sf_dir.rstrip("/")) if c.isalnum())
    tname = f"wetsa_lshidx_{tag}_{_Q193_TOKEN}"
    try:
        from wetsa_cams_solrad_timeseries_spark._artifacts import (
            claim_warehouse_table,
        )

        claim_warehouse_table(spark, f"wetsa_lshidx_{tag}_*", _Q193_TOKEN, tname)
    except Exception:  # noqa: BLE001 — cleanup is best-effort only
        pass
    try:
        if not spark.catalog.tableExists(tname):
            write_bucketed(
                hist_band(), tname, "bucket", n_buckets=_Q193_BUCKETS,
                sort_col="bucket",
            )
        hist_idx = spark.table(tname)
    except Exception as ex:  # noqa: BLE001 — catalog unavailable: plain frame
        # Diagnosable, not silent: this fallback re-shingles the FULL
        # history every call (correct output, incremental contract
        # lost), which inflates any benchmark of this query ~5x — if a
        # bench number looks like the build instead of the probe, this
        # line is the first thing to look for.
        import sys as _sys

        print(
            f"# q193: warehouse/catalog unavailable ({ex}); falling back "
            "to full history re-index per call",
            file=_sys.stderr,
        )
        hist_idx = hist_band()

    probe = lsh_band_rows(
        minhash_signatures(new_sh, "doc_id", n_perm=_Q193_PERM),
        "doc_id",
        n_perm=_Q193_PERM,
        bands=_Q193_BANDS,
    )
    cand = (
        probe.select(F.col("doc_id").alias("new_id"), "bucket")
        .join(hist_idx.select(F.col("doc_id").alias("hist_id"), "bucket"),
              on="bucket")
        .select("new_id", "hist_id")
        .distinct()
        # Reused by three verify joins below — checkpoint so the probe
        # subtree executes once.
        .localCheckpoint(eager=True)
    )
    # Exact Jaccard verify on candidates only (q62's stage), shingling
    # ONLY the candidate history docs: a semi-join on the (bounded)
    # candidate id set bounds the explode, so steady-state verify cost
    # scales with the day's near-dup rate, not the corpus.
    hist_cand_docs = docs.filter(~is_new).join(
        cand.select(F.col("hist_id").alias("doc_id")).distinct(),
        on="doc_id",
        how="semi",
    )
    hist_sh = word_shingles(hist_cand_docs, "doc_id", "text", n=2)
    # Candidate pairs sharing a band bucket can still share zero
    # shingles (a minhash coincidence), so the common-count join is
    # LEFT and nulls count as 0.
    a = new_sh.select(F.col("doc_id").alias("new_id"),
                      F.col("shingle_hash").alias("h"))
    bsh = hist_sh.select(F.col("doc_id").alias("hist_id"),
                         F.col("shingle_hash").alias("h"))
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


def _q193_oracle() -> str:
    # Batch-equivalence oracle over the same fragments q33 uses (shared
    # shingle/minhash/banding SQL so the index and the oracle can never
    # drift apart).
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


Q193_ORACLE = _q193_oracle()


# --------------------------------------------------------------------------
# q201 — incrementally-maintained postings index (mergeable BM25 stats)
# --------------------------------------------------------------------------

_Q201_TOKEN = __import__("uuid").uuid4().hex[:12]
_Q201_BUCKETS = 16


def q201_incremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained postings-statistics table — the LEXICAL
    index member of the cross-run index trio (q193 dedup index, q197
    vector index, this one feeds q194's BM25): history per-token stats
    (df, total_tf, top-document struct) persisted ONCE as a managed
    table bucketed on ``token``; each ingest run computes the NEW
    shard's stats (delta-sized) and MERGES them additively — df and
    total_tf add because the shards partition documents (a doc lives in
    exactly one shard), and the top-doc struct-max is itself mergeable
    (max is algebraic, q122's decomposition). The merge join's history
    side is the bucketed scan, so the only Exchanges in the plan hang
    off the delta (tests/test_bucketing.py::
    test_incremental_postings_history_side_no_shuffle).

    Output = q152's exact top-50 statistics table, and the oracle IS
    q152's batch SQL over the whole corpus: additive maintenance must
    land on exactly the answer a full recompute gives — the invariance
    that defines incremental view maintenance, here proven for the
    index that serves BM25 (q194 reads df/total_tf shaped stats).

    Scale shape: per run, everything is delta-sized (tokenize → two
    partial-aggregated shuffles → merge join keyed by token); history
    cost is a bucketed ordered scan, shuffle-free forever after the one
    write. At 100 TB the merged stats write back through the same
    bucketed layout, touching only tokens the delta contained."""
    import os

    from wetsa_cams_solrad_timeseries_spark.operators.text import (
        postings_stats,
    )
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import write_bucketed

    docs = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7

    def stats(part: DataFrame) -> DataFrame:
        return postings_stats(part, "doc_id", "text")

    tag = "".join(c for c in os.path.basename(sf_dir.rstrip("/")) if c.isalnum())
    tname = f"wetsa_postidx_{tag}_{_Q201_TOKEN}"
    try:
        from wetsa_cams_solrad_timeseries_spark._artifacts import (
            claim_warehouse_table,
        )

        claim_warehouse_table(
            spark, f"wetsa_postidx_{tag}_*", _Q201_TOKEN, tname
        )
    except Exception:  # noqa: BLE001 — cleanup is best-effort only
        pass
    try:
        if not spark.catalog.tableExists(tname):
            write_bucketed(
                stats(docs.filter(~is_new)), tname, "token",
                n_buckets=_Q201_BUCKETS, sort_col="token",
            )
        hist = spark.table(tname)
    except Exception:  # noqa: BLE001 — catalog unavailable: plain frame
        hist = stats(docs.filter(~is_new))

    delta = stats(docs.filter(is_new))
    h = hist.select(
        "token",
        F.col("df").alias("df_h"),
        F.col("total_tf").alias("tt_h"),
        F.col("top").alias("top_h"),
    )
    d = delta.select(
        "token",
        F.col("df").alias("df_n"),
        F.col("total_tf").alias("tt_n"),
        F.col("top").alias("top_n"),
    )
    zero = F.lit(0).cast("long")
    merged = h.join(d, "token", "full").select(
        "token",
        (F.coalesce("df_h", zero) + F.coalesce("df_n", zero)).alias("df"),
        (F.coalesce("tt_h", zero) + F.coalesce("tt_n", zero)).alias(
            "total_tf"
        ),
        # greatest() skips nulls, so a token present on one side only
        # keeps that side's top document unchanged.
        F.greatest("top_h", "top_n").alias("top"),
    )
    return (
        merged.select(
            "token",
            "df",
            "total_tf",
            F.col("top.doc_id").alias("top_doc"),
            F.col("top.tf").alias("top_tf"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(_Q152_TOPK)
    )


# Incremental == batch invariance: the oracle is q152's full recompute.
Q201_ORACLE = Q152_ORACLE


# --------------------------------------------------------------------------
# q204 — CUSUM changepoint detection (drift QC over daily series)
# --------------------------------------------------------------------------

_Q204_K = 0.5  # CUSUM slack (in σ units)
_Q204_H = 4.0  # alarm threshold (in σ units)


def q204_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection (Page 1954) over each event
    type's daily-mean series — the sequential QC screen a sensor
    platform (the reference's domain) or a data pipeline runs to catch
    level shifts that per-point z-score filters miss: standardize each
    day against the series' own mean/σ, then fold
    ``S_t = max(0, S_{t−1} + z_t − k)`` through time and flag days where
    S crosses h. The recurrence is a NON-associative ordered fold
    (q154/q187/q190's class), so the plan is: distributed daily
    aggregate + per-type stats join (the data-sized work), then a keyed
    applyInPandas scan over the tiny per-type series.

    Cross-engine float lockstep: the daily mean, the per-type mean/σ,
    the z-scores, AND every fold step round6 (q190's per-step resync —
    a zero-σ series short-circuits to z = 0 on both engines). The
    oracle replays the identical recurrence as a recursive CTE.

    Scale shape: fold input is one row per (type, day) — aggregate-
    sized, not event-sized; millions of independent series spread the
    folds across the cluster (the q154 keyed-fold shape)."""
    import math

    import pandas as pd

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        round6(F.avg("value")).alias("y")
    )
    stats = daily.groupBy("event_type").agg(
        round6(F.avg("y")).alias("__mu"),
        round6(F.stddev_samp("y")).alias("__sd"),
    )
    z = F.when(
        F.col("__sd").isNull() | (F.col("__sd") == 0.0), F.lit(0.0)
    ).otherwise(round6((F.col("y") - F.col("__mu")) / F.col("__sd")))
    zdf = daily.join(maybe_broadcast(stats), "event_type").select(
        "event_type", "day", z.alias("z")
    )

    k, h = _Q204_K, _Q204_H

    def r6(x: float) -> float:
        # Half-away-from-zero with the repo's +1e-9 nudge (q190's twin).
        y = x + 1e-9
        return math.copysign(math.floor(abs(y) * 1e6 + 0.5), y) / 1e6

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day", kind="mergesort")
        s, out = 0.0, []
        for zt in pdf["z"].to_numpy(dtype=float):
            s = r6(max(0.0, s + zt - k))
            out.append(s)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].to_numpy(),
                "day": pdf["day"].to_numpy(),
                "cusum": out,
                "alarm": [int(v > h) for v in out],
            }
        )

    from wetsa_cams_solrad_timeseries_spark.operators.sequential import (
        _fold_by_key,
    )

    return _fold_by_key(
        zdf, "event_type", fold,
        "event_type string, day date, cusum double, alarm int",
    )


Q204_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         round(avg(value) + 1e-9, 6) AS y
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, round(avg(y) + 1e-9, 6) AS mu,
         round(stddev_samp(y) + 1e-9, 6) AS sd
  FROM daily GROUP BY 1
), ordered AS (
  SELECT d.event_type, d.day,
         CASE WHEN s.sd IS NULL OR s.sd = 0 THEN 0.0
              ELSE round((d.y - s.mu) / s.sd + 1e-9, 6) END AS z,
         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
  FROM daily d JOIN stats s USING (event_type)
), rec AS (
  SELECT event_type, day, rn,
         round(greatest(0.0, z - {_Q204_K}) + 1e-9, 6) AS s
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.day, o.rn,
         round(greatest(0.0, r.s + o.z - {_Q204_K}) + 1e-9, 6)
  FROM ordered o JOIN rec r
    ON o.event_type = r.event_type AND o.rn = r.rn + 1
)
SELECT event_type, day, s AS cusum,
       CAST(s > {_Q204_H} AS INTEGER) AS alarm
FROM rec
"""


# --------------------------------------------------------------------------
# q192 — PageRank looped to CONVERGENCE (early-stop iterative operator)
# --------------------------------------------------------------------------

# eps sits just above the round6 grid quantum: per-round resync rounds
# ranks to the 1e-6 grid, so once true movement drops under ~5e-7 nodes
# only toggle by one grid step and max|Δr| plateaus at exactly 1e-6
# (measured: deltas 3.4e-4 → 2.3e-5 → 3e-6 → 1e-6 → 1e-6… at sf0.01).
# 1.5e-6 therefore means "converged to the resolution the cross-engine
# contract can even express", and the loop stops at round ~4 of the cap.
_Q192_EPS = 1.5e-6
_Q192_CAP = 6
_Q192_TOPK = 20


def q192_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank looped to CONVERGENCE over the part co-purchase graph —
    the production form of q161's fixed-iteration power method: iterate
    until the 1-row aggregate max|Δr| drops below eps or the cap hits,
    and report the stop round (``n_iters``) with the final top-20 ranks.
    The convergence-loop operator class itself is what's under test:
    every iterative operator here (q72 components, q176 k-core, q161)
    claims "loop until done" semantics; this query is the one whose
    driver-checked oracle PROVES the early-stop predicate, because the
    oracle replays the identical stopping rule (unrolled-to-cap CTEs
    with per-round deltas, fixed-point selection of the first round
    whose delta clears eps — q161's resync pairing extended with the
    delta recurrence). tests/test_graph_convergence.py locks the two
    loop behaviors (early stop on a fast-converging graph, cap bind on
    a slow one) engine-side.

    Cross-engine determinism: every round's contribution sum and new
    rank pass through round6 on BOTH engines (q161's convention), so
    per-round ranks are bit-identical, hence per-round deltas are
    bit-identical, hence both engines stop at the SAME round.

    Scale shape: per round ONE edge-sized shuffle + one node-sized
    aggregate + one 1-row delta collect (operators/graph.py:pagerank);
    rank state never leaves the executors, lineage truncated per round.
    Convergence looping is strictly cheaper than a fixed cap at 100 TB:
    the loop runs 4 rounds where the cap would run 6."""
    from wetsa_cams_solrad_timeseries_spark.operators.graph import pagerank

    e = _copurchase_edges(spark, sf_dir)
    ranks, n_iters = pagerank(
        e,
        u_col="u",
        v_col="v",
        damping=_Q161_D,
        base=_Q161_BASE,
        eps=_Q192_EPS,
        max_iters=_Q192_CAP,
        resync=round6,
    )
    return (
        ranks.select(
            "node",
            F.col("r").alias("pr"),
            F.lit(int(n_iters)).cast("long").alias("n_iters"),
        )
        .orderBy(F.desc("pr"), "node")
        .limit(_Q192_TOPK)
    )


def _q192_iteration_sql() -> str:
    """Unrolled-to-cap rounds r1..r_cap plus per-round delta CTEs d1..d_cap
    (max|Δr| vs the previous round) — q161's iteration fragment extended
    with the delta recurrence the convergence predicate needs."""
    base = f"(CAST({_Q161_BASE} AS DOUBLE) / (SELECT c FROM n))"
    sql = ""
    for i in range(1, _Q192_CAP + 1):
        prev = f"r{i - 1}"
        contrib = round6_sql(f"sum({prev}.r / deg.outdeg)")
        newr = round6_sql(
            f"{base} + CAST({_Q161_D} AS DOUBLE) * coalesce(c{i}.s, 0)"
        )
        # MATERIALIZED: each r{i} is consumed by THREE later CTEs
        # (c{i+1}, d{i}, d{i+1}) and b/deg by every round — DuckDB
        # inlines un-marked CTEs per reference, which re-ran the
        # edge-list self-join 6x and spilled temp storage to disk
        # exhaustion at sf0.1.
        sql += f""", c{i} AS (
  SELECT b.dst, {contrib} AS s
  FROM b JOIN {prev} ON b.src = {prev}.node
         JOIN deg ON b.src = deg.src
  GROUP BY 1
), r{i} AS MATERIALIZED (
  SELECT deg.src AS node, {newr} AS r
  FROM deg LEFT JOIN c{i} ON deg.src = c{i}.dst
), d{i} AS (
  SELECT max(abs(a.r - o.r)) AS d
  FROM r{i} a JOIN {prev} o ON a.node = o.node
)"""
    return sql


_Q192_DALL = " UNION ALL ".join(
    f"SELECT {i} AS i, d FROM d{i}" for i in range(1, _Q192_CAP + 1)
)
_Q192_ALLR = " UNION ALL ".join(
    f"SELECT {i} AS i, node, r FROM r{i}" for i in range(1, _Q192_CAP + 1)
)

Q192_ORACLE = f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), b AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e
  UNION ALL SELECT v AS src, u AS dst FROM e
), deg AS MATERIALIZED (
  SELECT src, count(*) AS outdeg FROM b GROUP BY 1
), n AS (
  SELECT count(*) AS c FROM deg
), r0 AS (
  SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT c FROM n) AS r FROM deg
){_q192_iteration_sql()},
dall AS ({_Q192_DALL}),
stop AS (
  SELECT coalesce(min(i), {_Q192_CAP}) AS it
  FROM dall WHERE d < CAST({_Q192_EPS} AS DOUBLE)
),
allr AS ({_Q192_ALLR})
SELECT a.node, a.r AS pr, CAST(s.it AS BIGINT) AS n_iters
FROM allr a JOIN stop s ON a.i = s.it
ORDER BY pr DESC, node ASC LIMIT {_Q192_TOPK}
"""


from wetsa_cams_solrad_timeseries_spark.plans._spec import make_specs

SPECS = make_specs(
    [
        ("q147_streaming_scd2", q147_streaming_scd2, Q147_ORACLE, (),
         "streaming SCD2 merge, out-of-order close-out"),
        ("q148_band_join", q148_band_join, Q148_ORACLE, (),
         "banded epsilon self-join"),
        ("q149_map_column_ops", q149_map_column_ops, Q149_ORACLE, (),
         "MapType column + higher-order map functions"),
        ("q150_ordered_funnel", q150_ordered_funnel, Q150_ORACLE, (),
         "strictly-ordered conversion funnel"),
        ("q151_snapshot_diff", q151_snapshot_diff, Q151_ORACLE, (),
         "CDC snapshot diff classification"),
        ("q152_inverted_index", q152_inverted_index, Q152_ORACLE, (),
         "inverted-index posting statistics"),
        ("q153_quality_audit", q153_quality_audit, Q153_ORACLE, (),
         "data-quality expectations audit"),
        ("q154_capped_balance", q154_capped_balance, Q154_ORACLE, (),
         "non-associative capped running balance"),
        ("q155_triangle_count", q155_triangle_count, Q155_ORACLE, (),
         "degree-oriented triangle counting"),
        ("q156_skyline", q156_skyline, Q156_ORACLE, (),
         "two-phase distributed Pareto skyline"),
        ("q157_weighted_median", q157_weighted_median, Q157_ORACLE, (),
         "exact weighted median per group"),
        ("q158_nearest_join", q158_nearest_join, Q158_ORACLE, (),
         "nearest-neighbor as-of join with tolerance"),
        ("q159_golden_record", q159_golden_record, Q159_ORACLE, (),
         "survivorship merge (golden record)"),
        ("q160_event_paths", q160_event_paths, Q160_ORACLE, (),
         "first-k event-path distribution"),
        ("q161_pagerank", q161_pagerank, Q161_ORACLE, (),
         "fixed-iteration PageRank power method"),
        ("q162_stream_outer_join", q162_stream_outer_join, Q162_ORACLE, (),
         "stream-stream LEFT OUTER interval join"),
        ("q163_custom_stream_source", q163_custom_stream_source, Q163_ORACLE,
         (), "offset-tracked Python streaming DataSource"),
        ("q164_variant_ops", q164_variant_ops, Q164_ORACLE, (),
         "VARIANT semi-structured column ops"),
        ("q165_udtf_chunking", q165_udtf_chunking, Q165_ORACLE, (),
         "Python UDTF sliding-window chunking"),
        ("q166_extended_stats", q166_extended_stats, Q166_ORACLE, (),
         "geometric/harmonic mean + mode"),
        ("q167_recursive_hierarchy", q167_recursive_hierarchy, Q167_ORACLE,
         (), "WITH RECURSIVE hierarchy rollup"),
        ("q168_interval_overlap", q168_interval_overlap, Q168_ORACLE, (),
         "banded interval-overlap self-join"),
        ("q169_business_day_latency", q169_business_day_latency, Q169_ORACLE,
         (), "closed-form business-day latency"),
        ("q170_weighted_sample", q170_weighted_sample, Q170_ORACLE, (),
         "deterministic A-Res weighted sample"),
        ("q171_gini_concentration", q171_gini_concentration, Q171_ORACLE, (),
         "per-nation Gini revenue concentration"),
        ("q172_position_attribution", q172_position_attribution, Q172_ORACLE,
         (), "U-shaped multi-touch attribution"),
        ("q173_map_merge", q173_map_merge, Q173_ORACLE, (),
         "map_zip_with histogram merge"),
        ("q174_pmi_matrix", q174_pmi_matrix, Q174_ORACLE, (),
         "co-occurrence PMI matrix"),
        ("q175_psi_drift", q175_psi_drift, Q175_ORACLE, (),
         "population stability index drift"),
        ("q176_kcore_peel", q176_kcore_peel, Q176_ORACLE, (),
         "iterative k-core peeling rounds"),
        ("q177_quantile_normalize", q177_quantile_normalize, Q177_ORACLE, (),
         "cross-source quantile normalization"),
        ("q178_quarantine_routing", q178_quarantine_routing, Q178_ORACLE, (),
         "dead-letter routing for malformed records"),
        ("q179_range_offset_stream", q179_range_offset_stream, Q179_ORACLE,
         (), "RANGE-offset streaming source (stats-pruned scan)"),
        ("q180_pit_feature_join", q180_pit_feature_join, Q180_ORACLE, (),
         "point-in-time feature join vs SCD2 timeline"),
        ("q181_dynamic_pivot", q181_dynamic_pivot, Q181_ORACLE, (),
         "long-to-wide pivot with explicit values"),
        ("q182_stratified_split", q182_stratified_split, Q182_ORACLE, (),
         "hash-stratified train/val/test split audit"),
        ("q183_stream_dedup_watermark", q183_stream_dedup_watermark,
         Q183_ORACLE, (), "bounded-state streaming dedup (watermark GC)"),
        ("q184_calendar_spine", q184_calendar_spine, Q184_ORACLE, (),
         "calendar-spine business days w/ holiday dimension"),
        ("q185_zorder_pruned_scan", q185_zorder_pruned_scan, Q185_ORACLE, (),
         "2-dim rectangle over the z-ordered layout (file-skip proven)"),
        ("q186_keyed_offset_stream", q186_keyed_offset_stream, Q186_ORACLE,
         (), "Kafka-shaped per-partition offset-map source"),
        ("q187_sequence_packing", q187_sequence_packing, Q187_ORACLE, (),
         "greedy non-spanning sequence packing per language"),
        ("q188_negative_sampling", q188_negative_sampling, Q188_ORACLE, (),
         "deterministic contrastive negative pairs (no cross join)"),
        ("q189_unpivot_melt", q189_unpivot_melt, Q189_ORACLE, (),
         "wide-to-long unpivot (single Expand, no multi-scan)"),
        ("q190_holt_smoothing", q190_holt_smoothing, Q190_ORACLE, (),
         "Holt double-exponential smoothing + 1-step forecast"),
        ("q191_quantile_sketch_merge", q191_quantile_sketch_merge,
         Q191_ORACLE, (),
         "mergeable fixed-centroid quantile digest (lossless merge)"),
        ("q252_streaming_quantile_digest", q252_streaming_quantile_digest,
         Q191_ORACLE, (),
         "streaming quantile digest: per-micro-batch bounded summaries, "
         "decimal-exact merge at read-off (oracle = q191's SQL verbatim)"),
        ("q192_pagerank_converged", q192_pagerank_converged, Q192_ORACLE, (),
         "PageRank looped to convergence (early-stop proof)"),
        ("q193_incremental_dedup", q193_incremental_dedup, Q193_ORACLE, (),
         "incremental dedup vs persisted bucketed LSH index"),
        ("q201_incremental_postings", q201_incremental_postings,
         Q201_ORACLE, (),
         "incrementally-maintained postings index (mergeable BM25 stats)"),
        ("q204_cusum_changepoints", q204_cusum_changepoints, Q204_ORACLE, (),
         "CUSUM changepoint detection (keyed non-associative fold)"),
    ]
)
