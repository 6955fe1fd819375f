"""Relational surface, part 3: additional classic TPC-H shapes adapted to
the testdata schema (no partsupp/shipmode columns) — large-volume
customers (Q18), disjunctive predicate pushdown (Q19), and market share
(Q8). All use the structural ``round6``/``round6_sql`` helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import table
from wetsa_cams_solrad_timeseries_spark.plans._spec import (
    exact_sum,
    exact_sum_sql,
    maybe_broadcast,
    round6,
    round6_sql,
)

# --------------------------------------------------------------------------
# q74 — large-volume customers (TPC-H Q18 shape)
# --------------------------------------------------------------------------
_Q74_MIN_QTY = 140


def q74_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total line quantity exceeds a threshold, with their
    customer — aggregate-then-semi-join: the HAVING filter reduces
    BEFORE the customer join, so the join input is the handful of big
    orders, not the fact table (the decorrelated Q18 plan)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(round6(F.sum("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > _Q74_MIN_QTY)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(cu), o.o_custkey == cu.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
    )


Q74_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey, {round6_sql('sum(l_quantity)')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {round6_sql('sum(l_quantity)')} > {_Q74_MIN_QTY}
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


# --------------------------------------------------------------------------
# q75 — disjunctive predicates (TPC-H Q19 shape)
# --------------------------------------------------------------------------
def q75_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue over OR-of-ANDs brand/size/quantity clauses — the classic
    pushdown test: the disjunction stays a single scan predicate (plus
    one broadcast join on part), never a union of three scans."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(maybe_broadcast(p), li.l_partkey == p.p_partkey)
    clause = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity").between(10, 35)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(20, 50))
           & (F.col("l_quantity").between(20, 50)))
    )
    return j.filter(clause).agg(
        round6(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


Q75_ORACLE = f"""
SELECT {round6_sql(exact_sum_sql('l_extendedprice * (1 - l_discount)'))} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""


# --------------------------------------------------------------------------
# q76 — nation market share (TPC-H Q8 shape)
# --------------------------------------------------------------------------
def q76_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order-year share of revenue supplied by one nation to one
    customer region: conditional-sum ÷ total-sum inside ONE aggregation
    (no self-join), all dimension joins broadcast."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = table(spark, sf_dir, "nation")
    re = table(spark, sf_dir, "region")

    # Region filter reduced to a scale-invariant nation-key set (<=25 rows)
    # semi-joined into customer: keeps the base-table size estimate on
    # cust_region so maybe_broadcast can hint it at test SFs and drop the
    # hint when customer outgrows the threshold.
    region_nations = (
        na.join(
            F.broadcast(re.filter(F.col("r_name") == "AMERICA")),
            na.n_regionkey == re.r_regionkey,
        ).select("n_nationkey")
    )
    cust_region = cu.join(
        F.broadcast(region_nations),
        cu.c_nationkey == region_nations.n_nationkey,
        "left_semi",
    ).select("c_custkey")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(cust_region), o.o_custkey == cust_region.c_custkey)
        .join(maybe_broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .withColumn("supp_nation", F.col("n_name"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            round6(
                exact_sum(F.when(F.col("supp_nation") == "BRAZIL", vol).otherwise(0.0))
                / exact_sum(vol)
            ).alias("mkt_share"),
            round6(exact_sum(vol)).alias("region_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q76_ORACLE = f"""
WITH j AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region    ON r_regionkey = cn.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r_name = 'AMERICA'
)
SELECT o_year,
       {round6_sql(exact_sum_sql("CASE WHEN supp_nation = 'BRAZIL' THEN vol ELSE 0.0 END") + " / " + exact_sum_sql("vol"))} AS mkt_share,
       {round6_sql(exact_sum_sql('vol'))} AS region_revenue,
       count(*) AS n_items
FROM j
GROUP BY o_year
"""


# --------------------------------------------------------------------------
# q78 — product-line profit by nation and year (TPC-H Q9 shape)
# --------------------------------------------------------------------------
def q78_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit per (supplier nation, order year) for one product family —
    the Q9 star: fact scanned once with the name filter pushed through
    the part join, every dimension broadcast. The testdata has no
    partsupp, so supply cost is adapted to 10% of the part's retail
    price per unit (deterministic, documented)."""
    li = table(spark, sf_dir, "lineitem")
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("bolt"))
        .select("p_partkey", "p_retailprice")
    )
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    j = (
        li.join(maybe_broadcast(p), li.l_partkey == p.p_partkey)
        .join(maybe_broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            round6(exact_sum(amount)).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q78_ORACLE = f"""
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       {round6_sql(exact_sum_sql('l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity'))} AS sum_profit,
       count(*) AS n_items
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, year(o_orderdate)
"""


# --------------------------------------------------------------------------
# q79 — supplier counts per part class (TPC-H Q16 shape)
# --------------------------------------------------------------------------
def q79_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers able to ship each part class, excluding
    flagged suppliers — Q16 adapted: the part-supplier relation comes
    from lineitem (no partsupp table) and "complaint" suppliers are
    those with negative account balance. The exclusion is an anti-join
    BEFORE the distinct aggregation; part is broadcast."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (~F.col("p_type").startswith("PROMO"))
            & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    flagged = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(flagged, on="l_suppkey", how="left_anti")
        .join(maybe_broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q79_ORACLE = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# q80 — dominant shippers of a product family (TPC-H Q20 shape)
# --------------------------------------------------------------------------
def q80_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped more than 20% of a part's total 1996 volume
    for one product family — the decorrelated Q20 chain: one aggregation
    per grain (pair, part), an aggregate-aggregate join on partkey, then
    a semi-join reduces supplier. No correlated subquery, no fact
    re-scan; availqty is adapted to shipped volume (no partsupp).
    Boundary comparisons go through the round6 nudge so both engines
    make identical keep/drop decisions on ULP-close sums."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == 1996)
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    fam = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    li_fam = li.join(maybe_broadcast(fam), li.l_partkey == fam.p_partkey)
    pair = li_fam.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("pair_qty")
    )
    part_tot = li_fam.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("part_qty")
    )
    dominant = (
        pair.join(part_tot, on="l_partkey")
        .filter(
            F.round(
                F.col("pair_qty") - 0.2 * F.col("part_qty") + F.lit(1e-9), 6
            )
            > 0
        )
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    na = table(spark, sf_dir, "nation")
    return (
        su.join(dominant, on="s_suppkey", how="left_semi")
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


Q80_ORACLE = """
WITH li_fam AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE year(l_shipdate) = 1996 AND p_name LIKE 'small%'
),
pair AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS pair_qty
  FROM li_fam GROUP BY l_partkey, l_suppkey
),
part_tot AS (
  SELECT l_partkey, sum(l_quantity) AS part_qty
  FROM li_fam GROUP BY l_partkey
),
dominant AS (
  SELECT DISTINCT l_suppkey AS s_suppkey
  FROM pair JOIN part_tot USING (l_partkey)
  WHERE round(pair_qty - 0.2 * part_qty + 1e-9, 6) > 0
)
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier
JOIN dominant USING (s_suppkey)
JOIN nation ON n_nationkey = s_nationkey
"""


# --------------------------------------------------------------------------
# q81 — co-located fact-fact join over bucketed tables
# --------------------------------------------------------------------------
def q81_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring fact-fact join (lineitem ⋈ orders on orderkey) over
    PRE-BUCKETED tables: both sides are written ``bucketBy(16, key)``
    once per session, after which the sort-merge join reads co-located
    buckets with ZERO Exchange on either side — the shuffle is paid once
    at write time, the daily join never pays it again (sinks/bucketed.py;
    the zero-Exchange plan is asserted inline AND pytest-locked in
    tests/test_bucketing.py). Falls back to the identical plain join when
    the session can't host managed tables (e.g. a read-only metastore
    cwd), so the correctness row never depends on catalog health."""
    from wetsa_cams_solrad_timeseries_spark._artifacts import table_generation
    from wetsa_cams_solrad_timeseries_spark.sinks.bucketed import write_bucketed

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")

    def build(names: list[str]) -> None:
        lt, ot = names
        write_bucketed(li, lt, "l_orderkey", n_buckets=16)
        write_bucketed(o, ot, "o_orderkey", n_buckets=16)  # commit gate

    names = table_generation(spark, sf_dir, ("b_li", "b_o"), build)
    if names is None:
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    else:
        lt, ot = names
        # hint("merge"): at gate SF the orders side is broadcast-small,
        # which would plan a BroadcastExchange and hide the property
        # under test; the bucketed fact-fact join IS the sort-merge path
        # at production scale, so pin it.
        j = spark.table(lt).hint("merge").join(
            spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise RuntimeError(
                "bucketed join planned an Exchange — bucket pruning broke"
            )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy("o_orderstatus").agg(
        round6(exact_sum(rev)).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q81_ORACLE = f"""
SELECT o_orderstatus,
       {round6_sql(exact_sum_sql('l_extendedprice * (1 - l_discount)'))} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# q83 — salted two-phase aggregation (hot-key skew mitigation)
# --------------------------------------------------------------------------
def q83_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation over a PATHOLOGICALLY skewed key — events has
    ~5 event_type values for the whole fact table, so a plain groupBy
    funnels each key's partials into one reducer (20%+ of 100 TB per
    task). The salted operator (operators/skew.py) splits each key into
    16 sub-keys for the partial phase and recombines the tiny per-salt
    partials, spreading the hot key across 16 reducers; the two-phase
    plan is asserted inline (the partial aggregate must group on the
    salt), so the skew path is driver-visible, not just
    result-transparent. Measures stay algebraic (sum/count/min/max, avg
    recombined as sum÷count) — exactly the set that decomposes."""
    from wetsa_cams_solrad_timeseries_spark.operators.skew import salted_aggregate

    # Salting deliberately REORDERS the partial sums, so the money sum
    # goes through the exact-decimal path (a dedicated cast column; the
    # decimal sum is associative-exact, see _spec.exact_sum) — avg is
    # recombined from the exact sum instead of requested from the op.
    # min/max run on the RAW double column: they are order-insensitive,
    # and a decimal(27,6) cast would silently round any input with >6
    # decimal digits away from the oracle's raw-double min/max.
    ev = table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(27,6)")
    )
    out = salted_aggregate(
        ev,
        ["event_type"],
        {"value_dec": ("sum", "count"), "value": ("min", "max")},
        n_salts=16,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "__salt" not in plan:
        raise RuntimeError(
            "salted aggregation planned without the salt phase — the "
            "two-phase skew path is not in the executed plan"
        )
    sum_dbl = F.col("sum_value_dec").cast("double")
    return out.select(
        "event_type",
        round6(sum_dbl).alias("sum_value"),
        F.col("count_value_dec").alias("n_events"),
        F.col("min_value").alias("min_value"),
        F.col("max_value").alias("max_value"),
        round6(sum_dbl / F.col("count_value_dec")).alias("avg_value"),
    )


Q83_ORACLE = f"""
SELECT event_type,
       {round6_sql(exact_sum_sql('value'))} AS sum_value,
       count(value) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value,
       {round6_sql(exact_sum_sql('value') + ' / count(value)')} AS avg_value
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q84 — suppliers who kept orders waiting (TPC-H Q21 shape)
# --------------------------------------------------------------------------
_Q84_LATE_DAYS = 60
_Q84_NATION = "NATION_3"


def q84_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's exists/not-exists double self-join, decorrelated: for each
    finished ('F') order, ONE aggregation pass computes the distinct
    supplier count and the distinct LATE-supplier count (late =
    l_shipdate > o_orderdate + 60 days; the corpus has no
    receipt/commit dates — reference `code/` has no such columns either,
    so lateness adapts to shipdate-vs-orderdate). A line then qualifies
    when its supplier is late, the order is multi-supplier, and that
    supplier is the ONLY late one — the same predicate as EXISTS
    (another supplier) AND NOT EXISTS (another late supplier), but as
    one shuffle on orderkey instead of two correlated self-joins; the
    oracle states the EXISTS form, proving equivalence. Dimension joins
    (supplier, nation) broadcast."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    na = table(spark, sf_dir, "nation")

    # INTERVAL arithmetic, not date_add: date_add silently TRUNCATES the
    # timestamp to a date (midnight), so any non-midnight o_orderdate
    # would flip the late flag for lineitems shipping inside the sub-day
    # gap relative to the oracle's time-preserving `+ INTERVAL n DAY`.
    lo = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "late",
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q84_LATE_DAYS} DAYS"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late"),
    )
    return (
        lo.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(maybe_broadcast(su), F.col("l_suppkey") == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .filter(F.col("n_name") == _Q84_NATION)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


Q84_ORACLE = f"""
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL {_Q84_LATE_DAYS} DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*) AS numwait
FROM lo l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE l1.late AND n_name = '{_Q84_NATION}'
  AND EXISTS (SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


# --------------------------------------------------------------------------
# q85 — dormant high-balance customers (TPC-H Q22 shape)
# --------------------------------------------------------------------------
_Q85_BIG_ORDER = 350000


def q85_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22's scalar-subquery + anti-join shape: customers whose balance
    exceeds the average positive balance (a one-row aggregate broadcast
    into the filter — no correlated re-scan) and who placed no
    high-value order (left-anti join against the filtered orders keys;
    the corpus' every customer has SOME order, so the classic no-orders
    predicate adapts to no-big-orders). Output is per-nation counts and
    balance totals."""
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    o = table(spark, sf_dir, "orders")

    # The threshold is rounded (round6 nudge convention) on BOTH sides:
    # a raw double average is order-dependent across engines, and a
    # 2-decimal balance landing exactly on it would flip the comparison
    # in one engine only — the boundary-flake class _spec.py documents.
    avg_bal = cu.filter(F.col("c_acctbal") > 0).agg(
        round6(F.avg("c_acctbal")).alias("__avg_bal")
    )
    big_orders = o.filter(F.col("o_totalprice") > _Q85_BIG_ORDER).select("o_custkey")
    return (
        cu.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(big_orders, cu.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            round6(F.sum("c_acctbal")).alias("totacctbal"),
        )
    )


Q85_ORACLE = f"""
WITH avg_bal AS (
  SELECT round(avg(c_acctbal) + 1e-9, 6) AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, count(*) AS numcust,
       {round6_sql('sum(c_acctbal)')} AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_totalprice > {_Q85_BIG_ORDER})
GROUP BY c_nationkey
"""


from wetsa_cams_solrad_timeseries_spark.plans._spec import make_specs

# --------------------------------------------------------------------------
# q100 — SCD1 upsert merge (MERGE INTO semantics as a full outer join)
# --------------------------------------------------------------------------
def q100_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO without a table format: apply a change batch (each
    user's latest event value as their new balance) onto the customer
    snapshot — matched rows update, source-only rows insert, target-only
    rows carry through unchanged, i.e. the WHEN MATCHED / NOT MATCHED /
    NOT MATCHED BY SOURCE triple as ONE full outer join + coalesce
    projection. The change batch is post-aggregation (one row per active
    user), so the threshold auto-broadcasts it under the full-join's
    shuffle at test SF and at 100 TB the join is a plain co-partitioned
    SMJ — either way a single pass over the snapshot, the Delta/Iceberg
    copy-on-write merge plan minus the transaction log."""
    cu = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    # (user_id, ts) is unique in events (same guarantee q69 relies on),
    # so max_by is deterministic.
    changes = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("c_custkey"))
        .agg(
            F.round(F.expr("max_by(value, ts)") + F.lit(1e-9), 6).alias("new_bal"),
            F.max("ts").alias("changed_at"),
        )
    )
    merged = cu.join(changes, on="c_custkey", how="full_outer")
    return merged.select(
        "c_custkey",
        F.coalesce(F.col("c_name"), F.lit("NEW")).alias("c_name"),
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("c_mktsegment"),
        F.round(
            F.coalesce(F.col("new_bal"), F.col("c_acctbal")) + F.lit(1e-9), 6
        ).alias("acctbal"),
        F.when(F.col("new_bal").isNotNull() & F.col("c_acctbal").isNotNull(), "update")
        .when(F.col("c_acctbal").isNull(), "insert")
        .otherwise("carry")
        .alias("merge_action"),
    )


Q100_ORACLE = """
WITH changes AS (
  SELECT user_id AS c_custkey,
         round(arg_max(value, ts) + 1e-9, 6) AS new_bal,
         max(ts) AS changed_at
  FROM events GROUP BY user_id
)
SELECT coalesce(c.c_custkey, ch.c_custkey) AS c_custkey,
       coalesce(c_name, 'NEW') AS c_name,
       coalesce(c_mktsegment, 'UNKNOWN') AS c_mktsegment,
       round(coalesce(new_bal, c_acctbal) + 1e-9, 6) AS acctbal,
       CASE WHEN new_bal IS NOT NULL AND c_acctbal IS NOT NULL THEN 'update'
            WHEN c_acctbal IS NULL THEN 'insert'
            ELSE 'carry' END AS merge_action
FROM customer c FULL OUTER JOIN changes ch USING (c_custkey)
"""


SPECS = make_specs(
    [
        ("q74_large_volume_customers", q74_large_volume_customers, Q74_ORACLE, (), "TPC-H Q18 shape"),
        ("q75_disjunctive_revenue", q75_disjunctive_revenue, Q75_ORACLE, (), "TPC-H Q19 shape"),
        ("q76_market_share", q76_market_share, Q76_ORACLE, (), "TPC-H Q8 shape"),
        ("q78_profit_by_nation", q78_profit_by_nation, Q78_ORACLE, (), "TPC-H Q9 shape"),
        ("q79_supplier_part_counts", q79_supplier_part_counts, Q79_ORACLE, (), "TPC-H Q16 shape"),
        ("q80_excess_shippers", q80_excess_shippers, Q80_ORACLE, (), "TPC-H Q20 shape"),
        ("q81_bucketed_colocated_join", q81_bucketed_colocated_join, Q81_ORACLE, (), "bucketed co-located join"),
        ("q83_salted_skew_agg", q83_salted_skew_agg, Q83_ORACLE, (), "salted hot-key aggregation"),
        ("q84_waiting_suppliers", q84_waiting_suppliers, Q84_ORACLE, (), "TPC-H Q21 shape"),
        ("q85_dormant_customers", q85_dormant_customers, Q85_ORACLE, (), "TPC-H Q22 shape"),
        ("q100_upsert_merge", q100_upsert_merge, Q100_ORACLE, (), "SCD1 MERGE as full outer join"),
    ]
)
