"""TPC-H-style analytical queries over the fixture star schema.

These are the engine's heavyweight batch plans — multi-way joins with
broadcast dimensions, wide aggregations, and top-k — used both as
correctness checks and as the bench workload. Plan shapes (verified via
.explain): dimension tables (region, nation, supplier at fixture scale)
go broadcast; fact-fact joins (orders x lineitem) are shuffle joins on
the key; every agg has map-side partial aggregation; top-k is
TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import NUDGE, register, rnd

# ---------------------------------------------------------------------------
# Money discipline (100 TB): the fixture's money columns are exact 2-dp
# values (TPC-H spec), so money SUMS run in DECIMAL — exact and
# engine-identical at any scale. Double summation error grows with row
# count: the 10x probe flipped a cent on q9/salted_join_agg, the 30x
# probe on q1/q5, and q15's self-join-on-max returned 0 oracle rows at
# 30x because DuckDB's inlined CTE re-derived the double sum in a
# different order than its own max. The exact decimal sum is rounded
# half-up (no tie nudge — nothing is approximate) and cast back to
# double for the driver's type-sensitive hash. AVERAGES and ratios of
# sums stay double: their error is relative (~1e-16 x n / n) and the
# 4-6-dp rounding absorbs it at any feasible scale. Integer-valued
# sums (quantities, counts) are exact in double to 2^53 and stay as-is.
#
# Known boundary of the final DECIMAL -> DOUBLE cast: the decimal SUM
# itself is exact at any scale, but once a group's UNSCALED 2-dp sum
# exceeds 2^53 (~9e13 money units, i.e. ~$90 trillion cents / ~$900
# billion per group — q1-sized groups would cross it somewhere past
# ~1000x fixture scale), the cast is no longer the same operation in
# both engines: Spark's BigDecimal.doubleValue is correctly rounded,
# while DuckDB casts via int -> double then divides (double-rounding),
# and they diverge by 1 ulp. PROBED, not just documented
# (`probe.py decimal53`, round 12): zero divergences in 20k-cent windows
# below 2^53; the FIRST divergent sum is exactly 2^53+1; ~32% of odd
# cents diverge above; Spark is the correctly-rounded side at every
# probed point. If a >1000x probe ever flags a money query, suspect
# this cast boundary before the sum. Remediation (also probed): keep
# the sum DECIMAL and ship CAST(... AS STRING) to the hash — raw
# DECIMAL does NOT survive the driver's type-sensitive compare (Spark
# toPandas -> dtype=object Decimal vs DuckDB fetchdf -> float64), but
# the exact decimal TEXT is type-stable and green on both sides of the
# boundary — or keep per-group sums under 2^53 by sub-grouping.
# ---------------------------------------------------------------------------


def _dec(col: str, prec: str = "14,2") -> F.Column:
    return F.col(col).cast(f"decimal({prec})")


# The shared expressions are FUNCTIONS, not module constants: classic
# PySpark Column construction needs an active SparkContext, and this
# module imports at registry load time (pytest collection) before any
# session exists.
def _disc_price() -> F.Column:
    """l_extendedprice * (1 - l_discount), exact (scale 4)."""
    return _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "4,2")
    )


def _charge() -> F.Column:
    """... * (1 + l_tax), exact (scale 6)."""
    return _disc_price() * (F.lit(1).cast("decimal(3,2)") + _dec("l_tax", "4,2"))


def money_sum(expr: F.Column, dp: int = 2) -> F.Column:
    """Exact decimal SUM of a money expression, rounded half-up at
    ``dp`` and cast to double (see module money discipline)."""
    return F.round(F.sum(expr), dp).cast("double")


#: oracle-side fragments of the same expressions
DISC_PRICE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(14,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)
CHARGE_SQL = f"{DISC_PRICE_SQL} * (1 + CAST(l_tax AS DECIMAL(4,2)))"


def money_sum_sql(expr: str, dp: int = 2) -> str:
    return f"CAST(round(sum({expr}), {dp}) AS DOUBLE)"


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan-heavy groupBy with 8 aggs.
    The Catalyst plan is a single-pass hash aggregate over a pruned
    4-column scan with the shipdate filter pushed to parquet."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
            money_sum(_dec("l_extendedprice")).alias("sum_base_price"),
            money_sum(_disc_price()).alias("sum_disc_price"),
            money_sum(_charge()).alias("sum_charge"),
            rnd(F.avg("l_quantity")).alias("avg_qty"),
            rnd(F.avg("l_extendedprice")).alias("avg_price"),
            rnd(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


register(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity) + 1e-6, 2) AS sum_qty,
       {money_sum_sql("CAST(l_extendedprice AS DECIMAL(14,2))")} AS sum_base_price,
       {money_sum_sql(DISC_PRICE_SQL)} AS sum_disc_price,
       {money_sum_sql(CHARGE_SQL)} AS sum_charge,
       round(avg(l_quantity) + 1e-6, 4) AS avg_qty,
       round(avg(l_extendedprice) + 1e-6, 4) AS avg_price,
       round(avg(l_discount) + 1e-6, 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("tpch", "bench"),
)(q1_pricing_summary)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + top-10 by revenue. Customer
    filter prunes before the join; the final top-k never global-sorts."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cutoff = "1997-01-01"
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit(cutoff))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.lit(cutoff))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rnd(revenue, 2).alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


register(
    "q3_shipping_priority",
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
""",
    tags=("tpch", "bench"),
)(q3_shipping_priority)


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 6-way join with broadcast dimensions (region,
    nation — tiny at any scale factor) and the customer==supplier nation
    constraint; revenue per nation."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(supplier, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(money_sum(_disc_price()).alias("revenue"), F.count("*").alias("n_lineitems"))
    )


register(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n_name,
       {money_sum_sql(DISC_PRICE_SQL)} AS revenue,
       count(*) AS n_lineitems
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name
""",
    tags=("tpch", "bench"),
)(q5_local_supplier_volume)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure scan + conjunctive filter + single agg; every
    predicate pushes into the parquet scan."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(_dec("l_extendedprice") * _dec("l_discount", "4,2")).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


register(
    "q6_forecast_revenue",
    oracle=f"""
SELECT {money_sum_sql("CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(4,2))")} AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("tpch", "bench"),
)(q6_forecast_revenue)


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: returned-item revenue per customer, top-20."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    nation = load(spark, sf_dir, "nation")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .where(F.col("l_returnflag") == "R")
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rnd(revenue, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


register(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
""",
    tags=("tpch", "bench"),
)(q10_returned_items)


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: semi-join against an aggregated subquery (orders
    whose total quantity exceeds a threshold), then re-aggregate."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        orders.join(big, F.col("o_orderkey") == big.l_orderkey)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            rnd(F.col("o_totalprice"), 2).alias("total_price"),
            rnd(F.col("total_qty"), 2).alias("total_qty"),
        )
    )


register(
    "q18_large_volume_customer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       round(o_totalprice + 1e-6, 2) AS total_price,
       round(total_qty + 1e-6, 2) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
    tags=("tpch", "bench"),
)(q18_large_volume_customer)


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: nation-pair shipping volume by year — two
    broadcast dimension joins under different aliases + year extraction."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(money_sum(_disc_price()).alias("volume"))
    )


register(
    "q7_volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       {money_sum_sql(DISC_PRICE_SQL)} AS volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name != n2.n_name
GROUP BY 1, 2, 3
""",
    tags=("tpch", "bench"),
)(q7_volume_shipping)


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: conditional aggregation (CASE inside SUM) over a
    joined fact pair, split by order priority class."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_returnflag") == "N")
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


register(
    "q12_shipmode_priority",
    oracle="""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag = 'N'
GROUP BY l_linestatus
""",
    tags=("tpch", "bench"),
)(q12_shipmode_priority)


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: promo revenue share — conditional numerator over
    a common denominator in one aggregate pass."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-07-01"))
        )
        .agg(
            rnd(F.sum(promo) * 100.0 / F.sum(rev), 6).alias("promo_revenue_pct"),
            F.count("*").alias("n_rows"),
        )
    )


register(
    "q14_promo_revenue",
    oracle="""
SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             * 100.0 / sum(l_extendedprice * (1 - l_discount)) + 1e-6, 6)
         AS promo_revenue_pct,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
""",
    tags=("tpch", "bench"),
)(q14_promo_revenue)


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: OR-of-ANDs predicate bundles across the join —
    the disjunctive-pushdown shape optimizers historically fumble."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30) & (F.col("p_size") <= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40) & (F.col("p_size") <= 30))
    )
    return joined.where(cond).agg(
        # money discipline: the 100x sweep caught this double sum's cent
        money_sum(_disc_price()).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


register(
    "q19_disjunctive_predicates",
    oracle=f"""
SELECT {money_sum_sql(DISC_PRICE_SQL)} AS revenue,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 20 AND p_size <= 10)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 30 AND p_size <= 20)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 40 AND p_size <= 30)
""",
    tags=("tpch", "bench"),
)(q19_disjunctive_predicates)


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: order-priority counts where a lineitem shipped
    late (semi-join against a filtered fact)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # no .distinct() on the semi-join build side: LeftSemi output is
    # match-existence, so duplicates are absorbed by the join's own hash
    # relation — a pre-distinct only adds a full exchange of the keys.
    late = li.select("l_orderkey").where(F.col("l_returnflag") == "R")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""",
    tags=("tpch", "bench"),
)(q4_order_priority)


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style: profit by nation and year with a part-name filter
    (regex-ish LIKE pushdown through a 5-way join).

    Money discipline (100 TB): the profit sum runs in DECIMAL, not
    double. The fixture's money columns are exact 2-dp values (TPC-H
    spec), so the decimal sum is EXACT and engine-identical at any
    scale, whereas double summation error grows with row count and
    flipped a 2-dp rounding boundary at the 10x probe (4/175 group
    sums of ~3e8 magnitude differed in the last cent). Final value is
    rounded half-up on the exact decimal (no tie nudge needed —
    nothing is approximate) and cast back to double for the driver's
    type-sensitive hash."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    qty = F.col("l_quantity").cast("decimal(14,2)")
    profit = price * (F.lit(1).cast("decimal(3,2)") - disc) - tax * qty
    return (
        li.join(part.where(F.col("p_name").contains("gear")), F.col("l_partkey") == F.col("p_partkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
    )


register(
    "q9_product_profit",
    oracle="""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      - CAST(l_tax AS DECIMAL(4,2))
                        * CAST(l_quantity AS DECIMAL(14,2))), 2)
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
""",
    tags=("tpch", "bench"),
)(q9_product_profit)


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: distribution of customers by order count —
    left outer join + two-level aggregation."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders.where(~F.col("o_orderpriority").startswith("5")),
            customer.c_custkey == orders.o_custkey,
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


register(
    "q13_customer_distribution",
    oracle="""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '5%'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
""",
    tags=("tpch", "bench"),
)(q13_customer_distribution)


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: revenue of lineitems below 50% of their part's
    average quantity — aggregate-correlated predicate via a joined
    per-part aggregate. The per-part-average join is UNHINTED: its
    cardinality is the part catalog (1e8+ keys at high SF), too big to
    force-broadcast; both sides hash on l_partkey, and AQE still
    broadcasts when the filtered side is genuinely small."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg((F.avg("l_quantity") * 0.5).alias("half_avg_qty"))
    )
    return (
        li.join(part.where(F.col("p_brand") == "Brand#1"), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("pk"))
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            # money discipline: exact decimal SUM (the 100x sweep
            # flipped the double sum's cent), then the /7 ratio in
            # double — identical on both engines given the same sum
            rnd(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_rows"),
        )
    )


register(
    "q17_small_quantity_revenue",
    oracle="""
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
             / 7.0 + 1e-6, 2) AS avg_yearly,
       count(*) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
""",
    tags=("tpch", "bench"),
)(q17_small_quantity_revenue)


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: customers with above-average balances and no
    recent (2000+) orders, grouped by a name-derived code — scalar subquery + anti-join
    + substring grouping."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    avg_bal = customer.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(orders.where(F.col("o_orderdate") >= F.lit("2000-01-01")),
              customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 1, 10).alias("name_code"))
        .agg(
            F.count("*").alias("numcust"),
            money_sum(_dec("c_acctbal")).alias("totacctbal"),
        )
    )


register(
    "q22_global_sales_opportunity",
    oracle=f"""
SELECT substring(c_name, 1, 10) AS name_code,
       count(*) AS numcust,
       {money_sum_sql("CAST(c_acctbal AS DECIMAL(14,2))")} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1
""",
    tags=("tpch", "bench"),
)(q22_global_sales_opportunity)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style: for each small part, the EUROPE supplier(s) offering
    the minimum unit cost. The fixture schema has no partsupp table, so the
    part-supplier offer relation is derived as min(l_extendedprice /
    l_quantity) per distinct (l_partkey, l_suppkey) — the correlated-min
    subquery becomes a window min over the part (reference has only J1;
    cf. SURVEY.md §2.2 joins/subqueries)."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    eu = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.where(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    small = part.where((F.col("p_size") <= 10) & (F.col("p_type") == "SMALL"))
    # Filter the fact table through the selective part dimension BEFORE
    # the per-(part, supplier) min — Catalyst cannot push a join below an
    # aggregate itself, and only small parts' offers can survive to the
    # output. The explicit l_partkey repartition then serves BOTH the
    # aggregate (partitioning on a subset of the group keys satisfies
    # its distribution) and the per-part window, collapsing the plan's
    # two exchanges into one that carries only qualifying lines.
    # The semi-join side is deliberately UNHINTED (round-14, ADVICE):
    # the filtered part keys scale linearly with the catalog, so a
    # forced broadcast is the banned unbounded-side class — the planner
    # broadcasts from true stats at fixture SFs (verified: same plan,
    # same 613 rows, wall parity) and AQE demotes it at real scale.
    offers = (
        li.join(small.select("p_partkey"),
                F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        offers.join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("min_cost", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("min_cost"))
        .select(
            F.col("l_partkey").alias("p_partkey"), "s_name", "n_name", "s_acctbal",
            rnd(F.col("min_cost"), 2).alias("supply_cost"),
        )
    )


register(
    "q2_min_cost_supplier",
    oracle="""
WITH offers AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT p_partkey, s_name, n_name, s_acctbal,
       round(min_cost + 1e-6, 2) AS supply_cost
FROM (
  SELECT p_partkey, s_name, n_name, s_acctbal, unit_cost,
         min(unit_cost) OVER (PARTITION BY p_partkey) AS min_cost
  FROM offers
  JOIN eu ON l_suppkey = s_suppkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_size <= 10 AND p_type = 'SMALL'
)
WHERE unit_cost = min_cost
""",
    tags=("tpch", "bench"),
)(q2_min_cost_supplier)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style: NATION_7's share of PROMO-part revenue sold to
    AMERICA customers, per order year — a 7-way join (two roles for
    nation) with a conditional-aggregate ratio."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    s_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    c_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    # numerator/denominator sums run exact in decimal (money
    # discipline); the single ratio division happens once in double on
    # identical inputs, so the 6-dp rounded share is engine-identical
    volume = _disc_price()
    zero = F.lit(0).cast("decimal(4,4)")
    return (
        li.join(part.where(F.col("p_type") == "PROMO"), F.col("l_partkey") == F.col("p_partkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(s_nation), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(c_nation), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region.where(F.col("r_name") == "AMERICA")),
              F.col("cn_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            rnd(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", volume).otherwise(zero)).cast("double")
                / F.sum(volume).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


register(
    "q8_market_share",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
                      THEN {DISC_PRICE_SQL} ELSE 0 END) AS DOUBLE)
             / CAST(sum({DISC_PRICE_SQL}) AS DOUBLE) + 1e-6, 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
GROUP BY 1
""",
    tags=("tpch", "bench"),
)(q8_market_share)


def q11_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style: parts whose discounted revenue from ASIA-region
    suppliers exceeds a fraction of the total — HAVING against a scalar
    subquery, expressed as a broadcast cross join of a 1-row aggregate."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    asia_supp = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    asia_li = li.join(F.broadcast(asia_supp), F.col("l_suppkey") == F.col("s_suppkey"))
    # exact decimal sums (money discipline): the HAVING-vs-threshold
    # compare is then deterministic — a double sum near the 0.001-of-
    # total boundary could flip membership between engines at scale
    value = F.sum(_disc_price())
    per_part = asia_li.groupBy("l_partkey").agg(value.alias("part_value"))
    # the threshold re-aggregates the PER-PART decimal sums instead of
    # re-scanning asia_li: decimal addition is exact and associative, so
    # sum-of-part-sums is bit-identical to the direct total, and AQE's
    # exchange-stage reuse then derives both consumers from ONE scan of
    # the fact table instead of two
    total = per_part.agg(
        (F.sum("part_value").cast("double") * 0.001).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_value").cast("double") > F.col("threshold"))
        .select(
            "l_partkey",
            F.round(F.col("part_value"), 2).cast("double").alias("part_value"),
        )
    )


register(
    "q11_important_part_values",
    oracle=f"""
WITH asia_li AS (
  SELECT l_partkey, {DISC_PRICE_SQL} AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
)
SELECT l_partkey, CAST(round(sum(v), 2) AS DOUBLE) AS part_value
FROM asia_li
GROUP BY l_partkey
HAVING CAST(sum(v) AS DOUBLE) > (SELECT CAST(sum(v) AS DOUBLE) * 0.001 FROM asia_li)
""",
    tags=("tpch", "bench"),
)(q11_important_part_values)


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: supplier(s) with the maximum revenue in a
    quarter — the view + scalar-max subquery becomes a 1-row max
    aggregate broadcast-joined back onto the per-supplier revenues."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        # exact decimal sum (money discipline): the == max(...) match is
        # only deterministic on exact values — the 30x probe saw the
        # oracle's inlined double re-derivation disagree with its own
        # max and return 0 rows (same engine, different summation order)
        .agg(F.sum(_disc_price()).alias("total_revenue"))
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"), F.col("s_name"),
            F.round(F.col("total_revenue"), 2).cast("double").alias("total_revenue"),
        )
    )


register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS MATERIALIZED (
  SELECT l_suppkey, sum({DISC_PRICE_SQL}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(round(total_revenue, 2) AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    tags=("tpch", "bench"),
)(q15_top_supplier)


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style: distinct supplier counts per part attribute
    triple. The partsupp relation is the distinct (l_partkey, l_suppkey)
    pairs from lineitem; the NOT IN complaint-supplier exclusion (no
    comment column in fixtures) is low-balance suppliers via anti-join."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    excluded = supplier.where(F.col("s_acctbal") < 1000).select("s_suppkey")
    wanted = part.where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    # count(DISTINCT l_suppkey) already dedups per group, so the
    # partsupp-style pre-DISTINCT over the full fact table is redundant
    # for this result; dropping it removes a full-lineitem exchange, and
    # filtering through the selective part dimension FIRST means the
    # distinct-aggregation pass only sees qualifying parts' lines.
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(excluded), F.col("l_suppkey") == excluded.s_suppkey, "left_anti")
        .join(wanted, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


register(
    "q16_supplier_count",
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY 1, 2, 3
""",
    tags=("tpch", "bench"),
)(q16_supplier_count)


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style: suppliers who shipped more than 30% of a part's
    1997 volume (the availqty predicate, re-based on shipped quantity
    since fixtures have no partsupp) — window share + semi-join.
    Quantities are integral so the window sums are exact doubles."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    # One l_partkey repartition serves the (supplier, part) aggregate
    # (partitioning on a subset of its group keys) AND the per-part
    # share window — one exchange of the date+part-filtered lines
    # instead of two back-to-back post-aggregate exchanges. The excess
    # side of the semi-join stays unhinted: AQE sees its true (tiny)
    # post-shuffle size and broadcasts it at runtime.
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(part.where(F.col("p_name").contains("gear")), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_suppkey", "l_partkey", "l_quantity")
        .repartition("l_partkey")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    excess = (
        shipped.withColumn("part_total", F.sum("qty").over(w))
        .where(F.col("qty") > 0.3 * F.col("part_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(excess, supplier.s_suppkey == excess.l_suppkey, "left_semi")
        .join(F.broadcast(load(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


register(
    "q20_excess_shippers",
    oracle="""
WITH shipped AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND p_name LIKE '%gear%'
  GROUP BY 1, 2
),
excess AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT l_suppkey, qty, sum(qty) OVER (PARTITION BY l_partkey) AS part_total
    FROM shipped
  ) WHERE qty > 0.3 * part_total
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM excess)
""",
    tags=("tpch", "bench"),
)(q20_excess_shippers)


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style: for finalized multi-supplier orders, suppliers who
    were the sole returned-flag supplier — EXISTS becomes a non-equi
    semi-join, NOT EXISTS a non-equi anti-join (fixtures lack
    commitdate/receiptdate, so 'waiting' is l_returnflag = 'R')."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supplier = load(spark, sf_dir, "supplier")
    # The EXISTS / NOT EXISTS pair over per-order sibling lines is a
    # per-order-key predicate, so it folds into ONE aggregation pass:
    # for a returned-flag line, "another supplier exists on the order"
    # is distinct-supplier-count > 1 and "no OTHER supplier returned" is
    # distinct-returned-supplier-count == 1 (the line's own supplier is
    # returned by construction). That replaces two full-table DISTINCTs
    # and two non-equi semi/anti joins (three lineitem scans) with one
    # scan and two stacked narrow aggregates; numwait per supplier is
    # then the sum of the sole returned supplier's line counts over
    # qualifying orders. The explicit l_orderkey repartition satisfies
    # BOTH aggregates' distributions (subset partitioning), so the whole
    # chain costs one shuffle of three narrow columns.
    #
    # The finalized-order (o_orderstatus = 'F') semi-join runs BEFORE
    # the aggregation chain, not after it (round-14, guide §2.3: filter
    # the big side early): only ~half the orders are finalized, so the
    # shuffle and both aggregates process half the lines, and the
    # per-order predicates are unaffected — a semi-join on the ORDER key
    # keeps or drops whole orders, never individual sibling lines. The
    # semi side is unhinted: the planner broadcasts it from true stats
    # at fixture SFs; at real scale a shuffled semi on l_orderkey shares
    # the very partitioning the chain establishes anyway.
    f_orders = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    pair = (
        li.select("l_orderkey", "l_suppkey", "l_returnflag")
        .join(f_orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("r_lines")
        )
    )
    per_order = pair.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum((F.col("r_lines") > 0).cast("int")).alias("n_r_supp"),
        F.max(F.when(F.col("r_lines") > 0, F.col("l_suppkey"))).alias("r_suppkey"),
        F.sum(F.when(F.col("r_lines") > 0, F.col("r_lines"))).alias("r_line_cnt"),
    )
    qualifying = per_order.where((F.col("n_supp") > 1) & (F.col("n_r_supp") == 1))
    return (
        qualifying.join(supplier, F.col("r_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("r_line_cnt").cast("long").alias("numwait"))
    )


register(
    "q21_waiting_suppliers",
    oracle="""
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
""",
    tags=("tpch", "bench"),
)(q21_waiting_suppliers)


# --------------------------------------------------------------------------
# revenue concentration (Gini + top-decile share) per nation
# --------------------------------------------------------------------------

_GINI_ORACLE = """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS rev,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_d
  FROM orders GROUP BY o_custkey
),
pc AS (
  SELECT n.n_name, c.c_custkey, rev.rev, rev.rev_d
  FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
ranked AS (
  SELECT n_name, rev, rev_d,
         CAST(row_number() OVER (PARTITION BY n_name
              ORDER BY rev ASC, c_custkey ASC) AS BIGINT) AS i,
         count(*) OVER (PARTITION BY n_name) AS n
  FROM pc
),
agg AS (
  SELECT n_name,
         max(n) AS n_customers,
         sum(rev_d) AS total_rev_d,
         sum(i * rev) AS irev,
         sum(CASE WHEN i > n - CAST(floor((n + 9) / 10) AS BIGINT)
                  THEN rev_d END) AS top_rev_d
  FROM ranked GROUP BY n_name
)
SELECT n_name, CAST(n_customers AS BIGINT) AS n_customers,
       CAST(round(total_rev_d, 2) AS DOUBLE) AS total_rev,
       round(2.0 * irev / (n_customers * CAST(total_rev_d AS DOUBLE))
             - (n_customers + 1.0) / n_customers + 1e-6, 6) AS gini,
       round(CAST(top_rev_d AS DOUBLE) / CAST(total_rev_d AS DOUBLE)
             + 1e-6, 6) AS top_decile_share
FROM agg
"""


@register(
    "revenue_concentration_gini",
    oracle=_GINI_ORACLE,
    tags=("prepared-r8",),
)
def revenue_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer-revenue concentration: Gini coefficient (via
    the rank formula G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over ascending
    revenue) and the revenue share of the top decile of customers.
    The whale-vs-long-tail diagnostic a mixture/quota policy is tuned
    against.  One shuffle to per-customer revenue, per-nation windows
    (25 bounded partitions at TPC-H shape), one final agg.

    Money discipline (caught by the 100x heavy-table sweep): the
    per-nation revenue totals sum ~60k customers' money values each and
    the double sum flipped a cent at 1.4e11 units — total/top-decile
    revenue run in DECIMAL (operators/tpch.py discipline). The
    per-CUSTOMER double stays as the ranking quantity, and the
    rank-weighted irev stays double: gini is a ratio, whose relative
    error the 6-dp rounding absorbs."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    rev = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev_d"),
    )
    per_cust = (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == F.col("n_nationkey"))
        .select("n_name", "c_custkey", "rev", "rev_d")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("rev").asc(), F.col("c_custkey").asc()
    )
    wn = Window.partitionBy("n_name")
    ranked = per_cust.select(
        "n_name", "rev", "rev_d",
        F.row_number().over(w).cast("long").alias("i"),
        F.count("*").over(wn).alias("n"),
    )
    ntop = F.floor((F.col("n") + 9) / 10)
    agg = ranked.groupBy("n_name").agg(
        F.max("n").alias("n_customers"),
        F.sum("rev_d").alias("total_rev_d"),
        F.sum(F.col("i") * F.col("rev")).alias("irev"),
        # no otherwise: sum skips NULLs, mirroring CASE WHEN with no ELSE
        F.sum(
            F.when(F.col("i") > F.col("n") - ntop, F.col("rev_d"))
        ).alias("top_rev_d"),
    )
    total_dbl = F.col("total_rev_d").cast("double")
    gini = (
        2.0 * F.col("irev") / (F.col("n_customers") * total_dbl)
        - (F.col("n_customers") + 1.0) / F.col("n_customers")
    )
    return agg.select(
        "n_name",
        "n_customers",
        F.round(F.col("total_rev_d"), 2).cast("double").alias("total_rev"),
        rnd(gini, 6).alias("gini"),
        rnd(F.col("top_rev_d").cast("double") / total_dbl, 6).alias(
            "top_decile_share"
        ),
    )


# --------------------------------------------------------------------------
# open-order backlog profile (interval stabbing via +1/-1 deltas)
# --------------------------------------------------------------------------

_BACKLOG_ORACLE = """
WITH last_ship AS (
  SELECT l_orderkey, max(l_shipdate) AS last_ship
  FROM lineitem GROUP BY l_orderkey
),
spans AS (
  SELECT CAST(o.o_orderdate AS DATE) AS open_day,
         coalesce(CAST(ls.last_ship AS DATE),
                  CAST(o.o_orderdate AS DATE)) + 1 AS close_day
  FROM orders o LEFT JOIN last_ship ls ON o.o_orderkey = ls.l_orderkey
),
deltas AS (
  SELECT open_day AS day, 1 AS delta, 1 AS opened, 0 AS closed FROM spans
  UNION ALL
  SELECT close_day AS day, -1 AS delta, 0 AS opened, 1 AS closed FROM spans
),
daily AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS delta,
         CAST(sum(opened) AS BIGINT) AS n_opened,
         CAST(sum(closed) AS BIGINT) AS n_closed
  FROM deltas GROUP BY day
)
SELECT day, n_opened, n_closed,
       CAST(sum(delta) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS backlog
FROM daily
"""


@register(
    "order_backlog_profile",
    oracle=_BACKLOG_ORACLE,
    tags=("prepared-r8",),
)
def order_backlog_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: each order opens at o_orderdate and
    closes the day after its last lineitem ships (same-day close for
    orders with no lineitems), and the backlog on a day is the count of
    open intervals covering it — the interval-stabbing query behind
    "how much WIP does the warehouse carry?".

    The classic scalable shape: intervals → ±1 boundary deltas → one
    hash agg on day → one cumulative window over the DISTINCT-day
    series, which is calendar-bounded however many orders exist.  No
    join ever expands rows beyond 2 per order."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    spans = (
        orders.join(last_ship, orders.o_orderkey == last_ship.l_orderkey, "left")
        .select(
            F.to_date("o_orderdate").alias("open_day"),
            F.date_add(
                F.coalesce(F.to_date("last_ship"), F.to_date("o_orderdate")), 1
            ).alias("close_day"),
        )
    )
    opens = spans.select(
        F.col("open_day").alias("day"),
        F.lit(1).alias("delta"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    )
    closes = spans.select(
        F.col("close_day").alias("day"),
        F.lit(-1).alias("delta"),
        F.lit(0).alias("opened"),
        F.lit(1).alias("closed"),
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(
            F.sum("delta").alias("delta"),
            F.sum("opened").alias("n_opened"),
            F.sum("closed").alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day", "n_opened", "n_closed",
        F.sum("delta").over(w).alias("backlog"),
    )


# --------------------------------------------------------------------------
# customer-revenue decile lift table (broadcast quantile boundaries)
# --------------------------------------------------------------------------

_DECILE_ORACLE = """
WITH rev AS (
  SELECT o_custkey,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_d
  FROM orders GROUP BY o_custkey
),
bounds AS (
  SELECT quantile_disc(rev_d, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
           AS bs
  FROM rev
),
assigned AS (
  SELECT rev_d,
         1 + list_sum([CASE WHEN rev_d > b THEN 1 ELSE 0 END for b in bs])
           AS decile
  FROM rev CROSS JOIN bounds
),
per AS (
  SELECT decile, count(*) AS n_customers, sum(rev_d) AS decile_rev_d
  FROM assigned GROUP BY decile
),
shared AS (
  SELECT CAST(decile AS INTEGER) AS decile, n_customers, decile_rev_d,
         CAST(decile_rev_d AS DOUBLE) /
           CAST(sum(decile_rev_d) OVER () AS DOUBLE) AS share
  FROM per
)
SELECT decile, n_customers,
       CAST(round(decile_rev_d, 2) AS DOUBLE) AS decile_rev,
       round(share + 1e-6, 6) AS rev_share,
       round(sum(share) OVER (ORDER BY decile DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-6, 6)
         AS cum_share_from_top,
       round(share * 10.0 + 1e-6, 4) AS lift
FROM shared
"""


@register("decile_lift_table", oracle=_DECILE_ORACLE, tags=("prepared-r8",))
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue decile lift table over customers — per value-decile:
    customer count, revenue share, cumulative share, and lift vs a
    uniform 10% — the marketing/finance view whose 80/20 shape
    ``revenue_concentration_gini`` compresses to one number.

    Scale design (the reason this is NOT a global ntile): decile
    BOUNDARIES come from one exact-percentile aggregate (a 1-row,
    9-value result, broadcast), and assignment is a map-only comparison
    against that array — no global sort, no single-partition ranking
    window, ties assigned by value identically on both engines.  The
    only windows run over the ≤10-row decile aggregate.  Boundaries are
    DISCRETE percentiles (actual revenue values) rather than
    interpolated ones: an interpolated boundary differs between engines
    in the last ulp and, when duplicate revenues sit at a decile edge,
    reclassifies a whole duplicate run (caught by the 10x probe —
    Spark/DuckDB disagreed on 10 replicated customers); a discrete
    boundary is the same stored double on both sides.

    Money discipline (caught by the 100x probe, twice): EVERY revenue
    here is the exact DECIMAL sum (operators/tpch.py discipline). The
    per-decile totals flipped a cent in double at 4.6e11 money units —
    and after that first conversion the re-probe caught the subtler
    layer: the per-CUSTOMER double sum (then still the boundary /
    assignment quantity) differs between engines by an ulp at scale, so
    customers tied AT a decile boundary flipped sides (14 of 1.5M).
    Discrete boundaries only help when the quantity they slice is
    itself engine-identical — so ordering, boundaries, and assignment
    all run on the exact decimal as well."""
    orders = load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev_d"),
    )
    rev.createOrReplaceTempView("_fcs_decile_rev")
    qs = [i / 10.0 for i in range(1, 10)]
    bounds = spark.sql(
        "SELECT array("
        + ", ".join(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY rev_d)" for q in qs
        )
        + ") AS bounds FROM _fcs_decile_rev"
    )
    assigned = (
        rev.crossJoin(F.broadcast(bounds))
        .select(
            "rev_d",
            (
                1
                + F.aggregate(
                    F.transform(
                        "bounds",
                        lambda b: (F.col("rev_d") > b).cast("int"),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )
            ).alias("decile"),
        )
    )
    per = assigned.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("rev_d").alias("decile_rev_d"),
    )
    wall = Window.partitionBy()
    w_cum = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # exact decimal -> double: the same stored double on both engines
    # (unscaled sums sit orders below the 2^53 cast boundary)
    rev_dbl = F.col("decile_rev_d").cast("double")
    share = rev_dbl / F.sum("decile_rev_d").over(wall).cast("double")
    return per.select(
        "decile",
        "n_customers",
        F.round(F.col("decile_rev_d"), 2).cast("double").alias("decile_rev"),
        rnd(share, 6).alias("rev_share"),
        rnd(F.sum(share).over(w_cum), 6).alias("cum_share_from_top"),
        rnd(share * 10.0, 4).alias("lift"),
    )


# --------------------------------------------------------------------------
# percent-of-parent revenue hierarchy
# --------------------------------------------------------------------------

_HIERARCHY_ORACLE = """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
             * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev_dec
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       round(CAST(rev_dec AS DOUBLE) + 1e-6, 2) AS revenue,
       round(CAST(rev_dec AS DOUBLE)
             / CAST(sum(rev_dec) OVER (PARTITION BY region) AS DOUBLE)
             + 1e-6, 6) AS share_of_region,
       round(CAST(sum(rev_dec) OVER (PARTITION BY region) AS DOUBLE)
             / CAST(sum(rev_dec) OVER () AS DOUBLE) + 1e-6, 6)
         AS region_share_of_global
FROM rev
"""


@register(
    "revenue_share_hierarchy",
    oracle=_HIERARCHY_ORACLE,
    tags=("prepared-r8",),
)
def revenue_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT-OF-PARENT REVENUE HIERARCHY: per nation, its revenue
    (sum of discounted extended price through orders -> customer),
    its share of the owning region, and the region's share of global —
    the drill-down contribution table every revenue dashboard opens
    with, expressed as windows over the bounded nation-grain aggregate
    rather than three separate rollup scans.

    Scale shape: one join pipeline down to nation grain (dimension
    joins broadcast under AQE), ONE hash aggregate, and two window
    passes over the <=25-row result."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            # round-13: per-nation revenue sums the WHOLE lineitem
            # corpus into <=25 groups — extensive; the raw-double form
            # flipped cents at ~1.17e12 in the 1000x sweep (16/25
            # rows). DECIMAL discipline: exact decimal sum, cast to
            # double only at the end; the window sums below stay
            # decimal (exact) so both share ratios divide identical
            # doubles in both engines at any scale.
            F.sum(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (
                    F.lit(1).cast("decimal(3,2)")
                    - F.col("l_discount").cast("decimal(4,2)")
                )
            ).alias("rev_dec")
        )
    )
    wr = Window.partitionBy("region")
    wg = Window.partitionBy()
    rev_d = F.col("rev_dec").cast("double")
    region_d = F.sum("rev_dec").over(wr).cast("double")
    global_d = F.sum("rev_dec").over(wg).cast("double")
    return rev.select(
        "region",
        "nation",
        rnd(rev_d, 2).alias("revenue"),
        rnd(rev_d / region_d, 6).alias("share_of_region"),
        rnd(region_d / global_d, 6).alias("region_share_of_global"),
    )


# --------------------------------------------------------------------------
# discount elasticity (log-log OLS per brand)
# --------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH cells AS (
  SELECT p.p_brand AS brand, round(l.l_discount, 2) AS disc,
         avg(l.l_quantity) AS q
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_discount > 0
  GROUP BY 1, 2
),
fit AS (
  SELECT brand,
         CAST(count(*) AS DOUBLE) AS m,
         sum(ln(disc)) AS sx, sum(ln(q)) AS sy,
         sum(ln(disc) * ln(q)) AS sxy,
         sum(ln(disc) * ln(disc)) AS sxx,
         sum(ln(q) * ln(q)) AS syy
  FROM cells GROUP BY brand
)
SELECT brand,
       CAST(m AS BIGINT) AS n_levels,
       round(CASE WHEN m * sxx - sx * sx > 0
                  THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END
             + 1e-6, 6) AS elasticity,
       round(CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
                  THEN (m * sxy - sx * sy) * (m * sxy - sx * sy)
                       / ((m * sxx - sx * sx) * (m * syy - sy * sy)) END
             + 1e-6, 6) AS r2
FROM fit
"""


@register(
    "discount_elasticity",
    oracle=_ELASTICITY_ORACLE,
    tags=("prepared-r8",),
)
def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCOUNT ELASTICITY per part brand: OLS slope of ln(mean
    quantity at a discount level) on ln(discount) over the observed
    nonzero discount levels — the log-log regression whose slope reads
    directly as "a 1% deeper discount moves quantity by slope%". The
    econometrics twin of ``per_key_linear_trend`` (time there, price
    here), with the fit quality (r2) reported so flat or noisy brands
    are not over-read.

    Scale shape: one combinable hash agg to (brand, discount-level)
    means — the regression then runs over <=11 points per brand in a
    second bounded agg; nothing scales with the lineitem count after
    the first reduce."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cells = (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(F.col("l_discount") > 0)
        .groupBy(
            F.col("p_brand").alias("brand"),
            # stabilize the float level key on both engines
            F.round(F.col("l_discount"), 2).alias("disc"),
        )
        .agg(F.avg("l_quantity").alias("q"))
    )
    x = F.log(F.col("disc"))
    y = F.log(F.col("q"))
    fit = cells.groupBy("brand").agg(
        F.count("*").cast("double").alias("m"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(vx > 0, cov / vx)
    r2 = F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy))
    return fit.select(
        "brand",
        F.col("m").cast("long").alias("n_levels"),
        rnd(slope, 6).alias("elasticity"),
        rnd(r2, 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Laspeyres price index over ship years
# --------------------------------------------------------------------------

#: base year for the fixed basket.
LASPEYRES_BASE_YEAR = 1995


_LASPEYRES_ORACLE = f"""
WITH py AS (
  SELECT l_partkey AS pk, extract(year FROM l_shipdate) AS y,
         sum(l_extendedprice) / sum(l_quantity) AS p,
         sum(l_quantity) AS q
  FROM lineitem GROUP BY 1, 2
),
base AS (
  SELECT pk, p AS p0, q AS q0 FROM py WHERE y = {LASPEYRES_BASE_YEAR}
)
SELECT CAST(py.y AS INTEGER) AS ship_year,
       count(*) AS n_common_parts,
       round(sum(py.p * b.q0) / sum(b.p0 * b.q0) + 1e-6, 6)
         AS laspeyres_index
FROM py JOIN base b ON py.pk = b.pk
GROUP BY py.y
"""


@register(
    "laspeyres_price_index",
    oracle=_LASPEYRES_ORACLE,
    tags=("prepared-r8",),
)
def laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LASPEYRES PRICE INDEX per ship year: average unit price per
    (part, year), base-year quantities as the fixed basket, index(y) =
    sum(p_y * q_base) / sum(p_base * q_base) over parts traded in BOTH
    years — the index-number answer to "how much did prices move?"
    that raw revenue growth (``yoy_segment_growth``) conflates with
    volume shifts. Base year's own row emits at exactly 1.

    Scale shape: one (part, year) hash agg; the base basket joins back
    keyed on part; per-year sums reduce the bounded joined table."""
    li = load(spark, sf_dir, "lineitem")
    yr = F.year("l_shipdate")
    py = li.groupBy(F.col("l_partkey").alias("pk"), yr.alias("y")).agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        F.sum("l_quantity").alias("q"),
    )
    base = py.where(F.col("y") == LASPEYRES_BASE_YEAR).select(
        "pk", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    joined = py.join(base, "pk")
    return (
        joined.groupBy("y")
        .agg(
            F.count("*").alias("n_common_parts"),
            (
                F.sum(F.col("p") * F.col("q0"))
                / F.sum(F.col("p0") * F.col("q0"))
            ).alias("idx_raw"),
        )
        .select(
            F.col("y").alias("ship_year"),
            "n_common_parts",
            rnd("idx_raw", 6).alias("laspeyres_index"),
        )
    )


# --------------------------------------------------------------------------
# value-at-risk / conditional VaR of daily revenue changes
# --------------------------------------------------------------------------

#: VaR confidence level (share of days the loss should NOT exceed VaR).
VAR_LEVEL = 0.95


_VAR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         sum(CAST(value AS DECIMAL(14,2))) AS rev
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
diffs AS (
  SELECT chg FROM (
    SELECT CAST(rev - lag(rev) OVER (ORDER BY day) AS DOUBLE) AS chg
    FROM daily
  ) WHERE chg IS NOT NULL
),
ranked AS (
  SELECT chg, row_number() OVER (ORDER BY chg) AS rn, count(*) OVER () AS n
  FROM diffs
),
var_row AS (
  SELECT chg AS var_raw, n FROM ranked
  WHERE rn = greatest(1, CAST(ceil((1.0 - {VAR_LEVEL}) * n) AS BIGINT))
),
cvar AS (
  SELECT avg(r.chg) AS cvar_raw, count(*) AS n_tail
  FROM ranked r CROSS JOIN var_row v
  WHERE r.chg <= v.var_raw
)
SELECT v.n AS n_days,
       round({VAR_LEVEL} + 1e-6, 2) AS level,
       round(v.var_raw + 1e-6, 2) AS var_daily_change,
       round(c.cvar_raw + 1e-6, 2) AS cvar_daily_change,
       c.n_tail
FROM var_row v CROSS JOIN cvar c
"""


@register("value_at_risk", oracle=_VAR_ORACLE, tags=("prepared-r8",))
def value_at_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-AT-RISK of the daily purchase-revenue CHANGE: the
    5th-percentile daily drop (discrete order statistic — the
    cross-engine percentile discipline) and the conditional VaR (mean
    of the drops at or beyond VaR) — the tail-risk pair that mean-and-
    sigma monitoring cannot see (a fat lower tail hides inside a calm
    sigma). One row, in revenue units.

    Scale shape: the corpus reduces to one row per day, diffs are one
    lag window over the bounded daily series, and the discrete
    order-statistic pick is a rank-limited window."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    # round-12: daily revenue is an extensive money sum (whole corpus
    # into ~a-month of days) — DECIMAL discipline; the day-over-day
    # diff is exact decimal subtraction cast to double (exact below
    # 2^53), so the order statistic ranks identical values in both
    # engines at any scale
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(day.alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(14,2)")).alias("rev"))
    )
    wd = Window.orderBy("day")
    diffs = daily.select(
        (F.col("rev") - F.lag("rev").over(wd)).cast("double").alias("chg")
    ).where(F.col("chg").isNotNull())
    wrank = Window.orderBy("chg")
    wt = Window.partitionBy()
    ranked = diffs.select(
        "chg",
        F.row_number().over(wrank).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    # discrete index: ceil((1 - level) * n) >= 1
    idx = F.greatest(
        F.lit(1), F.ceil((1.0 - VAR_LEVEL) * F.col("n"))
    )
    var_row = ranked.where(F.col("rn") == idx).select(
        F.col("chg").alias("var_raw"), "n"
    )
    cvar = (
        ranked.join(F.broadcast(var_row.select("var_raw")), how="cross")
        .where(F.col("chg") <= F.col("var_raw"))
        .agg(F.avg("chg").alias("cvar_raw"), F.count("*").alias("n_tail"))
    )
    return var_row.crossJoin(F.broadcast(cvar)).select(
        F.col("n").alias("n_days"),
        rnd(F.lit(VAR_LEVEL), 2).alias("level"),
        rnd("var_raw", 2).alias("var_daily_change"),
        rnd("cvar_raw", 2).alias("cvar_daily_change"),
        "n_tail",
    )


# --------------------------------------------------------------------------
# ABC / XYZ inventory classification grid
# --------------------------------------------------------------------------

ABC_P_A = 0.8  #: revenue-percentile floor for class A
ABC_P_B = 0.5  #: revenue-percentile floor for class B
XYZ_CV_X = 0.5  #: demand-CV ceiling for class X
XYZ_CV_Y = 1.0  #: demand-CV ceiling for class Y


_ABC_ORACLE = f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS rev
  FROM lineitem GROUP BY 1
),
cuts AS (
  SELECT quantile_cont(rev, {ABC_P_A}) AS cut_a,
         quantile_cont(rev, {ABC_P_B}) AS cut_b
  FROM rev
),
monthly AS (
  SELECT l_partkey,
         (CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400) // 30
           AS month_idx,
         sum(l_quantity) AS q
  FROM lineitem GROUP BY 1, 2
),
dem AS (
  SELECT l_partkey, count(*) AS n_months,
         sum(q) AS sq, sum(q * q) AS sqq
  FROM monthly GROUP BY 1
),
classed AS (
  SELECT r.l_partkey, r.rev,
         CASE WHEN r.rev >= c.cut_a THEN 'A'
              WHEN r.rev >= c.cut_b THEN 'B' ELSE 'C' END AS class_abc,
         CASE WHEN cv < {XYZ_CV_X} THEN 'X'
              WHEN cv < {XYZ_CV_Y} THEN 'Y' ELSE 'Z' END AS class_xyz,
         cv AS cv_u
  FROM (
    SELECT d.l_partkey, d.n_months, d.sq, d.sqq,
           sqrt(greatest(CASE WHEN d.n_months > 1
             THEN (d.sqq - d.n_months * (d.sq / d.n_months)
                   * (d.sq / d.n_months)) / (d.n_months - 1)
             ELSE 0.0 END, 0.0)) / (d.sq / d.n_months) AS cv
    FROM dem d) x
  JOIN rev r ON x.l_partkey = r.l_partkey
  CROSS JOIN cuts c
),
tot AS (SELECT sum(rev) AS rev_total FROM classed)
SELECT class_abc, class_xyz, count(*) AS n_parts,
       round(sum(rev) / t.rev_total + {NUDGE}, 6) AS revenue_share,
       round(avg(cv_u) + {NUDGE}, 6) AS avg_demand_cv
FROM classed CROSS JOIN tot t
GROUP BY class_abc, class_xyz, t.rev_total
"""


@register("abc_xyz_classification", oracle=_ABC_ORACLE, tags=("prepared-r10",))
def abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ CLASSIFICATION GRID: every part classed by revenue
    (A/B/C — percentile-of-part-revenue cutpoints, the
    bucket-granularity form that broadcasts two scalars instead of
    running a cumulative-share sort over the full part catalog; the
    deviation from textbook cumulative-ABC is deliberate and
    documented here) crossed with demand variability (X/Y/Z —
    coefficient of variation of MONTHLY shipped quantity), summarized
    to the bounded class grid with part counts and revenue shares —
    the standard inventory-policy segmentation. Part revenues are
    EXACT decimal sums (round-13; the old 4-dp pre-round of a raw
    double sum still let summation order move a revenue across a
    class boundary at scale — the exact scale-4 decimal removes the
    tie entirely). Monthly quantity sums are integer-valued, so the
    CV side is exact without rounding.

    Scale shape: two combinable per-part aggregates (revenue; monthly
    demand then its moments), TWO broadcast percentile scalars, one
    bounded-grid rollup. No ranking window at part cardinality."""
    li = load(spark, sf_dir, "lineitem")
    # round-13: per-part revenue — parts are FIXED dims, so per-group
    # row count grows with the corpus (the q1/q6 cent-flip class, and
    # the class boundary must not move with summation order). DECIMAL
    # discipline: the scale-4 decimal sum is EXACT (no rounding or tie
    # nudge needed at all) and its double cast is exactly representable
    # orders past the 1000x rung, so cutpoints compare identical
    # doubles in both engines.
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (
                    F.lit(1).cast("decimal(3,2)")
                    - F.col("l_discount").cast("decimal(4,2)")
                )
            ).alias("rev_dec")
        )
        .select("l_partkey", F.col("rev_dec").cast("double").alias("rev"))
    )
    # distributed-exact percentile cutpoints (grouped_exact_percentiles):
    # part revenues are ~all-distinct, so Spark's value-buffering exact
    # ``percentile`` would grow its aggregation state with the part
    # catalog — the class of state that killed the 30x-probe JVM on
    # lineitem prices (PERF.md round-10/11)
    from flink_cookbook_spark.functions.collections import (
        grouped_exact_percentiles,
    )

    cuts = grouped_exact_percentiles(
        rev, [], "rev", {"cut_a": ABC_P_A, "cut_b": ABC_P_B}
    )
    monthly = (
        li.select(
            "l_partkey",
            (
                F.floor(
                    F.floor(F.col("l_shipdate").cast("double") / 86400)
                    / 30
                )
            )
            .cast("long")
            .alias("month_idx"),
            "l_quantity",
        )
        .groupBy("l_partkey", "month_idx")
        .agg(F.sum("l_quantity").alias("q"))
    )
    dem = monthly.groupBy("l_partkey").agg(
        F.count("*").alias("n_months"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    n = F.col("n_months").cast("double")
    mean_q = F.col("sq") / n
    var_q = F.when(
        F.col("n_months") > 1,
        (F.col("sqq") - n * mean_q * mean_q) / (n - 1),
    ).otherwise(F.lit(0.0))
    cv = F.sqrt(F.greatest(var_q, F.lit(0.0))) / mean_q
    classed = (
        rev.join(dem, "l_partkey")
        .crossJoin(F.broadcast(cuts))
        .select(
            "l_partkey",
            "rev",
            F.when(F.col("rev") >= F.col("cut_a"), F.lit("A"))
            .when(F.col("rev") >= F.col("cut_b"), F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("class_abc"),
            F.when(cv < XYZ_CV_X, F.lit("X"))
            .when(cv < XYZ_CV_Y, F.lit("Y"))
            .otherwise(F.lit("Z"))
            .alias("class_xyz"),
            cv.alias("cv_u"),
        )
    )
    tot = classed.agg(F.sum("rev").alias("rev_total"))
    return (
        classed.groupBy("class_abc", "class_xyz")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").alias("rev_sum"),
            F.avg("cv_u").alias("cv_avg"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "class_abc",
            "class_xyz",
            "n_parts",
            rnd(F.col("rev_sum") / F.col("rev_total"), 6).alias(
                "revenue_share"
            ),
            rnd("cv_avg", 6).alias("avg_demand_cv"),
        )
    )


# --------------------------------------------------------------------------
# order-to-ship lead-time profile
# --------------------------------------------------------------------------

LATE_DAYS = 90  #: lead-time SLA bound (days)


_LEAD_ORACLE = f"""
WITH j AS (
  SELECT o.o_orderpriority,
         (CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // 86400)
         - (CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400)
           AS lead_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority, count(*) AS n_lines,
       round(avg(lead_days) + {NUDGE}, 4) AS mean_lead_days,
       round(quantile_cont(lead_days, 0.5) + {NUDGE}, 4) AS p50,
       round(quantile_cont(lead_days, 0.9) + {NUDGE}, 4) AS p90,
       round(quantile_cont(lead_days, 0.99) + {NUDGE}, 4) AS p99,
       round(sum(CASE WHEN lead_days > {LATE_DAYS} THEN 1.0
                 ELSE 0.0 END) / count(*) + {NUDGE}, 6) AS late_share
FROM j GROUP BY 1
"""


@register(
    "ship_lead_time_profile",
    oracle=_LEAD_ORACLE,
    tags=("prepared-r10",),
)
def ship_lead_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-TO-SHIP LEAD TIME per order priority: exact p50/p90/p99,
    mean, and the share of line items beyond the LATE_DAYS SLA — the
    fulfillment-latency profile that `order_backlog_profile` (queue
    depth) and `q4_order_priority` (late-commit counts in the
    reference adaptation) don't give: the full latency DISTRIBUTION
    conditioned on promised priority. Lead time is computed on
    INTEGER epoch-day indexes, so every percentile interpolates
    between exact integers identically in both engines.

    Scale shape: one orderkey equi-join (fact-to-fact, AQE-planned),
    then ONE combinable aggregate per priority (exact percentiles over
    the priority-bounded groups)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_shipdate").cast("double") / 86400)
        .cast("long")
        .alias("ship_day"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_orderdate").cast("double") / 86400)
        .cast("long")
        .alias("order_day"),
    )
    j = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "o_orderpriority",
        (F.col("ship_day") - F.col("order_day")).alias("lead_days"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        rnd(F.avg("lead_days"), 4).alias("mean_lead_days"),
        rnd(F.expr("percentile(lead_days, 0.5)"), 4).alias("p50"),
        rnd(F.expr("percentile(lead_days, 0.9)"), 4).alias("p90"),
        rnd(F.expr("percentile(lead_days, 0.99)"), 4).alias("p99"),
        rnd(
            F.sum((F.col("lead_days") > LATE_DAYS).cast("double"))
            / F.count("*"),
            6,
        ).alias("late_share"),
    )


# --------------------------------------------------------------------------
# supplier concentration per part (sourcing risk)
# --------------------------------------------------------------------------

_SUPCON_ORACLE = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
  FROM lineitem GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, count(*) AS n_suppliers,
         sum(q) AS qt, sum(q * q) AS qsq
  FROM ps GROUP BY 1
),
hhi AS (
  SELECT l_partkey, n_suppliers, qsq / (qt * qt) AS hhi_u
  FROM per_part
),
tot AS (
  SELECT count(*) AS n_parts_total,
         CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_single
  FROM hhi
)
SELECT h.n_suppliers, count(*) AS n_parts,
       round(avg(h.hhi_u) + {NUDGE}, 6) AS avg_hhi,
       round(CAST(t.n_single AS DOUBLE) / t.n_parts_total + {NUDGE}, 6)
         AS single_source_share
FROM hhi h CROSS JOIN tot t
GROUP BY h.n_suppliers, t.n_single, t.n_parts_total
"""


@register(
    "supplier_concentration_by_part",
    oracle=_SUPCON_ORACLE,
    tags=("prepared-r10",),
)
def supplier_concentration_by_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOURCING-RISK PROFILE: per part, the supplier count and the HHI
    of quantity share across its suppliers, summarized by supplier-
    count bucket with the single-source share riding along — the
    supply-chain mirror of `source_concentration_hhi` (which scores
    the document corpus): how much of the catalog depends on one
    supplier? Quantity sums are integer-valued doubles, so the HHI is
    exact without rounding tricks.

    Scale shape: one (part, supplier) combinable aggregate, one
    per-part rollup, one bounded bucket rollup — three shuffles total,
    all on shrinking keys."""
    li = load(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("q")
    )
    per_part = ps.groupBy("l_partkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("q").alias("qt"),
        F.sum(F.col("q") * F.col("q")).alias("qsq"),
    )
    hhi = per_part.select(
        "l_partkey",
        "n_suppliers",
        (F.col("qsq") / (F.col("qt") * F.col("qt"))).alias("hhi_u"),
    )
    tot = hhi.agg(
        F.count("*").alias("n_parts_total"),
        F.sum((F.col("n_suppliers") == 1).cast("long")).alias("n_single"),
    )
    return (
        hhi.groupBy("n_suppliers")
        .agg(F.count("*").alias("n_parts"), F.avg("hhi_u").alias("hhi_avg"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_suppliers",
            "n_parts",
            rnd("hhi_avg", 6).alias("avg_hhi"),
            rnd(
                F.col("n_single").cast("double") / F.col("n_parts_total"),
                6,
            ).alias("single_source_share"),
        )
    )


# --------------------------------------------------------------------------
# unit-price dispersion audit
# --------------------------------------------------------------------------

UPD_CV_FLAG = 0.25  #: dispersion flag threshold on the ROUNDED CV


_UPD_ORACLE = f"""
WITH up AS (
  SELECT l_partkey, l_extendedprice / l_quantity AS u FROM lineitem
),
g AS (
  SELECT l_partkey, count(*) AS n_lines,
         sum(u) AS su, sum(u * u) AS suu
  FROM up GROUP BY 1
),
eff AS (
  SELECT l_partkey, n_lines,
         round(su / n_lines + {NUDGE}, 4) AS mean_unit_price,
         round(sqrt(CASE WHEN n_lines > 1
                    THEN greatest((suu - n_lines * (su / n_lines)
                                   * (su / n_lines)) / (n_lines - 1), 0.0)
                    ELSE 0.0 END) / (su / n_lines) + {NUDGE}, 6)
           AS price_cv
  FROM g
)
SELECT *, price_cv > {UPD_CV_FLAG} AS dispersed FROM eff
"""


@register("unit_price_dispersion", oracle=_UPD_ORACLE, tags=("prepared-r10",))
def unit_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIT-PRICE DISPERSION per part: coefficient of variation of the
    realized unit price (extendedprice/quantity) across a part's line
    items — the pricing-integrity audit behind "is this part sold at
    wildly inconsistent prices" (a data-quality smell or a
    discounting-policy breach; `expectation_checks` validates schema
    ranges, this validates pricing CONSISTENCY). The flag reads the
    ROUNDED CV, per the cohort discipline.

    Scale shape: one map-only unit-price projection + ONE combinable
    per-part moment aggregate — a single shuffle on the part key."""
    li = load(spark, sf_dir, "lineitem")
    up = li.select(
        "l_partkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("u"),
    )
    g = up.groupBy("l_partkey").agg(
        F.count("*").alias("n_lines"),
        F.sum("u").alias("su"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
    )
    n = F.col("n_lines").cast("double")
    mean_u = F.col("su") / n
    var_u = F.when(
        F.col("n_lines") > 1,
        F.greatest(
            (F.col("suu") - n * mean_u * mean_u) / (n - 1), F.lit(0.0)
        ),
    ).otherwise(F.lit(0.0))
    cv_r = rnd(F.sqrt(var_u) / mean_u, 6)
    return g.select(
        "l_partkey",
        "n_lines",
        rnd(mean_u, 4).alias("mean_unit_price"),
        cv_r.alias("price_cv"),
        (cv_r > UPD_CV_FLAG).alias("dispersed"),
    )
