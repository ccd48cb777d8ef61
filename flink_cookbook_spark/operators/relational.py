"""Batch relational surface: joins, aggregations, set ops, sorts, top-k.

The reference implements only one join shape (broadcast latest-value, J1)
and two aggregations (window avg W2, Welford A1) — SURVEY.md section 2.2
lists the rest as engine scope from the north star. Everything here is
declarative DataFrame code so Catalyst supplies pushdown, pruning, join
selection (broadcast vs sort-merge via AQE), and whole-stage codegen.

Scale notes (100 TB):
- fact-to-fact joins (orders x lineitem) are shuffle joins on the join
  key; dimension joins (nation, region) are explicit ``F.broadcast``.
- every aggregate is a hash aggregate with map-side partial aggregation;
  count_distinct over high-cardinality keys expands to a two-stage
  (key-distinct then count) plan automatically.
- top-k per group is window row_number + filter — one shuffle, no global
  sort; global top-k is orderBy + limit, which Spark executes as per-
  partition top-k then a k-row driver merge (TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd
from flink_cookbook_spark.functions.time import epoch_seconds
from flink_cookbook_spark.pipeline.dedup import _SQL_HASH, _portable_hash


# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------


def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders x customer (shuffle/sort-merge at scale)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .select(
            "o_orderkey",
            "c_custkey",
            "c_name",
            "c_mktsegment",
            rnd(F.col("o_totalprice"), 2).alias("total_price"),
        )
    )


register(
    "join_inner",
    oracle="""
SELECT o_orderkey, c_custkey, c_name, c_mktsegment,
       round(o_totalprice + 1e-6, 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
""",
    tags=("join",),
)(join_inner)


def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + aggregate: order count / revenue per customer,
    keeping customers with no orders (count 0)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            rnd(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("revenue"),
        )
    )


register(
    "join_left_outer",
    oracle="""
SELECT c_custkey, c_name,
       count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0.0) + 1e-6, 2) AS revenue
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
    tags=("join",),
)(join_left_outer)


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one urgent order (EXISTS)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""",
    tags=("join",),
)(join_semi)


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no URGENT order (NOT EXISTS with a
    pushed-down filter on the probe side). The predicate matters for the
    correctness gate: every fixture customer has at least one order, so
    the unfiltered form was a vacuous 0-row == 0-row oracle match — this
    form anti-joins against a real subset and emits real rows."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""",
    tags=("join",),
)(join_anti)


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two keyed aggregates (customer vs supplier count
    per nation) — exercises null-filling on both sides."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_customers")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_suppliers")
    )
    return (
        c.withColumnRenamed("nationkey", "c_nk")
        .join(s, F.col("c_nk") == s.nationkey, "full_outer")
        .select(
            F.coalesce(F.col("c_nk"), F.col("nationkey")).alias("nation_key"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


register(
    "join_full_outer",
    oracle="""
WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
           FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
           FROM supplier GROUP BY 1)
SELECT coalesce(c.nationkey, s.nationkey) AS nation_key,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
""",
    tags=("join",),
)(join_full_outer)


def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range-predicate join: per order, lineitems shipped within 30
    days of the order date. The range predicate rides on the equi key, so
    Catalyst still plans a hash/sort-merge join on o_orderkey with the
    interval condition as a post-join filter — no cross product."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    cond = (
        (orders.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate >= orders.o_orderdate)
        # timestamp arithmetic (not date_add, which truncates to DateType
        # midnight) so the bound matches the oracle's INTERVAL semantics
        & (lineitem.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        orders.join(lineitem, cond, "inner")
        .groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n_quick_ship"),
            rnd(F.sum("l_extendedprice"), 2).alias("quick_revenue"),
        )
    )


register(
    "join_interval",
    oracle="""
SELECT o_orderkey,
       count(*) AS n_quick_ship,
       round(sum(l_extendedprice) + 1e-6, 2) AS quick_revenue
FROM orders JOIN lineitem
  ON o_orderkey = l_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderkey
""",
    tags=("join", "range-join"),
)(join_interval)


# --------------------------------------------------------------------------
# aggregations
# --------------------------------------------------------------------------


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: exact distinct counts per group (two-stage
    distinct-then-count plan at scale)."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count("*").alias("n_rows"),
    )


register(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg",),
)(agg_distinct)


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (HLL++), made hash-checkable: the raw sketch
    estimate differs across engines (DuckDB cannot reproduce Spark's
    HLL), so project the EXACT count plus a deterministic accuracy
    boolean — |est-exact|/exact <= 3*rsd. Spark's HLL merge is
    order-independent, so the estimate (and hence the boolean) is stable
    on fixed data; 3*rsd = 0.15 is the standard ~3-sigma bound (observed
    max fixture error 8.6% at rsd=0.05). The oracle recomputes the exact
    count and asserts the bound holds as literal TRUE."""
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", rsd=0.05).alias("_est"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("_est") - F.col("exact_orders"))
                / F.col("exact_orders")
                <= 0.15
            ).alias("within_3rsd"),
        )
    )


register(
    "agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS within_3rsd
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "approx"),
)(agg_approx_distinct)


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grouping_id to
    disambiguate subtotal rows from genuine NULL keys."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.grouping_id().alias("gid"),
    )


register(
    "agg_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       round(sum(l_quantity) + 1e-6, 2) AS sum_qty,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("agg", "rollup"),
)(agg_rollup)


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority)."""
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        rnd(F.avg("o_totalprice")).alias("avg_price"),
        F.grouping_id().alias("gid"),
    )


register(
    "agg_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(avg(o_totalprice) + 1e-6, 4) AS avg_price,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("agg", "cube"),
)(agg_cube)


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate pack: min/max/avg/stddev/var/median-ish
    percentile over lineitem prices per linestatus."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_linestatus").agg(
        rnd(F.min("l_extendedprice"), 2).alias("min_price"),
        rnd(F.max("l_extendedprice"), 2).alias("max_price"),
        rnd(F.avg("l_extendedprice")).alias("avg_price"),
        rnd(F.stddev_samp("l_extendedprice")).alias("std_price"),
        rnd(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        # round-12: money-weighted sum converted to the DECIMAL
        # discipline (operators/tpch.py) — a raw double sum of 4-dp
        # products over per-group row counts that grow with the corpus
        # is the q1/q6 cent-flip class
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            ),
            2,
        )
        .cast("double")
        .alias("weighted"),
    )


register(
    "agg_stats",
    oracle="""
SELECT l_linestatus,
       round(min(l_extendedprice) + 1e-6, 2) AS min_price,
       round(max(l_extendedprice) + 1e-6, 2) AS max_price,
       round(avg(l_extendedprice) + 1e-6, 4) AS avg_price,
       round(stddev_samp(l_extendedprice) + 1e-6, 4) AS std_price,
       round(var_samp(l_extendedprice) + 1e-6, 2) AS var_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                      * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
         AS weighted
FROM lineitem GROUP BY l_linestatus
""",
    tags=("agg",),
)(agg_stats)


# --------------------------------------------------------------------------
# set operations
# --------------------------------------------------------------------------


def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two filtered projections, then aggregate."""
    orders = load(spark, sf_dir, "orders")
    hi = orders.where(F.col("o_totalprice") > 200000).select(
        "o_custkey", F.lit("high").alias("bucket")
    )
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey", F.lit("urgent").alias("bucket")
    )
    return hi.unionAll(urgent).groupBy("bucket").agg(
        F.count("*").alias("n"), F.countDistinct("o_custkey").alias("n_custs")
    )


register(
    "set_union_all",
    oracle="""
WITH u AS (
  SELECT o_custkey, 'high' AS bucket FROM orders WHERE o_totalprice > 200000
  UNION ALL
  SELECT o_custkey, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT bucket, count(*) AS n, count(DISTINCT o_custkey) AS n_custs
FROM u GROUP BY bucket
""",
    tags=("setop",),
)(set_union_all)


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers appearing in both buckets."""
    orders = load(spark, sf_dir, "orders")
    hi = orders.where(F.col("o_totalprice") > 200000).select("o_custkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return hi.intersect(urgent)


register(
    "set_intersect",
    oracle="""
SELECT o_custkey FROM orders WHERE o_totalprice > 200000
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
    tags=("setop",),
)(set_intersect)


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): high-value customers with no urgent orders."""
    orders = load(spark, sf_dir, "orders")
    hi = orders.where(F.col("o_totalprice") > 200000).select("o_custkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return hi.subtract(urgent)  # EXCEPT DISTINCT semantics, matching SQL


register(
    "set_except",
    oracle="""
SELECT o_custkey FROM orders WHERE o_totalprice > 200000
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
    tags=("setop",),
)(set_except)


# --------------------------------------------------------------------------
# sort / limit / top-k / pivot
# --------------------------------------------------------------------------


def top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 by price, deterministic tie-break on key. Spark
    executes as TakeOrderedAndProject: per-partition top-k, k-row merge —
    no global sort even at 100 TB."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", rnd(F.col("o_totalprice"), 2).alias("total_price"))
    )


register(
    "top_orders_global",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice + 1e-6, 2) AS total_price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
""",
    tags=("topk",),
)(top_orders_global)


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment: window row_number + filter —
    one shuffle on the group key, no global sort."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "c_mktsegment",
            "rk",
            "o_orderkey",
            rnd(F.col("o_totalprice"), 2).alias("total_price"),
        )
    )


register(
    "topk_per_group",
    oracle="""
WITH ranked AS (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment, CAST(rk AS INTEGER) AS rk, o_orderkey, round(o_totalprice + 1e-6, 2) AS total_price
FROM ranked WHERE rk <= 3
""",
    tags=("topk", "window"),
)(topk_per_group)


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority (rows) x status (columns), written
    as conditional aggregation so the column set is static and portable."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_filled"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_partial"),
    )


register(
    "pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
FROM orders GROUP BY o_orderpriority
""",
    tags=("pivot",),
)(pivot_status_by_priority)


def agg_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended aggregate pack: correlation/covariance between price and
    discount, boolean aggregates, and an order-pinned string aggregation
    (sorted before concatenation so both engines produce identical
    strings)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        rnd(F.corr("l_extendedprice", "l_discount"), 6).alias("price_disc_corr"),
        rnd(F.covar_samp("l_extendedprice", "l_discount"), 4).alias("price_disc_covar"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_discount"),
        F.concat_ws(",", F.array_sort(F.collect_set("l_linestatus"))).alias("statuses"),
    )


register(
    "agg_extended",
    oracle="""
SELECT l_returnflag,
       round(corr(l_extendedprice, l_discount) + 1e-6, 6) AS price_disc_corr,
       round(covar_samp(l_extendedprice, l_discount) + 1e-6, 4) AS price_disc_covar,
       bool_and(l_quantity > 0) AS all_positive_qty,
       bool_or(l_discount > 0.09) AS any_big_discount,
       array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "statistics"),
)(agg_extended)


def changelog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key compaction over ``events`` (the changelog /
    CDC upsert-materialization pattern — what a streaming 'latest state'
    table is in batch form): one row per user_id, the most recent event
    by (ts, event_id) with full tie determinism.

    Scale shape: a single hash exchange on the key feeds row_number;
    Spark plans the filter as a rank-limited window (WindowGroupLimit
    pushes k=1 into the sort), so no per-key materialization of history.
    """
    from flink_cookbook_spark.catalog import load

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            epoch_seconds("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            rnd("value").alias("last_value"),
        )
    )


register(
    "changelog_compaction",
    oracle=f"""
SELECT user_id,
       event_id AS last_event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
       event_type AS last_event_type,
       round(value + 1e-6, 4) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
    tags=("window", "dedup", "changelog"),
)(changelog_compaction)


# --------------------------------------------------------------------------
# incremental / sketch-mergeable aggregation
# --------------------------------------------------------------------------

#: incremental split point: history before it is the "materialized" agg
#: state, rows at/after it are the delta batch (events span Jan 2024).
INC_SPLIT = "2024-01-16 00:00:00"


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: merge yesterday's materialized
    per-user aggregate STATE with the delta batch's state and emit the
    refreshed aggregate — the algebraic foundation of every incremental
    materialized view / continuous aggregate (only ever re-scan the
    delta, never the full history).

    Both halves reduce to mergeable moments (n, sum, sumsq, min, max);
    the merge is a second hash aggregate over 2 rows per key. avg and
    stddev are re-derived from merged moments, proving the state carries
    everything needed. The oracle recomputes from ALL raw rows — passing
    the hash check IS the merge-correctness proof (merge(old, delta) ==
    full recompute).

    At 100 TB: the "old" side is k rows of state (one per key), not
    history — only the delta is scanned per refresh; partial-aggregate
    shuffle volume is O(keys), and the same state merges associatively
    across any partitioning of the input.
    """
    ev = load(spark, sf_dir, "events")
    split = F.lit(INC_SPLIT).cast("timestamp")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("value").alias("n"),
            F.sum("value").alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("ssq"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    old = state(ev.where(F.col("ts") < split))
    delta = state(ev.where(F.col("ts") >= split))
    merged = (
        old.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.sum("ssq").alias("ssq"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    return merged.select(
        "user_id",
        F.col("n").alias("n_events"),
        rnd("s").alias("sum_value"),
        rnd(F.col("s") / F.col("n")).alias("avg_value"),
        rnd("mn").alias("min_value"),
        rnd("mx").alias("max_value"),
        rnd(
            F.sqrt(
                (F.col("ssq") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ),
            3,
        ).alias("std_value"),
    )


register(
    "incremental_agg_merge",
    # full recompute over raw rows — hash-matching it proves the
    # state-merge path is exact. stddev via the same moment formula so
    # both engines share the (benign at fixture magnitudes) cancellation.
    oracle="""
SELECT user_id,
       count(value) AS n_events,
       round(sum(value) + 1e-6, 4) AS sum_value,
       round(sum(value) / count(value) + 1e-6, 4) AS avg_value,
       round(min(value) + 1e-6, 4) AS min_value,
       round(max(value) + 1e-6, 4) AS max_value,
       round(sqrt((sum(value * value) - sum(value) * sum(value) / count(value))
                  / (count(value) - 1)) + 1e-6, 3) AS std_value
FROM events
GROUP BY user_id
""",
    tags=("agg", "incremental", "materialized-view"),
)(incremental_agg_merge)


def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-mergeable distinct-count rollup: per-day active users from
    a UNION of hourly HLL sketches (Datasketches ``hll_sketch_agg`` /
    ``hll_union_agg``), checked against the exact per-day distinct.

    The 100 TB distinct-count shape: hourly partials are computed once
    (map-side, mergeable, a few KB per bucket), and every coarser rollup
    (day/week/month) is a sketch UNION over partials — no re-scan of raw
    data, no shuffle of raw user ids. Like ``agg_approx_distinct``, the
    sketch estimate itself is engine-specific, so the emitted columns are
    the exact count plus a deterministic accuracy bound the oracle states
    as a literal: HLL at default lgK=12 is well inside 5% at fixture
    cardinalities, and union of partials must not degrade that.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    hourly = (
        ev.select(
            (F.floor(sec / 86400) * 86400).alias("day_start"),
            (F.floor(sec / 3600) * 3600).alias("hour_start"),
            "user_id",
        )
        .groupBy("day_start", "hour_start")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    daily = hourly.groupBy("day_start").agg(
        F.count("*").alias("n_hours"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
    )
    exact = (
        ev.select((F.floor(sec / 86400) * 86400).alias("day_start"), "user_id")
        .groupBy("day_start")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return daily.join(exact, "day_start").select(
        "day_start",
        "n_hours",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users")) / F.col("exact_users")
            <= 0.05
        ).alias("within_5pct"),
    )


register(
    "hll_mergeable_rollup",
    oracle="""
WITH hourly AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_start
  FROM events GROUP BY 1, 2
)
SELECT h.day_start,
       h.n_hours,
       e.exact_users,
       TRUE AS within_5pct
FROM (SELECT day_start, count(*) AS n_hours FROM hourly GROUP BY 1) h
JOIN (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
             count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY 1) e
  ON h.day_start = e.day_start
""",
    tags=("agg", "sketch", "hll", "rollup"),
)(hll_mergeable_rollup)


#: maintenance-window range join: 30 daily 90-min windows starting
#: 2024-01-01T06:00Z (epoch 1704088800) — both engines derive them from
#: these literals, no fixture table needed.
RJ_WIN_START = 1_704_088_800
RJ_WIN_LEN = 5_400
RJ_N_WINDOWS = 30
RJ_BUCKET = 3_600


def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no shared key) made equi: events falling inside
    any of 30 daily maintenance windows, joined via time-bucket overlap.

    A keyless interval predicate plans as BroadcastNestedLoopJoin (or
    worse, a cartesian) — O(rows x windows) comparisons. The scale
    rewrite: explode each window to the hour buckets it overlaps, bucket
    each event once, equi-join on bucket, then re-check the exact bounds.
    Each event is compared against only the windows sharing its hour —
    the standard bucketed range-join trick (Databricks' range-join hint,
    postgres range partitioning) expressed with plain operators. The
    window side stays tiny and broadcasts; the event side never fans out.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    windows = spark.range(RJ_N_WINDOWS).select(
        F.col("id").alias("win_id"),
        (F.lit(RJ_WIN_START) + F.col("id") * 86_400).alias("w_start"),
    )
    buckets = windows.select(
        "win_id",
        "w_start",
        F.explode(
            F.sequence(
                (F.col("w_start") / RJ_BUCKET).cast("long"),
                ((F.col("w_start") + RJ_WIN_LEN - 1) / RJ_BUCKET).cast("long"),
            )
        ).alias("bucket"),
    )
    tagged = ev.select(sec.alias("sec"), "value").withColumn(
        "bucket", (F.col("sec") / RJ_BUCKET).cast("long")
    )
    return (
        tagged.join(F.broadcast(buckets), "bucket")
        .where(
            (F.col("sec") >= F.col("w_start"))
            & (F.col("sec") < F.col("w_start") + RJ_WIN_LEN)
        )
        .groupBy("win_id")
        .agg(F.count("*").alias("n_events"), rnd(F.avg("value")).alias("avg_value"))
    )


register(
    "range_join_bucketed",
    # the oracle states the SEMANTICS as the naive non-equi join — the
    # hash match proves the bucketed rewrite loses/duplicates nothing.
    oracle=f"""
WITH win AS (
  SELECT CAST(g.i AS BIGINT) AS win_id,
         {RJ_WIN_START} + g.i * 86400 AS w_start
  FROM generate_series(0, {RJ_N_WINDOWS - 1}) AS g(i)
),
ev AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events)
SELECT w.win_id, count(*) AS n_events, round(avg(value) + 1e-6, 4) AS avg_value
FROM win w JOIN ev e ON e.sec >= w.w_start AND e.sec < w.w_start + {RJ_WIN_LEN}
GROUP BY 1
""",
    tags=("join", "range-join", "bucketed", "bench"),
)(range_join_bucketed)


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile scores for Recency (days since
    last order, anchored to the corpus max order date), Frequency (order
    count) and Monetary (total spend), plus the composite segment label —
    the canonical warehouse cohorting query.

    Scale design (the reason this is NOT three global ntile windows):
    quartile BOUNDARIES come from one exact-percentile aggregate (a
    1-row, 3x3-value result, broadcast), and scoring is a map-only
    comparison against those arrays — no global sort, no
    single-partition ranking window (the ``decile_lift_table``
    pattern). Boundaries are DISCRETE percentiles (actual stored
    values, identical doubles on both engines — Spark
    ``percentile_disc`` and DuckDB ``quantile_disc`` agree on the
    smallest-value-with-cume_dist>=q definition, verified across edge
    cardinalities), so boundary ties can never reclassify between
    engines. Unlike ntile, TIED values share a score (quartiles are
    value-quantiles, not equal-count buckets) — the semantics a
    segmentation actually wants: two customers with identical behavior
    land in the same segment. Descending dimensions (frequency,
    monetary: score 1 = best) bucket on the NEGATED value ascending,
    which is IEEE-exact. Monetary buckets on the 2-dp-rounded spend so
    engine summation-order noise can never straddle a cutpoint.
    """
    orders = load(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum("o_totalprice").alias("monetary_raw"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.datediff("anchor", "last_order").cast("int").alias("recency_days"),
            "frequency",
            rnd("monetary_raw", 2).alias("monetary"),
        )
    )
    per_cust.createOrReplaceTempView("_rfm_per_cust")
    qs = (0.25, 0.5, 0.75)

    def _disc(expr: str) -> str:
        return ", ".join(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY {expr})" for q in qs
        )

    bounds = spark.sql(
        "SELECT "
        f"array({_disc('CAST(recency_days AS DOUBLE)')}) AS r_bounds, "
        f"array({_disc('-CAST(frequency AS DOUBLE)')}) AS f_bounds, "
        f"array({_disc('-monetary')}) AS m_bounds "
        "FROM _rfm_per_cust"
    )

    def _score(value, bounds_col):
        return 1 + F.aggregate(
            F.transform(bounds_col, lambda b: (value > b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    scored = per_cust.crossJoin(F.broadcast(bounds)).select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        _score(F.col("recency_days").cast("double"), "r_bounds").alias("r_score"),
        _score(-F.col("frequency").cast("double"), "f_bounds").alias("f_score"),
        _score(-F.col("monetary"), "m_bounds").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws("-", "r_score", "f_score", "m_score"),
    )


register(
    "rfm_segments",
    oracle="""
WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
per_cust AS (
  SELECT o_custkey AS c_custkey,
         CAST(date_diff('day', max(o_orderdate), (SELECT a FROM anchor))
              AS INTEGER) AS recency_days,
         count(*) AS frequency,
         round(sum(o_totalprice) + 1e-6, 2) AS monetary
  FROM orders GROUP BY 1
),
bounds AS (
  SELECT quantile_disc(CAST(recency_days AS DOUBLE), [0.25, 0.5, 0.75]) AS r_bounds,
         quantile_disc(-CAST(frequency AS DOUBLE), [0.25, 0.5, 0.75]) AS f_bounds,
         quantile_disc(-monetary, [0.25, 0.5, 0.75]) AS m_bounds
  FROM per_cust
),
scored AS (
  SELECT c_custkey, recency_days, frequency, monetary,
         1 + list_sum([CASE WHEN CAST(recency_days AS DOUBLE) > b
                            THEN 1 ELSE 0 END for b in r_bounds]) AS r_score,
         1 + list_sum([CASE WHEN -CAST(frequency AS DOUBLE) > b
                            THEN 1 ELSE 0 END for b in f_bounds]) AS f_score,
         1 + list_sum([CASE WHEN -monetary > b
                            THEN 1 ELSE 0 END for b in m_bounds]) AS m_score
  FROM per_cust CROSS JOIN bounds
)
SELECT c_custkey, recency_days, frequency, monetary,
       CAST(r_score AS INTEGER) AS r_score,
       CAST(f_score AS INTEGER) AS f_score,
       CAST(m_score AS INTEGER) AS m_score,
       CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
         || '-' || CAST(m_score AS VARCHAR) AS segment
FROM scored
""",
    tags=("agg", "segmentation", "broadcast-cutpoints"),
)(rfm_segments)


AFFINITY_MIN_CO = 2  # minimum co-order count before scoring a part pair


def basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-order part-pair counts ``(p1 < p2, n_co)``, memoized per
    session and shared by the basket-graph family (``part_affinity``,
    ``copurchase_degree_distribution``, ``graph_assortativity``).

    Built by per-basket ARRAY expansion instead of the basket-line
    self-join: one keyed exchange groups each order's distinct parts
    into a sorted array, then a map-side combination explode emits the
    C(k, 2) in-basket pairs directly — no join, so the basket-line
    table is never broadcast/shuffled a second time per consumer, and
    the only other exchange is the pair aggregation itself. Baskets are
    small by construction (single-digit lines per order at any scale),
    so the per-row array work is bounded and skew-free."""
    from flink_cookbook_spark.pipeline._cache import memo_persist

    def build() -> DataFrame:
        arrays = (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        )
        pairs = F.flatten(
            F.transform(
                F.col("parts"),
                lambda x, i: F.transform(
                    F.slice(F.col("parts"), i + F.lit(2), F.size(F.col("parts"))),
                    lambda y: F.struct(x.alias("p1"), y.alias("p2")),
                ),
            )
        )
        return (
            arrays.select(F.explode(pairs).alias("pr"))
            .select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
            .groupBy("p1", "p2")
            .agg(F.count("*").alias("n_co"))
        )

    return memo_persist(spark, "basket_pair_counts", sf_dir, build)


def part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-ordered at least
    AFFINITY_MIN_CO times, with support and lift — the relational twin of
    ``collocation_pmi`` (lift is PMI without the log): co-purchase
    recommendation candidates straight from the order lines.

    Per-order pair expansion comes from the shared per-basket array
    memo (``basket_pair_counts``) — candidate pairs are per-basket
    combinations (baskets are small), never part², and no self-join
    re-broadcasts the basket table per run. The singleton-count joins
    are deliberately UNHINTED:
    their cardinality is the part catalog, which at sf1e4 no longer fits
    a forced broadcast — a plain equi-join lets AQE broadcast when small
    and shuffle when not. Only the 1-row order total is broadcast;
    lift = P(p1,p2) / (P(p1) * P(p2)) over order-incidence
    probabilities.
    """
    from flink_cookbook_spark.pipeline._cache import memo_persist

    # the distinct basket-line table feeds the singleton counts and the
    # order total; the pair counts come from the shared array-expansion
    # memo above (one build per session, no per-run self-join).
    li = memo_persist(
        spark,
        "basket_lines",
        sf_dir,
        lambda: load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
    )
    co = basket_pair_counts(spark, sf_dir).where(F.col("n_co") >= AFFINITY_MIN_CO)
    singles = li.groupBy("l_partkey").agg(F.count("*").alias("n_orders_part"))
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    s1 = singles.select(F.col("l_partkey").alias("p1"), F.col("n_orders_part").alias("c1"))
    s2 = singles.select(F.col("l_partkey").alias("p2"), F.col("n_orders_part").alias("c2"))
    lift = (F.col("n_co") * F.col("n_orders")) / (F.col("c1") * F.col("c2"))
    return (
        co.join(s1, "p1")
        .join(s2, "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "n_co",
            rnd(F.col("n_co") / F.col("n_orders"), 6).alias("support"),
            rnd(lift, 4).alias("lift"),
        )
    )


register(
    "part_affinity",
    oracle=f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
co AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_co
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {AFFINITY_MIN_CO}
),
singles AS (SELECT l_partkey, count(*) AS c FROM lp GROUP BY 1),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lp)
SELECT co.p1, co.p2, co.n_co,
       round(co.n_co * 1.0 / n.n_orders + 1e-6, 6) AS support,
       round((co.n_co * n.n_orders * 1.0) / (s1.c * s2.c) + 1e-6, 4) AS lift
FROM co
JOIN singles s1 ON co.p1 = s1.l_partkey
JOIN singles s2 ON co.p2 = s2.l_partkey
CROSS JOIN n
""",
    tags=("agg", "join", "basket", "recommendation", "bench"),
)(part_affinity)


def expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over ``events`` — the Deequ/
    Great-Expectations shape: each row is one named check with its
    observed metric and pass flag (completeness, uniqueness, value range,
    referential sanity of the JSON payload).

    All checks reduce over ONE scan: conditional aggregates share the
    same partial-aggregation pass, so adding a check costs a column, not
    a job — the always-on data-quality gate a 100 TB ingest runs per
    batch.
    """
    ev = load(spark, sf_dir, "events")
    checks = ev.agg(
        F.count("*").alias("n_rows"),
        (F.count("value") / F.count("*")).alias("value_completeness"),
        (F.countDistinct("event_id") / F.count("*")).alias("event_id_uniqueness"),
        F.sum((F.col("value") < 0).cast("long")).alias("value_negative_count"),
        F.sum(F.get_json_object("props", "$.k").isNull().cast("long")).alias(
            "props_missing_k_count"
        ),
    )
    rows = [
        ("value_completeness", F.col("value_completeness"), F.col("value_completeness") == 1.0),
        ("event_id_uniqueness", F.col("event_id_uniqueness"), F.col("event_id_uniqueness") == 1.0),
        (
            "value_non_negative",
            F.col("value_negative_count").cast("double"),
            F.col("value_negative_count") == 0,
        ),
        (
            "props_has_k",
            F.col("props_missing_k_count").cast("double"),
            F.col("props_missing_k_count") == 0,
        ),
    ]
    stacked = checks.select(
        F.col("n_rows"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check"),
                        rnd(metric, 6).alias("observed"),
                        passed.alias("passed"),
                    )
                    for name, metric, passed in rows
                ]
            )
        ).alias("c"),
    )
    return stacked.select("c.check", "n_rows", "c.observed", "c.passed")


register(
    "expectation_checks",
    oracle="""
WITH m AS (
  SELECT count(*) AS n_rows,
         count(value) * 1.0 / count(*) AS value_completeness,
         count(DISTINCT event_id) * 1.0 / count(*) AS event_id_uniqueness,
         sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS value_negative_count,
         sum(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS props_missing_k_count
  FROM events
)
SELECT u.check, m.n_rows, u.observed, u.passed FROM m, LATERAL (
  SELECT 'value_completeness' AS "check", round(value_completeness + 1e-6, 6) AS observed,
         value_completeness = 1.0 AS passed
  UNION ALL
  SELECT 'event_id_uniqueness', round(event_id_uniqueness + 1e-6, 6),
         event_id_uniqueness = 1.0
  UNION ALL
  SELECT 'value_non_negative', round(value_negative_count * 1.0 + 1e-6, 6),
         value_negative_count = 0
  UNION ALL
  SELECT 'props_has_k', round(props_missing_k_count * 1.0 + 1e-6, 6),
         props_missing_k_count = 0
) u
""",
    tags=("quality", "profiling", "expectations"),
)(expectation_checks)


CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 256  # buckets per row
CMS_TOP = 20  # heavy hitters to verify


def _cms_hash(depth: int, col) -> F.Column:
    """Portable 60-bit md5 hash (same construction as the dedup family's
    ``_portable_hash``) seeded by the sketch row index, reduced mod the
    sketch width — bit-identical in Spark and DuckDB."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"cms{depth}:"), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(CMS_WIDTH))


def _cms_hash_sql(depth: int, x: str) -> str:
    return (
        f"(CAST('0x' || substr(md5('cms{depth}:' || CAST({x} AS VARCHAR)), 1, 15) AS BIGINT)"
        f" % {CMS_WIDTH})"
    )


def count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over event user ids, verified on the exact top
    CMS_TOP heavy hitters — the streaming-friendly frequency sketch
    (depth x width counters, mergeable across partitions and windows like
    the HLL rollup) built from PURE deterministic md5 hashing, so the
    sketch itself — not just a bound — is value-hash-checked against the
    oracle.

    Emits per heavy hitter: exact count, CMS estimate, and the
    overcount (estimate - exact). The count-min guarantee `estimate >=
    exact` holds deterministically (collisions only ADD), so `overcount`
    is always >= 0 on both engines. At 100 TB the sketch is
    depth x width longs per partition, combined map-side — frequency
    monitoring without shuffling raw keys.
    """
    ev = load(spark, sf_dir, "events")
    rows = ev.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_hash(d, F.col("user_id")).alias("bucket"),
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("h"),
    )
    cms = rows.groupBy("h.d", "h.bucket").agg(F.count("*").alias("c"))
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    # TakeOrderedAndProject (orderBy + limit), not a global row_number
    # window: the planner streams per-partition top-CMS_TOP heaps to the
    # driver — unconditionally safe at any key cardinality. The rank is
    # then re-derived by a window over the CMS_TOP-row result only.
    top = (
        exact.orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(CMS_TOP)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
            ),
        )
    )
    probes = top.select(
        "user_id",
        "exact_n",
        "rank",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_hash(d, F.col("user_id")).alias("bucket"),
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("h"),
    ).select("user_id", "exact_n", "rank", "h.d", "h.bucket")
    return (
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("user_id", "exact_n", "rank")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "rank",
            "user_id",
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n")).alias("overcount"),
        )
    )


register(
    "count_min_heavy_hitters",
    oracle=f"""
WITH hashed AS (
  SELECT user_id, d,
         CASE d
           {" ".join(f"WHEN {d} THEN {_cms_hash_sql(d, 'user_id')}" for d in range(CMS_DEPTH))}
         END AS bucket
  FROM events CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS d)
),
cms AS (SELECT d, bucket, count(*) AS c FROM hashed GROUP BY 1, 2),
exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1),
top AS (
  SELECT user_id, exact_n,
         row_number() OVER (ORDER BY exact_n DESC, user_id ASC) AS rank
  FROM exact QUALIFY rank <= {CMS_TOP}
),
probes AS (
  SELECT t.user_id, t.exact_n, t.rank, h.d, h.bucket
  FROM top t JOIN hashed h ON t.user_id = h.user_id
  GROUP BY ALL
)
SELECT CAST(p.rank AS INTEGER) AS rank, p.user_id, p.exact_n,
       min(c.c) AS cms_estimate,
       min(c.c) - p.exact_n AS overcount
FROM probes p JOIN cms c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY p.rank, p.user_id, p.exact_n
""",
    tags=("agg", "sketch", "count-min", "heavy-hitters"),
)(count_min_heavy_hitters)


# --------------------------------------------------------------------------
# Bloom-filter runtime prefilter (semi-join pruning)
# --------------------------------------------------------------------------

#: Bloom filter size in bit positions. Deliberately small (64) so the
#: fixture actually exercises false positives — the point of the query
#: is to *verify the Bloom contract* (kept set is a superset of the true
#: matches; false-positive rate ~ (set_bits/m)^k). Production sizing is
#: m ~ 10 bits/key for ~1% fp at k=2.
BLOOM_BITS = 64
#: number of hash functions (salted md5 positions).
BLOOM_HASHES = 2
#: build-side selection: suppliers of this nation.
BLOOM_NATION = "NATION_9"


def _bloom_pos(salt: str, col) -> F.Column:
    """Bit position ``hash_salt(key) % BLOOM_BITS`` — md5-derived so the
    DuckDB oracle computes the identical position."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % BLOOM_BITS


def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join pruning, made explicit: build a
    Bloom filter over a selective dimension key set (suppliers of one
    nation), apply it map-side to the fact scan, then verify against the
    exact semi-join. Output per l_returnflag: rows kept by the Bloom
    prefilter, true matches, and false positives.

    This is the runtime-filter pattern (Spark's
    ``spark.sql.optimizer.runtime.bloomFilter.enabled``, here explicit
    and oracle-checkable): at 100 TB the fact side is filtered BEFORE
    the shuffle by a broadcast O(m)-bit side-channel, so a selective
    join moves only ~matching rows instead of the whole fact table. The
    filter is a 1-row broadcast array of set bit positions; membership
    is k ``array_contains`` probes — zero extra shuffles, and the exact
    join that follows only sees the pre-pruned stream.
    """
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    lineitem = load(spark, sf_dir, "lineitem")

    build = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == BLOOM_NATION)),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")

    positions = build.select(_bloom_pos("b0", F.col("s_suppkey")).alias("p"))
    for i in range(1, BLOOM_HASHES):
        positions = positions.unionByName(
            build.select(_bloom_pos(f"b{i}", F.col("s_suppkey")).alias("p"))
        )
    bitset = positions.agg(F.sort_array(F.collect_set("p")).alias("bitset"))

    probe = lineitem.select("l_returnflag", "l_suppkey").crossJoin(F.broadcast(bitset))
    bloom_pass = F.array_contains("bitset", _bloom_pos("b0", F.col("l_suppkey")))
    for i in range(1, BLOOM_HASHES):
        bloom_pass = bloom_pass & F.array_contains(
            "bitset", _bloom_pos(f"b{i}", F.col("l_suppkey"))
        )
    flagged = (
        probe.withColumn("bloom_pass", bloom_pass)
        .join(
            F.broadcast(build.withColumn("_tm", F.lit(True))),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
        .withColumn("true_match", F.col("_tm").isNotNull())
    )
    return (
        flagged.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("bloom_pass"), 1)).alias("bloom_kept"),
            F.count(F.when(F.col("true_match"), 1)).alias("true_matches"),
            F.count(F.when(F.col("bloom_pass") & ~F.col("true_match"), 1)).alias(
                "false_positives"
            ),
        )
    )


_BLOOM_POS_SQL = (
    lambda salt, col: f"(CAST('0x' || substr(md5('{salt}:' || CAST({col} AS VARCHAR)), 1, 15)"
    f" AS BIGINT) % {BLOOM_BITS})"
)

register(
    "bloom_prefilter_join",
    oracle=f"""
WITH build AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = '{BLOOM_NATION}'
),
bits AS (
  -- position terms generated from range(BLOOM_HASHES) like the Spark
  -- side, so changing BLOOM_HASHES can never desynchronize the two
  SELECT list(DISTINCT p ORDER BY p) AS bitset FROM (
    {" UNION ALL ".join(f"SELECT {_BLOOM_POS_SQL(f'b{i}', 's_suppkey')} AS p FROM build" for i in range(BLOOM_HASHES))})
),
probe AS (
  SELECT l_returnflag,
         {" AND ".join(f"list_contains(bits.bitset, {_BLOOM_POS_SQL(f'b{i}', 'l_suppkey')})" for i in range(BLOOM_HASHES))} AS bloom_pass,
         l_suppkey IN (SELECT s_suppkey FROM build) AS true_match
  FROM lineitem CROSS JOIN bits
)
SELECT l_returnflag,
       count(*) FILTER (bloom_pass) AS bloom_kept,
       count(*) FILTER (true_match) AS true_matches,
       count(*) FILTER (bloom_pass AND NOT true_match) AS false_positives
FROM probe GROUP BY l_returnflag
""",
    tags=("join", "runtime-filter", "bloom", "bench"),
)(bloom_prefilter_join)


def parameterized_sql_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (``spark.sql(query, args={...})``) — the
    injection-safe templating surface for productionized queries: the
    priority band and price floor arrive as BOUND PARAMETERS (typed
    literals in the plan), never string-concatenated. Catalyst constant-
    folds them exactly like inline literals, so pushdown/pruning are
    unaffected. The oracle inlines the same values.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("_fcs_param_orders")
    return spark.sql(
        # money discipline: the exact DECIMAL sum (the 100x sweep
        # flipped the double sum's cent), same SQL text both engines
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2)
                    AS DOUBLE) AS sum_price
        FROM _fcs_param_orders
        WHERE o_orderpriority <= :prio AND o_totalprice >= :floor
        GROUP BY o_orderpriority
        """,
        args={"prio": "3-MEDIUM", "floor": 1000.0},
    )


register(
    "parameterized_sql_query",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderpriority <= '3-MEDIUM' AND o_totalprice >= 1000.0
GROUP BY o_orderpriority
""",
    tags=("sql", "parameterized", "surface"),
)(parameterized_sql_query)


def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bitmap partials — the
    precise sibling of ``hll_mergeable_rollup``: hourly (event_type,
    bitmap-bucket) bitmaps of user ids (``bitmap_construct_agg``) OR-
    merge (``bitmap_or_agg``) into exact per-type daily distinct counts.
    The pattern materialized views use when approximate is not
    acceptable: partials combine associatively, so daily = OR of hourly
    with NO rescan of raw data.

    Scale shape: one combinable aggregate to hourly bitmap partials
    (state per group = 4 KB bitmap), one tiny merge aggregate over
    partial rows; user ids bucket at 32768/bitmap so the state is
    bounded per (key, bucket) regardless of user count.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    hourly = (
        ev.select(
            "event_type",
            (F.floor(sec / 3600) * 3600).alias("h"),
            (F.floor(sec / 86400) * 86400).alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "day", "h", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    daily = (
        hourly.groupBy("event_type", "day", "bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("event_type", "day")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("exact_distinct_users"))
    )
    return daily.select("event_type", "day", "exact_distinct_users")


register(
    "bitmap_distinct_rollup",
    oracle="""
SELECT event_type,
       (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users
FROM events
GROUP BY 1, 2
""",
    tags=("aggregation", "bitmap", "mergeable", "distinct"),
)(bitmap_distinct_rollup)


def exact_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete vs continuous percentiles side by side: per event type,
    p25/p50/p75 as ``percentile_disc`` (an actual observed value — what
    SLO reporting wants) and ``percentile`` (interpolated — what trend
    math wants). Both are exact per-key sorts over the same single
    exchange; at open key domains swap for approx_percentile.
    """
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_fcs_pd_events")
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               round(percentile_disc(0.25) WITHIN GROUP (ORDER BY value) + 1e-6, 4) AS p25_disc,
               round(percentile_disc(0.50) WITHIN GROUP (ORDER BY value) + 1e-6, 4) AS p50_disc,
               round(percentile_disc(0.75) WITHIN GROUP (ORDER BY value) + 1e-6, 4) AS p75_disc,
               round(percentile(value, 0.25) + 1e-6, 4) AS p25_cont,
               round(percentile(value, 0.50) + 1e-6, 4) AS p50_cont,
               round(percentile(value, 0.75) + 1e-6, 4) AS p75_cont
        FROM _fcs_pd_events
        GROUP BY event_type
        """
    )


register(
    "exact_percentile_disc",
    oracle="""
SELECT event_type,
       count(*) AS n,
       round(quantile_disc(value, 0.25) + 1e-6, 4) AS p25_disc,
       round(quantile_disc(value, 0.50) + 1e-6, 4) AS p50_disc,
       round(quantile_disc(value, 0.75) + 1e-6, 4) AS p75_disc,
       round(quantile_cont(value, 0.25) + 1e-6, 4) AS p25_cont,
       round(quantile_cont(value, 0.50) + 1e-6, 4) AS p50_cont,
       round(quantile_cont(value, 0.75) + 1e-6, 4) AS p75_cont
FROM events
GROUP BY event_type
""",
    tags=("aggregation", "percentile", "exact"),
)(exact_percentile_disc)


def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``eqNullSafe`` / ``<=>``): the join
    semantics batch upsert pipelines need when the key itself can be
    NULL — plain ``=`` silently drops every null-keyed row (NULL = NULL
    is NULL), ``<=>`` matches them. Keys here are user cohorts with one
    cohort nulled out (nullif), joined against per-cohort aggregates
    built the same way; the null cohort must survive with its rows
    intact. Oracle: ``IS NOT DISTINCT FROM``.
    """
    ev = load(spark, sf_dir, "events")
    cohort = F.nullif(F.col("user_id") % 10, F.lit(7))
    left = ev.select(cohort.alias("cohort"), "value")
    dims = (
        ev.select(cohort.alias("cohort"))
        .groupBy("cohort")
        .agg(F.count("*").alias("cohort_size"))
    )
    joined = left.join(dims, left.cohort.eqNullSafe(dims.cohort)).select(
        left.cohort.alias("cohort"), "value", "cohort_size"
    )
    return joined.groupBy("cohort").agg(
        F.count("*").alias("n_rows"),
        F.max("cohort_size").alias("cohort_size"),
        rnd(F.avg("value"), 4).alias("avg_value"),
    )


register(
    "null_safe_join",
    oracle="""
WITH left_side AS (
  SELECT nullif(user_id % 10, 7) AS cohort, value FROM events
),
dims AS (
  SELECT nullif(user_id % 10, 7) AS cohort, count(*) AS cohort_size
  FROM events GROUP BY 1
)
SELECT l.cohort,
       count(*) AS n_rows,
       CAST(max(d.cohort_size) AS BIGINT) AS cohort_size,
       round(avg(l.value) + 1e-6, 4) AS avg_value
FROM left_side l JOIN dims d ON l.cohort IS NOT DISTINCT FROM d.cohort
GROUP BY l.cohort
""",
    tags=("join", "null-safe", "surface"),
)(null_safe_join)


#: KMV sketch size (k smallest normalized hashes kept per key).
KMV_K = 64


def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, fully deterministic
    and cross-engine verifiable — unlike HLL, whose register layout is
    engine-private: hash each user to (0,1) via the portable md5-PRF,
    keep the K smallest per event type, and estimate distinct count as
    (K-1)/h_K (the classic KMV estimator). Mergeable by construction
    (union then re-take K smallest), bounded state (K doubles per key).
    Output includes the exact count and the relative error, so the
    sketch's accuracy contract itself is hash-checked.

    Scale shape: one keyed exchange; the K-smallest filter compiles to a
    rank-limited window (WindowGroupLimit); estimator math runs over
    K rows per key.
    """
    ev = load(spark, sf_dir, "events")
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15),
            16, 10,
        ).cast("double")
        / float(16 ** 15)
    )
    hashed = ev.select("event_type", F.col("user_id"), h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    kept = hashed.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= KMV_K)
    sketch = kept.groupBy("event_type").agg(
        F.count("*").alias("n_kept"),
        F.max("h").alias("h_k"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_kept") < KMV_K, F.col("n_kept").cast("double")
    ).otherwise((F.lit(KMV_K - 1)) / F.col("h_k"))
    return sketch.join(exact, "event_type").select(
        "event_type",
        "exact_distinct",
        rnd(est, 2).alias("kmv_estimate"),
        rnd((est - F.col("exact_distinct")) / F.col("exact_distinct"), 4).alias(
            "rel_error"
        ),
    )


register(
    "kmv_distinct_estimate",
    oracle=f"""
WITH hashed AS (
  SELECT DISTINCT event_type, user_id,
         CAST(CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)
                   AS BIGINT) AS DOUBLE) / {float(16 ** 15)} AS h
  FROM events
),
kept AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rk
    FROM hashed)
  WHERE rk <= {KMV_K}
),
sketch AS (
  SELECT event_type, count(*) AS n_kept, max(h) AS h_k
  FROM kept GROUP BY event_type
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT s.event_type, e.exact_distinct,
       round(CASE WHEN s.n_kept < {KMV_K} THEN s.n_kept * 1.0
                  ELSE {KMV_K - 1} / s.h_k END + 1e-6, 2) AS kmv_estimate,
       round((CASE WHEN s.n_kept < {KMV_K} THEN s.n_kept * 1.0
                   ELSE {KMV_K - 1} / s.h_k END - e.exact_distinct)
             / e.exact_distinct + 1e-6, 4) AS rel_error
FROM sketch s JOIN exact e USING (event_type)
""",
    tags=("aggregation", "sketch", "kmv", "distinct"),
)(kmv_distinct_estimate)


def yoy_segment_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per market segment: yearly revenue and
    order counts joined to customer segments, with YoY deltas computed
    by lag over the (segment, year) aggregate — the classic
    period-over-period report shape. Everything after the first
    aggregate runs at segments x years cardinality; the fact join
    shuffles once on custkey and the growth window costs nothing at any
    scale.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    # round-12: revenue per (segment, year) sums ALL orders into ~35
    # groups — extensive; DECIMAL discipline so the sums (and the
    # lagged previous year) are exact and engine-identical at any scale
    yearly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", F.year("o_orderdate").alias("yr"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("yr")
    rev_d = F.col("rev").cast("double")  # exact below the 2^53 boundary
    prev_rev = F.lag(F.col("rev")).over(w).cast("double")
    return yearly.select(
        "c_mktsegment",
        "yr",
        "n_orders",
        rnd(rev_d, 2).alias("revenue"),
        rnd(prev_rev, 2).alias("prev_revenue"),
        rnd(
            F.when(prev_rev > 0, (rev_d - prev_rev) / prev_rev * 100.0), 4
        ).alias("yoy_growth_pct"),
    )


register(
    "yoy_segment_growth",
    oracle="""
WITH yearly AS (
  SELECT c_mktsegment, year(o_orderdate) AS yr,
         count(*) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT c_mktsegment, CAST(yr AS INTEGER) AS yr, n_orders,
       round(CAST(rev AS DOUBLE) + 1e-6, 2) AS revenue,
       round(CAST(lag(rev) OVER w AS DOUBLE) + 1e-6, 2) AS prev_revenue,
       round(CASE WHEN lag(rev) OVER w > 0
                  THEN (CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE))
                       / CAST(lag(rev) OVER w AS DOUBLE) * 100.0 END
             + 1e-6, 4) AS yoy_growth_pct
FROM yearly
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY yr)
""",
    tags=("aggregation", "window", "period-over-period"),
)(yoy_segment_growth)


def kmv_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV MERGE proof — the property that makes the sketch useful at
    scale: hourly partials (each the K smallest user hashes for that
    hour) union and re-take-K into the daily sketch WITHOUT rescanning
    raw data, exactly like the HLL and bitmap rollups but with sketch
    math that both engines can replay bit-for-bit. Output: per
    (event_type, day) the merged-sketch estimate next to the exact
    distinct count.

    Scale shape: hourly partial state is K doubles per group (bounded);
    the daily merge is array flatten + sort + slice over partial rows —
    post-aggregate cardinality only.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15),
            16, 10,
        ).cast("double")
        / float(16 ** 15)
    )
    hourly = (
        ev.select(
            "event_type",
            (F.floor(sec / 3600) * 3600).alias("hr"),
            (F.floor(sec / 86400) * 86400).alias("day"),
            h.alias("h"),
        )
        .groupBy("event_type", "day", "hr")
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("kmin")
        )
    )
    merged = hourly.groupBy("event_type", "day").agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmin")))),
            1,
            KMV_K,
        ).alias("kmin")
    )
    est = F.when(
        F.size("kmin") < KMV_K, F.size("kmin").cast("double")
    ).otherwise(F.lit(KMV_K - 1) / F.element_at("kmin", KMV_K))
    exact = ev.select(
        "event_type",
        (F.floor(sec / 86400) * 86400).alias("day"),
        "user_id",
    ).groupBy("event_type", "day").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return merged.join(exact, ["event_type", "day"]).select(
        "event_type",
        "day",
        "exact_distinct",
        rnd(est, 2).alias("merged_estimate"),
    )


register(
    "kmv_merge_rollup",
    oracle=f"""
WITH hashed AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hr,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day,
         user_id,
         CAST(CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)
                   AS BIGINT) AS DOUBLE) / {float(16 ** 15)} AS h
  FROM events
),
hourly AS (
  SELECT event_type, day, hr,
         list_sort(list_distinct(list(h)))[1:{KMV_K}] AS kmin
  FROM hashed GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, day,
         list_sort(list_distinct(flatten(list(kmin))))[1:{KMV_K}] AS kmin
  FROM hourly GROUP BY 1, 2
),
exact AS (
  SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day,
         count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1, 2
)
SELECT m.event_type, m.day, e.exact_distinct,
       round(CASE WHEN len(m.kmin) < {KMV_K} THEN len(m.kmin) * 1.0
                  ELSE {KMV_K - 1} / m.kmin[{KMV_K}] END + 1e-6, 2) AS merged_estimate
FROM merged m JOIN exact e USING (event_type, day)
""",
    tags=("aggregation", "sketch", "kmv", "mergeable"),
)(kmv_merge_rollup)


def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group MODE (most frequent value). Spark ships
    ``F.mode``, but its tie resolution is nondeterministic — unusable
    under a value-hash gate and unrepeatable in production reports; the
    engine form is the classic two-level shape: count per (group, value)
    — a map-side-combinable hash agg whose cardinality is bounded by the
    value domain, never the row count — then argmax with a total-order
    tie-break (highest count, then lexicographically smallest value) via
    one per-group window over the tiny count table."""
    orders = load(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


register(
    "mode_per_group",
    oracle="""
SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count FROM (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY count(*) DESC, o_orderpriority) AS rk
  FROM orders GROUP BY o_orderstatus, o_orderpriority)
WHERE rk = 1
""",
    tags=("aggregation", "mode", "argmax"),
)(mode_per_group)


#: top-N suppliers concatenated per nation by the ordered string agg.
LISTAGG_TOP_N = 3


def listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED string aggregation (LISTAGG ... WITHIN GROUP): per nation,
    the top-N supplier names by account balance as one CSV field — the
    report-building primitive warehouses use for 'best items per group'
    columns. Spark 4 has ``listagg`` but no deterministic WITHIN GROUP
    ordering guarantee under partial aggregation; the engine form builds
    it from codegen'd collection ops: collect_list of (sort-key, name)
    structs -> array_sort (struct field order = ORDER BY) -> slice N ->
    transform -> array_join. Per-group state is the group's own structs;
    the N-slice means downstream width is bounded regardless of group
    size."""
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = sup.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("s_acctbal")).alias("neg_bal"),
                                F.col("s_name").alias("nm"),
                            )
                        )
                    ),
                    1,
                    LISTAGG_TOP_N,
                ),
                lambda s: s.getField("nm"),
            ),
            ",",
        ).alias("top_suppliers"),
    )
    return agg.join(F.broadcast(nat), agg.s_nationkey == nat.n_nationkey).select(
        "n_name", "n_suppliers", "top_suppliers"
    )


register(
    "listagg_ordered",
    oracle=f"""
WITH ranked AS (
  SELECT s_nationkey, s_name, s_acctbal,
         row_number() OVER (PARTITION BY s_nationkey
                            ORDER BY s_acctbal DESC, s_name) AS rk
  FROM supplier
)
SELECT n.n_name,
       count(*) AS n_suppliers,
       string_agg(CASE WHEN r.rk <= {LISTAGG_TOP_N} THEN r.s_name END, ','
                  ORDER BY r.s_acctbal DESC, r.s_name) AS top_suppliers
FROM ranked r JOIN nation n ON r.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    tags=("aggregation", "listagg", "ordered"),
)(listagg_ordered)


def lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery surface: for each nation, its two
    largest orders (via the nation's customers) — the SQL-standard
    LATERAL form of top-N-per-group. Catalyst decorrelates the
    ORDER BY .. LIMIT lateral into a ranked window join (no per-row
    re-execution), so the physical plan is the same shape as
    ``topk_per_group`` — the point of registering both is that the
    declarative LATERAL spelling and the imperative window spelling
    land on equivalent distributed plans."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("_fcs_lat_nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("_fcs_lat_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("_fcs_lat_orders")
    return spark.sql(
        """
        SELECT n.n_name, t.o_orderkey, round(t.o_totalprice + 1e-6, 2) AS o_totalprice
        FROM _fcs_lat_nation n
        JOIN LATERAL (
          SELECT o.o_orderkey, o.o_totalprice
          FROM _fcs_lat_orders o
          JOIN _fcs_lat_customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY o.o_totalprice DESC, o.o_orderkey
          LIMIT 2
        ) t
        """
    )


register(
    "lateral_topn_per_nation",
    oracle="""
SELECT n.n_name, t.o_orderkey, round(t.o_totalprice + 1e-6, 2) AS o_totalprice
FROM nation n
JOIN LATERAL (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY o.o_totalprice DESC, o.o_orderkey
  LIMIT 2
) t ON true
""",
    tags=("join", "lateral", "correlated", "topk"),
)(lateral_topn_per_nation)


# --------------------------------------------------------------------------
# approx-percentile accuracy contract
# --------------------------------------------------------------------------

#: Spark approx_percentile accuracy parameter: rank error <= n/accuracy.
APPROX_PCT_ACCURACY = 1000


_APPROX_PCT_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5) + 1e-6, 4) AS exact_p50,
       round(quantile_cont(value, 0.95) + 1e-6, 4) AS exact_p95,
       true AS p50_within_bound,
       true AS p95_within_bound
FROM events
GROUP BY event_type
"""


@register(
    "approx_percentile_accuracy",
    oracle=_APPROX_PCT_ORACLE,
    tags=("prepared-r8",),
)
def approx_percentile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy CONTRACT for the approximate percentile sketch (the
    ``agg_approx_distinct`` pattern applied to quantiles): per event
    type, the exact p50/p95 next to booleans asserting that Spark's
    ``approx_percentile`` landed within its documented rank-error bound
    (<= n/accuracy, +1 for interpolation slack). The sketch value itself
    is implementation-defined and CANNOT be replayed by another engine —
    what IS cross-engine checkable is the exact percentiles and that the
    bound HELD, which is precisely the property production code relies
    on. Two aggregates over the same exchange: sketch + exact, then one
    rank-counting join of the 4-row result against the corpus."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    g = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], APPROX_PCT_ACCURACY).alias("ap"),
        F.expr("percentile(value, array(0.5, 0.95))").alias("ex"),
        F.count("*").alias("n"),
    ).select(
        "event_type", "n",
        F.col("ap")[0].alias("a50"), F.col("ap")[1].alias("a95"),
        F.col("ex")[0].alias("e50"), F.col("ex")[1].alias("e95"),
    )
    ranks = (
        ev.join(F.broadcast(g), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") <= F.col("a50")).cast("long")).alias("r50"),
            F.sum((F.col("value") <= F.col("a95")).cast("long")).alias("r95"),
        )
    )
    out = g.join(ranks, "event_type")
    slack = F.col("n") / F.lit(APPROX_PCT_ACCURACY) + F.lit(1.0)
    return out.select(
        "event_type",
        "n",
        rnd("e50", 4).alias("exact_p50"),
        rnd("e95", 4).alias("exact_p95"),
        (F.abs(F.col("r50") - 0.5 * F.col("n")) <= slack).alias("p50_within_bound"),
        (F.abs(F.col("r95") - 0.95 * F.col("n")) <= slack).alias("p95_within_bound"),
    )


# --------------------------------------------------------------------------
# join-size estimator (optimizer-statistics audit, no join executed)
# --------------------------------------------------------------------------

_JOIN_SIZE_ORACLE = """
WITH clicks AS (
  SELECT user_id, count(*) AS c1 FROM events
  WHERE event_type = 'click' GROUP BY user_id
),
purch AS (
  SELECT user_id, count(*) AS c2 FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
exact AS (
  SELECT CAST(coalesce(sum(c1 * c2), 0) AS BIGINT) AS exact_pairs
  FROM clicks JOIN purch USING (user_id)
),
ls AS (SELECT CAST(sum(c1) AS BIGINT) AS n_left, count(*) AS ndv_left FROM clicks),
rs AS (SELECT CAST(sum(c2) AS BIGINT) AS n_right, count(*) AS ndv_right FROM purch)
SELECT n_left, n_right, ndv_left, ndv_right, exact_pairs,
       round(n_left * n_right / CAST(greatest(ndv_left, ndv_right) AS DOUBLE)
             + 1e-6, 2) AS est_independent,
       round(exact_pairs
             / (n_left * n_right / CAST(greatest(ndv_left, ndv_right) AS DOUBLE))
             + 1e-6, 4) AS skew_factor
FROM ls CROSS JOIN rs CROSS JOIN exact
"""


@register(
    "join_size_estimator",
    oracle=_JOIN_SIZE_ORACLE,
    tags=("prepared-r8",),
)
def join_size_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit: the EXACT output size of the
    many-to-many click⋈purchase join on user_id (Σ c₁ᵤ·c₂ᵤ, computed
    from the two per-key count aggregates WITHOUT materializing a
    single joined row) next to the System-R independence estimate
    |L|·|R|/max(ndv_L, ndv_R), and their ratio — the skew factor that
    says how badly a cost-based optimizer would misplan this join.
    Two keyed aggs + one bounded-by-users equi-join of 2-column
    aggregates + a 1-row final agg; nothing here scales with the join
    OUTPUT, which is the point."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").groupBy("user_id").agg(
        F.count("*").alias("c1")
    )
    purch = ev.where(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.count("*").alias("c2")
    )
    joined = clicks.join(purch, "user_id")
    exact = joined.agg(
        F.sum(F.col("c1") * F.col("c2")).alias("exact_pairs")
    )
    lstats = clicks.agg(
        F.sum("c1").alias("n_left"), F.count("*").alias("ndv_left")
    )
    rstats = purch.agg(
        F.sum("c2").alias("n_right"), F.count("*").alias("ndv_right")
    )
    est = (
        F.col("n_left")
        * F.col("n_right")
        / F.greatest("ndv_left", "ndv_right").cast("double")
    )
    return (
        lstats.crossJoin(F.broadcast(rstats))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_left", "n_right", "ndv_left", "ndv_right",
            F.coalesce("exact_pairs", F.lit(0)).alias("exact_pairs"),
            rnd(est, 2).alias("est_independent"),
            rnd(F.coalesce("exact_pairs", F.lit(0)) / est, 4).alias(
                "skew_factor"
            ),
        )
    )


# --------------------------------------------------------------------------
# mergeable moments sketch (skewness/kurtosis without raw rescan)
# --------------------------------------------------------------------------

_MOMENTS_ORACLE = """
WITH partial AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         count(*) AS n,
         sum(value) AS s1,
         sum(value * value) AS s2,
         sum(value * value * value) AS s3,
         sum(value * value * value * value) AS s4
  FROM events GROUP BY 1, 2
),
merged AS (
  SELECT event_type, count(*) AS n_partials,
         CAST(sum(n) AS BIGINT) AS n,
         sum(s1) AS s1, sum(s2) AS s2, sum(s3) AS s3, sum(s4) AS s4
  FROM partial GROUP BY event_type
),
m AS (
  SELECT event_type, n_partials, n,
         s1 / n AS mu,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3.0 * (s1 / n) * (s2 / n)
           + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4.0 * (s1 / n) * (s3 / n)
           + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM merged
)
SELECT event_type, n_partials, n,
       round(mu + 1e-6, 4) AS mean,
       round(sqrt(m2) + 1e-6, 4) AS std,
       round(m3 / pow(m2, 1.5) + 1e-6, 4) AS skewness,
       round(m4 / (m2 * m2) - 3.0 + 1e-6, 4) AS kurtosis_excess
FROM m
"""


@register(
    "moments_sketch_rollup",
    oracle=_MOMENTS_ORACLE,
    tags=("prepared-r8",),
)
def moments_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments sketch over event values: hourly partials of
    the raw power sums (n, Σx, Σx², Σx³, Σx⁴) merged per event type
    into mean/std/skewness/excess-kurtosis — the higher-moment member
    of the HLL/KMV/bitmap/count-min mergeable-sketch family
    (cf. the moments-sketch literature), giving distribution-shape
    monitoring from partials alone, no raw rescan at merge time.
    Two stacked hash aggregates; the merge input is |types|×|hours|
    rows however large the raw stream is."""
    ev = load(spark, sf_dir, "events")
    hr = F.floor(F.col("ts").cast("double") / 3600).alias("hr")
    v = F.col("value")
    partial = ev.groupBy("event_type", hr).agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    merged = partial.groupBy("event_type").agg(
        F.count("*").alias("n_partials"),
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.sum("s3").alias("s3"),
        F.sum("s4").alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3.0 * mu * (F.col("s2") / n) + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4.0 * mu * (F.col("s3") / n)
        + 6.0 * mu * mu * (F.col("s2") / n)
        - 3.0 * mu * mu * mu * mu
    )
    return merged.select(
        "event_type", "n_partials", "n",
        rnd(mu, 4).alias("mean"),
        rnd(F.sqrt(m2), 4).alias("std"),
        rnd(m3 / F.pow(m2, 1.5), 4).alias("skewness"),
        rnd(m4 / (m2 * m2) - 3.0, 4).alias("kurtosis_excess"),
    )


# --------------------------------------------------------------------------
# Bloom-filter false-positive-rate calibration
# --------------------------------------------------------------------------

#: (bits m, hash count k) configurations swept by the calibration.
BLOOM_CONFIGS = ((1024, 2), (1024, 4), (4096, 2), (4096, 4))

#: maximum hash functions across the swept configs.
_BLOOM_MAX_K = max(k for _, k in BLOOM_CONFIGS)

#: membership predicate epoch boundary: customers with an order before
#: 1996 are the filter's member set; the rest probe as non-members.
BLOOM_MEMBER_BEFORE = "1996-01-01"


def _bloom_positions(keys: DataFrame, key_col: str) -> DataFrame:
    """(key, i, h) for i in 0..max_k-1, h = portable 60-bit md5 hash of
    'key:i' — config positions are h % m, so one hash pass serves every
    (m, k) in the sweep."""
    hashes = F.array(
        *[
            _portable_hash(
                F.concat(
                    F.col(key_col).cast("string"), F.lit(":"), F.lit(str(i))
                )
            )
            for i in range(_BLOOM_MAX_K)
        ]
    )
    return keys.select(
        F.col(key_col).alias("key"), F.posexplode(hashes).alias("i", "h")
    )


def _bloom_oracle() -> str:
    key_expr = _SQL_HASH.format(
        x="CAST(ckey AS VARCHAR) || ':' || CAST(i AS VARCHAR)"
    )
    ivals = ", ".join(f"({i})" for i in range(_BLOOM_MAX_K))
    arms = []
    for m, k in BLOOM_CONFIGS:
        arms.append(f"""
SELECT {m} AS m_bits, {k} AS k_hashes,
       (SELECT count(*) FROM members) AS n_members,
       (SELECT count(DISTINCT h % {m}) FROM mpos WHERE i < {k}) AS n_bits_set,
       (SELECT count(*) FROM probes) AS n_probes,
       (SELECT count(*) FROM (
          SELECT p.key
          FROM ppos p LEFT JOIN
               (SELECT DISTINCT h % {m} AS pos FROM mpos WHERE i < {k}) b
               ON p.h % {m} = b.pos
          WHERE p.i < {k}
          GROUP BY p.key
          HAVING count(*) = {k}
             AND count(*) = CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       )) AS n_false_hits,
       round((SELECT count(*) FROM (
          SELECT p.key
          FROM ppos p LEFT JOIN
               (SELECT DISTINCT h % {m} AS pos FROM mpos WHERE i < {k}) b
               ON p.h % {m} = b.pos
          WHERE p.i < {k}
          GROUP BY p.key
          HAVING count(*) = {k}
             AND count(*) = CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       )) / CAST((SELECT count(*) FROM probes) AS DOUBLE) + 1e-6, 6)
         AS fpr_actual,
       round(pow(1.0 - pow(1.0 - 1.0 / {m},
                           {k} * (SELECT count(*) FROM members)), {float(k)})
             + 1e-6, 6) AS fpr_expected""")
    arms_sql = "\nUNION ALL\n".join(arms)
    return f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS ckey FROM orders
  WHERE o_orderdate < DATE '{BLOOM_MEMBER_BEFORE}'
),
probes AS (
  SELECT c_custkey AS ckey FROM customer
  WHERE c_custkey NOT IN (SELECT ckey FROM members)
),
mpos AS (
  SELECT ckey AS key, t.i, {key_expr} AS h
  FROM members CROSS JOIN (VALUES {ivals}) t(i)
),
ppos AS (
  SELECT ckey AS key, t.i, {key_expr} AS h
  FROM probes CROSS JOIN (VALUES {ivals}) t(i)
)
{arms_sql}
"""


@register(
    "bloom_fpr_calibration",
    oracle=_bloom_oracle(),
    tags=("prepared-r8",),
)
def bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER SIZING CALIBRATION: simulate the filter bit-for-bit
    (portable md5 positions) for a sweep of (m bits, k hashes) configs —
    members are customers with a pre-1996 order, probes are the
    remaining customers — and report the MEASURED false-positive rate
    next to the analytic expectation ``(1 - (1 - 1/m)^(k*n))^k``. This
    is the evidence behind choosing ``bloom_prefilter_join``'s sizing:
    a measured FPR far off the formula means the hash family or the
    member-set estimate is wrong BEFORE the filter ships into a join.

    Scale shape: positions are generated once at the finest k (one
    narrow explode, k rows per key); each config's bit set is a
    bounded-by-m distinct aggregate, and the probe check is an
    equi-join on bit position (never key x key). Per-config outputs
    union over a constant, in-plan config list."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    members = (
        orders.where(F.col("o_orderdate") < BLOOM_MEMBER_BEFORE)
        .select(F.col("o_custkey").alias("ckey"))
        .distinct()
    )
    probes = cust.select(F.col("c_custkey").alias("ckey")).join(
        members, "ckey", "left_anti"
    )
    mpos = _bloom_positions(members, "ckey")
    ppos = _bloom_positions(probes, "ckey")
    n_members = members.agg(F.count("*").alias("n_members"))
    n_probes = probes.agg(F.count("*").alias("n_probes"))

    parts = []
    for m, k in BLOOM_CONFIGS:
        bits = (
            mpos.where(F.col("i") < k)
            .select((F.col("h") % m).alias("pos"))
            .distinct()
        )
        probe_rows = (
            ppos.where(F.col("i") < k)
            .select("key", (F.col("h") % m).alias("pos"))
            .join(bits.withColumn("hit", F.lit(1)), "pos", "left")
        )
        per_key = probe_rows.groupBy("key").agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == k).alias("fp")
        )
        row = (
            per_key.agg(F.sum(F.col("fp").cast("long")).alias("n_false_hits"))
            .crossJoin(F.broadcast(bits.agg(F.count("*").alias("n_bits_set"))))
            .crossJoin(F.broadcast(n_members))
            .crossJoin(F.broadcast(n_probes))
            .select(
                F.lit(m).alias("m_bits"),
                F.lit(k).alias("k_hashes"),
                "n_members",
                "n_bits_set",
                "n_probes",
                "n_false_hits",
                rnd(F.col("n_false_hits") / F.col("n_probes"), 6).alias(
                    "fpr_actual"
                ),
                rnd(
                    F.pow(
                        1.0
                        - F.pow(
                            F.lit(1.0 - 1.0 / m), k * F.col("n_members")
                        ),
                        float(k),
                    ),
                    6,
                ).alias("fpr_expected"),
            )
        )
        parts.append(row)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------------------------------------------
# referential-integrity audit across the star schema
# --------------------------------------------------------------------------

#: (edge name, child table, fk col, parent table, pk col)
FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
)


def _fk_oracle() -> str:
    arms = []
    for edge, child_t, fk, parent_t, pk in FK_EDGES:
        arms.append(f"""
SELECT '{edge}' AS edge,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_fk,
       CAST(sum(CASE WHEN c.{fk} IS NOT NULL AND p.hit IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       round((count(*)
              - sum(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END)
              - sum(CASE WHEN c.{fk} IS NOT NULL AND p.hit IS NULL
                         THEN 1 ELSE 0 END))
             / CAST(count(*) AS DOUBLE) + 1e-6, 6) AS match_rate
FROM {child_t} c
LEFT JOIN (SELECT DISTINCT {pk} AS k, 1 AS hit FROM {parent_t}) p
  ON c.{fk} = p.k""")
    return "\nUNION ALL\n".join(arms)


@register("fk_integrity_audit", oracle=_fk_oracle(), tags=("prepared-r8",))
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY AUDIT over every FK edge of the star
    schema: per edge, child row count, NULL foreign keys, orphans
    (non-NULL FK with no parent row), and the match rate — the
    cross-table complement of the single-table ``expectation_checks``,
    and the first report a 100 TB ingest runs after landing a batch
    (an orphan spike means a late or dropped dimension load).

    Scale shape: edges are grouped BY CHILD TABLE so each child is
    scanned once — every parent's DISTINCT key left-joins onto the same
    pass (parents are deduplicated, so the joins preserve row
    multiplicity and the per-edge counts are unchanged), and one
    combinable aggregate emits every edge's counters from that single
    scan (lineitem's three FK edges ride one scan instead of three).
    Dimension-sized build sides broadcast under AQE; the five 1-row
    results union in-plan with no driver-side collection."""
    by_child: dict[str, list[tuple[str, str, str, str]]] = {}
    for edge, child_t, fk, parent_t, pk in FK_EDGES:
        by_child.setdefault(child_t, []).append((edge, fk, parent_t, pk))
    parts = []
    for child_t, edges in by_child.items():
        child = load(spark, sf_dir, child_t).select(
            *[F.col(fk).alias(f"k{i}") for i, (_, fk, _, _) in enumerate(edges)]
        )
        joined = child
        for i, (_, _, parent_t, pk) in enumerate(edges):
            parent = (
                load(spark, sf_dir, parent_t)
                .select(F.col(pk).alias(f"k{i}"))
                .distinct()
                .withColumn(f"hit{i}", F.lit(1))
            )
            joined = joined.join(parent, f"k{i}", "left")
        agg_cols = [F.count("*").alias("n_rows")]
        for i in range(len(edges)):
            k, hit = F.col(f"k{i}"), F.col(f"hit{i}")
            agg_cols.append(F.sum(k.isNull().cast("long")).alias(f"n_null_fk{i}"))
            agg_cols.append(
                F.sum((k.isNotNull() & hit.isNull()).cast("long")).alias(
                    f"n_orphans{i}"
                )
            )
        agg = joined.agg(*agg_cols)
        # unstack the one aggregate row to per-edge rows via explode —
        # NOT one union branch per edge, which would re-derive the whole
        # scan+join+aggregate subtree once per edge in the plan tree
        stacked = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(edge).alias("edge"),
                            F.col("n_rows").alias("n_rows"),
                            F.col(f"n_null_fk{i}").alias("n_null_fk"),
                            F.col(f"n_orphans{i}").alias("n_orphans"),
                        )
                        for i, (edge, _, _, _) in enumerate(edges)
                    ]
                )
            ).alias("e")
        ).select("e.*")
        parts.append(
            stacked.select(
                "edge",
                "n_rows",
                "n_null_fk",
                "n_orphans",
                rnd(
                    (
                        F.col("n_rows")
                        - F.col("n_null_fk")
                        - F.col("n_orphans")
                    )
                    / F.col("n_rows"),
                    6,
                ).alias("match_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------------------------------------------
# KMV Jaccard overlap of two behavioral audiences
# --------------------------------------------------------------------------

#: sketch size (minimum hash values kept per set).
KMV_J_K = 64


def _kmvj_oracle() -> str:
    h = _SQL_HASH.format(x="'kmvj:' || CAST(user_id AS VARCHAR)")
    return f"""
WITH flags AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
  FROM events GROUP BY user_id
),
hashed AS (
  SELECT in_a, in_b, {h} AS h FROM flags
),
sa AS (
  SELECT h, 1 AS a FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rk
    FROM hashed WHERE in_a = 1
  ) WHERE rk <= {KMV_J_K}
),
sb AS (
  SELECT h, 1 AS b FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rk
    FROM hashed WHERE in_b = 1
  ) WHERE rk <= {KMV_J_K}
),
merged AS (
  SELECT COALESCE(sa.h, sb.h) AS h,
         COALESCE(sa.a, 0) AS a, COALESCE(sb.b, 0) AS b
  FROM sa FULL OUTER JOIN sb ON sa.h = sb.h
),
unionk AS (
  SELECT * FROM (
    SELECT h, a, b, row_number() OVER (ORDER BY h) AS rk FROM merged
  ) WHERE rk <= {KMV_J_K}
),
est AS (
  SELECT count(*) AS k_used, CAST(sum(a * b) AS BIGINT) AS n_both
  FROM unionk
),
exact AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(sum(in_b) AS BIGINT) AS n_b,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_inter,
         CAST(sum(greatest(in_a, in_b)) AS BIGINT) AS n_union
  FROM flags
)
SELECT {KMV_J_K} AS k, e.n_a, e.n_b, e.n_inter, e.n_union,
       round(e.n_inter / CAST(e.n_union AS DOUBLE) + 1e-6, 6)
         AS exact_jaccard,
       round(s.n_both / CAST(s.k_used AS DOUBLE) + 1e-6, 6) AS kmv_jaccard,
       round(abs(s.n_both / CAST(s.k_used AS DOUBLE)
                 - e.n_inter / CAST(e.n_union AS DOUBLE)) + 1e-6, 6)
         AS abs_error
FROM est s CROSS JOIN exact e
"""


@register("kmv_jaccard_overlap", oracle=_kmvj_oracle(), tags=("prepared-r8",))
def kmv_jaccard_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET-OVERLAP SKETCH: estimate the Jaccard similarity of two
    audiences (users who click vs users who purchase) from their
    k-minimum-values sketches — take the k smallest portable-md5
    hashes of the UNION of the two sketches and count how many live in
    BOTH (the classic KMV Jaccard estimator) — next to the exact
    Jaccard and the absolute error, so the sketch's accuracy contract
    is itself hash-checked (the ``kmv_distinct_estimate`` discipline,
    lifted from cardinalities to set algebra). At 100 TB the two
    audiences never co-shuffle: each side reduces to a k-row sketch
    that ships to one place.

    Scale shape: per-side sketches are rank-limited windows
    (WindowGroupLimit) over per-user hashes; the estimator runs on
    <= 3k rows of sketch; the exact check is one per-user flag
    aggregate (kept for the oracle contract — a production deployment
    drops it)."""
    ev = load(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("in_a"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("in_b"),
    )
    h = _portable_hash(F.concat(F.lit("kmvj:"), F.col("user_id").cast("string")))
    hashed = flags.select("in_a", "in_b", h.alias("h"))

    def sketch(side: str) -> DataFrame:
        # k smallest hashes via orderBy().limit() — TakeOrderedAndProject
        # (per-partition heaps), not a global ranking window (r9: the
        # count_min_heavy_hitters tightening applied here too)
        return hashed.where(F.col(side) == 1).select("h").orderBy("h").limit(KMV_J_K)

    sa = sketch("in_a").withColumn("a", F.lit(1))
    sb = sketch("in_b").withColumn("b", F.lit(1))
    merged = (
        sa.join(sb, "h", "full_outer")
        .select(
            "h",
            F.coalesce("a", F.lit(0)).alias("a"),
            F.coalesce("b", F.lit(0)).alias("b"),
        )
    )
    wu = Window.orderBy("h")
    unionk = merged.withColumn("rk", F.row_number().over(wu)).where(
        F.col("rk") <= KMV_J_K
    )
    est = unionk.agg(
        F.count("*").alias("k_used"),
        F.sum((F.col("a") * F.col("b")).cast("long")).alias("n_both"),
    )
    exact = flags.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias("n_inter"),
        F.sum(
            F.greatest(F.col("in_a"), F.col("in_b")).cast("long")
        ).alias("n_union"),
    )
    j_exact = F.col("n_inter") / F.col("n_union").cast("double")
    j_kmv = F.col("n_both") / F.col("k_used").cast("double")
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(KMV_J_K).alias("k"),
        "n_a",
        "n_b",
        "n_inter",
        "n_union",
        rnd(j_exact, 6).alias("exact_jaccard"),
        rnd(j_kmv, 6).alias("kmv_jaccard"),
        rnd(F.abs(j_kmv - j_exact), 6).alias("abs_error"),
    )


# --------------------------------------------------------------------------
# sliding-window distinct via mergeable KMV partials
# --------------------------------------------------------------------------

KMV_W_K = 32  #: sketch size per day
KMV_W_DAYS = 7  #: trailing window width (days)


def _kmvw_oracle() -> str:
    h = _SQL_HASH.format(x="'kmvw:' || CAST(user_id AS VARCHAR)")
    scale = float(2**60)
    return f"""
WITH uday AS (
  SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, {h} AS h
  FROM events
),
daily AS (
  SELECT day, h FROM (
    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rk
    FROM uday
  ) WHERE rk <= {KMV_W_K}
),
fanned AS (
  SELECT DISTINCT d.h, d.day + t.o AS wend
  FROM daily d CROSS JOIN
       (SELECT unnest(range(0, {KMV_W_DAYS})) AS o) t
),
merged AS (
  SELECT wend, h, rk FROM (
    SELECT wend, h, row_number() OVER (PARTITION BY wend ORDER BY h) AS rk
    FROM fanned
  ) WHERE rk <= {KMV_W_K}
),
est AS (
  SELECT wend, count(*) AS k_used,
         max(CASE WHEN rk = {KMV_W_K} THEN h END) AS hk
  FROM merged GROUP BY wend
),
exact AS (
  SELECT u.day + t.o AS wend, count(DISTINCT u.h) AS n_exact
  FROM uday u CROSS JOIN (SELECT unnest(range(0, {KMV_W_DAYS})) AS o) t
  GROUP BY 1
),
valid AS (SELECT min(day) AS d0, max(day) AS d1 FROM uday)
SELECT e.wend AS window_end_day,
       CAST(x.n_exact AS BIGINT) AS n_exact,
       round(CASE WHEN e.hk IS NOT NULL
                  THEN ({KMV_W_K} - 1) / (CAST(e.hk AS DOUBLE) / {scale!r})
                  ELSE CAST(e.k_used AS DOUBLE) END + 1e-6, 2)
         AS kmv_estimate,
       round(abs(CASE WHEN e.hk IS NOT NULL
                      THEN ({KMV_W_K} - 1) / (CAST(e.hk AS DOUBLE) / {scale!r})
                      ELSE CAST(e.k_used AS DOUBLE) END - x.n_exact)
             / CAST(x.n_exact AS DOUBLE) + 1e-6, 4) AS rel_error
FROM est e JOIN exact x ON e.wend = x.wend CROSS JOIN valid v
WHERE e.wend >= v.d0 + {KMV_W_DAYS - 1} AND e.wend <= v.d1
"""


@register("sliding_kmv_distinct", oracle=_kmvw_oracle(), tags=("prepared-r8",))
def sliding_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING DISTINCT USERS from MERGED DAILY KMV SKETCHES: each day
    keeps its K smallest user hashes; a day's trailing-7 estimate
    re-merges the 7 daily sketches (union, re-take K smallest,
    estimate (K-1)/h_K) — the mergeable-sketch answer to the sliding
    COUNT DISTINCT that ``rolling_active_users`` computes exactly via
    the users x days x width fan-out. Daily partials are computed ONCE
    and reused by every window that covers them (the hourly->daily
    rollup discipline of ``kmv_merge_rollup``, applied to overlapping
    windows); the exact value and relative error ride along so the
    sketch's accuracy contract is itself hash-checked.

    Scale shape: daily sketches are rank-limited windows over per-day
    distinct hashes; the window merge fans out K x width SKETCH ROWS
    per day (constant, independent of corpus), and the exact side
    reuses the bounded user-day fan-out. At production cardinality the
    exact columns are dropped and only the constant-size sketch path
    runs."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    h = _portable_hash(
        F.concat(F.lit("kmvw:"), F.col("user_id").cast("string"))
    )
    uday = ev.select(day.alias("day"), h.alias("h")).distinct()
    wd = Window.partitionBy("day").orderBy("h")
    daily = uday.withColumn("rk", F.row_number().over(wd)).where(
        F.col("rk") <= KMV_W_K
    )
    # each daily sketch row serves the KMV_W_DAYS window-end days it
    # falls into (bounded fan-out of SKETCH rows, not user rows)
    fanned = daily.select(
        "h",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + (KMV_W_DAYS - 1)
            )
        ).alias("wend"),
        F.col("day").alias("src_day"),
    )
    ww = Window.partitionBy("wend").orderBy("h")
    merged = (
        fanned.select("wend", "h")
        .distinct()
        .withColumn("rk", F.row_number().over(ww))
        .where(F.col("rk") <= KMV_W_K)
    )
    est = merged.groupBy("wend").agg(
        F.count("*").alias("k_used"),
        F.max(F.when(F.col("rk") == KMV_W_K, F.col("h"))).alias("hk"),
    )
    scale = float(2**60)
    kmv = F.when(
        F.col("hk").isNotNull(),
        (KMV_W_K - 1) / (F.col("hk").cast("double") / scale),
    ).otherwise(F.col("k_used").cast("double"))
    # exact truth via the bounded user-day fan-out
    exact = (
        uday.select(
            "h",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (KMV_W_DAYS - 1))
            ).alias("wend"),
        )
        .groupBy("wend")
        .agg(F.countDistinct("h").alias("n_exact"))
    )
    valid_days = uday.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    out = (
        est.join(exact, "wend")
        .crossJoin(F.broadcast(valid_days))
        .where(
            (F.col("wend") >= F.col("d0") + (KMV_W_DAYS - 1))
            & (F.col("wend") <= F.col("d1"))
        )
    )
    return out.select(
        F.col("wend").alias("window_end_day"),
        "n_exact",
        rnd(kmv, 2).alias("kmv_estimate"),
        rnd(
            F.abs(kmv - F.col("n_exact")) / F.col("n_exact").cast("double"),
            4,
        ).alias("rel_error"),
    )


# --------------------------------------------------------------------------
# column-similarity schema matching
# --------------------------------------------------------------------------

#: sketch size for the per-column KMV value sketches.
COLSIM_K = 64

#: (table, column) pairs profiled for domain overlap.
COLSIM_COLUMNS = (
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("customer", "c_custkey"),
    ("part", "p_partkey"),
)


def _colsim_oracle() -> str:
    sk_ctes = []
    for table, col in COLSIM_COLUMNS:
        h = _SQL_HASH.format(x=f"'colsim:' || CAST({col} AS VARCHAR)")
        nm = f"{table}.{col}".replace(".", "_")
        sk_ctes.append(f"""sk_{nm} AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rk
    FROM (SELECT DISTINCT {h} AS h FROM {table})
  ) WHERE rk <= {COLSIM_K}
)""")
    names = [f"{t}.{c}" for t, c in COLSIM_COLUMNS]
    arms = []
    for i, na in enumerate(names):
        for nb in names[i + 1:]:
            sa = "sk_" + na.replace(".", "_")
            sb = "sk_" + nb.replace(".", "_")
            arms.append(f"""
SELECT '{na}' AS col_a, '{nb}' AS col_b,
       round(n_both / CAST(k_used AS DOUBLE) + 1e-6, 6) AS est_jaccard,
       n_both / CAST(k_used AS DOUBLE) > 0.5 AS same_domain_candidate
FROM (
  SELECT count(*) AS k_used, CAST(sum(a * b) AS BIGINT) AS n_both
  FROM (
    SELECT h, a, b, row_number() OVER (ORDER BY h) AS rk
    FROM (
      SELECT COALESCE(x.h, y.h) AS h,
             CASE WHEN x.h IS NULL THEN 0 ELSE 1 END AS a,
             CASE WHEN y.h IS NULL THEN 0 ELSE 1 END AS b
      FROM {sa} x FULL OUTER JOIN {sb} y ON x.h = y.h
    )
  ) WHERE rk <= {COLSIM_K}
)""")
    return (
        "WITH " + ",\n".join(sk_ctes) + "\n" + "\nUNION ALL\n".join(arms)
    )


@register(
    "column_similarity_matching",
    oracle=_colsim_oracle(),
    tags=("prepared-r8",),
)
def column_similarity_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA DISCOVERY BY VALUE OVERLAP: sketch each profiled column's
    value set with KMV, estimate pairwise Jaccard from the merged
    sketches (the ``kmv_jaccard_overlap`` estimator applied all-pairs),
    and emit the candidate join-key / shared-domain pairs a data
    catalog surfaces without any metadata — o_orderkey~l_orderkey and
    o_custkey~c_custkey should score high, disjoint-domain pairs near
    zero. Values hash as strings, so the technique is type-agnostic.

    Scale shape: each column reduces to a K-row sketch (rank-limited
    window over per-column distinct hashes) regardless of table size;
    the all-pairs comparison runs over bounded sketch unions (pairs x
    K rows). Adding a column costs one scan of ITS table only — and
    only ONE: the sketch union is memoized (round-9 tier-2 bench
    finding: each of the P*(P-1)/2 pair arms filters the union, and
    left lazy, Catalyst re-scanned all P source tables per arm —
    O(P^3) scans for a table whose physical size is P x K rows)."""
    from flink_cookbook_spark.pipeline._cache import memo_persist

    def _build_sketches() -> DataFrame:
        sketches = []
        for table, col in COLSIM_COLUMNS:
            t = load(spark, sf_dir, table)
            h = _portable_hash(
                F.concat(F.lit("colsim:"), F.col(col).cast("string"))
            )
            # k smallest distinct hashes via orderBy().limit() —
            # TakeOrderedAndProject, never a global ranking window over
            # the column's distinct cardinality (billions at 100 TB)
            sketches.append(
                t.select(h.alias("h"))
                .distinct()
                .orderBy("h")
                .limit(COLSIM_K)
                .select(
                    F.lit(f"{table}.{col}").alias("col_name"), "h"
                )
            )
        out = sketches[0]
        for s in sketches[1:]:
            out = out.unionAll(s)
        return out

    allsk = memo_persist(spark, "colsim_sketches", sf_dir, _build_sketches)
    # for each unordered column pair: re-take K smallest of the union,
    # count sketch members present on both sides (the KMV Jaccard
    # estimator of ``kmv_jaccard_overlap``, applied all-pairs). ONE
    # plan for every pair (round-9: the per-pair full-outer-join arms
    # ran 3 tiny stages each — P*(P-1)/2 * 3 stages of scheduling
    # overhead): the 15-row pair list broadcast-joins the persisted
    # sketch union twice (once per side), membership is a (pair, h)
    # groupBy, the re-take-K is a window PARTITIONED by pair, and the
    # estimate is one grouped aggregate.
    names = [f"{t}.{c}" for t, c in COLSIM_COLUMNS]
    pairs = spark.createDataFrame(
        [
            (na, nb)
            for i, na in enumerate(names)
            for nb in names[i + 1:]
        ],
        "col_a string, col_b string",
    )
    sides = (
        F.broadcast(pairs)
        .join(allsk, F.col("col_name") == F.col("col_a"))
        .select("col_a", "col_b", "h", F.lit(1).alias("a"), F.lit(0).alias("b"))
        .unionAll(
            F.broadcast(pairs)
            .join(allsk, F.col("col_name") == F.col("col_b"))
            .select(
                "col_a", "col_b", "h", F.lit(0).alias("a"), F.lit(1).alias("b")
            )
        )
    )
    members = sides.groupBy("col_a", "col_b", "h").agg(
        F.max("a").alias("a"), F.max("b").alias("b")
    )
    wu = Window.partitionBy("col_a", "col_b").orderBy("h")
    unionk = members.withColumn("rk", F.row_number().over(wu)).where(
        F.col("rk") <= COLSIM_K
    )
    return (
        unionk.groupBy("col_a", "col_b")
        .agg(
            F.count("*").alias("k_used"),
            F.sum((F.col("a") * F.col("b")).cast("long")).alias("n_both"),
        )
        .select(
            "col_a",
            "col_b",
            rnd(F.col("n_both") / F.col("k_used").cast("double"), 6).alias(
                "est_jaccard"
            ),
            (
                F.col("n_both") / F.col("k_used").cast("double") > 0.5
            ).alias("same_domain_candidate"),
        )
    )
