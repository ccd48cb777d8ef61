"""Window functions: ranking, analytic (lag/lead), and frame aggregates.

The reference hand-rolls exactly one windowed computation — trailing
moving averages over per-key state (A7, flinkarima.py:130-142). This
module provides the full window-function family as engine surface
(SURVEY.md section 2.2). All are single-shuffle plans: hash exchange on
the partition key, in-partition sort, WindowExec — no driver involvement,
which is the 100 TB-safe shape as long as a single partition key's rows
fit on one executor (true for all fixture keys; skewed real keys would
be salted or range-repartitioned first).

Determinism discipline: every ORDER BY a window function depends on is
made total (unique tie-break column included) UNLESS the function is
tie-stable by construction (rank/dense_rank give equal rows equal
results; frame SUM over a total order is order-defined).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd
from flink_cookbook_spark.functions.time import epoch_seconds


def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile / percent_rank / cume_dist
    over lineitems per order. l_quantity has real ties, so rank vs
    dense_rank genuinely diverge; row_number and ntile ride on a total
    order (quantity, linenumber)."""
    li = load(spark, sf_dir, "lineitem")
    ties = Window.partitionBy("l_orderkey").orderBy(F.col("l_quantity").desc())
    # fixture (l_orderkey, l_linenumber) is NOT unique — the proven-total
    # order needs the full physical tie-break chain
    total = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_quantity").desc(),
        F.col("l_linenumber").asc(),
        F.col("l_partkey").asc(),
        F.col("l_suppkey").asc(),
        F.col("l_extendedprice").asc(),
        F.col("l_discount").asc(),
        F.col("l_tax").asc(),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(F.col("l_quantity"), 2).alias("quantity"),
        F.row_number().over(total).alias("rn"),
        F.rank().over(ties).alias("rk"),
        F.dense_rank().over(ties).alias("drk"),
        F.ntile(4).over(total).alias("quartile"),
        rnd(F.percent_rank().over(ties), 6).alias("pct_rank"),
        rnd(F.cume_dist().over(ties), 6).alias("cume"),
    )


register(
    "window_ranking",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_quantity + 1e-6, 2) AS quantity,
       CAST(row_number() OVER total AS INTEGER) AS rn,
       CAST(rank() OVER ties AS INTEGER) AS rk,
       CAST(dense_rank() OVER ties AS INTEGER) AS drk,
       CAST(ntile(4) OVER total AS INTEGER) AS quartile,
       round(percent_rank() OVER ties + 1e-6, 6) AS pct_rank,
       round(cume_dist() OVER ties + 1e-6, 6) AS cume
FROM lineitem
WINDOW ties AS (PARTITION BY l_orderkey ORDER BY l_quantity DESC),
       total AS (PARTITION BY l_orderkey
                 ORDER BY l_quantity DESC, l_linenumber ASC, l_partkey ASC,
                          l_suppkey ASC, l_extendedprice ASC, l_discount ASC,
                          l_tax ASC)
""",
    tags=("window", "ranking"),
)(window_ranking)


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: per customer, each order's price vs previous
    and next order (by date, tie-broken by key), plus delta vs previous.
    This is the general form of the reference's 'compare current sample
    to history' pattern (A2)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    prev = F.lag("o_totalprice", 1).over(w)
    nxt = F.lead("o_totalprice", 1).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        rnd(F.col("o_totalprice"), 2).alias("price"),
        rnd(prev, 2).alias("prev_price"),
        rnd(nxt, 2).alias("next_price"),
        rnd(F.col("o_totalprice") - prev, 2).alias("delta_prev"),
    )


register(
    "window_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(o_totalprice + 1e-6, 2) AS price,
       round(lag(o_totalprice, 1) OVER w + 1e-6, 2) AS prev_price,
       round(lead(o_totalprice, 1) OVER w + 1e-6, 2) AS next_price,
       round(o_totalprice - lag(o_totalprice, 1) OVER w + 1e-6, 2) AS delta_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""",
    tags=("window", "analytic"),
)(window_lag_lead)


def window_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame aggregates per supplier over ship-date order: running total,
    trailing-5 moving average, and running max — the batch generalization
    of the reference's bounded history buffer (A3) + trend metrics (A7)."""
    li = load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the fixture; extend the
    # order with the remaining physical columns (proven total) so running
    # frames are deterministic across engines
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_shipdate").asc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
        F.col("l_partkey").asc(),
        F.col("l_extendedprice").asc(),
        F.col("l_quantity").asc(),
        F.col("l_discount").asc(),
        F.col("l_tax").asc(),
    )
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    trailing5 = w.rowsBetween(-4, 0)
    # round-13: the running revenue is a per-supplier prefix sum and
    # suppliers are FIXED dims — per-key row count (and the sum) grows
    # with the corpus, the q1/q6 cent-flip class. DECIMAL discipline:
    # exact decimal window sum, cast to double at the end. trailing5_avg
    # (5-row frame) and running_max stay raw — bounded/exact.
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        rnd(
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
            .over(running)
            .cast("double"),
            2,
        ).alias("running_revenue"),
        rnd(F.avg("l_extendedprice").over(trailing5), 2).alias("trailing5_avg"),
        rnd(F.max("l_extendedprice").over(running), 2).alias("running_max"),
        F.count("*").over(running).alias("n_so_far"),
    )


register(
    "window_running_frames",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) OVER running
                  AS DOUBLE) + 1e-6, 2) AS running_revenue,
       round(avg(l_extendedprice) OVER trailing5 + 1e-6, 2) AS trailing5_avg,
       round(max(l_extendedprice) OVER running + 1e-6, 2) AS running_max,
       count(*) OVER running AS n_so_far
FROM lineitem
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC,
                      l_partkey ASC, l_extendedprice ASC, l_quantity ASC,
                      l_discount ASC, l_tax ASC),
       running AS (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       trailing5 AS (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
    tags=("window", "frames"),
)(window_running_frames)


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value with explicit frames: each order's price
    vs the customer's first and latest order price up to that point."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        rnd(F.col("o_totalprice"), 2).alias("price"),
        rnd(F.first("o_totalprice").over(running), 2).alias("first_price"),
        rnd(F.last("o_totalprice").over(running), 2).alias("latest_price"),
    )


register(
    "window_first_last",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(o_totalprice + 1e-6, 2) AS price,
       round(first_value(o_totalprice) OVER running + 1e-6, 2) AS first_price,
       round(last_value(o_totalprice) OVER running + 1e-6, 2) AS latest_price
FROM orders
WINDOW running AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    tags=("window", "analytic"),
)(window_first_last)


def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming sliding window (10-min window, 5-min
    slide): every event lands in exactly two windows. Spark's ``window``
    with a slide expands rows internally; the oracle reproduces it by
    unioning the two bucket assignments."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "user_id")
        .agg(
            rnd(F.avg("value")).alias("avg_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            epoch_seconds("w.start").alias("window_start"),
            epoch_seconds("w.end").alias("window_end"),
            "user_id",
            "avg_value",
            "n_events",
        )
    )


register(
    "sliding_window_agg",
    oracle="""
WITH buckets AS (
  SELECT user_id, value,
         CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b
  FROM events
),
assigned AS (
  -- an event in 5-min bucket b belongs to sliding windows starting at
  -- b and b-300 (window length 600, slide 300)
  SELECT user_id, value, b AS window_start FROM buckets
  UNION ALL
  SELECT user_id, value, b - 300 FROM buckets
)
SELECT window_start,
       window_start + 600 AS window_end,
       user_id,
       round(avg(value) + 1e-6, 4) AS avg_value,
       count(*) AS n_events
FROM assigned
GROUP BY window_start, user_id
""",
    tags=("window", "sliding", "streaming-twin"),
)(sliding_window_agg)


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization over events: a new session starts after a >30-min
    gap per user. Classic lag + cumulative-sum-of-boundaries — the batch
    twin of streaming ``session_window`` (SURVEY.md section 2.2). One
    shuffle on user_id; both window stages reuse the same partitioning."""
    ev = load(spark, sf_dir, "events")
    ts_sec = epoch_seconds("ts")
    # order by the SECOND-truncated time + event_id on both engines:
    # ordering by full-precision ts here but truncated ts in the oracle
    # would let same-second siblings number sessions differently.
    w = Window.partitionBy("user_id").orderBy(ts_sec.asc(), F.col("event_id").asc())
    prev_ts = F.lag(ts_sec, 1).over(w)
    new_session = F.when(
        prev_ts.isNull() | ((ts_sec - prev_ts) > 1800), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = ev.select(
        "user_id",
        "event_id",
        ts_sec.alias("ts_sec"),
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_no"),
        F.col("value"),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts_sec").alias("session_start"),
        F.max("ts_sec").alias("session_end"),
        rnd(F.sum("value"), 2).alias("session_value"),
    )


register(
    "sessionize",
    oracle="""
WITH marked AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         value,
         CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
),
sessions AS (
  SELECT user_id, event_id, ts_sec, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM marked
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       count(*) AS n_events,
       min(ts_sec) AS session_start,
       max(ts_sec) AS session_end,
       round(sum(value) + 1e-6, 2) AS session_value
FROM sessions GROUP BY user_id, session_no
""",
    tags=("window", "session"),
)(sessionize)


def rising_streak_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style pattern detection: per-user runs of 3+ strictly rising
    values (Flink-CEP's ``begin.next.next`` / SQL MATCH_RECOGNIZE shape,
    which Spark lacks as syntax) re-expressed with lag comparisons + a
    boundary cumsum — the same islands technique as sessionize, so the
    cost is one exchange on user_id shared by both window stages.
    Emits one row per qualifying streak (start/end event ids, length,
    total rise)."""
    ev = load(spark, sf_dir, "events")
    ts_sec = epoch_seconds("ts")
    w = Window.partitionBy("user_id").orderBy(ts_sec.asc(), F.col("event_id").asc())
    rising = F.when(
        F.lag("value", 1).over(w).isNotNull()
        & (F.col("value") > F.lag("value", 1).over(w)),
        F.lit(0),
    ).otherwise(F.lit(1))
    marked = ev.select(
        "user_id",
        "event_id",
        "value",
        ts_sec.alias("ts_sec"),
        F.sum(rising)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("streak_id"),
    )
    return (
        marked.groupBy("user_id", "streak_id")
        .agg(
            F.count("*").alias("streak_len"),
            F.min("event_id").alias("start_event_id"),
            F.max("event_id").alias("end_event_id"),
            rnd(F.max("value") - F.min("value"), 2).alias("total_rise"),
        )
        .where(F.col("streak_len") >= 3)
        .drop("streak_id")
    )


register(
    "rising_streak_patterns",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         lag(value) OVER (PARTITION BY user_id
                          ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
           AS prev_value
  FROM events),
marked AS (
  SELECT user_id, event_id, value, ts_sec,
         sum(CASE WHEN prev_value IS NOT NULL AND value > prev_value
                  THEN 0 ELSE 1 END)
           OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS streak_id
  FROM ordered)
SELECT user_id,
       count(*) AS streak_len,
       min(event_id) AS start_event_id,
       max(event_id) AS end_event_id,
       round(max(value) - min(value) + 1e-6, 2) AS total_rise
FROM marked
GROUP BY user_id, streak_id
HAVING count(*) >= 3
""",
    tags=("window", "pattern", "cep", "bench"),
)(rising_streak_patterns)


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted as retained in each later day they act.

    One events scan: distinct (user, day) pairs, first-touch attached as
    a per-user window MIN (no self-join, no broadcast of a users-sized
    side), then the (cohort_day, activity_day) rollup. Three keyed
    exchanges over progressively tiny data — the raw scan happens once.
    """
    ev = load(spark, sf_dir, "events")
    day = (epoch_seconds("ts") / 86400).cast("long").alias("activity_day")
    acts = ev.select("user_id", day).distinct()
    cohort = F.min("activity_day").over(Window.partitionBy("user_id"))
    return (
        acts.withColumn("cohort_day", cohort)
        .groupBy("cohort_day", "activity_day")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .withColumn("day_offset", F.col("activity_day") - F.col("cohort_day"))
    )


register(
    "cohort_retention",
    oracle="""
WITH acts AS (
  SELECT DISTINCT user_id,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS activity_day
  FROM events),
first AS (
  SELECT user_id, min(activity_day) AS cohort_day FROM acts GROUP BY 1)
SELECT cohort_day, activity_day,
       count(DISTINCT a.user_id) AS n_active_users,
       activity_day - cohort_day AS day_offset
FROM acts a JOIN first f USING (user_id)
GROUP BY cohort_day, activity_day
""",
    tags=("window", "cohort", "retention", "bench"),
)(cohort_retention)


# --------------------------------------------------------------------------
# Pareto frontier (2-D skyline)
# --------------------------------------------------------------------------


#: fixed price-band width (in cents) for the two-phase skyline — value-
#: based range partitioning, data-independent, no sampling pass needed.
PARETO_BAND_CENTS = 1000


def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline over ``part``: the Pareto frontier of (minimize
    p_retailprice, maximize p_size) — parts not dominated by any
    strictly cheaper part of equal-or-larger size.

    The classic skyline query, computed WITHOUT the naive all-pairs
    anti-join AND without a single-partition global window (an
    unpartitioned ``Window.orderBy`` moves the whole table to one task):
    two-phase running max. Phase 1 hash-partitions rows into fixed-width
    price bands and takes the in-band running max over strictly cheaper
    rows (RANGE frame ending 1 cent early, so equal-priced rows never
    dominate each other) — fully parallel. Phase 2 computes each band's
    max size (one tiny combinable aggregate, #bands rows), prefix-maxes
    it over earlier bands (window over #bands rows only), and broadcasts
    the result back; a row's dominating size is then
    greatest(in-band, earlier-bands). One keyed exchange over the data,
    never a global sort — the same answer at any scale.
    """
    part = load(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_name",
        "p_size",
        "p_retailprice",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    ).withColumn("band", F.floor(F.col("cents") / PARETO_BAND_CENTS))
    w_in = (
        Window.partitionBy("band")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    local = p.select("*", F.max("p_size").over(w_in).alias("in_band_best"))
    band_max = p.groupBy("band").agg(F.max("p_size").alias("band_best"))
    w_pre = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    prefix = band_max.select(
        "band", F.max("band_best").over(w_pre).alias("earlier_best")
    )
    best = F.greatest("in_band_best", "earlier_best")  # null-skipping
    return (
        local.join(F.broadcast(prefix), "band")
        .where(best.isNull() | (F.col("p_size") > best))
        .select(
            "p_partkey",
            "p_name",
            "p_size",
            rnd("p_retailprice", 2).alias("p_retailprice"),
        )
    )


register(
    "pareto_frontier",
    oracle="""
WITH p AS (
  SELECT p_partkey, p_name, p_size, p_retailprice,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
),
m AS (
  SELECT *,
         max(p_size) OVER (ORDER BY cents
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_cheaper_size
  FROM p
)
SELECT p_partkey, p_name, p_size,
       round(p_retailprice + 1e-6, 2) AS p_retailprice
FROM m
WHERE best_cheaper_size IS NULL OR p_size > best_cheaper_size
""",
    tags=("window", "skyline", "frontier"),
)(pareto_frontier)


#: per-event-type inactivity gaps (seconds): engaged actions hold the
#: session open longer than passive ones.
DYNAMIC_GAPS = {"purchase": 3600, "click": 1800, "view": 900}
DYNAMIC_GAP_DEFAULT = 600


def sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: the inactivity timeout depends on the
    PREVIOUS event's type (a purchase holds the session open for an
    hour; a passive view only 15 minutes) — the batch twin of Spark's
    ``session_window(ts, <gap expression>)`` dynamic-gap streaming
    surface. Same lag + boundary-cumsum island shape as ``sessionize``,
    with the per-row gap joined into the boundary predicate; one
    exchange on user_id, both window stages reuse it.
    """
    ev = load(spark, sf_dir, "events")
    ts_sec = epoch_seconds("ts")
    gap_of = F.coalesce(
        *[
            F.when(F.col("prev_type") == k, F.lit(v))
            for k, v in sorted(DYNAMIC_GAPS.items())
        ],
        F.lit(DYNAMIC_GAP_DEFAULT),
    )
    w = Window.partitionBy("user_id").orderBy(ts_sec.asc(), F.col("event_id").asc())
    marked = ev.select(
        "user_id",
        "event_id",
        "event_type",
        ts_sec.alias("ts_sec"),
        F.lag(ts_sec, 1).over(w).alias("prev_ts"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
        "value",
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | ((F.col("ts_sec") - F.col("prev_ts")) > gap_of),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("ts_sec").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    sessions = marked.withColumn("session_no", F.sum("new_session").over(w2))
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts_sec").alias("session_start"),
        F.max("ts_sec").alias("session_end"),
        F.countDistinct("event_type").alias("n_event_types"),
        rnd(F.sum("value"), 2).alias("session_value"),
    )


_DYN_GAP_SQL = (
    "CASE "
    + " ".join(
        f"WHEN prev_type = '{k}' THEN {v}" for k, v in sorted(DYNAMIC_GAPS.items())
    )
    + f" ELSE {DYNAMIC_GAP_DEFAULT} END"
)

register(
    "sessionize_dynamic_gap",
    oracle=f"""
WITH marked AS (
  SELECT user_id, event_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS prev_ts,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
),
flagged AS (
  SELECT *,
         CASE WHEN prev_ts IS NULL
                   OR ts_sec - prev_ts > ({_DYN_GAP_SQL})
              THEN 1 ELSE 0 END AS new_session
  FROM marked
),
sessions AS (
  SELECT *,
         sum(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts_sec ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM flagged
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       count(*) AS n_events,
       min(ts_sec) AS session_start,
       max(ts_sec) AS session_end,
       count(DISTINCT event_type) AS n_event_types,
       round(sum(value) + 1e-6, 2) AS session_value
FROM sessions
GROUP BY user_id, session_no
""",
    tags=("window", "sessionization", "dynamic-gap"),
)(sessionize_dynamic_gap)


def ntile_segment_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing: account-balance quartiles WITHIN each market
    segment, then per-(segment, quartile) stats — the standard customer-
    value banding report. Deterministic order key (balance desc, custkey)
    so the bucket assignment — and hence the hash — is total-order
    stable.

    Scale note: ntile is a per-PARTITION sort; partitioning by segment
    keeps it parallel across segments but each segment sorts in one
    task — fine while per-segment rows fit a task (the topk_per_group
    regime). A GLOBAL ntile would serialize the corpus through one
    partition; at that point use the broadcast-cutpoint percentile
    pattern (``exact_percentile_disc``) instead — bucketing by
    precomputed quantile boundaries is a map-only pass."""
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").alias("n_customers"),
            rnd(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
            rnd(F.min("c_acctbal"), 2).alias("min_acctbal"),
            rnd(F.max("c_acctbal"), 2).alias("max_acctbal"),
        )
    )


register(
    "ntile_segment_quartiles",
    oracle="""
SELECT c_mktsegment, quartile,
       count(*) AS n_customers,
       round(avg(c_acctbal) + 1e-6, 2) AS avg_acctbal,
       round(min(c_acctbal) + 1e-6, 2) AS min_acctbal,
       round(max(c_acctbal) + 1e-6, 2) AS max_acctbal
FROM (
  SELECT c_mktsegment, c_acctbal,
         ntile(4) OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal DESC, c_custkey) AS quartile
  FROM customer)
GROUP BY c_mktsegment, quartile
""",
    tags=("window", "ntile", "banding"),
)(ntile_segment_quartiles)


# --------------------------------------------------------------------------
# session-gap threshold calibration
# --------------------------------------------------------------------------

#: candidate inactivity gaps (seconds) swept by the calibration.
SESSION_GAP_CANDIDATES = (300, 600, 900, 1800, 3600)


_SESSION_GAP_ORACLE = f"""
WITH g AS (
  SELECT user_id,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM events
),
base AS (
  SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users FROM g
),
th AS (SELECT unnest([{", ".join(str(g) for g in SESSION_GAP_CANDIDATES)}]) AS gap_threshold_s)
SELECT th.gap_threshold_s,
       CAST(coalesce(sum(CASE WHEN g.gap > th.gap_threshold_s THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_breaks,
       CAST(coalesce(sum(CASE WHEN g.gap > th.gap_threshold_s THEN 1 ELSE 0 END), 0)
            + max(b.n_users) AS BIGINT) AS n_sessions,
       round(max(b.n_events) * 1.0
             / greatest(coalesce(sum(CASE WHEN g.gap > th.gap_threshold_s
                                          THEN 1 ELSE 0 END), 0) + max(b.n_users), 1)
             + 1e-6, 4) AS avg_session_events
FROM th CROSS JOIN base b LEFT JOIN g ON true
GROUP BY th.gap_threshold_s
"""


@register(
    "session_gap_calibration",
    oracle=_SESSION_GAP_ORACLE,
    tags=("prepared-r8",),
)
def session_gap_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSIONIZATION GAP CALIBRATION (the session sibling of
    ``similarity_threshold_curve``): sweep candidate inactivity
    thresholds over the per-user inter-event gap distribution and
    report, per candidate, how many session breaks it would cut and the
    resulting session count / mean session length — the elbow picks the
    production gap (the fixed 30-min default is a guess until this
    table exists). One keyed window pass computes every gap; the sweep
    is conditional aggregation (one combinable row, then an explode),
    so all candidates always emit."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    t = F.col("ts").cast("double")
    gaps = ev.select(
        "user_id",
        (t - F.lag(t).over(w)).alias("gap"),
    )
    base = gaps.agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        *[
            F.coalesce(
                F.sum((F.col("gap") > F.lit(float(g))).cast("long")), F.lit(0)
            ).alias(f"b{i}")
            for i, g in enumerate(SESSION_GAP_CANDIDATES)
        ],
    )
    swept = base.select(
        "n_events",
        "n_users",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("g"), F.col(f"b{i}").alias("nb")
                    )
                    for i, g in enumerate(SESSION_GAP_CANDIDATES)
                ]
            )
        ).alias("s"),
    )
    n_sessions = F.col("s.nb") + F.col("n_users")
    return swept.select(
        F.col("s.g").alias("gap_threshold_s"),
        F.col("s.nb").alias("n_breaks"),
        n_sessions.alias("n_sessions"),
        rnd(
            F.col("n_events") / F.greatest(n_sessions, F.lit(1)).cast("double"), 4
        ).alias("avg_session_events"),
    )


# --------------------------------------------------------------------------
# cohort LTV accumulation curve
# --------------------------------------------------------------------------

_LTV_ORACLE = """
WITH first_seen AS (
  SELECT user_id,
         min(CAST(floor(epoch(ts) / 604800) AS BIGINT)) AS cohort_wk
  FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_wk, count(*) AS n_users FROM first_seen GROUP BY cohort_wk
),
purchases AS (
  SELECT f.cohort_wk,
         CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_wk AS age_wk,
         sum(CAST(e.value AS DECIMAL(14,2))) AS rev
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT p.cohort_wk, p.age_wk, s.n_users,
       round(CAST(p.rev AS DOUBLE) + 1e-6, 2) AS revenue,
       round(CAST(sum(p.rev) OVER (PARTITION BY p.cohort_wk
                                   ORDER BY p.age_wk
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / s.n_users + 1e-6, 4) AS cum_ltv_per_user
FROM purchases p JOIN sizes s ON p.cohort_wk = s.cohort_wk
"""


@register("cohort_ltv_curve", oracle=_LTV_ORACLE, tags=("prepared-r8",))
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LTV CURVE: users grouped by first-seen week, purchase
    revenue accumulated per cohort age (weeks since first seen), and
    cumulative revenue-per-cohort-member — the table whose flattening
    point answers "when has a cohort paid back its acquisition cost?".
    The revenue companion of ``cohort_retention`` (presence there,
    value here).

    Scale shape: first-seen week is one keyed aggregate over users;
    the curve is a (cohort, age) hash agg joined to the bounded cohort-
    size table, with the cumulative sum a window over the bounded
    (cohort x age) grid."""
    ev = load(spark, sf_dir, "events")
    wk = (F.floor(F.col("ts").cast("double") / 604800)).cast("long")
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_wk"))
    sizes = first.groupBy("cohort_wk").agg(F.count("*").alias("n_users"))
    # round-12: the per-cell revenue is a money sum whose cell row count
    # grows with the corpus — DECIMAL discipline (operators/tpch.py), so
    # the sum (and the cumulative window over it) is exact and
    # engine-identical at any scale; the cast back to double is correctly
    # rounded well below the 2^53 boundary (`probe.py decimal53`).
    # round-13: widened 12,2 -> 14,2 to match the package-wide money
    # width — on per-value overflow Spark (non-ANSI) yields NULL while
    # DuckDB errors, so a narrower width makes the engines fail
    # DIFFERENTLY at extreme values; one width keeps failure modes
    # aligned. Values are unchanged (no overflow at either width).
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", wk.alias("wk"), "value")
        .join(first, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("age_wk"))
        .agg(F.sum(F.col("value").cast("decimal(14,2)")).alias("rev"))
    )
    wcum = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return purchases.join(sizes, "cohort_wk").select(
        "cohort_wk",
        "age_wk",
        "n_users",
        rnd(F.col("rev").cast("double"), 2).alias("revenue"),
        rnd(
            F.sum("rev").over(wcum).cast("double") / F.col("n_users"), 4
        ).alias("cum_ltv_per_user"),
    )


# --------------------------------------------------------------------------
# concurrent-sessions profile (sweep line, per-day partitioned)
# --------------------------------------------------------------------------

#: session inactivity gap (seconds), matching the sessionize operator.
CONC_GAP_S = 1800


_CONC_ORACLE = f"""
WITH marked AS (
  SELECT user_id, epoch(ts) AS t,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - lag(epoch(ts)) OVER w > {CONC_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, sid, min(t) AS s_start, max(t) AS s_end
  FROM (
    SELECT user_id, t,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
  ) GROUP BY 1, 2
),
deltas AS (
  SELECT s_start AS t, 1 AS d, CAST(floor(s_start / 86400) AS BIGINT) AS day
  FROM sess
  UNION ALL
  SELECT s_end, -1, CAST(floor(s_end / 86400) AS BIGINT) FROM sess
),
day_sum AS (
  SELECT day, CAST(sum(d) AS BIGINT) AS dsum FROM deltas GROUP BY day
),
base AS (
  SELECT day,
         COALESCE(sum(dsum) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS carry_in
  FROM day_sum
),
running AS (
  SELECT d.day, d.t,
         b.carry_in + sum(d.d) OVER (PARTITION BY d.day ORDER BY d.t, d.d DESC
                                     ROWS UNBOUNDED PRECEDING) AS conc
  FROM deltas d JOIN base b ON d.day = b.day
)
SELECT r.day,
       CAST(greatest(r.conc, b.carry_in) AS BIGINT) AS peak_concurrent,
       CASE WHEN r.conc >= b.carry_in
            THEN CAST(floor((r.t % 86400) / 3600) AS INTEGER)
            ELSE 0 END AS peak_hour_utc
FROM (
  SELECT *, row_number() OVER (PARTITION BY day
                               ORDER BY conc DESC, t ASC) AS rk
  FROM running
) r JOIN base b ON r.day = b.day
WHERE r.rk = 1
"""


@register(
    "concurrent_sessions_profile",
    oracle=_CONC_ORACLE,
    tags=("prepared-r8",),
)
def concurrent_sessions_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENT SESSIONS per day via the classic sweep line:
    sessionize each user's events (gap > ``CONC_GAP_S`` starts a new
    session), emit +1/-1 deltas at session starts/ends (STARTS first
    on ties, so instantaneous single-event sessions still count and
    two sessions touching at an instant read as concurrent — the
    closed-interval convention), and report each day's
    peak and the time it occurred — the capacity-planning number
    behind connection pools and state-store sizing.

    Scale shape: the sweep is inherently sequential, so it is
    PARTITIONED BY DAY with a carried-in baseline: per-day delta sums
    cumulate over the bounded day spine (one tiny window), and each
    day's in-day running sum adds its carried baseline — N parallel
    bounded sorts instead of one global single-task sort (the
    ``streaming/twins.py`` watermark discipline applied to interval
    concurrency)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        sec.alias("t"),
        (
            F.lag(sec).over(wu).isNull()
            | ((sec - F.lag(sec).over(wu)) > CONC_GAP_S)
        ).cast("int").alias("new_s"),
    )
    sess = marked.select(
        "user_id", "t", F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("t").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).alias("sid"),
    ).groupBy("user_id", "sid").agg(
        F.min("t").alias("s_start"), F.max("t").alias("s_end")
    )
    deltas = sess.select(
        F.col("s_start").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        sess.select(F.col("s_end").alias("t"), F.lit(-1).alias("d"))
    ).withColumn("day", F.floor(F.col("t") / 86400).cast("long"))
    day_sum = deltas.groupBy("day").agg(F.sum("d").alias("dsum"))
    wdays = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = day_sum.select(
        "day",
        F.coalesce(F.sum("dsum").over(wdays), F.lit(0)).alias("carry_in"),
    )
    win_day = Window.partitionBy("day").orderBy(
        "t", F.col("d").desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    running = deltas.join(base, "day").select(
        "day",
        "t",
        (F.col("carry_in") + F.sum("d").over(win_day)).alias("conc"),
    )
    wpick = Window.partitionBy("day").orderBy(
        F.col("conc").desc(), F.col("t").asc()
    )
    best = (
        running.withColumn("rk", F.row_number().over(wpick))
        .where(F.col("rk") == 1)
        .join(base, "day")
    )
    # a day whose first delta is an END carries its true peak in from
    # midnight: the open-session baseline is a candidate peak at hour 0
    at_run = F.col("conc") >= F.col("carry_in")
    return best.select(
        "day",
        F.greatest(F.col("conc"), F.col("carry_in")).cast("long").alias(
            "peak_concurrent"
        ),
        F.when(
            at_run, F.floor((F.col("t") % 86400) / 3600).cast("int")
        ).otherwise(F.lit(0)).alias("peak_hour_utc"),
    )
