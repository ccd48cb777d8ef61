"""Event-time series analytics: gap-fill/LOCF, time-weighted averages,
funnel conversion, and SCD Type-2 history builds.

The reference's pipeline is a time-series system (5-min buckets,
per-key state, flinkarima.py:96-142); this module adds the standard
time-series-warehouse operators such a system's users reach for next —
the TimescaleDB ``time_bucket_gapfill``/``locf``/``time_weight`` family
and the CDC/warehouse SCD2 + funnel shapes — re-expressed as declarative
Spark plans.

Scale notes (100 TB):
- Every query here exchanges once on ``user_id`` and runs one or more
  WindowExec / partial-aggregate passes over the same partitioning —
  no second shuffle, no driver materialization.
- The gap-fill grid is generated per key with ``sequence()`` bounded by
  that key's own [min, max] bucket range, so grid size grows with the
  observed time span (fixed by retention policy), never with row count.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.operators.stats import (
    HOUR_S,
    SPLIT_EPOCH_S,
    TYPE_HOURLY_CTE,
    mean_series,
    series_cte,
)
from flink_cookbook_spark.registry import register, rnd
from flink_cookbook_spark.functions.time import epoch_seconds

_BUCKET = 900  # 15-min gap-fill buckets

#: the per-user series CTEs: 15-minute and hourly means.
USER_15MIN_CTE = series_cte("obs", "user_id", _BUCKET)
USER_HOURLY_CTE = series_cte("hourly", "user_id", HOUR_S)


def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gap fill with last-observation-carried-forward.

    Hypertable shape (TimescaleDB ``time_bucket_gapfill`` + ``locf``),
    which Spark lacks as syntax: per user, 15-min buckets from that
    user's first to last observed bucket; empty buckets materialize with
    ``n_events = 0`` and carry the previous bucket's average forward.

    Plan: one aggregate to per-bucket partials, a per-user ``sequence()``
    explode for the dense grid (bounded by time span, not row count), a
    same-key left join back, and one WindowExec for the carry — every
    exchange hashes on user_id.
    """
    obs = mean_series(spark, sf_dir, "user_id", _BUCKET)
    grid = (
        obs.groupBy("user_id")
        .agg(F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.lit(_BUCKET))).alias("bucket_start"),
        )
    )
    joined = grid.join(obs, ["user_id", "bucket_start"], "left")
    w = Window.partitionBy("user_id").orderBy("bucket_start")
    return joined.select(
        "user_id",
        "bucket_start",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        rnd(
            F.last("v", ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            4,
        ).alias("value_filled"),
        F.col("n").isNull().alias("is_gap"),
    )


register(
    "gap_fill_locf",
    oracle=f"""
WITH {USER_15MIN_CTE},
bounds AS (
  SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
  FROM obs GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, {_BUCKET})) AS bucket_start
  FROM bounds
),
joined AS (
  SELECT g.user_id, g.bucket_start, o.n, o.v,
         sum(CASE WHEN o.v IS NOT NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY g.user_id ORDER BY g.bucket_start) AS carry_grp
  FROM grid g LEFT JOIN obs o
    ON g.user_id = o.user_id AND g.bucket_start = o.bucket_start
)
SELECT user_id, bucket_start,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events,
       round(max(v) OVER (PARTITION BY user_id, carry_grp) + 1e-6, 4)
         AS value_filled,
       n IS NULL AS is_gap
FROM joined
""",
    tags=("timeseries", "gapfill", "bench"),
)(gap_fill_locf)


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (TimescaleDB ``time_weight`` shape).

    Each observation is weighted by how long it was the latest value
    (duration to the next event, last observation excluded) — the right
    mean for irregularly-sampled series, where the arithmetic mean
    over-weights bursts. One exchange on user_id: lead() for durations,
    then a partial-aggregated weighted sum.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    w = Window.partitionBy("user_id").orderBy(sec.asc(), F.col("event_id").asc())
    seg = ev.select(
        "user_id",
        "value",
        sec.alias("ts_sec"),
        (F.lead(sec, 1).over(w) - sec).alias("dur"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.col("dur")).alias("n_segments"),
            (F.max("ts_sec") - F.min("ts_sec")).alias("span_sec"),
            rnd(
                F.sum(F.col("value") * F.col("dur")) / F.sum("dur"),
                4,
            ).alias("twa_value"),
            rnd(F.avg("value"), 4).alias("plain_avg"),
        )
    )


register(
    "time_weighted_avg",
    oracle="""
WITH seg AS (
  SELECT user_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         lead(CAST(floor(epoch(ts)) AS BIGINT), 1)
           OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
           - CAST(floor(epoch(ts)) AS BIGINT) AS dur
  FROM events
)
SELECT user_id,
       count(dur) AS n_segments,
       max(ts_sec) - min(ts_sec) AS span_sec,
       round(sum(value * dur) / sum(dur) + 1e-6, 4) AS twa_value,
       round(avg(value) + 1e-6, 4) AS plain_avg
FROM seg GROUP BY user_id
""",
    tags=("timeseries", "aggregate"),
)(time_weighted_avg)


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: view -> click -> purchase per user, each
    stage strictly after the previous one (first-touch semantics).

    The windowed-funnel shape (ClickHouse ``windowFunnel``, Amplitude
    funnels). Three WindowExec passes over ONE hash exchange on user_id:
    stage N's first-completion time is a conditional MIN over the
    partition that references stage N-1's column — no self-joins, no
    re-scans of the events table.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    w = Window.partitionBy("user_id")
    base = ev.select("user_id", "event_type", sec.alias("ts_sec"))
    staged = (
        base.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts_sec"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts_sec") > F.col("t_view")),
                    F.col("ts_sec"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_sec") > F.col("t_click")),
                    F.col("ts_sec"),
                )
            ).over(w),
        )
    )
    return staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
        F.max(
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .when(F.col("t_view").isNotNull(), 1)
            .otherwise(0)
        ).alias("reached_stage"),
    )


register(
    "funnel_conversion",
    oracle="""
WITH base AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
  FROM events
),
u AS (SELECT DISTINCT user_id FROM base),
fv AS (
  SELECT user_id, min(ts_sec) AS t_view
  FROM base WHERE event_type = 'view' GROUP BY 1
),
fc AS (
  SELECT b.user_id, min(b.ts_sec) AS t_click
  FROM base b JOIN fv ON b.user_id = fv.user_id
  WHERE b.event_type = 'click' AND b.ts_sec > fv.t_view GROUP BY 1
),
fp AS (
  SELECT b.user_id, min(b.ts_sec) AS t_purchase
  FROM base b JOIN fc ON b.user_id = fc.user_id
  WHERE b.event_type = 'purchase' AND b.ts_sec > fc.t_click GROUP BY 1
)
SELECT u.user_id, fv.t_view, fc.t_click, fp.t_purchase,
       CASE WHEN fp.t_purchase IS NOT NULL THEN 3
            WHEN fc.t_click IS NOT NULL THEN 2
            WHEN fv.t_view IS NOT NULL THEN 1
            ELSE 0 END AS reached_stage
FROM u
LEFT JOIN fv ON u.user_id = fv.user_id
LEFT JOIN fc ON u.user_id = fc.user_id
LEFT JOIN fp ON u.user_id = fp.user_id
""",
    tags=("timeseries", "funnel", "bench"),
)(funnel_conversion)


def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change stream: collapse each
    user's event_type sequence to its change points and emit versioned
    validity intervals (valid_from / valid_to, open-ended for current).

    The warehouse-standard MERGE-free SCD2 derivation: lag() finds the
    change points, a filter drops consecutive repeats, lead() closes
    each interval, row_number() assigns versions. Three window passes,
    one exchange on user_id — the CDC-materialization twin of
    ``changelog_compaction`` (keep-latest) with full history retained.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    w = Window.partitionBy("user_id").orderBy(sec.asc(), F.col("event_id").asc())
    marked = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        sec.alias("ts_sec"),
        F.col("event_id"),
        F.lag("event_type", 1).over(w).alias("prev_state"),
    )
    changes = marked.where(
        F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state"))
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("ts_sec").asc(), F.col("event_id").asc()
    )
    return changes.select(
        "user_id",
        F.row_number().over(w2).alias("version"),
        "state",
        F.col("ts_sec").alias("valid_from"),
        F.lead("ts_sec", 1).over(w2).alias("valid_to"),
        F.lead("ts_sec", 1).over(w2).isNull().alias("is_current"),
    )


#: full-recompute SCD2 oracle — shared by ``scd2_dimension`` and by
#: ``scd2_cdc_apply``, whose whole claim is that the incremental apply
#: equals this full recompute.
_SCD2_FULL_SQL = """
WITH ordered AS (
  SELECT user_id, event_type AS state, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         lag(event_type, 1)
           OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
           AS prev_state
  FROM events
),
changes AS (
  SELECT user_id, state, ts_sec, event_id FROM ordered
  WHERE prev_state IS NULL OR state <> prev_state
)
SELECT user_id,
       CAST(row_number() OVER w AS INTEGER) AS version,
       state,
       ts_sec AS valid_from,
       lead(ts_sec, 1) OVER w AS valid_to,
       lead(ts_sec, 1) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
"""

register(
    "scd2_dimension",
    oracle=_SCD2_FULL_SQL,
    tags=("timeseries", "scd2", "cdc"),
)(scd2_dimension)


_GAP_THRESHOLD = 7200  # 2 h — heartbeat considered lost


def heartbeat_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-heartbeat detection: per user, every silence longer than
    the 2-hour threshold, with its bounds and duration — the monitoring
    complement of sessionize (which groups the activity BETWEEN gaps;
    this emits the gaps themselves, the rows an on-call alert fires on).

    One lag() pass over one exchange on user_id, then a filter — the
    plan stays a single WindowExec regardless of corpus size.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    w = Window.partitionBy("user_id").orderBy(sec.asc(), F.col("event_id").asc())
    gaps = ev.select(
        "user_id",
        sec.alias("gap_end"),
        F.lag(sec, 1).over(w).alias("gap_start"),
    ).where(
        F.col("gap_start").isNotNull()
        & (F.col("gap_end") - F.col("gap_start") > _GAP_THRESHOLD)
    )
    return gaps.select(
        "user_id",
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start")).alias("gap_sec"),
    )


register(
    "heartbeat_gaps",
    oracle=f"""
WITH ordered AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
           OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
           AS prev_sec
  FROM events
)
SELECT user_id,
       prev_sec AS gap_start,
       ts_sec AS gap_end,
       ts_sec - prev_sec AS gap_sec
FROM ordered
WHERE prev_sec IS NOT NULL AND ts_sec - prev_sec > {_GAP_THRESHOLD}
""",
    tags=("timeseries", "monitoring"),
)(heartbeat_gaps)


def user_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user journey path: the full event-type sequence in event-time
    order as one delimited string — the path-analysis primitive behind
    Sankey funnels and Markov attribution models.

    collect_list alone is order-nondeterministic under parallel merge;
    collecting (ts, event_id, type) structs and sort_array-ing AFTER the
    merge makes the result a pure function of the data. One exchange on
    user_id; per-key memory is that key's own event count (the same
    bound every per-key window op here already assumes).
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    arr = F.sort_array(
        F.collect_list(
            F.struct(
                sec.alias("ts_sec"),
                F.col("event_id"),
                F.col("event_type"),
            )
        )
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_join(
            F.transform(arr, lambda s: s["event_type"]), ">"
        ).alias("path"),
    )


register(
    "user_event_paths",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       string_agg(event_type, '>'
                  ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC,
                           event_id ASC) AS path
FROM events GROUP BY user_id
""",
    tags=("timeseries", "path-analysis"),
)(user_event_paths)


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: count and probability of each (from_type -> to_type)
    step — the model behind attribution and next-action prediction,
    and the aggregate twin of ``user_event_paths``.

    One lag() pass on the user_id exchange, then a 25-cell hash
    aggregate; the probability normalization is a window SUM over the
    tiny aggregated matrix, not the raw events.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    w = Window.partitionBy("user_id").orderBy(sec.asc(), F.col("event_id").asc())
    pairs = ev.select(
        F.lag("event_type", 1).over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    total = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        rnd(F.col("n") / F.sum("n").over(total), 4).alias("prob"),
    )


register(
    "event_transition_matrix",
    oracle="""
WITH pairs AS (
  SELECT lag(event_type, 1)
           OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
           AS from_type,
         event_type AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY from_type) + 1e-6, 4) AS prob
FROM counts
""",
    tags=("timeseries", "markov", "path-analysis"),
)(event_transition_matrix)


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives + trailing-7-day distinct actives per day.

    A sliding COUNT DISTINCT has no window-function form in either
    engine; the scale-safe shape is the expand-by-window-width trick:
    each distinct (user, day) contributes to the 7 window-end days it
    falls into (a bounded 7x fan-out of the ALREADY-deduplicated
    user-day pairs, not of raw events), then one distinct-count per
    window day. Shuffle volume is users x days x 7 — independent of
    event count.
    """
    ev = load(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("offset"),
        F.date_add("day", F.col("offset")).alias("window_day"),
    ).drop("offset")
    rolling = (
        contrib.join(days.withColumnRenamed("day", "window_day"), "window_day")
        .select("user_id", "window_day")
        .distinct()
        .groupBy("window_day")
        .agg(F.count("*").alias("active_7d"))
    )
    return dau.join(
        rolling, dau.day == rolling.window_day
    ).select("day", "dau", "active_7d")


register(
    "rolling_active_users",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
contrib AS (
  SELECT DISTINCT ud.user_id, ud.day + CAST(t.x AS INTEGER) AS window_day
  FROM ud, unnest(generate_series(0, 6)) AS t(x)
),
rolling AS (
  SELECT c.window_day, count(*) AS active_7d
  FROM contrib c JOIN days d ON c.window_day = d.day
  GROUP BY 1
)
SELECT dau.day, dau.dau, r.active_7d
FROM dau JOIN rolling r ON dau.day = r.window_day
""",
    tags=("timeseries", "retention", "sliding-distinct"),
)(rolling_active_users)


def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift summary per user: cumulative sum of deviations from
    the user's own mean, reported as the worst absolute excursion and
    its scale-free ratio (max|cusum| / (stddev * sqrt(n))) — the classic
    change-point screen for slowly drifting signals that z-score
    thresholds (A2) miss.

    Per-user mean/stddev come from an unordered whole-partition window,
    the running sum from an ordered one — both ride the SAME single
    exchange on user_id; the final per-user rollup is a partial
    aggregate over already-partitioned rows.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    whole = Window.partitionBy("user_id")
    ordered = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_sec").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # two projections (mean/sd first, then the running sum) — nested
    # window calls are illegal SQL; both passes share one exchange
    stats = ev.select(
        "user_id",
        "event_id",
        "value",
        sec.alias("ts_sec"),
        F.avg("value").over(whole).alias("mu"),
        F.stddev_samp("value").over(whole).alias("sd"),
    )
    per_row = stats.select(
        "user_id",
        F.abs(F.sum(F.col("value") - F.col("mu")).over(ordered)).alias("abs_cusum"),
        "sd",
    )
    # nullif-guard the sd divisor: for an all-constant user sd = 0, where
    # Spark's Divide yields NULL but DuckDB (ieee_floating_point_ops
    # default) yields inf — NULL on BOTH sides keeps the hash stable.
    sd_div = F.when(F.min("sd") != 0, F.min("sd") * F.sqrt(F.count("*")))
    return per_row.groupBy("user_id").agg(
        F.count("*").alias("n"),
        rnd(F.max("abs_cusum"), 4).alias("max_drift"),
        rnd(F.min("sd"), 4).alias("value_sd"),
        rnd(F.max("abs_cusum") / sd_div, 4).alias("drift_ratio"),
    )


register(
    "cusum_drift",
    oracle="""
WITH stats AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         avg(value) OVER (PARTITION BY user_id) AS mu,
         stddev_samp(value) OVER (PARTITION BY user_id) AS sd
  FROM events
),
per_row AS (
  SELECT user_id,
         abs(sum(value - mu)
             OVER (PARTITION BY user_id
                   ORDER BY ts_sec ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS abs_cusum,
         sd
  FROM stats
)
SELECT user_id,
       count(*) AS n,
       round(max(abs_cusum) + 1e-6, 4) AS max_drift,
       round(min(sd) + 1e-6, 4) AS value_sd,
       round(max(abs_cusum) / (nullif(min(sd), 0) * sqrt(count(*))) + 1e-6, 4)
         AS drift_ratio
FROM per_row GROUP BY user_id
""",
    tags=("timeseries", "changepoint", "anomaly"),
)(cusum_drift)


def hourly_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event_type: mean value by hour
    and each hour's effect vs the type's overall mean — the additive
    seasonal component the reference's SARIMAX models with (s=288
    5-min slots, flinkarima.py:226-235), reduced to the 24-slot daily
    cycle a batch profile job publishes.

    Two partial aggregates (type x hour, then type) joined on the tiny
    profile table — the raw scan happens once, nothing re-shuffles at
    event granularity.
    """
    ev = load(spark, sf_dir, "events")
    by_hour = (
        ev.select("event_type", F.hour("ts").alias("hour"), "value")
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("n_events"), F.avg("value").alias("hour_avg"))
    )
    overall = by_hour.groupBy("event_type").agg(
        (F.sum(F.col("hour_avg") * F.col("n_events")) / F.sum("n_events")).alias(
            "type_avg"
        )
    )
    return by_hour.join(F.broadcast(overall), "event_type").select(
        "event_type",
        "hour",
        "n_events",
        rnd(F.col("hour_avg"), 4).alias("hour_avg"),
        rnd(F.col("hour_avg") - F.col("type_avg"), 4).alias("hour_effect"),
    )


register(
    "hourly_seasonal_profile",
    oracle="""
WITH by_hour AS (
  SELECT event_type,
         CAST(extract(hour FROM ts) AS INTEGER) AS hour,
         count(*) AS n_events,
         avg(value) AS hour_avg
  FROM events GROUP BY 1, 2
),
overall AS (
  SELECT event_type,
         sum(hour_avg * n_events) / sum(n_events) AS type_avg
  FROM by_hour GROUP BY 1
)
SELECT b.event_type, b.hour, b.n_events,
       round(b.hour_avg + 1e-6, 4) AS hour_avg,
       round(b.hour_avg - o.type_avg + 1e-6, 4) AS hour_effect
FROM by_hour b JOIN overall o ON b.event_type = o.event_type
""",
    tags=("timeseries", "seasonality"),
)(hourly_seasonal_profile)


def autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1/lag-2 autocorrelation of the 15-min bucket series —
    the seasonality/persistence screen a forecasting pipeline runs before
    choosing model orders (the reference hardcodes its (1,1,1)x(0,1,1,288)
    SARIMAX orders; ACF is how those orders get picked from data).

    One exchange on user_id: bucket aggregation, two lag windows over the
    same partitioning, then a per-user ``corr`` aggregate — Pearson
    correlation of the series against its own lags, pairwise-complete
    (lag rows with no predecessor drop out of the aggregate on both
    engines via NULL propagation).
    """
    obs = mean_series(spark, sf_dir, "user_id", _BUCKET)
    w = Window.partitionBy("user_id").orderBy("bucket_start")
    lagged = obs.select(
        "user_id",
        "v",
        F.lag("v", 1).over(w).alias("x1"),
        F.lag("v", 2).over(w).alias("x2"),
    )
    return lagged.groupBy("user_id").agg(
        F.count("v").alias("n_buckets"),
        # + 0.0 normalizes IEEE negative zero (DuckDB round() preserves
        # the sign of zero; hash-relevant — bit at sf0.1)
        (rnd(F.corr("v", "x1"), 4) + F.lit(0.0)).alias("lag1_acf"),
        (rnd(F.corr("v", "x2"), 4) + F.lit(0.0)).alias("lag2_acf"),
    )


register(
    "autocorrelation",
    oracle=f"""
WITH {USER_15MIN_CTE},
lagged AS (
  SELECT user_id, v,
         lag(v, 1) OVER (PARTITION BY user_id ORDER BY bucket_start) AS x1,
         lag(v, 2) OVER (PARTITION BY user_id ORDER BY bucket_start) AS x2
  FROM obs
)
SELECT user_id,
       count(v) AS n_buckets,
       round(corr(v, x1) + 1e-6, 4) + 0.0 AS lag1_acf,
       round(corr(v, x2) + 1e-6, 4) + 0.0 AS lag2_acf
FROM lagged
GROUP BY user_id
""",
    tags=("timeseries", "acf", "seasonality"),
)(autocorrelation)


def per_key_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of value over time: slope per hour,
    intercept at the user's first observation, and R² — the cheap screen
    for "is this metric drifting and how fast" that complements the CUSUM
    excursion test (``cusum_drift`` detects THAT a shift happened; the
    regression slope says the direction and rate).

    One hash aggregate: ``regr_slope``/``regr_intercept``/``regr_r2`` are
    single-pass mergeable moment aggregates (sums of x, y, xy, x², n), so
    the shuffle carries five doubles per key at any scale. The x axis is
    hours since each user's first event (a window MIN over the same
    exchange), which keeps the intercept interpretable and the moments
    far from the float cancellation range an absolute-epoch x would hit.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    w = Window.partitionBy("user_id")
    based = ev.select(
        "user_id",
        "value",
        ((sec - F.min(sec).over(w)) / 3600.0).alias("x_hours"),
    )
    return based.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        rnd(F.regr_slope("value", "x_hours"), 6).alias("slope_per_hour"),
        rnd(F.regr_intercept("value", "x_hours"), 4).alias("intercept"),
        rnd(F.regr_r2("value", "x_hours"), 6).alias("r2"),
    )


register(
    "per_key_linear_trend",
    oracle="""
WITH based AS (
  SELECT user_id, value,
         (CAST(floor(epoch(ts)) AS BIGINT)
          - min(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id)) / 3600.0 AS x_hours
  FROM events
)
SELECT user_id,
       count(*) AS n_events,
       round(regr_slope(value, x_hours) + 1e-6, 6) AS slope_per_hour,
       round(regr_intercept(value, x_hours) + 1e-6, 4) AS intercept,
       round(regr_r2(value, x_hours) + 1e-6, 6) AS r2
FROM based
GROUP BY user_id
""",
    tags=("timeseries", "regression", "trend"),
)(per_key_linear_trend)


def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of each user's hourly series:
    trend (25-point centered moving average), seasonal (mean detrended
    value per hour-of-day), residual — the STL-lite every anomaly
    pipeline runs before thresholding residuals, and the batch analogue
    of the reference's seasonal-factor adjustment
    (flinkarima.py:118-135, s=288 five-minute slots -> 24 hourly slots).

    Two exchanges total: the hourly aggregate + trend window share the
    user_id exchange; the seasonal mean re-partitions on (user, hour).
    Edge buckets use the window's natural shrinking frame on BOTH
    engines (ROWS BETWEEN semantics), so no NULL trimming is needed.
    """
    hourly = mean_series(spark, sf_dir, "user_id", HOUR_S)
    trend_w = (
        Window.partitionBy("user_id").orderBy("bucket_start").rowsBetween(-12, 12)
    )
    trended = hourly.select(
        "user_id",
        "bucket_start",
        "v",
        F.avg("v").over(trend_w).alias("trend"),
        ((F.col("bucket_start") % 86400) / 3600).cast("int").alias("hod"),
    ).withColumn("detrended", F.col("v") - F.col("trend"))
    seas_w = Window.partitionBy("user_id", "hod")
    return trended.select(
        "user_id",
        "bucket_start",
        rnd("v").alias("x"),
        rnd("trend").alias("trend"),
        rnd(F.avg("detrended").over(seas_w)).alias("seasonal"),
        rnd(
            F.col("detrended") - F.avg("detrended").over(seas_w)
        ).alias("residual"),
    )


register(
    "seasonal_decompose",
    oracle=f"""
WITH {USER_HOURLY_CTE},
trended AS (
  SELECT user_id, bucket_start, v,
         avg(v) OVER (PARTITION BY user_id ORDER BY bucket_start
                      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend,
         CAST((bucket_start % 86400) // 3600 AS INTEGER) AS hod
  FROM hourly
),
det AS (SELECT *, v - trend AS detrended FROM trended)
SELECT user_id, bucket_start,
       round(v + 1e-6, 4) AS x,
       round(trend + 1e-6, 4) AS trend,
       round(avg(detrended) OVER (PARTITION BY user_id, hod) + 1e-6, 4) AS seasonal,
       round(detrended - avg(detrended) OVER (PARTITION BY user_id, hod) + 1e-6, 4) AS residual
FROM det
""",
    tags=("timeseries", "seasonality", "decomposition", "bench"),
)(seasonal_decompose)


PSI_SPLIT = "2024-01-16 00:00:00"  # reference window | comparison window
PSI_BUCKET = 50.0  # value-histogram bucket width
PSI_BUCKET_CAP = 9  # top bucket is open-ended
PSI_SMOOTH = 0.5  # Laplace smoothing count so empty buckets stay finite


def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution per
    event_type, first half of the month vs second — THE model-monitoring
    drift metric (PSI = sum (p-q) * ln(p/q); > 0.2 conventionally means
    the population shifted). Complements ``source_kl_divergence`` (drift
    across sources) with drift across TIME, and ``cusum_drift`` (mean
    shift) with a full-distribution comparison.

    One scan -> (event_type, bucket, half) counts; Laplace-smoothed so a
    bucket empty in one half contributes a finite term on both engines.
    Everything after the first aggregate is event_type x buckets tiny.
    """
    ev = load(spark, sf_dir, "events")
    split = F.lit(PSI_SPLIT).cast("timestamp")
    bucketed = ev.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / PSI_BUCKET), F.lit(PSI_BUCKET_CAP)
        ).alias("b"),
        (F.col("ts") < split).alias("is_ref"),
    )
    counts = (
        bucketed.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("c_ref"),
            F.sum((~F.col("is_ref")).cast("long")).alias("c_cmp"),
        )
    )
    tot_w = Window.partitionBy("event_type")
    terms = counts.select(
        "event_type",
        (
            (F.col("c_ref") + PSI_SMOOTH)
            / F.sum(F.col("c_ref") + PSI_SMOOTH).over(tot_w)
        ).alias("p"),
        (
            (F.col("c_cmp") + PSI_SMOOTH)
            / F.sum(F.col("c_cmp") + PSI_SMOOTH).over(tot_w)
        ).alias("q"),
        F.sum("c_ref").over(tot_w).alias("n_ref"),
        F.sum("c_cmp").over(tot_w).alias("n_cmp"),
    )
    return terms.groupBy("event_type").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cmp").alias("n_cmp"),
        rnd(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6).alias("psi"),
    )


register(
    "psi_value_drift",
    oracle=f"""
WITH bucketed AS (
  SELECT event_type,
         least(floor(value / {PSI_BUCKET}), {PSI_BUCKET_CAP}) AS b,
         ts < TIMESTAMP '{PSI_SPLIT}' AS is_ref
  FROM events
),
counts AS (
  SELECT event_type, b,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c_ref,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS c_cmp
  FROM bucketed GROUP BY 1, 2
),
terms AS (
  SELECT event_type,
         (c_ref + {PSI_SMOOTH}) / sum(c_ref + {PSI_SMOOTH}) OVER (PARTITION BY event_type) AS p,
         (c_cmp + {PSI_SMOOTH}) / sum(c_cmp + {PSI_SMOOTH}) OVER (PARTITION BY event_type) AS q,
         sum(c_ref) OVER (PARTITION BY event_type) AS n_ref,
         sum(c_cmp) OVER (PARTITION BY event_type) AS n_cmp
  FROM counts
)
SELECT event_type,
       CAST(max(n_ref) AS BIGINT) AS n_ref,
       CAST(max(n_cmp) AS BIGINT) AS n_cmp,
       round(sum((p - q) * ln(p / q)) + 1e-6, 6) AS psi
FROM terms
GROUP BY event_type
""",
    tags=("timeseries", "drift", "monitoring", "psi"),
)(psi_value_drift)


def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth split: per day, how many active users are seen for
    the FIRST time vs returning — the companion to ``cohort_retention``
    (that query tracks a cohort forward; this one classifies each day's
    traffic) and ``rolling_active_users``.

    Two combinable aggregates over user-days: dedupe to (user, day),
    window-min for each user's first day (same user_id exchange), then a
    per-day conditional count. No joins; everything after the dedup is
    user-day-cardinality.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    user_days = (
        ev.select("user_id", (F.floor(sec / 86400) * 86400).alias("day_start"))
        .distinct()
    )
    w = Window.partitionBy("user_id")
    tagged = user_days.select(
        "day_start",
        (F.col("day_start") == F.min("day_start").over(w)).alias("is_new"),
    )
    return tagged.groupBy("day_start").agg(
        F.count("*").alias("active_users"),
        F.sum(F.col("is_new").cast("long")).alias("new_users"),
        F.sum((~F.col("is_new")).cast("long")).alias("returning_users"),
    )


register(
    "new_vs_returning",
    oracle="""
WITH user_days AS (
  SELECT DISTINCT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start
  FROM events
),
tagged AS (
  SELECT day_start,
         day_start = min(day_start) OVER (PARTITION BY user_id) AS is_new
  FROM user_days
)
SELECT day_start,
       count(*) AS active_users,
       CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS returning_users
FROM tagged
GROUP BY day_start
""",
    tags=("timeseries", "growth", "cohort"),
)(new_vs_returning)


def behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix (plus the dominant
    type and its share) — the behavioral-diversity screen: bots and
    single-purpose integrations sit near zero entropy, organic users
    spread across types. Complements ``event_transition_matrix`` (which
    models ORDER; this models the marginal mix).

    One hash aggregate to (user, type) counts; entropy folds over the
    per-user window — everything after the aggregate is
    users x types tiny.
    """
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    w = Window.partitionBy("user_id")
    probs = counts.select(
        "user_id",
        "event_type",
        "c",
        (F.col("c") / F.sum("c").over(w)).alias("p"),
        F.sum("c").over(w).alias("n_events"),
    )
    rk = Window.partitionBy("user_id").orderBy(F.col("c").desc(), F.col("event_type").asc())
    return (
        probs.withColumn("rk", F.row_number().over(rk))
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            rnd(-F.sum(F.col("p") * F.log2("p")), 4).alias("entropy_bits"),
            F.max(F.when(F.col("rk") == 1, F.col("event_type"))).alias("top_type"),
            rnd(F.max(F.when(F.col("rk") == 1, F.col("p"))), 4).alias("top_share"),
        )
    )


register(
    "behavior_entropy",
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
probs AS (
  SELECT user_id, event_type, c,
         c * 1.0 / sum(c) OVER (PARTITION BY user_id) AS p,
         sum(c) OVER (PARTITION BY user_id) AS n_events,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type ASC) AS rk
  FROM counts
)
SELECT user_id,
       CAST(max(n_events) AS BIGINT) AS n_events,
       round(-sum(p * log2(p)) + 1e-6, 4) AS entropy_bits,
       max(CASE WHEN rk = 1 THEN event_type END) AS top_type,
       round(max(CASE WHEN rk = 1 THEN p END) + 1e-6, 4) AS top_share
FROM probs
GROUP BY user_id
""",
    tags=("timeseries", "profiling", "entropy"),
)(behavior_entropy)


ATTR_WINDOW_S = 7 * 86_400  # last-touch lookback


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's most
    recent prior ``view`` within a 7-day lookback (else unattributed) —
    the marketing-analytics face of the engine's as-of machinery (the
    reference's J1 latest-baseline join, applied to a different domain).

    One exchange on user_id: both event classes ride the same keyed
    window; the latest-prior-view lookup is a conditional ``last()``
    over the ordered event stream (no join at all), then the lookback
    bound filters attribution. Per user: purchases, attributed count,
    and the mean view->purchase latency of attributed conversions.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        sec.alias("t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.last(
        F.when(F.col("event_type") == "view", F.col("t")), ignorenulls=True
    ).over(w)
    purchases = base.withColumn("last_view_t", last_view).where(
        F.col("event_type") == "purchase"
    )
    attributed = (F.col("last_view_t").isNotNull()) & (
        F.col("t") - F.col("last_view_t") <= ATTR_WINDOW_S
    )
    return purchases.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.sum(attributed.cast("long")).alias("n_attributed"),
        rnd(
            F.avg(F.when(attributed, (F.col("t") - F.col("last_view_t")) / 3600.0)),
            4,
        ).alias("avg_hours_to_convert"),
    )


register(
    "purchase_attribution",
    oracle=f"""
WITH base AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
),
marked AS (
  SELECT user_id, event_type, t,
         last_value(CASE WHEN event_type = 'view' THEN t END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_t
  FROM base
)
SELECT user_id,
       count(*) AS n_purchases,
       CAST(sum(CASE WHEN last_view_t IS NOT NULL AND t - last_view_t <= {ATTR_WINDOW_S}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
       round(avg(CASE WHEN last_view_t IS NOT NULL AND t - last_view_t <= {ATTR_WINDOW_S}
                      THEN (t - last_view_t) / 3600.0 END) + 1e-6, 4)
         AS avg_hours_to_convert
FROM marked
WHERE event_type = 'purchase'
GROUP BY user_id
""",
    tags=("timeseries", "attribution", "asof"),
)(purchase_attribution)


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution for the view -> purchase funnel:
    per user, the FIRST view and the first purchase AFTER it define the
    conversion latency; the corpus-level output is the exact p50/p90 and
    mean latency plus the converted-user count — the "how fast do users
    convert" companion to ``funnel_conversion``'s "how many".

    One exchange on user_id for the two conditional-MIN window passes,
    then exact interpolated percentiles over one row per user via the
    distributed order statistic (grouped_exact_percentiles — conversion
    latencies are ~all-distinct reals, so Spark's value-buffering exact
    ``percentile`` would grow its state with user cardinality, the
    class that killed the 30x-probe JVM; PERF.md round-10/11) plus a
    count/mean aggregate, combined as broadcast 1-row frames.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    base = ev.select("user_id", "event_type", sec.alias("t"))
    w = Window.partitionBy("user_id")
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("t"))).over(w)
    per_row = base.withColumn("fv", first_view)
    first_purchase_after = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("t") >= F.col("fv")),
            F.col("t"),
        )
    ).over(w)
    users = (
        per_row.withColumn("fp", first_purchase_after)
        .groupBy("user_id")
        .agg(F.max("fv").alias("fv"), F.max("fp").alias("fp"))
        .where(F.col("fv").isNotNull() & F.col("fp").isNotNull())
        .select(((F.col("fp") - F.col("fv")) / 3600.0).alias("hours"))
    )
    from flink_cookbook_spark.functions.collections import (
        grouped_exact_percentiles,
    )

    pct = grouped_exact_percentiles(
        users, [], "hours", {"p50_raw": 0.5, "p90_raw": 0.9}
    )
    stats = users.agg(
        F.count("*").alias("n_converted"),
        rnd(F.avg("hours"), 4).alias("mean_hours"),
    )
    return stats.crossJoin(F.broadcast(pct)).select(
        "n_converted",
        rnd(F.col("p50_raw"), 4).alias("p50_hours"),
        rnd(F.col("p90_raw"), 4).alias("p90_hours"),
        "mean_hours",
    )


register(
    "funnel_time_to_convert",
    oracle="""
WITH base AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
marked AS (
  SELECT user_id, event_type, t,
         min(CASE WHEN event_type = 'view' THEN t END)
           OVER (PARTITION BY user_id) AS fv
  FROM base
),
users AS (
  SELECT user_id, max(fv) AS fv,
         min(CASE WHEN event_type = 'purchase' AND t >= fv THEN t END) AS fp
  FROM marked GROUP BY user_id
),
conv AS (
  SELECT (fp - fv) / 3600.0 AS hours FROM users
  WHERE fv IS NOT NULL AND fp IS NOT NULL
)
SELECT count(*) AS n_converted,
       round(quantile_cont(hours, 0.5) + 1e-6, 4) AS p50_hours,
       round(quantile_cont(hours, 0.9) + 1e-6, 4) AS p90_hours,
       round(avg(hours) + 1e-6, 4) AS mean_hours
FROM conv
""",
    tags=("timeseries", "funnel", "latency"),
)(funnel_time_to_convert)


#: CDC split point for ``scd2_cdc_apply``: the first 80% of the event
#: time range is the "already materialized" base dimension, the last 20%
#: is the incoming change batch.
_CDC_SPLIT_FRACTION = 0.8


def scd2_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: apply a CDC batch (the last 20% of
    the event time range) to an SCD2 dimension materialized from the
    first 80%, and prove the merged result equals a full recompute —
    the oracle IS the full-data SCD2 derivation.

    The MERGE-free apply: the base dimension's change-point rows (which
    retain their original event ordering) are unioned with the raw delta
    events, and the same lag-collapse/versioning pass runs over the
    union. A delta event equal to its user's current state collapses
    away exactly as in the full recompute, because the user's last base
    change-point carries that state. Scale shape: the delta is tiny
    relative to the dimension, both sides hash-partition on user_id, and
    only users present in the delta produce new versions — the same
    single-exchange window plan as ``scd2_dimension``, never a rescan of
    the raw history (the base here is derived from events only because
    the fixture has no materialized dimension table).
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    bounds = ev.agg(
        F.min(sec).alias("mn"),
        F.max(sec).alias("mx"),
    ).select(
        (
            F.col("mn")
            + F.floor((F.col("mx") - F.col("mn")) * _CDC_SPLIT_FRACTION)
        ).cast("long").alias("cutoff")
    )
    evc = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        sec.alias("ts_sec"),
        "event_id",
    ).crossJoin(F.broadcast(bounds))
    base = evc.where(F.col("ts_sec") < F.col("cutoff"))
    delta = evc.where(F.col("ts_sec") >= F.col("cutoff")).select(
        "user_id", "state", "ts_sec", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_sec").asc(), F.col("event_id").asc()
    )
    base_cp = (
        base.select(
            "user_id",
            "state",
            "ts_sec",
            "event_id",
            F.lag("state", 1).over(w).alias("prev_state"),
        )
        .where(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
        .select("user_id", "state", "ts_sec", "event_id")
    )
    merged = base_cp.unionByName(delta)
    remarked = merged.select(
        "user_id",
        "state",
        "ts_sec",
        "event_id",
        F.lag("state", 1).over(w).alias("prev_state"),
    )
    changes = remarked.where(
        F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state"))
    )
    return changes.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        "state",
        F.col("ts_sec").alias("valid_from"),
        F.lead("ts_sec", 1).over(w).alias("valid_to"),
        F.lead("ts_sec", 1).over(w).isNull().alias("is_current"),
    )


register(
    "scd2_cdc_apply",
    # the oracle is the FULL-data SCD2 recompute: passing means the
    # incremental CDC apply is exactly equivalent to rebuilding.
    oracle=_SCD2_FULL_SQL,
    tags=("timeseries", "scd2", "cdc", "incremental"),
)(scd2_cdc_apply)


def temporal_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each purchase fact is joined to
    the SCD2 state version that was valid AT its timestamp — the
    version whose [valid_from, valid_to) interval contains the fact's
    time. The dimension is the SCD2 history of each user's NON-purchase
    behavior; the facts are the purchase events.

    The warehouse query every SCD2 dimension exists for ("what was the
    customer's state when they bought?"), and a reproducibility
    primitive for training pipelines (join features as-of the label
    time, never leaking the future). Executed WITHOUT an interval/range
    join: the interval-containment lookup against well-formed SCD2
    intervals is exactly a backward as-of join on valid_from, so it
    reuses the single-shuffle union + sorted-sweep plan (one exchange
    on user_id, no per-key cross product) — the oracle states the same
    query as the naive BETWEEN join to prove the equivalence.
    """
    from flink_cookbook_spark.operators.metrics import asof_join

    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    base = ev.where(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_sec").asc(), F.col("event_id").asc()
    )
    cp = (
        base.select(
            "user_id",
            F.col("event_type").alias("state"),
            sec.alias("ts_sec"),
            "event_id",
        )
        .select(
            "*",
            F.lag("state", 1).over(w).alias("prev_state"),
        )
        .where(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
    )
    versions = cp.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        "state",
        F.col("ts_sec").alias("valid_from"),
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("purchase_ts"), "event_id"
    )
    return asof_join(
        facts,
        versions,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="valid_from",
        value_cols=["version", "state"],
        how="inner",
    )


register(
    "temporal_dimension_join",
    # the oracle is the NAIVE interval-containment join; passing proves
    # the as-of sweep computes identical point-in-time semantics.
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type AS state, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         lag(event_type, 1)
           OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
           AS prev_state
  FROM events WHERE event_type <> 'purchase'
),
changes AS (
  SELECT user_id, state, ts_sec, event_id FROM ordered
  WHERE prev_state IS NULL OR state <> prev_state
),
versions AS (
  SELECT user_id,
         CAST(row_number() OVER w AS INTEGER) AS version,
         state,
         ts_sec AS valid_from,
         lead(ts_sec, 1) OVER w AS valid_to
  FROM changes
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
),
facts AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS purchase_ts, event_id
  FROM events WHERE event_type = 'purchase'
)
SELECT f.user_id, f.purchase_ts, f.event_id,
       v.version AS version_asof, v.state AS state_asof,
       v.valid_from AS valid_from_asof
FROM facts f JOIN versions v
  ON f.user_id = v.user_id
 AND v.valid_from <= f.purchase_ts
 AND (v.valid_to IS NULL OR f.purchase_ts < v.valid_to)
""",
    tags=("timeseries", "scd2", "temporal-join", "point-in-time"),
)(temporal_dimension_join)


#: half-life of the time-decay attribution weight (1 day).
_DECAY_HALF_LIFE_S = 86400


def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch TIME-DECAY attribution: every view/click touch within
    the 7-day lookback of a user's next purchase shares that
    conversion's credit, weighted by 0.5^(hours_to_purchase / 24h) and
    normalized so each purchase distributes exactly 1.0 credit.

    The fractional-credit complement of ``purchase_attribution``
    (last-touch winner-take-all). Same scale shape: ONE exchange on
    user_id — the next-purchase lookup is a conditional MIN over a
    following frame on the ordered event stream (no join), the
    normalization is a second window over the same partitioning, and
    the report is a 2-row hash aggregate by touch type.
    """
    ev = load(spark, sf_dir, "events")
    sec = epoch_seconds("ts")
    base = ev.select("user_id", "event_id", "event_type", sec.alias("t"))
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("t"))
    ).over(w_next)
    touches = (
        base.withColumn("purchase_t", next_purchase)
        .where(F.col("event_type").isin("view", "click"))
        .where(
            F.col("purchase_t").isNotNull()
            & (F.col("purchase_t") - F.col("t") <= ATTR_WINDOW_S)
        )
        .withColumn(
            "weight",
            F.pow(
                F.lit(0.5),
                (F.col("purchase_t") - F.col("t")) / F.lit(float(_DECAY_HALF_LIFE_S)),
            ),
        )
    )
    w_conv = Window.partitionBy("user_id", "purchase_t")
    shared = touches.withColumn(
        "credit", F.col("weight") / F.sum("weight").over(w_conv)
    )
    return shared.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        rnd(F.sum("credit"), 4).alias("total_credit"),
        rnd(F.avg("weight"), 4).alias("avg_decay_weight"),
    )


register(
    "multi_touch_attribution",
    oracle=f"""
WITH base AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
),
nexted AS (
  SELECT *,
         min(CASE WHEN event_type = 'purchase' THEN t END)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS purchase_t
  FROM base
),
touches AS (
  SELECT *, power(0.5, (purchase_t - t) / {float(_DECAY_HALF_LIFE_S)}) AS weight
  FROM nexted
  WHERE event_type IN ('view', 'click')
    AND purchase_t IS NOT NULL AND purchase_t - t <= {ATTR_WINDOW_S}
),
shared AS (
  SELECT event_type, weight,
         weight / sum(weight) OVER (PARTITION BY user_id, purchase_t) AS credit
  FROM touches
)
SELECT event_type, count(*) AS n_touches,
       round(sum(credit) + 1e-6, 4) AS total_credit,
       round(avg(weight) + 1e-6, 4) AS avg_decay_weight
FROM shared GROUP BY event_type
""",
    tags=("timeseries", "attribution", "multi-touch"),
)(multi_touch_attribution)


# --------------------------------------------------------------------------
# robust outlier detection: median / MAD control limits
# --------------------------------------------------------------------------

#: standard consistency constant: MAD * 1.4826 estimates sigma for
#: normal data; 3 of those is the robust analogue of the 3-sigma rule.
MAD_SIGMA_K = 3.0 * 1.4826


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier screen: median + MAD (median
    absolute deviation) control limits instead of mean/stddev — the
    robust twin of the reference's z-score flags (A2,
    flinkarima.py:200-215): one wild spike inflates a stddev threshold
    and masks later spikes; the median/MAD limits don't move.

    Per event type: median, MAD, the implied robust sigma
    (1.4826 * MAD), and how many observations fall outside
    median +/- 3 robust sigmas.

    Scale shape: two exact-percentile aggregates over the same keyed
    exchange (event_type cardinality is enum-small, so per-key exact
    median is a bounded sort — at open-ended key domains swap
    percentile_approx), then one combinable conditional count; the
    per-type limits join back UNHINTED (post-aggregate, enum-small —
    AQE broadcasts).
    """
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.max("med").alias("med"),  # constant within the group
        F.expr("percentile(adev, 0.5)").alias("mad"),
        F.count("*").alias("n_events"),
    )
    flagged = (
        dev.drop("med")
        .join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("med_"),
            F.max("mad").alias("mad_"),
            F.max("n_events").alias("n_events"),
            F.sum((F.col("adev") > MAD_SIGMA_K * F.col("mad")).cast("long")).alias(
                "n_outliers"
            ),
        )
    )
    return flagged.select(
        "event_type",
        "n_events",
        rnd("med_", 4).alias("median_value"),
        rnd("mad_", 4).alias("mad"),
        rnd(F.col("med_") - MAD_SIGMA_K * F.col("mad_"), 4).alias("lo_limit"),
        rnd(F.col("med_") + MAD_SIGMA_K * F.col("mad_"), 4).alias("hi_limit"),
        "n_outliers",
    )


register(
    "mad_outliers",
    oracle=f"""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, max(med) AS med, median(adev) AS mad,
         count(*) AS n_events
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(max(m.n_events) AS BIGINT) AS n_events,
       round(max(m.med) + 1e-6, 4) AS median_value,
       round(max(m.mad) + 1e-6, 4) AS mad,
       round(max(m.med) - {MAD_SIGMA_K} * max(m.mad) + 1e-6, 4) AS lo_limit,
       round(max(m.med) + {MAD_SIGMA_K} * max(m.mad) + 1e-6, 4) AS hi_limit,
       CAST(sum(CASE WHEN d.adev > {MAD_SIGMA_K} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
    tags=("timeseries", "outliers", "robust"),
)(mad_outliers)


# --------------------------------------------------------------------------
# Holt double-exponential (level + trend) smoothing per key
# --------------------------------------------------------------------------

HOLT_ALPHA = 0.5  # level smoothing
HOLT_BETA = 0.3  # trend smoothing


def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over each event
    type's hourly mean-value series: level + trend state folded across
    the ordered series, one-step forecast = level + trend. The
    trend-aware sibling of the engine's EWMA machinery (A5 fallback) —
    EWMA alone lags a drifting series by a constant offset; Holt's
    trend term closes exactly that gap.

    Recurrence (init l=x0, b=0):
      l_t = a*x_t + (1-a)*(l_{{t-1}} + b_{{t-1}})
      b_t = B*(l_t - l_{{t-1}}) + (1-B)*b_{{t-1}}

    Scale shape: one combinable hash aggregate to (event_type, hour)
    means; the per-key series is collected bounded (hours-per-key, the
    same bounded-state contract as the reference's history buffer A3)
    and folded by a codegen'd ``aggregate`` expression with a struct
    accumulator. The DuckDB twin replays the identical left-fold with a
    RECURSIVE CTE — deliberately NOT ``list_reduce``: DuckDB 1.0.0's
    struct-accumulator list_reduce updates fields IN PLACE sequentially
    (the 'b' expression observes the freshly computed 'l'), silently
    corrupting any coupled recurrence.
    """
    hourly = mean_series(spark, sf_dir, "event_type", HOUR_S)
    series = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("bucket_start", "v"))).alias("sv")
    )
    a, b = HOLT_ALPHA, HOLT_BETA
    fold = (
        "aggregate(slice(vals, 2, size(vals) - 1), "
        "named_struct('l', element_at(vals, 1), 'b', 0.0D), "
        f"(acc, x) -> named_struct("
        f"'l', {a}D * x + {1 - a}D * (acc.l + acc.b), "
        f"'b', {b}D * (({a}D * x + {1 - a}D * (acc.l + acc.b)) - acc.l) "
        f"+ {1 - b}D * acc.b))"
    )
    return (
        series.withColumn("vals", F.expr("transform(sv, s -> s.v)"))
        .withColumn("st", F.expr(fold))
        .select(
            "event_type",
            F.size("vals").alias("n_points"),
            rnd(F.col("st.l"), 4).alias("level"),
            rnd(F.col("st.b"), 4).alias("trend"),
            rnd(F.col("st.l") + F.col("st.b"), 4).alias("forecast_next"),
        )
    )


register(
    "holt_linear_forecast",
    oracle=f"""
WITH RECURSIVE {TYPE_HOURLY_CTE},
series AS (
  SELECT event_type, list(v ORDER BY bucket_start) AS vals
  FROM hourly GROUP BY event_type
),
-- left-fold as a recursive CTE (NOT list_reduce: DuckDB 1.0.0 updates
-- struct-accumulator fields in place, corrupting coupled recurrences)
steps AS (
  SELECT event_type, vals, 1 AS i,
         CAST(vals[1] AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
  FROM series
  UNION ALL
  SELECT event_type, vals, i + 1,
         {HOLT_ALPHA} * vals[i + 1] + {1 - HOLT_ALPHA} * (l + b),
         {HOLT_BETA} * (({HOLT_ALPHA} * vals[i + 1] + {1 - HOLT_ALPHA} * (l + b)) - l)
           + {1 - HOLT_BETA} * b
  FROM steps WHERE i < len(vals)
)
SELECT event_type,
       CAST(len(vals) AS INTEGER) AS n_points,
       round(l + 1e-6, 4) AS level,
       round(b + 1e-6, 4) AS trend,
       round(l + b + 1e-6, 4) AS forecast_next
FROM steps WHERE i = len(vals)
""",
    tags=("timeseries", "forecast", "holt"),
)(holt_linear_forecast)


#: id-range bucket width for the sequence-integrity audit.
GAP_AUDIT_BUCKET = 1000


def event_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-integrity audit over an id column — the CDC/ingestion
    completeness check: bucket the id range, and per bucket report how
    many ids are MISSING versus the bucket's observed [min, max] span.
    The distributed shape matters: a naive lead()-over-global-order gap
    scan serializes the corpus through one sorted partition; bucketing
    by id div N turns it into a plain hash aggregate (map-side
    combinable, fully parallel) with the same information — which ids
    are absent, localized to a bucket."""
    ev = load(spark, sf_dir, "events").select("event_id")
    bucket = (F.floor(F.col("event_id") / GAP_AUDIT_BUCKET)).alias("bucket")
    return (
        ev.groupBy(bucket)
        .agg(
            F.count_distinct(F.col("event_id")).alias("n_ids"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .select(
            "bucket",
            "n_ids",
            "min_id",
            "max_id",
            (F.col("max_id") - F.col("min_id") + 1 - F.col("n_ids")).alias("n_missing"),
        )
    )


register(
    "event_id_gap_audit",
    oracle=f"""
SELECT CAST(floor(event_id / {GAP_AUDIT_BUCKET}) AS BIGINT) AS bucket,
       count(DISTINCT event_id) AS n_ids,
       min(event_id) AS min_id,
       max(event_id) AS max_id,
       max(event_id) - min(event_id) + 1 - count(DISTINCT event_id) AS n_missing
FROM events
GROUP BY 1
""",
    tags=("audit", "integrity", "cdc"),
)(event_id_gap_audit)


#: equi-width histogram geometry over the generator's clamped [0, 100]
#: value domain: 10 buckets of width 10 (out-of-range values clamp into
#: the edge buckets, so the histogram is total).
HIST_WIDTH = 10.0
HIST_BUCKETS = 10


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of the metric value per event type — the
    profiling primitive behind drift monitors and datacards (the PSI
    query consumes exactly these bins). One hash aggregate: the bucket
    expression is codegen'd arithmetic (no sort, no UDF), counts are
    map-side combinable, and the per-type share comes from a window over
    the ~types x buckets aggregate output, never the raw scan."""
    ev = load(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / HIST_WIDTH), F.lit(0)),
        F.lit(HIST_BUCKETS - 1),
    ).alias("bucket")
    agg = ev.groupBy("event_type", bucket).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type")
    return agg.select(
        "event_type",
        "bucket",
        "n",
        rnd(F.col("n") / F.sum("n").over(w), 6).alias("share"),
    )


register(
    "value_histogram",
    oracle=f"""
SELECT event_type, bucket, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY event_type) + 1e-6, 6) AS share
FROM (
  SELECT event_type,
         least(greatest(CAST(floor(value / {HIST_WIDTH}) AS BIGINT), 0), {HIST_BUCKETS - 1}) AS bucket,
         count(*) AS n
  FROM events
  GROUP BY 1, 2)
""",
    tags=("profiling", "histogram", "drift"),
)(value_histogram)


# --------------------------------------------------------------------------
# burstiness (Fano factor) per user
# --------------------------------------------------------------------------

_BURSTINESS_ORACLE = """
WITH hourly AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hr,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       count(*) AS n_hours,
       round(avg(n) + 1e-6, 4) AS mean_hourly,
       round(var_samp(n) / avg(n) + 1e-6, 4) AS fano
FROM hourly GROUP BY user_id
"""


@register("burstiness_fano", oracle=_BURSTINESS_ORACLE, tags=("prepared-r8",))
def burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user BURSTINESS via the Fano factor of hourly event counts
    (variance / mean over the user's OBSERVED hours): ~1 = Poisson-like
    traffic, >>1 = bursty sessions, <1 = regular/heartbeat — the
    behavioral fingerprint feeding bot detection and sampling-rate
    decisions. Two stacked hash aggregates (user x hour counts, then
    per-user moments); NULL below two observed hours (variance
    undefined), both engines via NULL propagation."""
    ev = load(spark, sf_dir, "events")
    hour = (F.floor(F.col("ts").cast("double") / 3600) * 3600).cast("long")
    hourly = ev.groupBy("user_id", hour.alias("hr")).agg(
        F.count("*").alias("n")
    )
    return hourly.groupBy("user_id").agg(
        F.count("*").alias("n_hours"),
        rnd(F.avg("n"), 4).alias("mean_hourly"),
        rnd(F.var_samp("n") / F.avg("n"), 4).alias("fano"),
    )


# --------------------------------------------------------------------------
# per-event-type arrival rate profile (capacity planning)
# --------------------------------------------------------------------------

_EVENT_RATE_ORACLE = """
WITH per_min AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS mn,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       count(*) AS n_minutes,
       CAST(sum(n) AS BIGINT) AS n_events,
       round(avg(n) + 1e-6, 4) AS mean_per_min,
       round(quantile_cont(n, 0.95) + 1e-6, 4) AS p95_per_min,
       max(n) AS peak_per_min,
       round(max(n) / avg(n) + 1e-6, 4) AS peak_to_mean
FROM per_min GROUP BY event_type
"""


@register(
    "event_rate_profile",
    oracle=_EVENT_RATE_ORACLE,
    tags=("prepared-r8",),
)
def event_rate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRIVAL-RATE PROFILE per event type: events-per-minute mean, p95,
    peak, and the peak-to-mean ratio — the table stream capacity
    (shuffle partitions, state-store sizing, maxOffsetsPerTrigger) is
    provisioned from, and the per-type complement of the per-user
    ``burstiness_fano``. Two stacked hash aggregates: (type, minute)
    counts, then per-type moments over the minute series."""
    ev = load(spark, sf_dir, "events")
    minute = (F.floor(F.col("ts").cast("double") / 60) * 60).cast("long")
    per_min = ev.groupBy("event_type", minute.alias("mn")).agg(
        F.count("*").alias("n")
    )
    return per_min.groupBy("event_type").agg(
        F.count("*").alias("n_minutes"),
        F.sum("n").alias("n_events"),
        rnd(F.avg("n"), 4).alias("mean_per_min"),
        rnd(F.expr("percentile(n, 0.95)"), 4).alias("p95_per_min"),
        F.max("n").alias("peak_per_min"),
        rnd(F.max("n") / F.avg("n"), 4).alias("peak_to_mean"),
    )


# --------------------------------------------------------------------------
# event trigram motifs (sequential pattern mining, order 3)
# --------------------------------------------------------------------------

#: how many global trigrams the motif report keeps.
TRIGRAM_TOP_N = 20


_TRIGRAM_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type AS t1,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
counts AS (
  SELECT t1 || '>' || t2 || '>' || t3 AS trigram, count(*) AS support
  FROM seq WHERE t3 IS NOT NULL GROUP BY 1
),
ranked AS (
  SELECT trigram, support,
         sum(support) OVER () AS tot,
         row_number() OVER (ORDER BY support DESC, trigram ASC) AS rk
  FROM counts
)
SELECT trigram, support, round(support * 1.0 / tot + 1e-6, 6) AS share
FROM ranked WHERE rk <= {TRIGRAM_TOP_N}
"""


@register(
    "event_trigram_motifs",
    oracle=_TRIGRAM_ORACLE,
    tags=("prepared-r8",),
)
def event_trigram_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigrams across per-user journeys — order-3
    sequential patterns, one step beyond ``event_transition_matrix``'s
    bigrams and the cheap PrefixSpan stand-in for "what three-step
    habits exist?".  Per-user ordered lead() window (state bounded by
    2 lookahead rows per user), then a hash agg over the trigram
    vocabulary (≤ |types|³, a constant), then a global top-N on that
    bounded aggregate."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    counts = tri.groupBy("t1", "t2", "t3").agg(F.count("*").alias("support"))
    total = counts.agg(F.sum("support").alias("tot"))
    w_rank = Window.orderBy(F.col("support").desc(), F.col("trigram").asc())
    return (
        counts.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("trigram"), "support"
        )
        .crossJoin(F.broadcast(total))
        .withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= TRIGRAM_TOP_N)
        .select(
            "trigram", "support",
            rnd(F.col("support") / F.col("tot"), 6).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Markov stationary distribution (unrolled power iteration)
# --------------------------------------------------------------------------

#: power-iteration steps; the 5-state chain converges to 6dp well within.
MARKOV_ITERS = 12


def _markov_oracle() -> str:
    steps = []
    for k in range(1, MARKOV_ITERS + 1):
        steps.append(
            f"it{k} AS (\n"
            f"  SELECT t.to_type AS state, sum(prev.p * t.p) AS p\n"
            f"  FROM it{k - 1} prev JOIN trans t ON prev.state = t.from_type\n"
            f"  GROUP BY t.to_type\n)"
        )
    return f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
),
trans AS (
  SELECT from_type, to_type,
         n * 1.0 / sum(n) OVER (PARTITION BY from_type) AS p
  FROM counts
),
states AS (SELECT DISTINCT event_type AS state FROM events),
it0 AS (SELECT state, 1.0 / (SELECT count(*) FROM states) AS p FROM states),
{", ".join(steps)}
SELECT state,
       round(p / sum(p) OVER () + 1e-6, 6) AS stationary_p
FROM it{MARKOV_ITERS}
"""


@register(
    "markov_stationary_distribution",
    oracle=_markov_oracle(),
    tags=("prepared-r8",),
)
def markov_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution π = πP of the per-user event-type Markov
    chain — the long-run behavioral mix ``event_transition_matrix``'s
    one-step probabilities imply, via MARKOV_ITERS unrolled power-
    iteration steps from a uniform start, renormalized at the end so
    any mass lost to outgoing-edge-free states cancels.

    The iteration state is the |types|-row π vector — a BOUNDED
    aggregate (event-type domain, not data volume), so each unrolled
    step is a tiny broadcast join + 5-row agg and the whole chain stays
    lazy inside one plan: the PageRank pattern on a closed-form-sized
    matrix, no driver loop, no collect."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = ev.select(
        F.lag("event_type", 1).over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wf = Window.partitionBy("from_type")
    trans = counts.select(
        "from_type", "to_type",
        (F.col("n") / F.sum("n").over(wf)).alias("tp"),
    )
    wall = Window.partitionBy()
    pi = (
        ev.select(F.col("event_type").alias("state"))
        .distinct()
        .select("state", (F.lit(1.0) / F.count("*").over(wall)).alias("p"))
    )
    for _ in range(MARKOV_ITERS):
        pi = (
            pi.join(F.broadcast(trans), F.col("state") == F.col("from_type"))
            .groupBy(F.col("to_type").alias("state"))
            .agg(F.sum(F.col("p") * F.col("tp")).alias("p"))
        )
    return pi.select(
        "state",
        rnd(F.col("p") / F.sum("p").over(wall), 6).alias("stationary_p"),
    )


# --------------------------------------------------------------------------
# weekday × hour activity heatmap
# --------------------------------------------------------------------------

_HEATMAP_ORACLE = """
WITH cell AS (
  SELECT CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS INTEGER)
           AS dow,
         CAST(CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS INTEGER)
           AS hour,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT dow, hour, n_events,
       round(n_events * 1.0 / sum(n_events) OVER (PARTITION BY dow)
             + 1e-6, 6) AS dow_share,
       n_events = max(n_events) OVER (PARTITION BY dow) AS is_peak_hour
FROM cell
"""


@register(
    "weekday_hour_heatmap",
    oracle=_HEATMAP_ORACLE,
    tags=("prepared-r8",),
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap with row-normalized
    shares and a per-day peak-hour flag — the 2-D upgrade of
    ``hourly_seasonal_profile`` and the table capacity planning and
    anomaly baselines read.  Day-of-week is computed as
    (epoch_days + 4) mod 7 (Sunday = 0) on BOTH engines, sidestepping
    the Spark-dayofweek-is-1-based vs DuckDB-dow-is-0-based trap.
    One 168-key hash agg + windows over the bounded result."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    dow = ((F.floor(sec / 86400) + 4) % 7).cast("int")
    hour = (F.floor(sec / 3600) % 24).cast("int")
    cell = ev.groupBy(dow.alias("dow"), hour.alias("hour")).agg(
        F.count("*").alias("n_events")
    )
    wd = Window.partitionBy("dow")
    return cell.select(
        "dow", "hour", "n_events",
        rnd(F.col("n_events") / F.sum("n_events").over(wd), 6).alias(
            "dow_share"
        ),
        (F.col("n_events") == F.max("n_events").over(wd)).alias(
            "is_peak_hour"
        ),
    )


# --------------------------------------------------------------------------
# inter-arrival time profile per event type
# --------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT event_type,
         epoch(ts) - lag(epoch(ts)) OVER (
           PARTITION BY event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT)
           ORDER BY epoch(ts), event_id) AS gap
  FROM events
)
SELECT event_type, count(*) AS n_gaps,
       round(avg(gap) + 1e-6, 4) AS mean_gap_s,
       round(quantile_cont(gap, 0.5) + 1e-6, 4) AS p50_gap_s,
       round(quantile_cont(gap, 0.9) + 1e-6, 4) AS p90_gap_s,
       round(quantile_cont(gap, 0.99) + 1e-6, 4) AS p99_gap_s,
       round(stddev_pop(gap) / avg(gap) + 1e-6, 4) AS cv
FROM g WHERE gap IS NOT NULL GROUP BY event_type
"""


@register(
    "interarrival_profile",
    oracle=_INTERARRIVAL_ORACLE,
    tags=("prepared-r8",),
)
def interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type: p50/p90/p99 gap
    seconds, mean, and the coefficient of variation (CV > 1 = burstier
    than Poisson) — the jitter profile behind trigger-interval and
    timeout tuning, complementing ``event_rate_profile`` (rates) and
    ``burstiness_fano`` (per-user dispersion).

    Scale shape: the lag() window partitions on (event_type, DAY) so no
    partition outgrows a day's volume — a plain per-type partition would
    funnel N/|types| rows through one task at 100 TB.  The day-boundary
    gap (≤1 per type per day) is deliberately excluded and that census
    choice is mirrored in the oracle."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    day = F.floor(sec / 86400)
    w = Window.partitionBy("event_type", day.alias("day")).orderBy(
        sec.asc(), F.col("event_id").asc()
    )
    gaps = ev.select(
        "event_type",
        (sec - F.lag(sec, 1).over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        rnd(F.avg("gap"), 4).alias("mean_gap_s"),
        rnd(F.expr("percentile(gap, 0.5)"), 4).alias("p50_gap_s"),
        rnd(F.expr("percentile(gap, 0.9)"), 4).alias("p90_gap_s"),
        rnd(F.expr("percentile(gap, 0.99)"), 4).alias("p99_gap_s"),
        rnd(F.stddev_pop("gap") / F.avg("gap"), 4).alias("cv"),
    )


# --------------------------------------------------------------------------
# Markov transition perplexity on a held-out time split
# --------------------------------------------------------------------------

_PERPLEXITY_ORACLE = f"""
WITH bigrams AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev,
         event_type AS cur,
         epoch(ts) >= {SPLIT_EPOCH_S} AS is_eval
  FROM events
),
big AS (SELECT * FROM bigrams WHERE prev IS NOT NULL),
c2 AS (
  SELECT prev, cur, count(*) AS c2 FROM big WHERE NOT is_eval GROUP BY 1, 2
),
c1 AS (
  SELECT prev, count(*) AS c1 FROM big WHERE NOT is_eval GROUP BY 1
),
vocab AS (
  SELECT count(DISTINCT cur) AS v FROM big WHERE NOT is_eval
),
scored AS (
  SELECT b.prev,
         ln((COALESCE(c2.c2, 0) + 1.0)
            / (COALESCE(c1.c1, 0) + vocab.v)) AS logp
  FROM big b
  LEFT JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
  LEFT JOIN c1 ON b.prev = c1.prev
  CROSS JOIN vocab
  WHERE b.is_eval
)
SELECT prev, count(*) AS n_eval,
       round(avg(logp) + 1e-6, 6) AS avg_logp,
       round(exp(-avg(logp)) + 1e-6, 4) AS perplexity
FROM scored GROUP BY prev
"""


@register(
    "transition_perplexity",
    oracle=_PERPLEXITY_ORACLE,
    tags=("prepared-r8",),
)
def transition_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT PERPLEXITY of the first-order event-transition model:
    train Laplace-smoothed transition probabilities on first-half
    bigrams (per user, event-time order), score second-half bigrams,
    and report per previous-state the average log-loss and perplexity
    — the LM-evaluation loop in miniature, and the honest version of
    ``event_transition_matrix`` (which describes the whole corpus;
    this one must PREDICT unseen data, unseen transitions priced by
    the smoothing). High perplexity for a state means its future is
    genuinely uncertain — sessionization and prefetch logic read this.

    Scale shape: bigrams are one per-user window pass; train counts
    are two bounded hash aggs (state-vocabulary-sized); scoring is two
    unhinted joins against those bounded aggregates + one final agg."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = ev.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("cur"),
        (F.col("ts").cast("double") >= SPLIT_EPOCH_S).alias("is_eval"),
    ).where(F.col("prev").isNotNull())
    train = bigrams.where(~F.col("is_eval"))
    c2 = train.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    c1 = train.groupBy("prev").agg(F.count("*").alias("c1"))
    vocab = train.agg(
        F.size(F.collect_set("cur")).cast("long").alias("v")
    )
    ev_big = (
        bigrams.where(F.col("is_eval"))
        .join(c2, ["prev", "cur"], "left")
        .join(c1, "prev", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "prev",
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ).alias("logp"),
        )
    )
    return ev_big.groupBy("prev").agg(
        F.count("*").alias("n_eval"),
        rnd(F.avg("logp"), 6).alias("avg_logp"),
        rnd(F.exp(-F.avg("logp")), 4).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# Markov entropy rate of the event stream
# --------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH bigrams AS (
  SELECT prev, cur FROM (
    SELECT lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev,
           event_type AS cur
    FROM events
  ) WHERE prev IS NOT NULL
),
c2 AS (
  SELECT prev, cur, count(*) AS c2 FROM bigrams GROUP BY 1, 2
),
terms AS (
  SELECT CAST(c2 AS DOUBLE) AS c2d,
         CAST(sum(c2) OVER (PARTITION BY prev) AS DOUBLE) AS c1d,
         CAST(sum(c2) OVER () AS DOUBLE) AS tot
  FROM c2
),
hr AS (
  SELECT CAST(sum(c2d) AS BIGINT) AS n_bigrams,
         sum(-(c2d / tot) * ln(c2d / c1d)) AS h_rate_raw
  FROM terms
),
mterms AS (
  SELECT CAST(c AS DOUBLE) AS cd, CAST(sum(c) OVER () AS DOUBLE) AS tot
  FROM (SELECT cur, count(*) AS c FROM bigrams GROUP BY cur)
),
hm AS (
  SELECT sum(-(cd / tot) * ln(cd / tot)) AS h_marg_raw FROM mterms
)
SELECT hr.n_bigrams,
       round(hm.h_marg_raw + 1e-6, 6) AS h_marginal_nats,
       round(hr.h_rate_raw + 1e-6, 6) AS h_rate_nats,
       round(hm.h_marg_raw - hr.h_rate_raw + 1e-6, 6)
         AS predictability_gain_nats
FROM hr CROSS JOIN hm
"""


@register("markov_entropy_rate", oracle=_ENTROPY_ORACLE, tags=("prepared-r8",))
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY RATE of the event stream under the first-order Markov
    model: H(X_t | X_{t-1}) = -sum p(prev,cur) ln p(cur|prev), next to
    the marginal entropy H(X_t) and the predictability gain (their
    difference, = the mutual information between consecutive events) —
    the single-number summary of ``event_transition_matrix``: how much
    does knowing the previous event tell you about the next one? Gain
    near zero means the stream is memoryless and any sequence model is
    wasted capacity.

    Scale shape: bigrams are one per-user window pass; both entropies
    reduce over the bounded transition-cell table (state-vocabulary
    squared). Only observed cells contribute (0 ln 0 = 0 by
    convention, and absent cells are absent on both engines)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = ev.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("cur"),
    ).where(F.col("prev").isNotNull())
    c2 = bigrams.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    wt = Window.partitionBy()
    wp = Window.partitionBy("prev")
    terms = c2.select(
        "cur",
        F.col("c2").cast("double").alias("c2d"),
        F.sum("c2").over(wp).cast("double").alias("c1d"),
        F.sum("c2").over(wt).cast("double").alias("tot"),
    )
    h_rate = terms.agg(
        F.sum("c2d").cast("long").alias("n_bigrams"),
        F.sum(
            -(F.col("c2d") / F.col("tot"))
            * F.log(F.col("c2d") / F.col("c1d"))
        ).alias("h_rate_raw"),
    )
    marg = (
        bigrams.groupBy("cur")
        .agg(F.count("*").alias("c"))
        .select(
            F.col("c").cast("double").alias("cd"),
            F.sum("c").over(wt).cast("double").alias("tot"),
        )
        .agg(
            F.sum(
                -(F.col("cd") / F.col("tot"))
                * F.log(F.col("cd") / F.col("tot"))
            ).alias("h_marg_raw")
        )
    )
    return h_rate.crossJoin(F.broadcast(marg)).select(
        "n_bigrams",
        rnd("h_marg_raw", 6).alias("h_marginal_nats"),
        rnd("h_rate_raw", 6).alias("h_rate_nats"),
        rnd(F.col("h_marg_raw") - F.col("h_rate_raw"), 6).alias(
            "predictability_gain_nats"
        ),
    )


# --------------------------------------------------------------------------
# token-bucket rate-limit replay
# --------------------------------------------------------------------------

RL_BURST = 3.0  #: bucket capacity (tokens)
RL_REFILL_S = 60.0  #: seconds to refill one token


def _rl_oracle() -> str:
    b, r = RL_BURST, RL_REFILL_S
    tok_after = f"least({b}, tok + (tv[i + 1] - last) / {r})"
    return f"""
WITH RECURSIVE series AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         list(epoch(ts) ORDER BY epoch(ts)) AS tv
  FROM events GROUP BY 1, 2
),
steps AS (
  SELECT user_id, day, tv, 1 AS i,
         CAST({b - 1.0} AS DOUBLE) AS tok,
         CAST(tv[1] AS DOUBLE) AS last,
         CAST(0 AS BIGINT) AS thr
  FROM series
  UNION ALL
  SELECT user_id, day, tv, i + 1,
         CASE WHEN {tok_after} >= 1.0 THEN {tok_after} - 1.0
              ELSE {tok_after} END,
         tv[i + 1],
         thr + CASE WHEN {tok_after} >= 1.0 THEN 0 ELSE 1 END
  FROM steps WHERE i < len(tv)
)
SELECT user_id, day,
       CAST(len(tv) AS INTEGER) AS n_requests,
       thr AS n_throttled,
       round(thr / CAST(len(tv) AS DOUBLE) + 1e-6, 4) AS throttle_share
FROM steps WHERE i = len(tv)
"""


@register("rate_limit_simulation", oracle=_rl_oracle(), tags=("prepared-r8",))
def rate_limit_simulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUCKET RATE-LIMIT REPLAY: run each user-day's event
    sequence through a token bucket (capacity ``RL_BURST``, one token
    per ``RL_REFILL_S`` seconds) and report how many requests the
    policy WOULD have throttled — the offline audit every admission-
    control change runs against real traffic before shipping. Emits
    only user-days the policy touches plus a deterministic sample of
    clean days (none at the shipped sizes — the aggregate keeps all
    days so zero-throttle days still appear).

    Scale shape: per-(user, day) event times collect into a bounded
    in-day array (the A3 bounded-state contract) and fold through the
    bucket recurrence in a codegen'd ``aggregate``; the DuckDB twin
    replays the identical fold with a RECURSIVE CTE (the
    ``holt_linear_forecast`` discipline — never list_reduce)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    day = F.floor(sec / 86400).cast("long")
    series = (
        ev.select("user_id", day.alias("day"), sec.alias("t"))
        .groupBy("user_id", "day")
        .agg(F.array_sort(F.collect_list("t")).alias("tv"))
    )
    b, r = RL_BURST, RL_REFILL_S
    # acc: (tok, last, thr); refill then admit-or-throttle
    tok_after = (
        f"least({b}D, acc.tok + (x - acc.last) / {r}D)"
    )
    fold = (
        f"aggregate(slice(tv, 2, size(tv) - 1), "
        f"named_struct('tok', {b - 1.0}D, 'last', element_at(tv, 1), "
        f"'thr', 0L), "
        f"(acc, x) -> named_struct("
        f"'tok', CASE WHEN {tok_after} >= 1.0D THEN {tok_after} - 1.0D "
        f"ELSE {tok_after} END, "
        f"'last', x, "
        f"'thr', acc.thr + CASE WHEN {tok_after} >= 1.0D THEN 0L ELSE 1L END))"
    )
    return (
        series.withColumn("st", F.expr(fold))
        .select(
            "user_id",
            "day",
            F.size("tv").alias("n_requests"),
            F.col("st.thr").alias("n_throttled"),
            rnd(F.col("st.thr") / F.size("tv").cast("double"), 4).alias(
                "throttle_share"
            ),
        )
    )


#: attribution channels (bit order fixed, alphabetical).
SHAPLEY_CHANNELS = ("click", "error", "signup", "view")


# --------------------------------------------------------------------------
# exact Shapley channel attribution
# --------------------------------------------------------------------------

def _shapley_terms() -> list[tuple[str, int, int, float]]:
    """(channel, mask_without, mask_with, weight) for every channel i
    and every coalition S not containing i: weight = |S|!(n-1-|S|)!/n!.
    16 masks x 4 channels / 2 = 32 terms, a pure literal table."""
    n = len(SHAPLEY_CHANNELS)
    out = []
    for i, ch in enumerate(SHAPLEY_CHANNELS):
        bit = 1 << i
        for mask in range(1 << n):
            if mask & bit:
                continue
            s = bin(mask).count("1")
            w = (
                math.factorial(s)
                * math.factorial(n - 1 - s)
                / math.factorial(n)
            )
            out.append((ch, mask, mask | bit, w))
    return out


def _shapley_oracle() -> str:
    terms_rows = ", ".join(
        f"('{ch}', {mwo}, {mw}, {w!r})" for ch, mwo, mw, w in _shapley_terms()
    )
    bits = " + ".join(
        f"max(CASE WHEN event_type = '{ch}' THEN {1 << i} ELSE 0 END)"
        for i, ch in enumerate(SHAPLEY_CHANNELS)
    )
    chans = ", ".join(f"'{c}'" for c in SHAPLEY_CHANNELS)
    return f"""
WITH first_p AS (
  SELECT user_id, min(epoch(ts)) AS t_conv
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
touches AS (
  SELECT e.user_id, e.event_type, f.t_conv
  FROM events e LEFT JOIN first_p f ON e.user_id = f.user_id
  WHERE e.event_type IN ({chans})
    AND (f.t_conv IS NULL OR epoch(e.ts) < f.t_conv)
),
per_user AS (
  SELECT user_id, {bits} AS mask,
         max(CASE WHEN t_conv IS NOT NULL THEN 1 ELSE 0 END) AS conv
  FROM touches GROUP BY user_id
),
coalitions AS (
  SELECT mask, count(*) AS n_users, avg(conv) AS v
  FROM per_user GROUP BY mask
),
terms AS (
  SELECT * FROM (VALUES {terms_rows}) t(channel, m_wo, m_w, w)
),
shap AS (
  SELECT t.channel,
         sum(t.w * (COALESCE(cw.v, 0.0) - COALESCE(cwo.v, 0.0))) AS shap_raw
  FROM terms t
  LEFT JOIN coalitions cw ON cw.mask = t.m_w
  LEFT JOIN coalitions cwo ON cwo.mask = t.m_wo
  GROUP BY t.channel
),
totals AS (
  SELECT CAST(sum(n_users) AS BIGINT) AS n_users_total,
         max(CASE WHEN mask = 0 THEN v END) AS v_empty
  FROM coalitions
)
SELECT s.channel,
       round(s.shap_raw + 1e-6, 6) AS shapley_value,
       t.n_users_total,
       round(COALESCE(t.v_empty, 0.0) + 1e-6, 6) AS v_empty_set
FROM shap s CROSS JOIN totals t
"""


@register(
    "shapley_attribution",
    oracle=_shapley_oracle(),
    tags=("prepared-r8",),
)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY ATTRIBUTION over touch channels: each user's
    exposure coalition is the set of channel types seen before their
    first purchase (all their touches, for non-converters); the
    characteristic function v(S) is the conversion rate of users with
    EXACTLY that coalition (unobserved coalitions contribute v=0, the
    standard data-driven convention); each channel's Shapley value is
    its average marginal contribution across all coalitions. Unlike
    last-touch or time-decay heuristics this is the unique credit
    split satisfying efficiency/symmetry/null-player — and it is
    EXACT, not sampled, because the coalition lattice is 2^4.

    Scale shape: users reduce to a 16-row coalition table in one keyed
    agg + one mask agg; the Shapley sum is a literal 32-term table
    joined against those 16 rows. Channel count, not user count,
    bounds everything downstream of the first reduce."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    first_p = ev.where(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min(sec).alias("t_conv"))
    touches = ev.join(first_p, "user_id", "left").where(
        F.col("event_type").isin(*SHAPLEY_CHANNELS)
        & (F.col("t_conv").isNull() | (sec < F.col("t_conv")))
    )
    per_user = touches.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("event_type") == ch, 1 << i).otherwise(0)
            ).alias(f"b{i}")
            for i, ch in enumerate(SHAPLEY_CHANNELS)
        ],
        F.max(F.col("t_conv").isNotNull().cast("int")).alias("conv"),
    )
    mask = sum(F.col(f"b{i}") for i in range(len(SHAPLEY_CHANNELS)))
    coalitions = per_user.groupBy(mask.alias("mask")).agg(
        F.count("*").alias("n_users"),
        F.avg("conv").alias("v"),
    )
    terms = spark.createDataFrame(
        _shapley_terms(), "channel string, m_wo int, m_w int, w double"
    )
    jw = coalitions.select(F.col("mask").alias("m_w"), F.col("v").alias("v_w"))
    jwo = coalitions.select(
        F.col("mask").alias("m_wo"), F.col("v").alias("v_wo")
    )
    shap = (
        terms.join(jw, "m_w", "left")
        .join(jwo, "m_wo", "left")
        .groupBy("channel")
        .agg(
            F.sum(
                F.col("w")
                * (
                    F.coalesce("v_w", F.lit(0.0))
                    - F.coalesce("v_wo", F.lit(0.0))
                )
            ).alias("shap_raw")
        )
    )
    totals = coalitions.agg(
        F.sum("n_users").alias("n_users_total"),
        F.max(F.when(F.col("mask") == 0, F.col("v"))).alias("v_empty"),
    )
    return shap.crossJoin(F.broadcast(totals)).select(
        "channel",
        rnd("shap_raw", 6).alias("shapley_value"),
        "n_users_total",
        rnd(F.coalesce("v_empty", F.lit(0.0)), 6).alias("v_empty_set"),
    )
