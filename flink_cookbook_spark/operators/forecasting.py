"""Forecasters and series diagnostics over per-key daily and hourly
mean-value series.

Forecasters: additive Holt-Winters, a naive / seasonal-naive / drift
backtest and a split-conformal prediction interval. Diagnostics that
say whether a series can be trusted to forecast: trend (Theil-Sen,
Mann-Kendall), stationarity (a Dickey-Fuller proxy), whiteness
(Ljung-Box, partial autocorrelations), seasonality (periodogram,
seasonal strength), memory (Hurst exponent, effective sample size) and
lead-lag structure between series (rolling cross-correlation, Kendall's
tau, a Spearman lead-lag screen, a Granger-causality proxy).

The mean-series queries read one shared series per key and cadence:
``stats.mean_series(spark, sf_dir, "event_type", DAY_S | HOUR_S)`` in
Spark and the ``TYPE_DAILY_CTE`` / ``TYPE_HOURLY_CTE`` text in their
oracles; both floor whole epoch seconds (Spark through ``epoch_seconds``).
The count-based series (periodogram, rolling cross-correlation, Kendall's
tau) and the corpus-wide hourly mean of the PACF are different aggregates
and build their own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.operators.stats import (
    DAY_S,
    HOUR_S,
    TYPE_DAILY_CTE,
    TYPE_HOURLY_CTE,
    mean_series,
)
from flink_cookbook_spark.registry import NUDGE, register, rnd


# --------------------------------------------------------------------------
# periodogram peaks (dominant seasonality detection)
# --------------------------------------------------------------------------

#: candidate periods in minutes: hour, 6 hours, day, week.
PERIODOGRAM_PERIODS = (60, 360, 1440, 10080)


def _periodogram_oracle() -> str:
    per = ", ".join(str(p) for p in PERIODOGRAM_PERIODS)
    return f"""
WITH per_min AS (
  SELECT event_type, CAST(floor(epoch(ts) / 60) AS BIGINT) AS mn,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
m0 AS (SELECT min(mn) AS mn0 FROM per_min),
p AS (
  SELECT per_min.*, t.period, m0.mn0
  FROM per_min CROSS JOIN m0 CROSS JOIN (
    SELECT unnest([{per}]) AS period
  ) t
),
agg AS (
  SELECT event_type, period,
         sum(n * cos(2.0 * 3.141592653589793 * ((mn - mn0) % period) / period)) AS c,
         sum(n * sin(2.0 * 3.141592653589793 * ((mn - mn0) % period) / period)) AS s,
         sum(n) AS tot
  FROM p GROUP BY 1, 2
),
pw AS (
  SELECT event_type, CAST(period AS INTEGER) AS period_minutes,
         round((c * c + s * s) / (CAST(tot AS DOUBLE) * tot) + 1e-6, 6)
           AS power_norm
  FROM agg
)
SELECT event_type, period_minutes, power_norm,
       power_norm = max(power_norm) OVER (PARTITION BY event_type)
         AS is_dominant
FROM pw
"""


@register(
    "periodogram_peaks",
    oracle=_periodogram_oracle(),
    tags=("prepared-r8",),
)
def periodogram_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-frequency periodogram per event type: spectral power of
    the per-minute arrival series at four candidate periods, normalized
    by the squared total count, plus a dominant-period flag — the
    automated answer to "is this stream hourly-, daily-, or
    weekly-seasonal?" that ``hourly_seasonal_profile`` assumes a priori.

    Power(T) = (Σ nₜ·cos(2πt/T))² + (Σ nₜ·sin(2πt/T))² over minute
    buckets t.  Everything is two stacked hash aggregates (minute
    counts, then per-type trig sums) — no window, no shuffle beyond the
    two agg exchanges, and the phase argument is reduced mod T before
    the trig call so both engines evaluate small angles.  The dominance
    flag compares ROUNDED powers so libm ulp drift cannot flip it."""
    ev = load(spark, sf_dir, "events")
    mn = F.floor(F.col("ts").cast("double") / 60).alias("mn")
    per_min = ev.groupBy("event_type", mn).agg(F.count("*").alias("n"))
    mn0 = per_min.agg(F.min("mn").alias("mn0"))
    base = per_min.crossJoin(F.broadcast(mn0))
    parts = []
    for period in PERIODOGRAM_PERIODS:
        ang = (
            2.0
            * 3.141592653589793
            * (((F.col("mn") - F.col("mn0")) % period).cast("double"))
            / period
        )
        parts.append(
            base.groupBy("event_type").agg(
                F.sum(F.col("n") * F.cos(ang)).alias("c"),
                F.sum(F.col("n") * F.sin(ang)).alias("s"),
                F.sum("n").alias("tot"),
            ).select(
                "event_type",
                F.lit(period).alias("period_minutes"),
                (
                    (F.col("c") * F.col("c") + F.col("s") * F.col("s"))
                    / (F.col("tot") * F.col("tot"))
                ).alias("raw_power"),
            )
        )
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    wt = Window.partitionBy("event_type")
    out = un.select(
        "event_type",
        "period_minutes",
        rnd("raw_power", 6).alias("power_norm"),
    )
    return out.select(
        "event_type",
        "period_minutes",
        "power_norm",
        (F.col("power_norm") == F.max("power_norm").over(wt)).alias(
            "is_dominant"
        ),
    )


# --------------------------------------------------------------------------
# rolling cross-correlation between two daily event series
# --------------------------------------------------------------------------

#: trailing window length (days) for the rolling correlation.
XCORR_WINDOW_DAYS = 7


_XCORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
           AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
           AS y
  FROM events GROUP BY 1
),
win AS (
  SELECT day, x, y,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {XCORR_WINDOW_DAYS - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT day,
       CAST(x AS BIGINT) AS n_click,
       CAST(y AS BIGINT) AS n_purchase,
       CAST(n AS BIGINT) AS window_days,
       round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             END + 1e-6, 6) AS xcorr_7d
FROM win
WHERE n = {XCORR_WINDOW_DAYS}
"""


@register(
    "crosscorr_daily_series",
    oracle=_XCORR_ORACLE,
    tags=("prepared-r8",),
)
def crosscorr_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING CROSS-CORRELATION between the daily click and purchase
    volumes: 7-day trailing Pearson r from windowed moment sums — the
    co-movement monitor that tells a pipeline whether engagement and
    conversion are still coupled (a decoupling day is a leading
    incident indicator even when each series alone looks healthy).
    Emits only days with a full 7-day window, with r NULL when either
    series is constant in the window (undefined, both engines).

    Scale shape: the corpus reduces to ONE row per day in a combinable
    hash agg; the ordered window runs over that bounded daily series
    (single partition of ~n_days rows — already aggregate-scale, the
    same bounded-series contract as ``holt_linear_forecast``)."""
    ev = load(spark, sf_dir, "events")
    day = (F.floor(F.col("ts").cast("double") / 86400)).cast("long")
    daily = ev.groupBy(day.alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("double")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("double")
        .alias("y"),
    )
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy("day")
        .rowsBetween(-(XCORR_WINDOW_DAYS - 1), 0)
    )
    n = F.count("*").over(w).cast("double")
    sx, sy = F.sum("x").over(w), F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    r = F.when(
        (vx > 0) & (vy > 0),
        (n * sxy - sx * sy) / F.sqrt(vx * vy),
    )
    return (
        daily.select(
            "day",
            F.col("x").cast("long").alias("n_click"),
            F.col("y").cast("long").alias("n_purchase"),
            n.cast("long").alias("window_days"),
            rnd(r, 6).alias("xcorr_7d"),
        )
        .where(F.col("window_days") == XCORR_WINDOW_DAYS)
    )


# --------------------------------------------------------------------------
# additive Holt-Winters seasonal smoothing + one-step forecast
# --------------------------------------------------------------------------

HW_ALPHA = 0.3  #: level smoothing
HW_BETA = 0.05  #: trend smoothing
HW_GAMMA = 0.2  #: seasonal smoothing
HW_PERIOD = 24  #: seasonal period in observations (hour-of-day cycle)


def _hw_oracle() -> str:
    a, b, g, p = HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD
    l_new = f"{a} * (vals[i + 1] - s[1]) + {1 - a} * (l + b)"
    return f"""
WITH RECURSIVE {TYPE_HOURLY_CTE},
series AS (
  SELECT event_type, list(v ORDER BY bucket_start) AS vals
  FROM hourly GROUP BY event_type
),
steps AS (
  SELECT event_type, vals, {p} AS i,
         list_aggregate(vals[1:{p}], 'sum') / {p} AS l,
         CAST(0.0 AS DOUBLE) AS b,
         list_transform(vals[1:{p}],
                        x -> x - list_aggregate(vals[1:{p}], 'sum') / {p}) AS s
  FROM series WHERE len(vals) > {p}
  UNION ALL
  SELECT event_type, vals, i + 1,
         {l_new},
         {b} * (({l_new}) - l) + {1 - b} * b,
         list_concat(s[2:{p}],
                     [{g} * (vals[i + 1] - ({l_new})) + {1 - g} * s[1]])
  FROM steps WHERE i < len(vals)
)
SELECT event_type,
       CAST(len(vals) AS INTEGER) AS n_points,
       round(l + 1e-6, 4) AS level,
       round(b + 1e-6, 4) AS trend,
       round(s[1] + 1e-6, 4) AS seasonal_next,
       round(l + b + s[1] + 1e-6, 4) AS forecast_next
FROM steps WHERE i = len(vals)
"""


@register("holt_winters_seasonal", oracle=_hw_oracle(), tags=("prepared-r8",))
def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE HOLT-WINTERS over each event type's hourly mean-value
    series: level + trend + a rolling seasonal state of period 24,
    folded across the ordered observations; one-step forecast =
    ``l + b + s_next``. Extends ``holt_linear_forecast`` with exactly
    the seasonal term the reference's SARIMA (0,1,1,s) component
    models — the closed-form, fully replayable member of the engine's
    forecaster ladder (production gap-fills first via ``gap_fill_locf``;
    the fold itself is defined over the observed sequence).

    Recurrence (init: l = mean of first p obs, b = 0, s_i = x_i - l):
      l_t = a*(x_t - s_{t-p}) + (1-a)*(l_{t-1} + b_{t-1})
      b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}
      s_t = G*(x_t - l_t) + (1-G)*s_{t-p}

    Scale shape: one combinable hash agg to (key, hour) means; the
    bounded per-key series folds in a codegen'd ``aggregate`` with a
    struct accumulator holding the p-element seasonal ring (the
    bounded-state contract of the reference's history buffer A3). The
    DuckDB twin replays the identical fold as a RECURSIVE CTE carrying
    the seasonal list — NOT list_reduce (the in-place coupled-
    recurrence hazard documented at ``holt_linear_forecast``)."""
    hourly = mean_series(spark, sf_dir, "event_type", HOUR_S)
    series = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("bucket_start", "v"))).alias("sv")
    )
    a, b, g, p = HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD
    l0 = f"aggregate(slice(vals, 1, {p}), 0.0D, (acc, x) -> acc + x) / {p}"
    # l_new spelled out inline wherever it appears (functional update —
    # every field reads the PREVIOUS accumulator only)
    l_new = f"{a}D * (x - element_at(acc.s, 1)) + {1 - a}D * (acc.l + acc.b)"
    fold = (
        f"aggregate(slice(vals, {p + 1}, size(vals) - {p}), "
        f"named_struct("
        f"'l', {l0}, "
        f"'b', 0.0D, "
        f"'s', transform(slice(vals, 1, {p}), x -> x - ({l0}))), "
        f"(acc, x) -> named_struct("
        f"'l', {l_new}, "
        f"'b', {b}D * (({l_new}) - acc.l) + {1 - b}D * acc.b, "
        f"'s', concat(slice(acc.s, 2, {p - 1}), "
        f"array({g}D * (x - ({l_new})) + {1 - g}D * element_at(acc.s, 1)))))"
    )
    return (
        series.withColumn("vals", F.expr("transform(sv, s -> s.v)"))
        .where(F.size("vals") > p)
        .withColumn("st", F.expr(fold))
        .select(
            "event_type",
            F.size("vals").alias("n_points"),
            rnd(F.col("st.l"), 4).alias("level"),
            rnd(F.col("st.b"), 4).alias("trend"),
            rnd(F.element_at(F.col("st.s"), 1), 4).alias("seasonal_next"),
            rnd(
                F.col("st.l")
                + F.col("st.b")
                + F.element_at(F.col("st.s"), 1),
                4,
            ).alias("forecast_next"),
        )
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend per key
# --------------------------------------------------------------------------

_THEILSEN_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
days AS (SELECT event_type, bucket_start // {DAY_S} AS d, v FROM daily),
pairs AS (
  SELECT a.event_type, a.d AS d1, b.d AS d2,
         (b.v - a.v) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM days a JOIN days b
    ON a.event_type = b.event_type AND a.d < b.d
),
med_slope AS (
  SELECT event_type, slope AS ts_slope, n_pairs FROM (
    SELECT event_type, slope,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY slope, d1, d2) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n_pairs
    FROM pairs
  ) WHERE rn = (n_pairs + 1) // 2
),
resid AS (
  SELECT d.event_type, m.n_pairs, m.ts_slope, d.v - m.ts_slope * d.d AS r, d.d
  FROM days d JOIN med_slope m ON d.event_type = m.event_type
)
SELECT event_type, n_days, n_pairs,
       round(ts_slope + 1e-6, 6) AS slope_per_day,
       round(r + 1e-6, 4) AS intercept
FROM (
  SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs, ts_slope, r,
         row_number() OVER (PARTITION BY event_type ORDER BY r, d) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM resid
) WHERE rn = (n_days + 1) // 2
"""


@register("theil_sen_trend", oracle=_THEILSEN_ORACLE, tags=("prepared-r8",))
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN ROBUST TREND per event type over the daily mean-value
    series: slope = the (lower) median of all pairwise slopes,
    intercept = the median of ``y - slope * x`` — the estimator that
    shrugs off up to ~29% outliers where the OLS fit of
    ``per_key_linear_trend`` follows them. Medians are DISCRETE order
    statistics on both engines (no interpolation, the cross-engine
    percentile hazard).

    Scale shape: the corpus reduces to one row per (key, day) in a
    combinable agg FIRST; the pairwise slope set is quadratic only in
    the bounded daily-series length (30 days -> 435 pairs per key),
    and per-key medians are rank-limited window picks."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S).select(
        "event_type", (F.col("bucket_start") / DAY_S).cast("long").alias("d"), "v"
    )
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("v").alias("v1"))
    c = daily.select("event_type", F.col("d").alias("d2"), F.col("v").alias("v2"))
    pairs = (
        a.join(c, "event_type")
        .where(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            "d1",
            "d2",
            (
                (F.col("v2") - F.col("v1"))
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    ws = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wt = Window.partitionBy("event_type")
    med_slope = (
        pairs.select(
            "event_type",
            "slope",
            F.row_number().over(ws).alias("rn"),
            F.count("*").over(wt).alias("n_pairs"),
        )
        .where(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        .select("event_type", F.col("slope").alias("ts_slope"), "n_pairs")
    )
    resid = daily.join(med_slope, "event_type").select(
        "event_type",
        "n_pairs",
        "ts_slope",
        (F.col("v") - F.col("ts_slope") * F.col("d")).alias("r"),
        "d",
    )
    wr = Window.partitionBy("event_type").orderBy("r", "d")
    return (
        resid.select(
            "event_type",
            "n_pairs",
            "ts_slope",
            "r",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(wt).alias("n_days"),
        )
        .where(F.col("rn") == F.floor((F.col("n_days") + 1) / 2))
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            rnd("ts_slope", 6).alias("slope_per_day"),
            rnd("r", 4).alias("intercept"),
        )
    )


# --------------------------------------------------------------------------
# one-step forecast backtest (naive / seasonal-naive / drift)
# --------------------------------------------------------------------------

#: seasonal lag (observations) for the seasonal-naive forecaster.
BACKTEST_SEASON = 24


_BACKTEST_ORACLE = f"""
WITH {TYPE_HOURLY_CTE},
lagged AS (
  SELECT event_type, v,
         lag(v, 1) OVER w AS l1,
         lag(v, 2) OVER w AS l2,
         lag(v, {BACKTEST_SEASON}) OVER w AS ls
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
),
preds AS (
  SELECT event_type, v, t.method,
         CASE t.method WHEN 'naive' THEN l1
                       WHEN 'seasonal_naive' THEN ls
                       ELSE l1 + (l1 - l2) END AS pred
  FROM lagged
  CROSS JOIN (VALUES ('naive'), ('seasonal_naive'), ('drift')) t(method)
  WHERE l1 IS NOT NULL AND l2 IS NOT NULL AND ls IS NOT NULL
),
agg AS (
  SELECT event_type, method, count(*) AS n_evals,
         avg(abs(v - pred)) AS mae_raw,
         avg(2.0 * abs(v - pred) / (abs(v) + abs(pred))) AS smape_raw
  FROM preds GROUP BY 1, 2
)
SELECT event_type, method, n_evals,
       round(mae_raw + 1e-6, 4) AS mae,
       round(smape_raw + 1e-6, 6) AS smape,
       mae_raw = min(mae_raw) OVER (PARTITION BY event_type) AS is_best
FROM agg
"""


@register("forecast_backtest", oracle=_BACKTEST_ORACLE, tags=("prepared-r8",))
def forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-STEP FORECAST BACKTEST per event type: score the three
    standard baseline forecasters — naive (last value), seasonal-naive
    (value one period ago), local drift (last value + last delta) — on
    the hourly mean series with MAE and sMAPE, plus a winner flag per
    key. This is the honesty check every fancier forecaster
    (``holt_linear_forecast``, ``holt_winters_seasonal``, the SARIMA
    family) must beat before shipping; rows are only scored where ALL
    three predictions exist, so the three methods compare on the same
    evaluation set.

    Scale shape: one combinable hash agg to (key, hour), one per-key
    ordered window pass for the lags, a 3-way in-plan method unpivot,
    and one bounded final agg + windowed winner pick."""
    hourly = mean_series(spark, sf_dir, "event_type", HOUR_S)
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    lagged = hourly.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("l1"),
        F.lag("v", 2).over(w).alias("l2"),
        F.lag("v", BACKTEST_SEASON).over(w).alias("ls"),
    ).where(
        F.col("l1").isNotNull()
        & F.col("l2").isNotNull()
        & F.col("ls").isNotNull()
    )
    preds = lagged.select(
        "event_type",
        "v",
        F.expr(
            "stack(3, 'naive', l1, 'seasonal_naive', ls, "
            "'drift', l1 + (l1 - l2)) as (method, pred)"
        ),
    )
    err = preds.select(
        "event_type",
        "method",
        F.abs(F.col("v") - F.col("pred")).alias("ae"),
        (
            2.0
            * F.abs(F.col("v") - F.col("pred"))
            / (F.abs(F.col("v")) + F.abs(F.col("pred")))
        ).alias("sape"),
    )
    agg = err.groupBy("event_type", "method").agg(
        F.count("*").alias("n_evals"),
        F.avg("ae").alias("mae_raw"),
        F.avg("sape").alias("smape_raw"),
    )
    wbest = Window.partitionBy("event_type")
    return agg.select(
        "event_type",
        "method",
        "n_evals",
        rnd("mae_raw", 4).alias("mae"),
        rnd("smape_raw", 6).alias("smape"),
        (F.col("mae_raw") == F.min("mae_raw").over(wbest)).alias("is_best"),
    )


# --------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis
# --------------------------------------------------------------------------

#: block sizes (hours) for the R/S regression.
HURST_BLOCKS = (8, 16, 32)


_HURST_ORACLE = f"""
WITH {TYPE_HOURLY_CTE},
indexed AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket_start) - 1
           AS i
  FROM hourly
),
fanned AS (
  SELECT ix.event_type, ix.v, t.bs,
         CAST(floor(ix.i / t.bs) AS BIGINT) AS blk, ix.i
  FROM indexed ix CROSS JOIN
       (VALUES {", ".join(f"({n})" for n in HURST_BLOCKS)}) t(bs)
),
cum AS (
  SELECT event_type, bs, blk,
         count(*) OVER (PARTITION BY event_type, bs, blk) AS nb,
         sum(v) OVER (PARTITION BY event_type, bs, blk ORDER BY i
                      ROWS UNBOUNDED PRECEDING)
           - (row_number() OVER (PARTITION BY event_type, bs, blk ORDER BY i))
             * avg(v) OVER (PARTITION BY event_type, bs, blk) AS dev,
         stddev_samp(v) OVER (PARTITION BY event_type, bs, blk) AS s
  FROM fanned
),
rs AS (
  SELECT event_type, bs, avg(rs_blk) AS rs, count(*) AS n_blocks
  FROM (
    SELECT event_type, bs, blk,
           (max(dev) - min(dev)) / max(s) AS rs_blk, max(s) AS s_blk
    FROM cum WHERE nb = bs GROUP BY 1, 2, 3
  ) WHERE s_blk > 0
  GROUP BY 1, 2
),
fit AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS m,
         sum(ln(CAST(bs AS DOUBLE))) AS sx,
         sum(ln(rs)) AS sy,
         sum(ln(CAST(bs AS DOUBLE)) * ln(rs)) AS sxy,
         sum(ln(CAST(bs AS DOUBLE)) * ln(CAST(bs AS DOUBLE))) AS sxx,
         CAST(sum(n_blocks) AS BIGINT) AS total_blocks
  FROM rs GROUP BY event_type
)
SELECT event_type, total_blocks AS n_blocks,
       round(CASE WHEN m * sxx - sx * sx > 0
                  THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END
             + 1e-6, 4) AS hurst_h,
       CASE WHEN (m * sxy - sx * sy) / (m * sxx - sx * sx) > 0.55
              THEN 'persistent'
            WHEN (m * sxy - sx * sy) / (m * sxx - sx * sx) < 0.45
              THEN 'mean_reverting'
            ELSE 'memoryless' END AS regime
FROM fit
"""


@register("hurst_exponent", oracle=_HURST_ORACLE, tags=("prepared-r8",))
def hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT per event type via rescaled-range analysis over
    the hourly mean series: for each block size n, partition the
    series into disjoint n-blocks, compute each block's rescaled range
    R/S (range of the cumulative mean-deviation over the block's
    stddev), average per size, and fit log(R/S) ~ log(n) — the slope
    is H. H near 0.5 = memoryless; H > 0.5 = persistent long memory
    (the regime where trailing z-score alerting systematically
    over-fires); H < 0.5 = mean-reverting. Complements
    ``autocorrelation`` (fixed lags) with the scaling-law view.

    Scale shape: the corpus reduces to (key, hour) means first; block
    stats are hash aggs over (key, size, block) with the in-block
    cumulative deviation one bounded keyed window; the final fit is a
    per-key 3-point regression."""
    hourly = mean_series(spark, sf_dir, "event_type", HOUR_S)
    wk = Window.partitionBy("event_type").orderBy("bucket_start")
    indexed = hourly.select(
        "event_type", "v", (F.row_number().over(wk) - 1).alias("i")
    )
    fanned = indexed.select(
        "event_type",
        "v",
        "i",
        F.explode(
            F.array(*[F.lit(n) for n in HURST_BLOCKS])
        ).alias("bs"),
    ).select(
        "event_type",
        "v",
        "bs",
        F.floor(F.col("i") / F.col("bs")).alias("blk"),
        "i",
    )
    wb = (
        Window.partitionBy("event_type", "bs", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wball = Window.partitionBy("event_type", "bs", "blk")
    # cumulative deviation from the block mean; complete blocks only
    cum = fanned.select(
        "event_type",
        "bs",
        "blk",
        F.count("*").over(wball).alias("nb"),
        (
            F.sum("v").over(wb)
            - F.count("*").over(wb) * F.avg("v").over(wball)
        ).alias("dev"),
        F.stddev_samp("v").over(wball).alias("s"),
    ).where(F.col("nb") == F.col("bs"))
    rs = (
        cum.groupBy("event_type", "bs", "blk")
        .agg(
            ((F.max("dev") - F.min("dev")) / F.max("s")).alias("rs_blk"),
            F.max("s").alias("s_blk"),
        )
        .where(F.col("s_blk") > 0)
        .groupBy("event_type", "bs")
        .agg(F.avg("rs_blk").alias("rs"), F.count("*").alias("n_blocks"))
    )
    x = F.log(F.col("bs").cast("double"))
    y = F.log(F.col("rs"))
    fit = rs.groupBy("event_type").agg(
        F.count("*").cast("double").alias("m"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum("n_blocks").alias("total_blocks"),
    )
    h_est = F.when(
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
    )
    return fit.select(
        "event_type",
        F.col("total_blocks").cast("long").alias("n_blocks"),
        rnd(h_est, 4).alias("hurst_h"),
        F.when(h_est > 0.55, "persistent")
        .when(h_est < 0.45, "mean_reverting")
        .otherwise("memoryless")
        .alias("regime"),
    )


# --------------------------------------------------------------------------
# Kendall's tau rank correlation of the daily series
# --------------------------------------------------------------------------

_KENDALL_ORACLE = """
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM daily a JOIN daily b ON a.day < b.day
),
agg AS (
  SELECT count(*) AS n_pairs,
         CAST(sum(CASE WHEN (x2 - x1) * (y2 - y1) > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS concordant,
         CAST(sum(CASE WHEN (x2 - x1) * (y2 - y1) < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS discordant
  FROM pairs
)
SELECT n_pairs, concordant, discordant,
       round((concordant - discordant) / CAST(n_pairs AS DOUBLE) + 1e-6, 6)
         AS kendall_tau
FROM agg
"""


@register("kendall_tau_daily", oracle=_KENDALL_ORACLE, tags=("prepared-r8",))
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S TAU between the daily click and purchase volumes:
    concordant-minus-discordant day pairs over all C(n,2) pairs
    (tau-a; ties count neither way) — the rank-robust sibling of
    ``crosscorr_daily_series``'s Pearson co-movement: outlier days
    cannot drag it, only the ORDER of days matters. Quadratic only in
    the bounded daily-series length (30 days -> 435 pairs).

    Scale shape: corpus -> one row per day, one bounded self-join on
    the day-pair grid, one 1-row aggregate."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    daily = ev.groupBy(day.alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
    )
    a = daily.select(
        F.col("day").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = daily.select(
        F.col("day").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    # calendar-bounded side (one row per day) broadcast for the
    # non-equi pair join — never a plain cartesian
    pairs = a.join(F.broadcast(b), a.d1 < b.d2)
    sgn = F.signum((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1")))
    agg = pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum((sgn > 0).cast("long")).alias("concordant"),
        F.sum((sgn < 0).cast("long")).alias("discordant"),
    )
    tau = (F.col("concordant") - F.col("discordant")) / F.col(
        "n_pairs"
    ).cast("double")
    return agg.select(
        "n_pairs",
        "concordant",
        "discordant",
        rnd(tau, 6).alias("kendall_tau"),
    )


# --------------------------------------------------------------------------
# split-conformal prediction interval for the seasonal-naive forecast
# --------------------------------------------------------------------------

#: miscoverage level (interval targets 1 - alpha coverage).
CONFORMAL_ALPHA = 0.1

#: seasonal lag (observations) of the base forecaster.
CONFORMAL_SEASON = 24


_CONFORMAL_ORACLE = f"""
WITH {TYPE_HOURLY_CTE},
scored AS (
  SELECT * FROM (
    SELECT event_type, bucket_start, v,
           lag(v, {CONFORMAL_SEASON}) OVER w AS pred,
           row_number() OVER w AS rn,
           count(*) OVER (PARTITION BY event_type) AS n_tot
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
  ) WHERE pred IS NOT NULL
),
cal AS (
  SELECT event_type, abs(v - pred) AS score
  FROM scored WHERE rn <= n_tot // 2
),
qpick AS (
  SELECT event_type, n_cal, score AS q_alpha FROM (
    SELECT event_type, score,
           row_number() OVER (PARTITION BY event_type ORDER BY score) AS qrn,
           count(*) OVER (PARTITION BY event_type) AS n_cal
    FROM cal
  ) WHERE qrn = least(n_cal,
                      CAST(ceil((n_cal + 1) * {1.0 - CONFORMAL_ALPHA})
                           AS BIGINT))
),
eval_ AS (
  SELECT event_type, abs(v - pred) AS err
  FROM scored WHERE rn > n_tot // 2
),
cov AS (
  SELECT e.event_type,
         max(q.n_cal) AS n_cal,
         count(*) AS n_eval,
         max(q.q_alpha) AS q_raw,
         avg(CASE WHEN e.err <= q.q_alpha THEN 1.0 ELSE 0.0 END) AS cov_raw
  FROM eval_ e JOIN qpick q ON e.event_type = q.event_type
  GROUP BY e.event_type
)
SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal, n_eval,
       round(q_raw + 1e-6, 4) AS q_alpha,
       round(cov_raw + 1e-6, 4) AS empirical_coverage,
       round({1.0 - CONFORMAL_ALPHA} + 1e-6, 2) AS target_coverage
FROM cov
"""


@register(
    "conformal_prediction_interval",
    oracle=_CONFORMAL_ORACLE,
    tags=("prepared-r8",),
)
def conformal_prediction_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL PREDICTION INTERVAL around the seasonal-naive
    forecaster, per event type: the first half of each key's hourly
    series calibrates the absolute-residual quantile at the standard
    conformal index ceil((n_cal + 1) * (1 - alpha)); the second half
    measures EMPIRICAL coverage of "prediction +/- q". The
    finite-sample guarantee (coverage >= 1 - alpha in expectation,
    under exchangeability) holds with NO distributional assumptions —
    the uncertainty wrapper any of the engine's forecasters can wear.
    Quantiles are discrete order statistics (the cross-engine
    percentile discipline).

    Scale shape: one (key, hour) agg, one per-key lag window, one
    rank-limited calibration-quantile pick, one eval aggregate — all
    keyed, nothing global."""
    hourly = mean_series(spark, sf_dir, "event_type", HOUR_S)
    wk = Window.partitionBy("event_type").orderBy("bucket_start")
    scored = hourly.select(
        "event_type",
        "bucket_start",
        "v",
        F.lag("v", CONFORMAL_SEASON).over(wk).alias("pred"),
        F.row_number().over(wk).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n_tot"),
    ).where(F.col("pred").isNotNull())
    half = F.floor(F.col("n_tot") / 2)
    cal = scored.where(F.col("rn") <= half).select(
        "event_type", F.abs(F.col("v") - F.col("pred")).alias("score")
    )
    wq = Window.partitionBy("event_type").orderBy("score")
    wc = Window.partitionBy("event_type")
    qpick = (
        cal.select(
            "event_type",
            "score",
            F.row_number().over(wq).alias("qrn"),
            F.count("*").over(wc).alias("n_cal"),
        )
        .where(
            F.col("qrn")
            == F.least(
                F.col("n_cal"),
                F.ceil((F.col("n_cal") + 1) * (1.0 - CONFORMAL_ALPHA)),
            )
        )
        .select("event_type", "n_cal", F.col("score").alias("q_alpha"))
    )
    eval_ = scored.where(F.col("rn") > half).select(
        "event_type", F.abs(F.col("v") - F.col("pred")).alias("err")
    )
    cov = (
        eval_.join(qpick, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count("*").alias("n_eval"),
            F.max("q_alpha").alias("q_raw"),
            F.avg(
                (F.col("err") <= F.col("q_alpha")).cast("double")
            ).alias("cov_raw"),
        )
    )
    return cov.select(
        "event_type",
        "n_cal",
        "n_eval",
        rnd("q_raw", 4).alias("q_alpha"),
        rnd("cov_raw", 4).alias("empirical_coverage"),
        rnd(F.lit(1.0 - CONFORMAL_ALPHA), 2).alias("target_coverage"),
    )


#: autocorrelation lags folded into the ESS correction.
ESS_LAGS = (1, 2, 3, 4, 5)


def _ess_oracle() -> str:
    lag_cols = ",\n         ".join(
        f"lag(v, {k}) OVER w AS x{k}" for k in ESS_LAGS
    )
    corr_cols = ",\n         ".join(
        f"corr(v, x{k}) AS r{k}" for k in ESS_LAGS
    )
    rho = " + ".join(
        f"greatest(COALESCE(r{k}, 0.0), 0.0)" for k in ESS_LAGS
    )
    return f"""
WITH {TYPE_HOURLY_CTE},
lagged AS (
  SELECT event_type, v,
         {lag_cols}
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
),
agg AS (
  SELECT event_type, count(*) AS n_obs,
         {corr_cols}
  FROM lagged GROUP BY event_type
)
SELECT event_type, n_obs,
       round(({rho}) + 1e-6, 6) AS rho_sum_pos,
       round(n_obs / (1.0 + 2.0 * ({rho})) + 1e-6, 2) AS n_effective,
       round((n_obs / (1.0 + 2.0 * ({rho}))) / n_obs + 1e-6, 6) AS ess_ratio
FROM agg
"""


@register("effective_sample_size", oracle=_ess_oracle(), tags=("prepared-r8",))
def effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE SAMPLE SIZE per event type over the hourly mean
    series: ``n_eff = n / (1 + 2 * sum_k max(rho_k, 0))`` with rho_k
    the lag-k Pearson autocorrelation over lags 1..5 (negative terms
    floored at 0 — the initial-positive-sequence convention, so ESS
    never exceeds n from anti-correlation). The ESS ratio is the
    discount every independence-assuming test in the engine should
    apply to this key's evidence; a ratio near 1 certifies the i.i.d.
    pricing, a small one flags optimistic p-values.

    Scale shape: one (key, hour) agg, five lag columns over ONE keyed
    window pass, one per-key ``corr`` aggregate per lag — identical
    plan shape to ``autocorrelation``, generalized to the lag sweep
    and reduced to the single actionable number."""
    hourly = mean_series(spark, sf_dir, "event_type", HOUR_S)
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    lagged = hourly.select(
        "event_type",
        "v",
        *[F.lag("v", k).over(w).alias(f"x{k}") for k in ESS_LAGS],
    )
    agg = lagged.groupBy("event_type").agg(
        F.count("*").alias("n_obs"),
        *[F.corr("v", f"x{k}").alias(f"r{k}") for k in ESS_LAGS],
    )
    rho_sum = None
    for k in ESS_LAGS:
        term = F.greatest(F.coalesce(F.col(f"r{k}"), F.lit(0.0)), F.lit(0.0))
        rho_sum = term if rho_sum is None else rho_sum + term
    n = F.col("n_obs").cast("double")
    n_eff = n / (1.0 + 2.0 * rho_sum)
    return agg.select(
        "event_type",
        "n_obs",
        rnd(rho_sum, 6).alias("rho_sum_pos"),
        rnd(n_eff, 2).alias("n_effective"),
        rnd(n_eff / n, 6).alias("ess_ratio"),
    )


# --------------------------------------------------------------------------
# PACF via the Durbin-Levinson recursion (lags 1..4)
# --------------------------------------------------------------------------

#: number of PACF lags emitted (the Durbin-Levinson recursion is
#: unrolled in closed form to this depth on both engines).
PACF_LAGS = 4
#: decimals the raw ACF values are rounded to BEFORE the recursion —
#: identical doubles in, bit-identical recursion out (the
#: logistic-score discipline applied to correlation inputs).
PACF_ACF_DP = 9


_PACF_ORACLE = f"""
WITH hourly AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS h,
         avg(value) AS x
  FROM events GROUP BY 1
),
lagged AS (
  SELECT x,
         lag(x, 1) OVER (ORDER BY h) AS x1,
         lag(x, 2) OVER (ORDER BY h) AS x2,
         lag(x, 3) OVER (ORDER BY h) AS x3,
         lag(x, 4) OVER (ORDER BY h) AS x4
  FROM hourly
),
acf AS (
  SELECT count(x) AS n_hours,
         round(corr(x, x1) + {NUDGE}, {PACF_ACF_DP}) AS r1,
         round(corr(x, x2) + {NUDGE}, {PACF_ACF_DP}) AS r2,
         round(corr(x, x3) + {NUDGE}, {PACF_ACF_DP}) AS r3,
         round(corr(x, x4) + {NUDGE}, {PACF_ACF_DP}) AS r4
  FROM lagged
),
s1 AS (SELECT *, r1 AS p11 FROM acf),
s2 AS (
  SELECT *, (r2 - p11 * r1) / (1 - p11 * r1) AS p22 FROM s1
),
s2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM s2),
s3 AS (
  SELECT *, (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2) AS p33
  FROM s2b
),
s3b AS (
  SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM s3
),
s4 AS (
  SELECT *, (r4 - p31 * r3 - p32 * r2 - p33 * r1)
            / (1 - p31 * r1 - p32 * r2 - p33 * r3) AS p44
  FROM s3b
),
stacked AS (
  SELECT 1 AS lag, n_hours, r1 AS acf_raw, p11 AS pacf_raw FROM s4
  UNION ALL SELECT 2, n_hours, r2, p22 FROM s4
  UNION ALL SELECT 3, n_hours, r3, p33 FROM s4
  UNION ALL SELECT 4, n_hours, r4, p44 FROM s4
)
SELECT CAST(lag AS INTEGER) AS lag, n_hours,
       round(acf_raw + {NUDGE}, 6) + 0.0 AS acf,
       round(pacf_raw + {NUDGE}, 6) + 0.0 AS pacf
FROM stacked
"""


@register("pacf_durbin_levinson", oracle=_PACF_ORACLE, tags=("prepared-r10",))
def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL AUTOCORRELATIONS of the corpus hourly mean-value series
    at lags 1..4, from the sample ACF via the closed-form
    Durbin-Levinson recursion — the companion statistic to
    ``autocorrelation``: ACF says WHICH lags correlate, PACF says which
    correlate DIRECTLY (the AR-order picker; the reference hardcodes
    its (1,1,1)x(0,1,1,288) SARIMAX orders, and PACF cutoff is how an
    AR order is read off data).

    Scale shape: one combinable (hour) aggregate reduces the corpus to
    a calendar-bounded series; four lag columns ride ONE ordered window
    over those hours (calendar-bounded, not data-bounded — the
    ``kaplan_meier_survival`` argument); four corr aggregates reduce to
    a 1-row ACF vector; the recursion is pure column algebra on that
    row; a 4-row stack unpivots. ACF values are rounded to
    ``PACF_ACF_DP`` before the recursion so its divisions amplify
    nothing engine-specific."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select(
            (F.floor(F.col("ts").cast("double") / 3600) * 3600).alias("h"),
            "value",
        )
        .groupBy("h")
        .agg(F.avg("value").alias("x"))
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "x",
        *[F.lag("x", k).over(w).alias(f"x{k}") for k in range(1, PACF_LAGS + 1)],
    )
    acf = lagged.agg(
        F.count("x").alias("n_hours"),
        *[
            F.round(F.corr("x", f"x{k}") + F.lit(NUDGE), PACF_ACF_DP).alias(
                f"r{k}"
            )
            for k in range(1, PACF_LAGS + 1)
        ],
    )
    # Durbin-Levinson unrolled: phi_kk columns from r1..r4
    p11 = F.col("r1")
    step1 = acf.withColumn("p11", p11)
    p22 = (F.col("r2") - F.col("p11") * F.col("r1")) / (
        1 - F.col("p11") * F.col("r1")
    )
    step2 = step1.withColumn("p22", p22).withColumn(
        "p21", F.col("p11") - F.col("p22") * F.col("p11")
    )
    p33 = (
        F.col("r3") - F.col("p21") * F.col("r2") - F.col("p22") * F.col("r1")
    ) / (1 - F.col("p21") * F.col("r1") - F.col("p22") * F.col("r2"))
    step3 = (
        step2.withColumn("p33", p33)
        .withColumn("p31", F.col("p21") - F.col("p33") * F.col("p22"))
        .withColumn("p32", F.col("p22") - F.col("p33") * F.col("p21"))
    )
    p44 = (
        F.col("r4")
        - F.col("p31") * F.col("r3")
        - F.col("p32") * F.col("r2")
        - F.col("p33") * F.col("r1")
    ) / (
        1
        - F.col("p31") * F.col("r1")
        - F.col("p32") * F.col("r2")
        - F.col("p33") * F.col("r3")
    )
    step4 = step3.withColumn("p44", p44)
    return step4.select(
        "n_hours",
        F.expr(
            "stack(4, 1, r1, p11, 2, r2, p22, 3, r3, p33, 4, r4, p44) "
            "as (lag, acf_raw, pacf_raw)"
        ),
    ).select(
        F.col("lag").cast("int").alias("lag"),
        "n_hours",
        (rnd("acf_raw", 6) + F.lit(0.0)).alias("acf"),
        (rnd("pacf_raw", 6) + F.lit(0.0)).alias("pacf"),
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test + Sen's slope
# --------------------------------------------------------------------------

MK_Z_CRIT = 1.96  #: two-sided normal critical value at alpha = 0.05


_MK_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
pairs AS (
  SELECT a.event_type,
         CAST(sign(b.x - a.x) AS BIGINT) AS sgn,
         round((b.x - a.x) / ((b.bucket_start - a.bucket_start) / 86400.0)
               + {NUDGE}, 9) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.bucket_start > a.bucket_start
),
per AS (
  SELECT event_type, CAST(sum(sgn) AS BIGINT) AS s_stat,
         quantile_cont(slope, 0.5) AS sen_raw
  FROM pairs GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS DOUBLE) AS tie_term
  FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
),
nn AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1),
j AS (
  SELECT nn.event_type, nn.n_days, per.s_stat, per.sen_raw,
         (CAST(nn.n_days AS DOUBLE) * (nn.n_days - 1) * (2 * nn.n_days + 5)
          - ties.tie_term) / 18.0 AS var_s,
         round(CASE WHEN per.s_stat > 0
                    THEN (per.s_stat - 1) / sqrt(
                      (CAST(nn.n_days AS DOUBLE) * (nn.n_days - 1)
                       * (2 * nn.n_days + 5) - ties.tie_term) / 18.0)
                    WHEN per.s_stat < 0
                    THEN (per.s_stat + 1) / sqrt(
                      (CAST(nn.n_days AS DOUBLE) * (nn.n_days - 1)
                       * (2 * nn.n_days + 5) - ties.tie_term) / 18.0)
                    ELSE 0.0 END + {NUDGE}, 4) AS z_r
  FROM nn JOIN per ON nn.event_type = per.event_type
          JOIN ties ON nn.event_type = ties.event_type
)
SELECT event_type, n_days, s_stat,
       round(var_s + {NUDGE}, 4) AS var_s,
       z_r AS z_stat,
       round(sen_raw + {NUDGE}, 6) AS sen_slope_per_day,
       CASE WHEN z_r > {MK_Z_CRIT} THEN 'increasing'
            WHEN z_r < -{MK_Z_CRIT} THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM j
"""


@register("mann_kendall_trend", oracle=_MK_ORACLE, tags=("prepared-r10",))
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST with SEN'S SLOPE per event type over the
    daily-mean series: S = sum_{i<j} sign(x_j - x_i), tie-corrected
    variance, continuity-corrected Z, and the distribution-free slope
    estimate median{(x_j - x_i)/(t_j - t_i)} — the standard monotone-
    trend battery that CUSUM/changepoint (level shifts) and Holt
    (parametric trend) do not cover. Daily means are rounded to 9 dp
    BEFORE pairing (the ACF discipline) so sign() and the pairwise
    slopes run on bit-identical doubles in both engines; the trend
    label reads the ROUNDED Z so a last-ulp cannot flip it.

    Scale shape: the pairwise stage is a self-equi-join on event_type
    over the DAILY aggregate — calendar-bounded (days^2/2 pairs per
    type, never event-cardinality). Sen's slope is an exact percentile
    over those bounded pairs."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    d1 = daily.select(
        "event_type", F.col("bucket_start").alias("t1"), F.col("x").alias("x1")
    )
    d2 = daily.select(
        "event_type", F.col("bucket_start").alias("t2"), F.col("x").alias("x2")
    )
    pairs = (
        d1.join(d2, "event_type")
        .where(F.col("t2") > F.col("t1"))
        .select(
            "event_type",
            F.signum(F.col("x2") - F.col("x1")).cast("long").alias("sgn"),
            F.round(
                (F.col("x2") - F.col("x1"))
                / ((F.col("t2") - F.col("t1")) / F.lit(86400.0))
                + F.lit(NUDGE),
                9,
            ).alias("slope"),
        )
    )
    per = pairs.groupBy("event_type").agg(
        F.sum("sgn").alias("s_stat"),
        F.expr("percentile(slope, 0.5)").alias("sen_raw"),
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))
    j = nn.join(per, "event_type").join(ties, "event_type")
    n = F.col("n_days").cast("double")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("tie_term").cast("double")
    ) / 18.0
    z_raw = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    z_r = rnd(z_raw, 4)
    return j.select(
        "event_type",
        "n_days",
        "s_stat",
        rnd(var_s, 4).alias("var_s"),
        z_r.alias("z_stat"),
        rnd("sen_raw", 6).alias("sen_slope_per_day"),
        F.when(z_r > MK_Z_CRIT, F.lit("increasing"))
        .when(z_r < -MK_Z_CRIT, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


# --------------------------------------------------------------------------
# Spearman lead-lag screen between event-type daily series
# --------------------------------------------------------------------------

SPEARMAN_MAX_LAG = 3  #: lags screened (days); 0 = contemporaneous


_SPEARMAN_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
lags AS (SELECT unnest(range(0, {SPEARMAN_MAX_LAG + 1})) AS lag),
joined AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
         a.x AS xa, b.x AS xb
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON a.bucket_start + l.lag * 86400 = b.bucket_start
  WHERE a.event_type < b.event_type
),
ranked AS (
  SELECT type_a, type_b, lag,
         rank() OVER (PARTITION BY type_a, type_b, lag ORDER BY xa)
         + (count(*) OVER (PARTITION BY type_a, type_b, lag, xa) - 1)
           / 2.0 AS ra,
         rank() OVER (PARTITION BY type_a, type_b, lag ORDER BY xb)
         + (count(*) OVER (PARTITION BY type_a, type_b, lag, xb) - 1)
           / 2.0 AS rb
  FROM joined
)
SELECT type_a, type_b, lag, count(*) AS n_days,
       round(corr(ra, rb) + {NUDGE}, 6) AS spearman_rho
FROM ranked GROUP BY 1, 2, 3
"""


@register("spearman_lead_lag", oracle=_SPEARMAN_ORACLE, tags=("prepared-r10",))
def spearman_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN LEAD-LAG SCREEN: rank correlation between every
    event-type pair's daily-mean series at lags 0..SPEARMAN_MAX_LAG
    (does A's series LEAD B's by L days?) — the monotone,
    outlier-robust alternative to Pearson cross-correlation, and the
    cheap first pass before any Granger-style causality claim.
    Midranks are computed INSIDE each (pair, lag) overlap window so
    the statistic is the exact Spearman rho of the aligned subset;
    Spearman rho IS Pearson's r on those midranks, computed by each
    engine's corr() on bit-identical rank values (daily means
    pre-rounded to 9 dp fix the tie structure), then rounded to 6 dp.

    Scale shape: the alignment is an EQUI-join on the shifted day key
    over the calendar-bounded daily aggregate; rank windows are
    partitioned per (pair, lag) — overlap-bounded partitions, never
    event-cardinality."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    lags = spark.range(SPEARMAN_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("bucket_start").alias("day_a"),
        F.col("x").alias("xa"),
    ).crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("bucket_start").alias("day_b"),
        F.col("x").alias("xb"),
    )
    joined = a.join(
        b, (F.col("day_a") + F.col("lag") * 86400) == F.col("day_b")
    ).where(F.col("type_a") < F.col("type_b"))
    w_ra = Window.partitionBy("type_a", "type_b", "lag").orderBy("xa")
    w_ta = Window.partitionBy("type_a", "type_b", "lag", "xa")
    w_rb = Window.partitionBy("type_a", "type_b", "lag").orderBy("xb")
    w_tb = Window.partitionBy("type_a", "type_b", "lag", "xb")
    ranked = joined.select(
        "type_a",
        "type_b",
        "lag",
        (
            F.rank().over(w_ra)
            + (F.count("*").over(w_ta) - 1) / F.lit(2.0)
        ).alias("ra"),
        (
            F.rank().over(w_rb)
            + (F.count("*").over(w_tb) - 1) / F.lit(2.0)
        ).alias("rb"),
    )
    return ranked.groupBy("type_a", "type_b", "lag").agg(
        F.count("*").alias("n_days"),
        rnd(F.corr("ra", "rb"), 6).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Dickey-Fuller unit-root proxy (no augmentation)
# --------------------------------------------------------------------------

ADF_CRIT = -2.86  #: DF tau critical value, constant-only model, n->inf, 5%


_ADF_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
lagged AS (
  SELECT event_type, x,
         lag(x) OVER (PARTITION BY event_type ORDER BY bucket_start) AS xl
  FROM daily
),
obs AS (
  SELECT event_type, xl AS xr, x - xl AS dy
  FROM lagged WHERE xl IS NOT NULL
),
g AS (
  SELECT event_type, count(*) AS n_obs,
         sum(xr) AS sx, sum(dy) AS sy, sum(xr * dy) AS sxy,
         sum(xr * xr) AS sxx, sum(dy * dy) AS syy
  FROM obs GROUP BY 1
),
fit AS (
  SELECT event_type, n_obs, sx, sy, sxy, sxx, syy,
         (n_obs * sxy - sx * sy) / (n_obs * sxx - sx * sx) AS beta
  FROM g
),
fit2 AS (
  SELECT *, (sy - beta * sx) / n_obs AS alpha,
         sxx - sx * sx / n_obs AS sxx_c
  FROM fit
),
fit3 AS (
  SELECT *,
         round(beta / sqrt((syy - alpha * sy - beta * sxy)
                           / (n_obs - 2) / sxx_c) + {NUDGE}, 4) AS tau_r
  FROM fit2
)
SELECT event_type, n_obs,
       round(beta + {NUDGE}, 6) AS beta,
       round(beta + 1.0 + {NUDGE}, 6) AS rho,
       tau_r AS tau_stat,
       tau_r > {ADF_CRIT} AS unit_root_plausible
FROM fit3
"""


@register("adf_unit_root_proxy", oracle=_ADF_ORACLE, tags=("prepared-r10",))
def adf_unit_root_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICKEY-FULLER UNIT-ROOT PROXY per event type: regress the daily
    first difference on the lagged level (dx_t = a + b*x_{t-1}), report
    b, the implied AR root rho = 1 + b, and the tau statistic b/se(b)
    against the constant-only DF critical value — the stationarity
    check that should precede every AR-flavored operator in the cohort
    (ACF/PACF, Holt, SARIMAX all assume the series is not a random
    walk). Flag reads the ROUNDED tau. No augmentation terms: this is
    the DF(0) proxy, stated as such.

    Scale shape: one lag window per type over the calendar-bounded
    daily aggregate, then ONE combinable aggregate carrying the five
    OLS sufficient sums — everything after is per-type algebra."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x").over(w).alias("xl"),
    ).where(F.col("xl").isNotNull())
    obs = lagged.select(
        "event_type",
        F.col("xl").alias("xr"),
        (F.col("x") - F.col("xl")).alias("dy"),
    )
    g = obs.groupBy("event_type").agg(
        F.count("*").alias("n_obs"),
        F.sum("xr").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("xr") * F.col("dy")).alias("sxy"),
        F.sum(F.col("xr") * F.col("xr")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n = F.col("n_obs").cast("double")
    beta = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    alpha = (F.col("sy") - beta * F.col("sx")) / n
    sse = (
        F.col("syy")
        - alpha * F.col("sy")
        - beta * F.col("sxy")
    )
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / n
    se_b = F.sqrt(sse / (n - 2) / sxx_c)
    tau_r = rnd(beta / se_b, 4)
    return g.select(
        "event_type",
        "n_obs",
        rnd(beta, 6).alias("beta"),
        rnd(beta + 1.0, 6).alias("rho"),
        tau_r.alias("tau_stat"),
        (tau_r > ADF_CRIT).alias("unit_root_plausible"),
    )


# --------------------------------------------------------------------------
# seasonal / trend strength decomposition profile
# --------------------------------------------------------------------------

_SEASONAL_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
dated AS (
  SELECT event_type, bucket_start, x,
         (bucket_start // 86400 + 4) % 7 AS dow,
         bucket_start / 86400.0 AS t
  FROM daily
),
dowm AS (
  SELECT event_type, dow, avg(x) AS dow_mean
  FROM dated GROUP BY 1, 2
),
seas AS (
  SELECT d.event_type, d.x - m.dow_mean AS resid_s, d.x, d.t
  FROM dated d JOIN dowm m
    ON d.event_type = m.event_type AND d.dow = m.dow
),
g AS (
  SELECT event_type, count(*) AS n_days,
         sum(x) AS sx, sum(x * x) AS sxx,
         sum(t) AS st, sum(t * t) AS stt, sum(t * x) AS stx,
         sum(resid_s * resid_s) AS ssr_s
  FROM seas GROUP BY 1
),
fit AS (
  SELECT *,
         sxx - sx * sx / n_days AS var_x,
         (n_obs_d * stx - st * sx) / (n_obs_d * stt - st * st) AS beta,
         stt - st * st / n_days AS stt_c
  FROM (SELECT *, CAST(n_days AS DOUBLE) AS n_obs_d FROM g)
)
SELECT event_type, n_days,
       round(var_x / (n_days - 1) + {NUDGE}, 6) AS var_daily,
       round(greatest(0.0, 1 - ssr_s / var_x) + {NUDGE}, 6)
         AS seasonal_strength,
       round(greatest(0.0, 1 - (var_x - beta * beta * stt_c) / var_x)
             + {NUDGE}, 6) AS trend_strength,
       round(beta + {NUDGE}, 6) AS trend_slope_per_day
FROM fit
"""


@register(
    "seasonal_strength_profile",
    oracle=_SEASONAL_ORACLE,
    tags=("prepared-r10",),
)
def seasonal_strength_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL AND TREND STRENGTH per event type, STL-style but
    closed-form: the daily-mean series is decomposed against (a) the
    additive day-of-week model (seasonal strength = 1 -
    Var(x - dow_mean)/Var(x)) and (b) the OLS linear trend (trend
    strength = 1 - Var(ols resid)/Var(x)), both clamped at 0 — the
    two numbers Hyndman's feature taxonomy puts first when routing
    series to forecasting models (`holt_winters_seasonal` ASSUMES
    weekly seasonality; this measures whether that assumption holds,
    per series). Strengths are computed from sufficient statistics
    only.

    Scale shape: calendar-bounded daily aggregate; the dow model is a
    broadcast 7-row join; the trend model is the 5-sum OLS; ONE
    combinable pass each. No windows at all."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    daily = daily.select(
        "event_type",
        "bucket_start",
        "x",
        ((F.col("bucket_start") / 86400 + 4) % 7).cast("long").alias("dow"),
        (F.col("bucket_start") / F.lit(86400.0)).alias("t"),
    )
    dowm = daily.groupBy("event_type", "dow").agg(
        F.avg("x").alias("dow_mean")
    )
    seas = daily.join(F.broadcast(dowm), ["event_type", "dow"]).select(
        "event_type",
        (F.col("x") - F.col("dow_mean")).alias("resid_s"),
        "x",
        "t",
    )
    g = seas.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("x")).alias("stx"),
        F.sum(F.col("resid_s") * F.col("resid_s")).alias("ssr_s"),
    )
    n = F.col("n_days").cast("double")
    var_x = F.col("sxx") - F.col("sx") * F.col("sx") / n
    beta = (n * F.col("stx") - F.col("st") * F.col("sx")) / (
        n * F.col("stt") - F.col("st") * F.col("st")
    )
    # SSE of the linear fit: S_xx,centred - beta^2 * S_tt,centred
    stt_c = F.col("stt") - F.col("st") * F.col("st") / n
    ssr_t = var_x - beta * beta * stt_c
    return g.select(
        "event_type",
        "n_days",
        rnd(var_x / (n - 1), 6).alias("var_daily"),
        rnd(F.greatest(F.lit(0.0), 1 - F.col("ssr_s") / var_x), 6).alias(
            "seasonal_strength"
        ),
        rnd(F.greatest(F.lit(0.0), 1 - ssr_t / var_x), 6).alias(
            "trend_strength"
        ),
        rnd(beta, 6).alias("trend_slope_per_day"),
    )


# --------------------------------------------------------------------------
# Ljung-Box portmanteau whiteness test
# --------------------------------------------------------------------------

LB_LAGS = 4  #: autocorrelation lags pooled into Q
LB_CRIT = 9.488  #: chi-square 5% critical value at df = LB_LAGS


def _lb_oracle() -> str:
    nums = ",\n         ".join(
        f"sum((x - xbar) * (xl{k} - xbar)) AS num{k}"
        for k in range(1, LB_LAGS + 1)
    )
    lags = ",\n         ".join(
        f"lag(d.x, {k}) OVER (PARTITION BY d.event_type"
        f" ORDER BY d.bucket_start) AS xl{k}"
        for k in range(1, LB_LAGS + 1)
    )
    rdefs = ",\n         ".join(
        f"round(num{k} / sxx + {NUDGE}, 9) AS r{k}"
        for k in range(1, LB_LAGS + 1)
    )
    qsum = " + ".join(
        f"r{k} * r{k} / (CAST(n_days AS DOUBLE) - {k})"
        for k in range(1, LB_LAGS + 1)
    )
    rcols = ", ".join(
        f"round(r{k} + {NUDGE}, 6) AS r{k}" for k in range(1, LB_LAGS + 1)
    )
    return f"""
WITH {TYPE_DAILY_CTE},
means AS (
  SELECT event_type, avg(x) AS xbar, count(*) AS n_days
  FROM daily GROUP BY 1
),
lagged AS (
  SELECT d.event_type, d.x, m.xbar, m.n_days,
         {lags}
  FROM daily d JOIN means m ON d.event_type = m.event_type
),
agg AS (
  SELECT event_type, max(n_days) AS n_days,
         sum((x - xbar) * (x - xbar)) AS sxx,
         {nums}
  FROM lagged GROUP BY 1
),
rvals AS (
  SELECT event_type, n_days,
         {rdefs}
  FROM agg
),
qcalc AS (
  SELECT *,
         round(CAST(n_days AS DOUBLE) * (n_days + 2) * ({qsum})
               + {NUDGE}, 4) AS q_r
  FROM rvals
)
SELECT event_type, n_days, {rcols},
       q_r AS q_stat,
       CAST({LB_LAGS} AS BIGINT) AS df,
       q_r > {LB_CRIT} AS whiteness_rejected
FROM qcalc
"""


@register("ljung_box_test", oracle=_lb_oracle(), tags=("prepared-r10",))
def ljung_box_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU TEST per event type: pools the first
    LB_LAGS sample autocorrelations of the daily-mean series into
    Q = n(n+2) * sum_k r_k^2/(n-k) and compares against the chi-square
    critical value — the residual-whiteness diagnostic every ARIMA
    text runs after a fit (the reference hardcodes SARIMAX orders;
    `pacf_durbin_levinson` picks orders, Ljung-Box CHECKS the result).
    Sample ACF uses the classical single-series estimator — global
    mean and global denominator, lag-k cross products — not corr() of
    aligned pairs, so r_k here is exactly the textbook r_k. Each r_k
    is rounded to 9 dp before Q (the ACF discipline).

    Scale shape: calendar-bounded daily aggregate; ONE broadcast mean
    join; LB_LAGS lag columns from one per-type window pass; one
    combinable aggregate of the lagged products."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    means = daily.groupBy("event_type").agg(
        F.avg("x").alias("xbar"), F.count("*").alias("n_days")
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    lagged = daily.select(
        "event_type",
        "x",
        *[F.lag("x", k).over(w).alias(f"xl{k}") for k in range(1, LB_LAGS + 1)],
    ).join(F.broadcast(means), "event_type")
    c = F.col("x") - F.col("xbar")
    agg = lagged.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        F.sum(c * c).alias("sxx"),
        *[
            F.sum(c * (F.col(f"xl{k}") - F.col("xbar"))).alias(f"num{k}")
            for k in range(1, LB_LAGS + 1)
        ],
    )
    rs = [
        F.round(F.col(f"num{k}") / F.col("sxx") + F.lit(NUDGE), 9)
        for k in range(1, LB_LAGS + 1)
    ]
    n = F.col("n_days").cast("double")
    q = (
        n
        * (n + 2)
        * sum(
            (rk * rk) / (n - k) for k, rk in enumerate(rs, start=1)
        )
    )
    q_r = rnd(q, 4)
    return agg.select(
        "event_type",
        "n_days",
        *[rnd(rk, 6).alias(f"r{k}") for k, rk in enumerate(rs, start=1)],
        q_r.alias("q_stat"),
        F.lit(LB_LAGS).cast("long").alias("df"),
        (q_r > LB_CRIT).alias("whiteness_rejected"),
    )


# --------------------------------------------------------------------------
# Granger-causality proxy (1-lag bivariate F test)
# --------------------------------------------------------------------------

GRANGER_CRIT = 3.8415  #: F(1, inf) 5% critical value


_GRANGER_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
lagged AS (
  SELECT event_type, bucket_start, x,
         lag(x) OVER (PARTITION BY event_type ORDER BY bucket_start) AS xl,
         bucket_start - lag(bucket_start) OVER (PARTITION BY event_type
                                          ORDER BY bucket_start) AS gap
  FROM daily
),
clean AS (
  SELECT * FROM lagged WHERE xl IS NOT NULL AND gap = 86400
),
j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         b.x AS y, b.xl AS bl, a.xl AS al
  FROM clean b JOIN clean a ON b.bucket_start = a.bucket_start
  WHERE a.event_type <> b.event_type
),
g AS (
  SELECT type_a, type_b, count(*) AS n_obs,
         sum(y) AS sy, sum(bl) AS s1, sum(al) AS s2,
         sum(y * y) AS syy, sum(bl * bl) AS s11, sum(al * al) AS s22,
         sum(bl * al) AS s12, sum(bl * y) AS s1y, sum(al * y) AS s2y
  FROM j GROUP BY 1, 2
),
c AS (
  SELECT type_a, type_b, n_obs,
         syy - sy * sy / n_obs AS cyy,
         s11 - s1 * s1 / n_obs AS c11,
         s22 - s2 * s2 / n_obs AS c22,
         s12 - s1 * s2 / n_obs AS c12,
         s1y - s1 * sy / n_obs AS c1y,
         s2y - s2 * sy / n_obs AS c2y
  FROM g
),
fit AS (
  SELECT type_a, type_b, n_obs, c1y, c2y, cyy, c11,
         (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
         (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
  FROM c
),
fstat AS (
  SELECT type_a, type_b, n_obs, b2,
         round(((cyy - (c1y / c11) * c1y) - (cyy - b1 * c1y - b2 * c2y))
               / ((cyy - b1 * c1y - b2 * c2y) / (n_obs - 3))
               + {NUDGE}, 4) AS f_r
  FROM fit
)
SELECT type_a, type_b, n_obs,
       round(b2 + {NUDGE}, 6) AS cross_lag_coef,
       f_r AS f_stat,
       f_r > {GRANGER_CRIT} AS granger_causal
FROM fstat
"""


@register(
    "granger_causality_proxy",
    oracle=_GRANGER_ORACLE,
    tags=("prepared-r10",),
)
def granger_causality_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRANGER-CAUSALITY PROXY for every ORDERED event-type pair
    (a -> b): does adding a's lag-1 daily mean to b's own lag-1
    autoregression reduce SSE significantly? F = (SSE_r - SSE_u) /
    (SSE_u / (n-3)) with the restricted and unrestricted OLS fits both
    solved in CLOSED FORM from centred sufficient sums (2x2 normal
    equations — no iteration, no matrix library). The flag reads the
    ROUNDED F against the F(1, inf) critical value. One lag only, and
    named a PROXY: real Granger tests sweep lag order; this is the
    screening form, stated as such (`spearman_lead_lag` screens the
    monotone analogue).

    Scale shape: the per-type daily+lag table self-equi-joins ON DAY
    (k^2 rows per day, calendar x k^2 bounded), then ONE combinable
    aggregate of the ten OLS sums per ordered pair — algebra after."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    lagged = daily.select(
        "event_type",
        "bucket_start",
        "x",
        F.lag("x").over(w).alias("xl"),
        (F.col("bucket_start") - F.lag("bucket_start").over(w)).alias("gap"),
    ).where(F.col("xl").isNotNull() & (F.col("gap") == 86400))
    b = lagged.select(
        F.col("event_type").alias("type_b"),
        "bucket_start",
        F.col("x").alias("y"),
        F.col("xl").alias("bl"),
    )
    a = lagged.select(
        F.col("event_type").alias("type_a"),
        "bucket_start",
        F.col("xl").alias("al"),
    )
    j = b.join(a, "bucket_start").where(F.col("type_a") != F.col("type_b"))
    g = j.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n_obs"),
        F.sum("y").alias("sy"),
        F.sum("bl").alias("s1"),
        F.sum("al").alias("s2"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("bl") * F.col("bl")).alias("s11"),
        F.sum(F.col("al") * F.col("al")).alias("s22"),
        F.sum(F.col("bl") * F.col("al")).alias("s12"),
        F.sum(F.col("bl") * F.col("y")).alias("s1y"),
        F.sum(F.col("al") * F.col("y")).alias("s2y"),
    )
    n = F.col("n_obs").cast("double")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    sse_u = cyy - b1 * c1y - b2 * c2y
    sse_r = cyy - (c1y / c11) * c1y
    f_stat = (sse_r - sse_u) / (sse_u / (n - 3))
    f_r = rnd(f_stat, 4)
    return g.select(
        "type_a",
        "type_b",
        "n_obs",
        rnd(b2, 6).alias("cross_lag_coef"),
        f_r.alias("f_stat"),
        (f_r > GRANGER_CRIT).alias("granger_causal"),
    )
