"""Drift, changepoint and control-chart monitors.

Distribution drift between the two halves of the fixture month
(Kolmogorov-Smirnov, Wasserstein-1), the best single changepoint, the
Western Electric and EWMA control-chart rules, the Page-Hinkley
sequential detector, a three-screen outlier ensemble and SLO error-budget
burn rates. ``cusum_drift`` and ``psi_value_drift`` sit with the other
time-series operators in ``operators/timeseries.py``; the live forms of
the KS and Page-Hinkley monitors are ``streaming/driftmon.py`` and
``streaming/pagehinkley.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.operators.stats import (
    DAY_S,
    HOUR_S,
    SPLIT_EPOCH_S,
    TYPE_DAILY_CTE,
    TYPE_HOURLY_CTE,
    mean_series,
)
from flink_cookbook_spark.registry import NUDGE, register, rnd


# --------------------------------------------------------------------------
# best-split changepoint per event type (binary segmentation, 1 split)
# --------------------------------------------------------------------------

_CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
pre AS (
  SELECT event_type, day,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS k,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
         count(*) OVER (PARTITION BY event_type) AS n_days,
         sum(cnt) OVER (PARTITION BY event_type) AS tot
  FROM daily
),
cand AS (
  SELECT event_type, day, k, n_days,
         cum_s * 1.0 / k AS m1,
         (tot - cum_s) * 1.0 / (n_days - k) AS m2,
         k * (n_days - k) / CAST(n_days AS DOUBLE)
           * (cum_s * 1.0 / k - (tot - cum_s) * 1.0 / (n_days - k))
           * (cum_s * 1.0 / k - (tot - cum_s) * 1.0 / (n_days - k)) AS gain
  FROM pre WHERE k < n_days
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY gain DESC, day ASC) AS rk
  FROM cand
)
SELECT event_type, day AS split_day, k AS n_days_before,
       CAST(n_days - k AS BIGINT) AS n_days_after,
       round(m1 + 1e-6, 4) AS mean_before,
       round(m2 + 1e-6, 4) AS mean_after,
       round(gain + 1e-6, 4) AS sse_reduction
FROM best WHERE rk = 1
"""


@register(
    "best_split_changepoint",
    oracle=_CHANGEPOINT_ORACLE,
    tags=("prepared-r8",),
)
def best_split_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split changepoint detection over each event type's daily
    count series: the split day maximizing the between-segment variance
    reduction n₁n₂/(n₁+n₂)·(μ₁−μ₂)² — the offline answer CUSUM
    (``cusum_drift``) approximates online, and the first step of binary
    segmentation.  Prefix sums via one per-type ordered window over the
    DAILY series (calendar-bounded rows), argmax via row_number.  Every
    candidate's gain derives from exact integer sums, so cross-engine
    float equality holds bit-for-bit and the argmax is deterministic
    with the (gain DESC, day ASC) tie-break."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).alias("day")
    daily = ev.groupBy("event_type", day).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    wt = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type", "day",
        F.row_number().over(w).cast("long").alias("k"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum_s"),
        F.count("*").over(wt).alias("n_days"),
        F.sum("cnt").over(wt).alias("tot"),
    )
    cand = pre.where(F.col("k") < F.col("n_days"))
    m1 = F.col("cum_s") / F.col("k")
    m2 = (F.col("tot") - F.col("cum_s")) / (F.col("n_days") - F.col("k"))
    gain = (
        F.col("k")
        * (F.col("n_days") - F.col("k"))
        / F.col("n_days").cast("double")
        * (m1 - m2)
        * (m1 - m2)
    )
    scored = cand.select(
        "event_type", "day", "k", "n_days",
        m1.alias("m1"), m2.alias("m2"), gain.alias("gain"),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.col("gain").desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_best))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            F.col("k").alias("n_days_before"),
            (F.col("n_days") - F.col("k")).alias("n_days_after"),
            rnd("m1", 4).alias("mean_before"),
            rnd("m2", 4).alias("mean_after"),
            rnd("gain", 4).alias("sse_reduction"),
        )
    )


# --------------------------------------------------------------------------
# anomaly-detector ensemble consensus
# --------------------------------------------------------------------------

_ENSEMBLE_ORACLE = """
WITH stats AS (
  SELECT event_type,
         avg(value) AS mu,
         stddev_pop(value) AS sigma,
         quantile_disc(value, 0.5) AS med,
         quantile_disc(value, 0.25) AS q1,
         quantile_disc(value, 0.75) AS q3
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, s.mu, s.sigma, s.med, s.q1, s.q3,
         abs(e.value - s.med) AS absdev
  FROM events e JOIN stats s USING (event_type)
),
madt AS (
  SELECT event_type, quantile_disc(absdev, 0.5) AS mad
  FROM dev GROUP BY event_type
),
flags AS (
  SELECT d.event_type,
         CASE WHEN abs(d.value - d.mu) > 3.0 * d.sigma THEN 1 ELSE 0 END AS fz,
         CASE WHEN abs(d.value - d.med) > 3.5 * 1.4826 * m.mad
              THEN 1 ELSE 0 END AS fm,
         CASE WHEN d.value < d.q1 - 1.5 * (d.q3 - d.q1)
                OR d.value > d.q3 + 1.5 * (d.q3 - d.q1)
              THEN 1 ELSE 0 END AS fi
  FROM dev d JOIN madt m USING (event_type)
)
SELECT event_type, count(*) AS n,
       CAST(sum(fz) AS BIGINT) AS n_flag_z,
       CAST(sum(fm) AS BIGINT) AS n_flag_mad,
       CAST(sum(fi) AS BIGINT) AS n_flag_iqr,
       CAST(sum(CASE WHEN fz + fm + fi >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_consensus2,
       CAST(sum(CASE WHEN fz + fm + fi = 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_consensus3
FROM flags GROUP BY event_type
"""


@register(
    "anomaly_ensemble_consensus",
    oracle=_ENSEMBLE_ORACLE,
    tags=("prepared-r8",),
)
def anomaly_ensemble_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three robust outlier screens voting per event type — z-score
    (mean ± 3σ), MAD (median ± 3.5·1.4826·MAD), and Tukey IQR fences
    (q1 − 1.5·IQR, q3 + 1.5·IQR) — with flag counts per method and the
    2-of-3 / 3-of-3 consensus that a production alerting rule actually
    pages on (single-method flags are noise candidates by definition).
    All location statistics are DISCRETE percentiles (stored values —
    identical doubles on both engines; interpolation would reopen the
    ulp trap).  Three stacked aggregates with 1-row-per-type broadcast
    joins; nothing scales beyond the raw scan."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    ev.createOrReplaceTempView("_fcs_ens_events")
    stats = spark.sql(
        """
        SELECT event_type,
               avg(value) AS mu,
               stddev_pop(value) AS sigma,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS q1,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY value) AS q3
        FROM _fcs_ens_events GROUP BY event_type
        """
    )
    with_stats = ev.join(F.broadcast(stats), "event_type")
    # MAD needs |v - med| materialized before its own percentile pass
    dev = with_stats.select(
        "event_type", "value", "mu", "sigma", "med", "q1", "q3",
        F.abs(F.col("value") - F.col("med")).alias("absdev"),
    )
    dev.createOrReplaceTempView("_fcs_ens_dev")
    madt = spark.sql(
        """
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY absdev) AS mad
        FROM _fcs_ens_dev GROUP BY event_type
        """
    )
    full = dev.join(F.broadcast(madt), "event_type")
    fz = F.abs(F.col("value") - F.col("mu")) > 3.0 * F.col("sigma")
    fm = F.abs(F.col("value") - F.col("med")) > 3.5 * 1.4826 * F.col("mad")
    iqr = F.col("q3") - F.col("q1")
    fi = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    votes = fz.cast("int") + fm.cast("int") + fi.cast("int")
    return full.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(fz.cast("long")).alias("n_flag_z"),
        F.sum(fm.cast("long")).alias("n_flag_mad"),
        F.sum(fi.cast("long")).alias("n_flag_iqr"),
        F.sum((votes >= 2).cast("long")).alias("n_consensus2"),
        F.sum((votes == 3).cast("long")).alias("n_consensus3"),
    )


# --------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov drift test (binned ECDF)
# --------------------------------------------------------------------------

#: KS critical-value coefficient at alpha = 0.05 (two-sided).
KS_C_ALPHA_95 = 1.358


_KS_ORACLE = f"""
WITH binned AS (
  SELECT event_type,
         CAST(floor(value) AS BIGINT) AS bin,
         CAST(sum(CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN epoch(ts) >= {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
  FROM events GROUP BY 1, 2
),
cdf AS (
  SELECT event_type,
         CAST(sum(n_a) OVER (PARTITION BY event_type ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / sum(n_a) OVER (PARTITION BY event_type) AS cdf_a,
         CAST(sum(n_b) OVER (PARTITION BY event_type ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / sum(n_b) OVER (PARTITION BY event_type) AS cdf_b,
         CAST(sum(n_a) OVER (PARTITION BY event_type) AS BIGINT) AS tot_a,
         CAST(sum(n_b) OVER (PARTITION BY event_type) AS BIGINT) AS tot_b
  FROM binned
),
agg AS (
  SELECT event_type, max(tot_a) AS n_a, max(tot_b) AS n_b,
         max(abs(cdf_a - cdf_b)) AS d_raw
  FROM cdf GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       round(d_raw + 1e-6, 6) AS ks_d,
       round({KS_C_ALPHA_95} * sqrt((n_a + n_b) / (CAST(n_a AS DOUBLE) * n_b))
             + 1e-6, 6) AS ks_crit_95,
       d_raw > {KS_C_ALPHA_95} * sqrt((n_a + n_b) / (CAST(n_a AS DOUBLE) * n_b))
         AS drifted
FROM agg
"""


@register("ks_test_drift", oracle=_KS_ORACLE, tags=("prepared-r8",))
def ks_test_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV drift test per event type: D =
    max |ECDF_first_half(v) - ECDF_second_half(v)| of the metric
    distribution, with the alpha=0.05 critical value
    ``c(a) * sqrt((n1+n2)/(n1*n2))`` and a drift verdict. The
    distribution-shape complement to the engine's PSI (binned mass
    shift) and KL (per-source mix) drift monitors — KS is what a
    platform reaches for when the metric is continuous and the
    question is "did the whole CDF move?".

    Scale shape: values are binned to unit width FIRST (floor(value)),
    so the per-key ECDF window runs over the bounded bin vocabulary
    (~500 bins), never over raw rows — the standard binned-KS design
    that keeps the sort state constant while the corpus grows 1000x.
    One combinable hash agg + one bounded per-key window.
    """
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    binned = ev.groupBy(
        F.col("event_type"),
        F.floor("value").cast("long").alias("bin"),
    ).agg(
        F.sum((sec < SPLIT_EPOCH_S).cast("long")).alias("n_a"),
        F.sum((sec >= SPLIT_EPOCH_S).cast("long")).alias("n_b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("event_type")
    cdf = binned.select(
        "event_type",
        (F.sum("n_a").over(w) / F.sum("n_a").over(tot)).alias("cdf_a"),
        (F.sum("n_b").over(w) / F.sum("n_b").over(tot)).alias("cdf_b"),
        F.sum("n_a").over(tot).alias("tot_a"),
        F.sum("n_b").over(tot).alias("tot_b"),
    )
    crit = KS_C_ALPHA_95 * F.sqrt(
        (F.col("n_a") + F.col("n_b")) / (F.col("n_a") * F.col("n_b"))
    )
    return (
        cdf.groupBy("event_type")
        .agg(
            F.max("tot_a").alias("n_a"),
            F.max("tot_b").alias("n_b"),
            F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))).alias("d_raw"),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            rnd("d_raw", 6).alias("ks_d"),
            rnd(crit, 6).alias("ks_crit_95"),
            (F.col("d_raw") > crit).alias("drifted"),
        )
    )


# --------------------------------------------------------------------------
# Wasserstein-1 (earth-mover) drift distance
# --------------------------------------------------------------------------

_W1_ORACLE = f"""
WITH binned AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
         CAST(sum(CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN epoch(ts) >= {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
  FROM events GROUP BY 1, 2
),
cdf AS (
  SELECT event_type,
         CAST(sum(n_a) OVER (PARTITION BY event_type ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / sum(n_a) OVER (PARTITION BY event_type) AS cdf_a,
         CAST(sum(n_b) OVER (PARTITION BY event_type ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / sum(n_b) OVER (PARTITION BY event_type) AS cdf_b,
         CAST(sum(n_a) OVER (PARTITION BY event_type) AS BIGINT) AS tot_a,
         CAST(sum(n_b) OVER (PARTITION BY event_type) AS BIGINT) AS tot_b
  FROM binned
)
SELECT event_type, max(tot_a) AS n_a, max(tot_b) AS n_b,
       round(sum(abs(cdf_a - cdf_b)) + 1e-6, 4) AS wasserstein_1
FROM cdf GROUP BY event_type
"""


@register("wasserstein_drift", oracle=_W1_ORACLE, tags=("prepared-r8",))
def wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WASSERSTEIN-1 DRIFT per event type between the month's halves:
    the earth-mover distance computed as the integral of |ECDF_a -
    ECDF_b| over the binned value axis (unit-width bins, so the sum of
    per-bin CDF gaps IS the integral). Completes the drift battery:
    PSI weighs binned mass shifts, KS takes the single worst CDF gap,
    W1 integrates the gap — so a small-but-everywhere shift that KS
    underrates and a far-but-tiny mass move that PSI underrates both
    register, in the metric's own units.

    Scale shape: identical to ``ks_test_drift`` — one combinable hash
    agg to unit bins, one bounded per-key window, one final agg. The
    bin width (1.0) multiplies each gap, so the result converges to
    the true W1 as finely as the binning allows."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    binned = ev.groupBy(
        F.col("event_type"),
        F.floor("value").cast("long").alias("bin"),
    ).agg(
        F.sum((sec < SPLIT_EPOCH_S).cast("long")).alias("n_a"),
        F.sum((sec >= SPLIT_EPOCH_S).cast("long")).alias("n_b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("event_type")
    cdf = binned.select(
        "event_type",
        (F.sum("n_a").over(w) / F.sum("n_a").over(tot)).alias("cdf_a"),
        (F.sum("n_b").over(w) / F.sum("n_b").over(tot)).alias("cdf_b"),
        F.sum("n_a").over(tot).alias("tot_a"),
        F.sum("n_b").over(tot).alias("tot_b"),
    )
    return cdf.groupBy("event_type").agg(
        F.max("tot_a").alias("n_a"),
        F.max("tot_b").alias("n_b"),
        rnd(
            F.sum(F.abs(F.col("cdf_a") - F.col("cdf_b"))), 4
        ).alias("wasserstein_1"),
    )


# --------------------------------------------------------------------------
# SLO error-budget burn rate
# --------------------------------------------------------------------------

#: latency SLO: this share of signup->purchase conversions must land
#: within the threshold.
SLO_TARGET = 0.95
SLO_LATENCY_S = 86400.0


_SLO_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN epoch(ts) END) AS t_signup
  FROM events GROUP BY user_id
),
conv AS (
  SELECT p.user_id, min(u.t_signup) AS t_signup, min(epoch(p.ts)) AS t_conv
  FROM events p JOIN per_user u ON p.user_id = u.user_id
  WHERE p.event_type = 'purchase' AND epoch(p.ts) >= u.t_signup
  GROUP BY p.user_id
),
daily AS (
  SELECT CAST(floor(t_signup / 86400) AS BIGINT) AS signup_day,
         count(*) AS n_converted,
         CAST(sum(CASE WHEN t_conv - t_signup <= {SLO_LATENCY_S}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_within_slo
  FROM conv GROUP BY 1
)
SELECT signup_day, n_converted, n_within_slo,
       round(n_within_slo / CAST(n_converted AS DOUBLE) + 1e-6, 6)
         AS within_slo_share,
       round((1.0 - n_within_slo / CAST(n_converted AS DOUBLE))
             / {1.0 - SLO_TARGET!r} + 1e-6, 4) AS burn_rate,
       (1.0 - n_within_slo / CAST(n_converted AS DOUBLE))
         / {1.0 - SLO_TARGET!r} > 1.0 AS budget_alarm
FROM daily
"""


@register("slo_burn_rate", oracle=_SLO_ORACLE, tags=("prepared-r8",))
def slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO ERROR-BUDGET BURN RATE per day: of the users who signed up
    that day and eventually purchased, the share converting within
    ``SLO_LATENCY_S``; burn = (1 - share) / (1 - ``SLO_TARGET``) — the
    SRE bookkeeping where burn 1.0 spends the budget exactly on
    schedule, > 1 means paging territory. The operator form of the
    question ``funnel_time_to_convert`` describes distributionally.

    Scale shape: two keyed aggregates (first signup, first subsequent
    purchase via conditional min over one pass), one day-grain agg;
    no joins beyond the per-user reduce."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", sec)
        ).alias("t_signup")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("t_p")
    )
    conv = (
        purch.join(per_user, "user_id")
        .where(F.col("t_p") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(
            F.min("t_signup").alias("t_signup"),
            F.min("t_p").alias("t_conv"),
        )
    )
    day = F.floor(F.col("t_signup") / 86400).cast("long")
    lat = F.col("t_conv") - F.col("t_signup")
    daily = conv.groupBy(day.alias("signup_day")).agg(
        F.count("*").alias("n_converted"),
        F.sum((lat <= SLO_LATENCY_S).cast("long")).alias("n_within_slo"),
    )
    share = F.col("n_within_slo") / F.col("n_converted").cast("double")
    burn = (1.0 - share) / (1.0 - SLO_TARGET)
    return daily.select(
        "signup_day",
        "n_converted",
        "n_within_slo",
        rnd(share, 6).alias("within_slo_share"),
        rnd(burn, 4).alias("burn_rate"),
        (burn > 1.0).alias("budget_alarm"),
    )


# --------------------------------------------------------------------------
# Western Electric control-chart rules
# --------------------------------------------------------------------------

_WE_ORACLE = f"""
WITH {TYPE_HOURLY_CTE},
center AS (
  SELECT event_type, avg(v) AS cl, stddev_samp(v) AS sig
  FROM hourly GROUP BY event_type
),
flagged AS (
  SELECT j.event_type, j.bucket_start,
         CASE WHEN abs(j.v - c.cl) > 3.0 * c.sig THEN 1 ELSE 0 END AS r1,
         CASE WHEN abs(sum(CASE WHEN j.v > c.cl THEN 1 ELSE -1 END)
                        OVER (PARTITION BY j.event_type ORDER BY j.bucket_start
                              ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) = 9
                   AND count(*) OVER (PARTITION BY j.event_type
                                      ORDER BY j.bucket_start
                              ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) = 9
              THEN 1 ELSE 0 END AS r4
  FROM hourly j JOIN center c ON j.event_type = c.event_type
)
SELECT event_type, count(*) AS n_hours,
       CAST(sum(r1) AS BIGINT) AS rule1_beyond_3sigma,
       CAST(sum(r4) AS BIGINT) AS rule4_nine_one_side,
       round(1.0 - sum(CAST(greatest(r1, r4) AS DOUBLE)) / count(*)
             + 1e-6, 6) AS in_control_share
FROM flagged GROUP BY event_type
"""


@register("western_electric_rules", oracle=_WE_ORACLE, tags=("prepared-r8",))
def western_electric_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WESTERN ELECTRIC CONTROL-CHART RULES per event type over the
    hourly mean series: rule 1 (a point beyond 3 sigma of the key's
    center line) and rule 4 (nine consecutive points on the same side
    of center) — the classical SPC discipline the reference's
    z-score alerting descends from, with the run-based rule catching
    small sustained shifts 3-sigma alone misses. Reports per key the
    violation counts and the share of in-control hours.

    Scale shape: center/sigma are one per-key aggregate joined back
    (bounded); the consecutive-run rule is one keyed ordered window
    (9-row frame sum); the summary is a per-key reduce."""
    hourly = mean_series(spark, sf_dir, "event_type", HOUR_S)
    center = hourly.groupBy("event_type").agg(
        F.avg("v").alias("cl"), F.stddev_samp("v").alias("sig")
    )
    j = hourly.join(center, "event_type")
    side = F.when(F.col("v") > F.col("cl"), 1).otherwise(-1)
    w9 = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(-8, 0)
    )
    flagged = j.select(
        "event_type",
        "bucket_start",
        (F.abs(F.col("v") - F.col("cl")) > 3.0 * F.col("sig")).cast(
            "int"
        ).alias("r1"),
        (
            (F.abs(F.sum(side).over(w9)) == 9)
            & (F.count("*").over(w9) == 9)
        ).cast("int").alias("r4"),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("r1").cast("long").alias("rule1_beyond_3sigma"),
        F.sum("r4").cast("long").alias("rule4_nine_one_side"),
        rnd(
            1.0
            - F.sum(
                F.greatest(F.col("r1"), F.col("r4")).cast("double")
            )
            / F.count("*"),
            6,
        ).alias("in_control_share"),
    )


# --------------------------------------------------------------------------
# EWMA control chart with time-varying limits
# --------------------------------------------------------------------------

EWMA_LAMBDA = 0.2  #: smoothing weight
EWMA_L = 3.0  #: control-limit width in sigma units
#: truncation horizon: weight beyond W days is (1-lambda)^W ~ 1.5e-6 of
#: a day's mean — the truncated chart IS the exact recursion whenever
#: the series is shorter than W (true at every fixture SF), and a
#: bounded-memory, bounded-fan-in operator at any corpus age.
EWMA_W = 60

#: weights embedded as PYTHON-FLOAT LITERALS on both engines: pow(0.8,j)
#: evaluated by two different libms can differ in the last ulp, a
#: repr'd literal cannot (the decile-boundary lesson applied to
#: exponential weights).
_EWMA_DECAY = [(1.0 - EWMA_LAMBDA) ** j for j in range(EWMA_W + 1)]


def _ewma_oracle() -> str:
    lam = EWMA_LAMBDA
    terms = []
    for j in range(EWMA_W):
        lag = "v" if j == 0 else f"lag(v, {j}) OVER w"
        terms.append(
            f"COALESCE({lam * _EWMA_DECAY[j]!r} * ({lag}), 0.0)"
        )
    zsum = "\n           + ".join(terms)
    anchors = ", ".join(repr(v) for v in _EWMA_DECAY)
    return f"""
WITH {TYPE_DAILY_CTE},
stats AS (
  SELECT event_type, avg(v) AS mu0, stddev_samp(v) AS sigma
  FROM daily GROUP BY event_type
),
seq AS (
  SELECT d.event_type, d.bucket_start, d.v,
         CAST(row_number() OVER w AS BIGINT) AS t,
         {zsum} AS zpart
  FROM daily d
  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.bucket_start)
),
calc AS (
  SELECT s.event_type, s.bucket_start, s.t, s.v,
         s.zpart + ([{anchors}])[least(s.t, {EWMA_W}) + 1] * st.mu0 AS z,
         st.mu0,
         st.sigma
           * sqrt({lam / (2.0 - lam)!r}
                  * (1.0 - ([{anchors}])[least(s.t, {EWMA_W}) + 1]
                           * ([{anchors}])[least(s.t, {EWMA_W}) + 1]))
           AS sig_t
  FROM seq s JOIN stats st ON s.event_type = st.event_type
)
SELECT event_type, bucket_start AS day_start, CAST(t AS INTEGER) AS t,
       round(v + {NUDGE}, 4) AS x,
       round(z + {NUDGE}, 4) AS ewma,
       round(mu0 - {EWMA_L} * sig_t + {NUDGE}, 4) AS lcl,
       round(mu0 + {EWMA_L} * sig_t + {NUDGE}, 4) AS ucl,
       round(z + {NUDGE}, 4) > round(mu0 + {EWMA_L} * sig_t + {NUDGE}, 4)
         OR round(z + {NUDGE}, 4) < round(mu0 - {EWMA_L} * sig_t + {NUDGE}, 4)
         AS out_of_control
FROM calc
"""


@register("ewma_control_chart", oracle=_ewma_oracle(), tags=("prepared-r10",))
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA CONTROL CHART over each event type's daily mean-value
    series: z_t = lambda*x_t + (1-lambda)*z_{t-1} anchored at the
    series mean, with the exact time-varying control limits
    mu +- L*sigma*sqrt(lambda/(2-lambda)*(1-(1-lambda)^(2t))) — the SPC
    chart for SMALL SUSTAINED shifts, completing the trio with CUSUM
    (changepoint excursions) and the Western Electric run rules.

    The recursion is computed in CLOSED FORM as a ``EWMA_W``-term
    weighted sum of lagged daily means (weights are Python-float
    literals, identical on both engines), so each output row is a
    single window pass — no sequential state, no recursive CTE on the
    Spark side, bounded fan-in at any series length. Out-of-control is
    judged on ROUNDED z vs rounded limits so a last-ulp divergence can
    never flip the flag.

    Scale shape: one combinable (event_type, day) aggregate; per-key
    series stats via one more aggregate broadcast back; one ordered
    window per key carrying ``EWMA_W`` lag expressions (a single
    window pass) over the calendar-bounded day axis."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    stats = daily.groupBy("event_type").agg(
        F.avg("v").alias("mu0"), F.stddev_samp("v").alias("sigma")
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    seq = daily.select(
        "event_type",
        "bucket_start",
        F.col("v").alias("l0"),
        F.row_number().over(w).alias("t"),
        *[F.lag("v", j).over(w).alias(f"l{j}") for j in range(1, EWMA_W)],
    )
    joined = seq.join(F.broadcast(stats), "event_type")
    z = None
    for j in range(EWMA_W):
        term = F.when(
            F.col(f"l{j}").isNotNull(),
            F.lit(EWMA_LAMBDA * _EWMA_DECAY[j]) * F.col(f"l{j}"),
        ).otherwise(F.lit(0.0))
        z = term if z is None else z + term
    anchor_arr = F.array(*[F.lit(v) for v in _EWMA_DECAY])
    anchor_w = F.element_at(anchor_arr, F.least(F.col("t"), F.lit(EWMA_W)) + 1)
    z = z + anchor_w * F.col("mu0")
    sig_t = F.col("sigma") * F.sqrt(
        F.lit(EWMA_LAMBDA / (2.0 - EWMA_LAMBDA))
        * (1.0 - anchor_w * anchor_w)
    )
    z_r = rnd(z, 4)
    ucl_r = rnd(F.col("mu0") + EWMA_L * sig_t, 4)
    lcl_r = rnd(F.col("mu0") - EWMA_L * sig_t, 4)
    return joined.select(
        "event_type",
        F.col("bucket_start").alias("day_start"),
        F.col("t").alias("t"),
        rnd("l0", 4).alias("x"),
        z_r.alias("ewma"),
        lcl_r.alias("lcl"),
        ucl_r.alias("ucl"),
        ((z_r > ucl_r) | (z_r < lcl_r)).alias("out_of_control"),
    )


# --------------------------------------------------------------------------
# Page-Hinkley drift replay
# --------------------------------------------------------------------------

PH_DELTA = 0.1  #: magnitude tolerance subtracted per step (value units)
PH_LAMBDA = 10.0  #: alarm threshold on the PH excursion


_PH_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
dev AS (
  SELECT event_type, bucket_start, v,
         v - avg(v) OVER (PARTITION BY event_type ORDER BY bucket_start
                          ROWS UNBOUNDED PRECEDING) - {PH_DELTA} AS dev
  FROM daily
),
m AS (
  SELECT event_type, bucket_start, v,
         sum(dev) OVER (PARTITION BY event_type ORDER BY bucket_start
                        ROWS UNBOUNDED PRECEDING) AS m
  FROM dev
),
ph AS (
  SELECT event_type, bucket_start, round(v + {NUDGE}, 4) AS x,
         m - least(0, min(m) OVER (PARTITION BY event_type
                                   ORDER BY bucket_start
                                   ROWS UNBOUNDED PRECEDING)) AS ph_raw
  FROM m
)
SELECT event_type, bucket_start AS day_start, x,
       round(ph_raw + {NUDGE}, 4) AS ph_stat,
       round(ph_raw + {NUDGE}, 4) > {PH_LAMBDA} AS alarm
FROM ph
"""


@register("page_hinkley_drift", oracle=_PH_ORACLE, tags=("prepared-r10",))
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-HINKLEY DRIFT REPLAY over each event type's daily mean
    series: m_t = sum_{i<=t}(x_i - xbar_i - delta) with xbar_i the
    RUNNING mean at step i, excursion PH_t = m_t - min_{0<=i<=t} m_i
    with m_0 = 0 (the min includes the initial state, matching the
    streaming twin ``streaming/pagehinkley.py`` which seeds
    m_min = 0.0), alarm when PH_t exceeds lambda — the classic
    sequential mean-shift detector, completing the drift battery's
    SEQUENTIAL corner (CUSUM here is a two-half excursion test; PH is
    the online form that names its alarm day). Alarmed on the ROUNDED
    excursion so a last-ulp running-mean divergence cannot flip the
    flag.

    Scale shape: one combinable (event_type, day) aggregate; three
    window passes (running mean, running sum, prefix min) over the SAME
    per-key ordering — one exchange, calendar-bounded partitions."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    wp = w.rowsBetween(Window.unboundedPreceding, 0)
    dev = daily.select(
        "event_type",
        "bucket_start",
        "v",
        (F.col("v") - F.avg("v").over(wp) - PH_DELTA).alias("dev"),
    )
    m = dev.select(
        "event_type",
        "bucket_start",
        "v",
        F.sum("dev").over(wp).alias("m"),
    )
    ph = m.select(
        "event_type",
        "bucket_start",
        rnd("v", 4).alias("x"),
        (F.col("m") - F.least(F.lit(0.0), F.min("m").over(wp))).alias(
            "ph_raw"
        ),
    )
    ph_r = rnd("ph_raw", 4)
    return ph.select(
        "event_type",
        F.col("bucket_start").alias("day_start"),
        "x",
        ph_r.alias("ph_stat"),
        (ph_r > PH_LAMBDA).alias("alarm"),
    )
