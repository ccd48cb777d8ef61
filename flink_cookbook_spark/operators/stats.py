"""Statistical tests and estimators over the fixture tables.

Two-sample, k-sample and paired hypothesis tests (Mann-Whitney U,
one-way ANOVA, Kruskal-Wallis, Brown-Forsythe, Friedman, Cochran's Q,
McNemar, the Poisson rate ratio), association measures (chi-square and
Cramer's V, mutual information, odds ratios, the Pearson correlation
matrix), multiple-testing control (Benjamini-Hochberg), survival
estimators (Kaplan-Meier, Nelson-Aalen) and distribution fits (Benford,
the runs test, Gumbel return levels, the negative binomial, the Hill
tail index, capture-recapture, a Poisson-bootstrap median interval).

Each statistic is built from combinable aggregates and bounded per-key
windows; its DuckDB oracle replays the same closed form.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.functions.time import epoch_seconds
from flink_cookbook_spark.pipeline.dedup import _SQL_HASH, _portable_hash
from flink_cookbook_spark.pipeline.text import INV_LN2
from flink_cookbook_spark.registry import NUDGE, register, rnd

#: epoch-second boundary splitting the fixture month in half
#: (2024-01-16 00:00 UTC): the two samples of every first-half vs
#: second-half test, and the train/eval split of held-out scoring. At
#: production scale this is "reference window vs current window".
SPLIT_EPOCH_S = 1705363200

DAY_S = 86400  #: seconds per daily bucket
HOUR_S = 3600  #: seconds per hourly bucket

# --------------------------------------------------------------------------
# per-key calendar mean series: the one input of the series diagnostics
# --------------------------------------------------------------------------
#
# The forecasters, drift monitors and repeated-measures tests here, in
# ``drift.py``, ``forecasting.py`` and ``timeseries.py`` all read one
# thing: a key's regular series of mean ``value`` per calendar bucket.
# ``mean_series`` builds it in Spark and ``series_cte`` is its DuckDB
# text; each oracle composes the shared CTEs it reads by interpolation.


def mean_series(
    spark: SparkSession, sf_dir: str, key: str, seconds: int
) -> DataFrame:
    """One row per (``key``, bucket holding events): ``bucket_start``
    (event time floored to ``seconds`` through ``epoch_seconds``), ``n``
    events, ``v`` = avg(value) and ``x`` = ``v`` rounded to 9 dp. Tests
    that rank, sign, pair or binarize the means read ``x`` so ties are
    engine-identical; smoothers and forecasters read ``v``. Catalyst
    prunes the columns a caller does not read and folds the rounding
    into the aggregate."""
    sec = epoch_seconds("ts")
    return (
        load(spark, sf_dir, "events")
        .select(
            key, (F.floor(sec / seconds) * seconds).alias("bucket_start"), "value"
        )
        .groupBy(key, "bucket_start")
        .agg(F.count("*").alias("n"), F.avg("value").alias("v"))
        .withColumn("x", rnd("v", 9))
    )


def complete_days(daily: DataFrame) -> DataFrame:
    """The per-type daily series restricted to complete days (every
    event type has a mean that day), with the panel width ``k``: the
    blocks of the repeated-measures tests."""
    k_row = daily.agg(F.countDistinct("event_type").alias("k"))
    day_counts = daily.groupBy("bucket_start").agg(F.count("*").alias("cnt"))
    return (
        daily.join(day_counts, "bucket_start")
        .crossJoin(F.broadcast(k_row))
        .where(F.col("cnt") == F.col("k"))
    )


def daily_median(daily: DataFrame) -> DataFrame:
    """Each event type's median 9-dp daily mean, rounded to 9 dp: the
    line the binary day-state tests flag against."""
    return daily.groupBy("event_type").agg(
        rnd(F.expr("percentile(x, 0.5)"), 9).alias("med")
    )


def series_cte(name: str, key: str, seconds: int) -> str:
    """``mean_series`` as the DuckDB CTE ``name``: same columns, same
    bucket arithmetic (whole epoch seconds, floored)."""
    return f"""{name} AS (
  SELECT {key},
         (CAST(floor(epoch(ts)) AS BIGINT) // {seconds}) * {seconds}
           AS bucket_start,
         count(*) AS n, avg(value) AS v,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
)"""


#: the series CTEs in use: per event type by day and by hour.
TYPE_DAILY_CTE = series_cte("daily", "event_type", DAY_S)
TYPE_HOURLY_CTE = series_cte("hourly", "event_type", HOUR_S)

#: ``complete_days`` over ``daily``: CTE ``complete``.
COMPLETE_DAYS_CTE = """k_row AS (SELECT count(DISTINCT event_type) AS k FROM daily),
dc AS (SELECT bucket_start, count(*) AS cnt FROM daily GROUP BY 1),
complete AS (
  SELECT d.event_type, d.bucket_start, d.x, k.k
  FROM daily d JOIN dc ON d.bucket_start = dc.bucket_start CROSS JOIN k_row k
  WHERE dc.cnt = k.k
)"""

#: ``daily_median`` over ``daily``: CTE ``med``.
DAILY_MEDIAN_CTE = f"""med AS (
  SELECT event_type, round(quantile_cont(x, 0.5) + {NUDGE}, 9) AS med
  FROM daily GROUP BY 1
)"""

# --------------------------------------------------------------------------
# Kaplan-Meier survival of signup -> first-purchase delay
# --------------------------------------------------------------------------

_KM_ORACLE = """
WITH sec AS (SELECT user_id, event_type, epoch(ts) AS s FROM events),
s0 AS (
  SELECT user_id, min(s) AS t0 FROM sec
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT s0.user_id, min(sec.s) AS tp
  FROM s0 JOIN sec ON sec.user_id = s0.user_id
   AND sec.event_type = 'purchase' AND sec.s >= s0.t0
  GROUP BY s0.user_id
),
mx AS (SELECT max(s) AS tmax FROM sec),
subj AS (
  SELECT CAST(floor((coalesce(p.tp, mx.tmax) - s0.t0) / 3600) AS BIGINT) AS dur,
         CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS obs
  FROM s0 LEFT JOIN p USING (user_id) CROSS JOIN mx
),
g AS (
  SELECT dur, count(*) AS n_all, CAST(sum(obs) AS BIGINT) AS d
  FROM subj GROUP BY dur
),
r AS (
  SELECT dur, n_all, d,
         coalesce(sum(n_all) OVER (ORDER BY dur
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
         sum(n_all) OVER () AS tot
  FROM g
),
k AS (SELECT dur, d, CAST(tot - cumb AS BIGINT) AS n_at_risk FROM r)
SELECT dur AS t_hours, n_at_risk, d AS n_events,
       round(exp(sum(ln(greatest(1.0 - d * 1.0 / n_at_risk, 1e-300)))
                 OVER (ORDER BY dur)) + 1e-6, 6) AS survival
FROM k WHERE d > 0
"""


@register("kaplan_meier_survival", oracle=_KM_ORACLE, tags=("prepared-r8",))
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimator over signup->first-purchase delay, with
    right-censoring at corpus end for users who never purchase — the
    survival-analysis complement of ``funnel_time_to_convert`` (which
    only sees converters and so overstates conversion speed).

    Shape: two keyed min-aggs (per-user signup / first purchase), one
    1-row corpus-max broadcast, then the KM table over DISTINCT hour
    durations — the global ordered window runs over at most
    corpus-span-in-hours rows regardless of user count, so it is
    calendar-bounded, not data-bounded, at 100 TB.  The product
    Π(1 - d/n) is computed as exp(Σ ln ·) with a 1e-300 floor so a
    final-time factor of exactly 0 yields survival 0.0 on both engines
    (Spark ``log(0)`` is NULL, DuckDB's is -inf — the floor sidesteps
    the divergence).
    """
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    s0 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(sec).alias("t0"))
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("tp")
    )
    first_p = (
        s0.join(purch, "user_id")
        .where(F.col("tp") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("tp"))
    )
    tmax = ev.agg(F.max(sec).alias("tmax"))
    subj = (
        s0.join(first_p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.floor(
                (F.coalesce("tp", "tmax") - F.col("t0")) / 3600
            ).alias("dur"),
            F.col("tp").isNotNull().cast("int").alias("obs"),
        )
    )
    g = subj.groupBy("dur").agg(
        F.count("*").alias("n_all"), F.sum("obs").alias("d")
    )
    w_ord = Window.orderBy("dur")
    w_before = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "dur", "n_all", "d",
        F.coalesce(F.sum("n_all").over(w_before), F.lit(0)).alias("cumb"),
        F.sum("n_all").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("tot"),
    )
    k = r.select(
        "dur", "d", (F.col("tot") - F.col("cumb")).alias("n_at_risk")
    )
    surv = F.exp(
        F.sum(
            F.log(
                F.greatest(
                    F.lit(1.0) - F.col("d") / F.col("n_at_risk"),
                    F.lit(1e-300),
                )
            )
        ).over(w_ord)
    )
    return (
        k.where(F.col("d") > 0)
        .select(
            F.col("dur").alias("t_hours"),
            "n_at_risk",
            F.col("d").alias("n_events"),
            rnd(surv, 6).alias("survival"),
        )
    )


# --------------------------------------------------------------------------
# contingency-table association: chi-square, Cramer's V, mutual info
# --------------------------------------------------------------------------

_CONTINGENCY_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS INTEGER)
           AS dow,
         count(*) AS o
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT o,
         sum(o) OVER (PARTITION BY event_type) AS rt,
         sum(o) OVER (PARTITION BY dow) AS ct,
         sum(o) OVER () AS n,
         (SELECT count(DISTINCT event_type) FROM cells) AS r,
         (SELECT count(DISTINCT dow) FROM cells) AS c
  FROM cells
),
agg AS (
  SELECT CAST(max(n) AS BIGINT) AS n_events,
         CAST(max(r) AS INTEGER) AS n_types,
         CAST(max(c) AS INTEGER) AS n_days,
         sum((o - CAST(rt AS DOUBLE) * ct / n) * (o - CAST(rt AS DOUBLE) * ct / n)
             / (CAST(rt AS DOUBLE) * ct / n)) AS chi2_raw,
         sum((CAST(o AS DOUBLE) / n)
             * ln(CAST(o AS DOUBLE) * n / (CAST(rt AS DOUBLE) * ct))) AS mi_raw
  FROM m
)
SELECT n_events, n_types, n_days,
       round(chi2_raw + 1e-6, 4) AS chi2,
       round(sqrt(chi2_raw / (n_events * least(n_types - 1, n_days - 1)))
             + 1e-6, 6) AS cramers_v,
       round(mi_raw + 1e-6, 6) AS mutual_info_nats
FROM agg
"""


@register(
    "contingency_association",
    oracle=_CONTINGENCY_ORACLE,
    tags=("prepared-r8",),
)
def contingency_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSOCIATION STRENGTH between event type and day-of-week in one
    contingency pass: Pearson chi-square statistic, Cramer's V (the
    [0,1]-normalized effect size), and mutual information in nats —
    the three numbers that turn "the heatmap looks uneven"
    (``weekday_hour_heatmap``) into a defensible dependence claim.
    Day-of-week is (epoch_days + 4) mod 7 on BOTH engines (Sunday=0).

    Scale shape: one combinable hash aggregate to the 5x7 contingency
    cells; every downstream term (expected counts, chi-square, MI)
    runs over that bounded cell table via windows — the raw corpus is
    scanned exactly once. MI sums only o > 0 cells, sidestepping the
    Spark-ln(0)-is-NULL vs DuckDB-ln(0)-is--inf divergence."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    dow = ((F.floor(sec / 86400) + 4) % 7).cast("int")
    cells = ev.groupBy(F.col("event_type"), dow.alias("dow")).agg(
        F.count("*").alias("o")
    )
    row_w = Window.partitionBy("event_type")
    col_w = Window.partitionBy("dow")
    all_w = Window.partitionBy()
    with_margins = cells.select(
        "o",
        F.sum("o").over(row_w).alias("rt"),
        F.sum("o").over(col_w).alias("ct"),
        F.sum("o").over(all_w).alias("n"),
        F.size(F.collect_set("event_type").over(all_w)).alias("r"),
        F.size(F.collect_set("dow").over(all_w)).alias("c"),
    )
    e = F.col("rt") * F.col("ct") / F.col("n")
    mi_term = (F.col("o") / F.col("n")) * F.log(
        F.col("o") * F.col("n") / (F.col("rt") * F.col("ct"))
    )
    agg = with_margins.agg(
        F.max("n").alias("n_events"),
        F.max("r").alias("n_types"),
        F.max("c").alias("n_days"),
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2_raw"),
        F.sum(mi_term).alias("mi_raw"),
    )
    v = F.sqrt(
        F.col("chi2_raw")
        / (F.col("n_events") * F.least(F.col("n_types") - 1, F.col("n_days") - 1))
    )
    return agg.select(
        "n_events",
        "n_types",
        "n_days",
        rnd("chi2_raw", 4).alias("chi2"),
        rnd(v, 6).alias("cramers_v"),
        rnd("mi_raw", 6).alias("mutual_info_nats"),
    )


# --------------------------------------------------------------------------
# pairwise correlation matrix over the lineitem measures
# --------------------------------------------------------------------------

#: the measure columns whose pairwise correlations are reported.
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_oracle() -> str:
    pairs = [
        (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
    ]
    arms = "\n  UNION ALL\n".join(
        f"  SELECT '{a}' AS col_a, '{b}' AS col_b,"
        f" round(corr({a}, {b}) + 1e-6, 6) AS pearson_r,"
        f" count(*) AS n_rows FROM lineitem"
        for a, b in pairs
    )
    return arms


@register("correlation_matrix", oracle=_corr_oracle(), tags=("prepared-r8",))
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE PEARSON CORRELATION matrix (upper triangle) across the
    lineitem measures — the feature-redundancy screen run before any
    modeling on warehouse facts (a |r| near 1 means one column is
    carrying the other's information, e.g. price ~ quantity x unit
    price). Emits one row per unordered column pair.

    Scale shape: ALL six correlations reduce in a single combinable
    aggregate pass over one scan (each ``corr`` is one accumulator
    triple), then unpivot via a 6-row ``stack`` — adding a column pair
    costs an accumulator, not a job."""
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
    ]
    agg = li.agg(
        F.count("*").alias("n"),
        *[
            rnd(F.corr(a, b), 6).alias(f"r_{i}")
            for i, (a, b) in enumerate(pairs)
        ],
    )
    stack_expr = "stack({}, {}) as (col_a, col_b, pearson_r)".format(
        len(pairs),
        ", ".join(f"'{a}', '{b}', r_{i}" for i, (a, b) in enumerate(pairs)),
    )
    return agg.select(F.expr(stack_expr), F.col("n").alias("n_rows"))


# --------------------------------------------------------------------------
# deterministic Poisson-bootstrap median confidence interval
# --------------------------------------------------------------------------

#: capped sample size (the IVF-trainer modulus pattern: mod = n // cap).
BOOT_MAX_SAMPLE = 2000

#: number of bootstrap resamples.
BOOT_RESAMPLES = 16

#: Poisson(1) CDF thresholds for the md5-uniform -> replicate-count map
#: (P(0)=.3679, P(<=1)=.7358, P(<=2)=.9197, remainder -> 3).
_POIS_T = (0.367879, 0.735759, 0.919699)


def _boot_oracle() -> str:
    h = _SQL_HASH.format(
        x="'boot:' || CAST(event_id AS VARCHAR)"
    )
    hw = _SQL_HASH.format(
        x="'bootw:' || CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
    )
    bvals = ", ".join(f"({i})" for i in range(BOOT_RESAMPLES))
    return f"""
WITH s AS (
  SELECT event_id, value FROM events
  WHERE {h} % (SELECT greatest(1, count(*) // {BOOT_MAX_SAMPLE}) FROM events) = 0
),
fan AS (
  SELECT s.event_id, s.value, t.b
  FROM s CROSS JOIN (VALUES {bvals}) t(b)
),
wb AS (
  SELECT event_id, value, b,
         CASE WHEN ({hw} % 1000000) / 1000000.0 < {_POIS_T[0]} THEN 0
              WHEN ({hw} % 1000000) / 1000000.0 < {_POIS_T[1]} THEN 1
              WHEN ({hw} % 1000000) / 1000000.0 < {_POIS_T[2]} THEN 2
              ELSE 3 END AS w
  FROM fan
),
cum AS (
  SELECT b, value,
         CAST(sum(w) OVER (PARTITION BY b ORDER BY value, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
         CAST(sum(w) OVER (PARTITION BY b) AS BIGINT) AS tw
  FROM wb WHERE w > 0
),
med_b AS (
  SELECT b, min(value) AS med FROM cum
  WHERE cw >= (tw + 1) // 2 GROUP BY b
),
meds AS (
  SELECT med, row_number() OVER (ORDER BY med, b) AS rn,
         count(*) OVER () AS m
  FROM med_b
),
boot AS (
  SELECT CAST(max(m) AS BIGINT) AS n_resamples,
         max(CASE WHEN rn = CAST(floor(0.05 * (m - 1)) AS BIGINT) + 1
                  THEN med END) AS boot_p05,
         max(CASE WHEN rn = CAST(floor(0.50 * (m - 1)) AS BIGINT) + 1
                  THEN med END) AS boot_p50,
         max(CASE WHEN rn = CAST(floor(0.95 * (m - 1)) AS BIGINT) + 1
                  THEN med END) AS boot_p95
  FROM meds
),
sm AS (
  SELECT ns AS n_sample, value AS sample_median
  FROM (
    SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
           count(*) OVER () AS ns
    FROM s
  )
  WHERE rn = (ns + 1) // 2
)
SELECT CAST(sm.n_sample AS BIGINT) AS n_sample, b.n_resamples,
       sm.sample_median, b.boot_p05, b.boot_p50, b.boot_p95,
       round(b.boot_p95 - b.boot_p05 + 1e-6, 4) AS ci_width
FROM sm CROSS JOIN boot b
"""


@register("bootstrap_median_ci", oracle=_boot_oracle(), tags=("prepared-r8",))
def bootstrap_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON-BOOTSTRAP CONFIDENCE INTERVAL for the event-metric
    median: each of ``BOOT_RESAMPLES`` resamples reweights every
    sampled row by a deterministic Poisson(1)-approximating md5 coin
    (the standard distributed-bootstrap trick — no resample ever
    materializes, only integer weights), takes the DISCRETE weighted
    median, and the spread of those medians is the CI. Distribution-
    free uncertainty for any pipeline metric, replayable bit-for-bit
    by the oracle because every random choice is an md5 PRF.

    Scale shape: the corpus is capped to ``BOOT_MAX_SAMPLE`` rows by
    the in-plan md5 modulus (IVF-trainer pattern), so the B-way fanout
    and the per-resample sort are constant-bounded regardless of
    corpus size; medians are discrete order statistics (no
    interpolation — the cross-engine percentile hazard)."""
    ev = load(spark, sf_dir, "events")
    n_corpus = ev.count()
    mod = max(1, n_corpus // BOOT_MAX_SAMPLE)
    coin = _portable_hash(
        F.concat(F.lit("boot:"), F.col("event_id").cast("string"))
    )
    s = ev.where(coin % mod == 0).select("event_id", "value")
    fan = s.select(
        "event_id",
        "value",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_RESAMPLES - 1))
        ).alias("b"),
    )
    u = (
        _portable_hash(
            F.concat(
                F.lit("bootw:"),
                F.col("event_id").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            )
        )
        % 1000000
    ) / 1000000.0
    w = (
        F.when(u < _POIS_T[0], 0)
        .when(u < _POIS_T[1], 1)
        .when(u < _POIS_T[2], 2)
        .otherwise(3)
    )
    wb = fan.withColumn("w", w).where(F.col("w") > 0)
    ww = Window.partitionBy("b").orderBy("value", "event_id")
    wt = Window.partitionBy("b")
    cum = wb.select(
        "b",
        "value",
        F.sum("w").over(ww).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    med_b = (
        cum.where(F.col("cw") >= F.floor((F.col("tw") + 1) / 2))
        .groupBy("b")
        .agg(F.min("value").alias("med"))
    )
    wm = Window.orderBy("med", "b")
    meds = med_b.select(
        "med",
        F.row_number().over(wm).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    idx = lambda q: (F.floor(F.lit(q) * (F.col("m") - 1)) + 1).cast("int")  # noqa: E731
    boot = meds.agg(
        F.max("m").alias("n_resamples"),
        F.max(F.when(F.col("rn") == idx(0.05), F.col("med"))).alias("boot_p05"),
        F.max(F.when(F.col("rn") == idx(0.50), F.col("med"))).alias("boot_p50"),
        F.max(F.when(F.col("rn") == idx(0.95), F.col("med"))).alias("boot_p95"),
    )
    sw = Window.orderBy("value", "event_id")
    st = Window.partitionBy()
    sample_med = (
        s.select(
            "value",
            F.row_number().over(sw).alias("rn"),
            F.count("*").over(st).alias("ns"),
        )
        .where(F.col("rn") == F.floor((F.col("ns") + 1) / 2))
        .select(
            F.col("ns").alias("n_sample"),
            F.col("value").alias("sample_median"),
        )
    )
    return sample_med.crossJoin(F.broadcast(boot)).select(
        "n_sample",
        "n_resamples",
        "sample_median",
        "boot_p05",
        "boot_p50",
        "boot_p95",
        rnd(F.col("boot_p95") - F.col("boot_p05"), 4).alias("ci_width"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH cells AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INTEGER) AS digit,
         count(*) AS n_orders
  FROM orders GROUP BY 1
),
full_t AS (
  SELECT t.digit, COALESCE(c.n_orders, 0) AS n_orders
  FROM (SELECT unnest(range(1, 10)) AS digit) t
  LEFT JOIN cells c ON c.digit = t.digit
),
shares AS (
  SELECT CAST(digit AS INTEGER) AS digit,
         CAST(n_orders AS BIGINT) AS n_orders,
         n_orders / CAST(sum(n_orders) OVER () AS DOUBLE) AS obs_raw,
         log10(1.0 + 1.0 / digit) AS exp_raw,
         CAST(sum(n_orders) OVER () AS BIGINT) AS n_total
  FROM full_t
),
chi AS (
  SELECT max(n_total)
         * sum((obs_raw - exp_raw) * (obs_raw - exp_raw) / exp_raw)
           AS chi2_raw
  FROM shares
)
SELECT s.digit, s.n_orders,
       round(s.obs_raw + 1e-6, 6) AS obs_share,
       round(s.exp_raw + 1e-6, 6) AS benford_share,
       round(c.chi2_raw + 1e-6, 4) AS chi2
FROM shares s CROSS JOIN chi c
"""


@register("benford_law_check", oracle=_BENFORD_ORACLE, tags=("prepared-r8",))
def benford_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit of order totals: observed share
    of each leading digit 1..9 vs the Benford expectation
    ``log10(1 + 1/d)``, plus the chi-square distance as a constant
    column — the classic screen for fabricated or mis-scaled financial
    figures (TPC-H's uniform pricing is EXPECTED to fail it; the
    operator's value is the audit shape itself). All nine digits
    always emit, zero counts included (the vacuous-green lesson).

    Scale shape: one combinable hash agg to <=9 digit cells; the digit
    spine is a 9-row literal range; chi-square is a 1-row aggregate
    over the bounded cells joined back as a constant."""
    orders = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    cells = orders.groupBy(digit.alias("digit")).agg(
        F.count("*").alias("n_orders")
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    full = spine.join(cells, "digit", "left").select(
        "digit", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )
    tot = Window.partitionBy()
    exp_share = F.log10(1.0 + 1.0 / F.col("digit"))
    with_shares = full.select(
        "digit",
        "n_orders",
        (F.col("n_orders") / F.sum("n_orders").over(tot)).alias("obs_raw"),
        exp_share.alias("exp_raw"),
        F.sum("n_orders").over(tot).alias("n_total"),
    )
    chi = with_shares.agg(
        F.max("n_total").alias("n_total"),
        F.sum(
            (F.col("obs_raw") - F.col("exp_raw"))
            * (F.col("obs_raw") - F.col("exp_raw"))
            / F.col("exp_raw")
        ).alias("chi_raw"),
    ).select(
        (F.col("n_total") * F.col("chi_raw")).alias("chi2_raw")
    )
    return with_shares.crossJoin(F.broadcast(chi)).select(
        "digit",
        "n_orders",
        rnd("obs_raw", 6).alias("obs_share"),
        rnd("exp_raw", 6).alias("benford_share"),
        rnd("chi2_raw", 4).alias("chi2"),
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test per key
# --------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH med AS (
  SELECT event_type, value AS med FROM (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
  ) WHERE rn = (n + 1) // 2
),
signed AS (
  SELECT e.event_type, e.event_id, e.ts,
         CASE WHEN e.value > m.med THEN 1 ELSE 0 END AS sgn
  FROM events e JOIN med m ON e.event_type = m.event_type
),
runs AS (
  SELECT event_type, sgn,
         CASE WHEN lag(sgn) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) IS NULL
                   OR lag(sgn) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) != sgn
              THEN 1 ELSE 0 END AS new_run
  FROM signed
),
agg AS (
  SELECT event_type, count(*) AS n_obs,
         CAST(sum(sgn) AS BIGINT) AS n_above,
         CAST(sum(1 - sgn) AS BIGINT) AS n_below,
         CAST(sum(new_run) AS BIGINT) AS n_runs
  FROM runs GROUP BY event_type
)
SELECT event_type, n_obs, n_above, n_below, n_runs,
       round(2.0 * n_above * n_below / (n_above + n_below) + 1.0 + 1e-6, 4)
         AS expected_runs,
       round(CASE WHEN 2.0 * n_above * n_below
                       * (2.0 * n_above * n_below - n_above - n_below)
                       / (CAST(n_above + n_below AS DOUBLE)
                          * (n_above + n_below) * (n_above + n_below - 1.0)) > 0
                  THEN (n_runs - (2.0 * n_above * n_below / (n_above + n_below)
                                  + 1.0))
                       / sqrt(2.0 * n_above * n_below
                              * (2.0 * n_above * n_below - n_above - n_below)
                              / (CAST(n_above + n_below AS DOUBLE)
                                 * (n_above + n_below)
                                 * (n_above + n_below - 1.0)))
             END + 1e-6, 4) AS z_score,
       abs(CASE WHEN 2.0 * n_above * n_below
                     * (2.0 * n_above * n_below - n_above - n_below)
                     / (CAST(n_above + n_below AS DOUBLE)
                        * (n_above + n_below) * (n_above + n_below - 1.0)) > 0
                THEN (n_runs - (2.0 * n_above * n_below / (n_above + n_below)
                                + 1.0))
                     / sqrt(2.0 * n_above * n_below
                            * (2.0 * n_above * n_below - n_above - n_below)
                            / (CAST(n_above + n_below AS DOUBLE)
                               * (n_above + n_below)
                               * (n_above + n_below - 1.0)))
           END) > 1.96 AS nonrandom_95
FROM agg
"""


@register("runs_test_randomness", oracle=_RUNS_ORACLE, tags=("prepared-r8",))
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST per event type: dichotomize each value
    against the key's discrete median, count sign runs along event
    time, and compare with the expected run count under randomness
    (z-statistic) — too FEW runs means sticky/trending behavior, too
    MANY means oscillation; either way the i.i.d. assumption behind
    the engine's z-score alerting is violated for that key. The
    nonparametric companion to ``autocorrelation``.

    Scale shape: per-key median is a rank-limited window pick; the run
    count is one per-key ordered window pass (lag compare); the test
    statistic is per-key arithmetic on three counts. Everything is
    keyed — no global order."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    wm = Window.partitionBy("event_type").orderBy("value", "event_id")
    wt = Window.partitionBy("event_type")
    med = (
        ev.select(
            "event_type",
            "value",
            F.row_number().over(wm).alias("rn"),
            F.count("*").over(wt).alias("n"),
        )
        .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("value").alias("med"))
    )
    signed = ev.join(med, "event_type").select(
        "event_type",
        "event_id",
        "ts",
        (F.col("value") > F.col("med")).cast("int").alias("sgn"),
    )
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    runs = signed.select(
        "event_type",
        "sgn",
        F.when(
            F.lag("sgn").over(wo).isNull()
            | (F.lag("sgn").over(wo) != F.col("sgn")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.groupBy("event_type").agg(
        F.count("*").alias("n_obs"),
        F.sum("sgn").cast("long").alias("n_above"),
        F.sum(1 - F.col("sgn")).cast("long").alias("n_below"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    z = F.when(var > 0, (F.col("n_runs") - mu) / F.sqrt(var))
    return agg.select(
        "event_type",
        "n_obs",
        "n_above",
        "n_below",
        "n_runs",
        rnd(mu, 4).alias("expected_runs"),
        rnd(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("nonrandom_95"),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U rank test (two-sample, tie-corrected)
# --------------------------------------------------------------------------

_MWU_ORACLE = f"""
WITH pooled AS (
  SELECT event_type, value,
         CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END AS in_a
  FROM events
),
ranked AS (
  SELECT event_type, value, in_a,
         CAST(rank() OVER (PARTITION BY event_type ORDER BY value) AS DOUBLE)
           + (CAST(count(*) OVER (PARTITION BY event_type, value) AS DOUBLE)
              - 1.0) / 2.0 AS midrank
  FROM pooled
),
agg AS (
  SELECT event_type,
         CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(sum(1 - in_a) AS BIGINT) AS n_b,
         sum(in_a * midrank) AS r_a
  FROM ranked GROUP BY event_type
),
ties AS (
  SELECT event_type,
         sum(t * t * t - t) AS tie_sum
  FROM (
    SELECT event_type, value, CAST(count(*) AS DOUBLE) AS t
    FROM pooled GROUP BY 1, 2
  ) GROUP BY event_type
),
j AS (
  SELECT a.event_type, a.n_a, a.n_b, a.r_a, t.tie_sum,
         CAST(a.n_a AS DOUBLE) AS n1, CAST(a.n_b AS DOUBLE) AS n2
  FROM agg a JOIN ties t ON a.event_type = t.event_type
)
SELECT event_type, n_a, n_b,
       round(r_a - n1 * (n1 + 1.0) / 2.0 + 1e-6, 2) AS u_stat,
       round(n1 * n2 / 2.0 + 1e-6, 2) AS u_expected,
       round(CASE WHEN (n1 * n2 / 12.0)
                       * ((n1 + n2 + 1.0)
                          - tie_sum / ((n1 + n2) * (n1 + n2 - 1.0))) > 0
                  THEN (r_a - n1 * (n1 + 1.0) / 2.0 - n1 * n2 / 2.0)
                       / sqrt((n1 * n2 / 12.0)
                              * ((n1 + n2 + 1.0)
                                 - tie_sum / ((n1 + n2) * (n1 + n2 - 1.0))))
             END + 1e-6, 4) AS z_score,
       abs(CASE WHEN (n1 * n2 / 12.0)
                     * ((n1 + n2 + 1.0)
                        - tie_sum / ((n1 + n2) * (n1 + n2 - 1.0))) > 0
                THEN (r_a - n1 * (n1 + 1.0) / 2.0 - n1 * n2 / 2.0)
                     / sqrt((n1 * n2 / 12.0)
                            * ((n1 + n2 + 1.0)
                               - tie_sum / ((n1 + n2) * (n1 + n2 - 1.0))))
           END) > 1.96 AS shifted_95
FROM j
"""


@register("mann_whitney_u", oracle=_MWU_ORACLE, tags=("prepared-r8",))
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U TEST per event type between the first and second
    half of the month: midranks over the pooled values (ties get the
    average rank), U from the first sample's rank sum, and the normal
    approximation z WITH the tie-correction term — the nonparametric
    "did the distribution's location shift?" answer that stays valid
    when the metric is skewed and the t-test's normality assumption
    breaks. Complements ``ks_test_drift`` (KS sees any CDF change; U
    targets location).

    Scale shape: midranks are one per-key ordered window pass plus a
    per-(key, value) tie window — no self-joins; the test statistic is
    per-key arithmetic over one aggregate. The tie-correction sum is a
    per-key aggregate over tie-group sizes."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    pooled = ev.select(
        "event_type",
        "value",
        (sec < SPLIT_EPOCH_S).cast("int").alias("in_a"),
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    wt = Window.partitionBy("event_type", "value")
    ranked = pooled.select(
        "event_type",
        "value",
        "in_a",
        # midrank = min rank of the tie group + (group size - 1)/2
        (
            F.rank().over(wv).cast("double")
            + (F.count("*").over(wt).cast("double") - 1.0) / 2.0
        ).alias("midrank"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("midrank")).alias("r_a"),
    )
    ties = (
        pooled.groupBy("event_type", "value")
        .agg(F.count("*").cast("double").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
                "tie_sum"
            )
        )
    )
    j = agg.join(ties, "event_type")
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    n = n1 + n2
    u = F.col("r_a") - n1 * (n1 + 1.0) / 2.0
    mu = n1 * n2 / 2.0
    var = (n1 * n2 / 12.0) * (
        (n + 1.0) - F.col("tie_sum") / (n * (n - 1.0))
    )
    z = F.when(var > 0, (u - mu) / F.sqrt(var))
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        rnd(u, 2).alias("u_stat"),
        rnd(mu, 2).alias("u_expected"),
        rnd(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("shifted_95"),
    )


# --------------------------------------------------------------------------
# one-way ANOVA (value ~ event_type)
# --------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH g AS (
  SELECT event_type, count(*) AS n, sum(value) AS s,
         sum(value * value) AS ssq
  FROM events GROUP BY event_type
),
one AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_obs,
         sum(s) AS ts, sum(ssq) AS tssq,
         sum(s * s / n) AS sb_part
  FROM g
)
SELECT k AS n_groups, n_obs,
       round((sb_part - ts * ts / n_obs) / n_obs + 1e-6, 6) AS ssb_per_obs,
       round((tssq - sb_part) / n_obs + 1e-6, 6) AS ssw_per_obs,
       round(CASE WHEN k > 1 AND n_obs > k AND tssq - sb_part > 0
                  THEN ((sb_part - ts * ts / n_obs) / (k - 1))
                       / ((tssq - sb_part) / (n_obs - k)) END + 1e-6, 4)
         AS f_stat,
       round((sb_part - ts * ts / n_obs)
             / ((sb_part - ts * ts / n_obs) + (tssq - sb_part)) + 1e-6, 6)
         AS eta_squared
FROM one
"""


@register("anova_oneway", oracle=_ANOVA_ORACLE, tags=("prepared-r8",))
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA of the event metric across event types: F
    statistic from the between/within variance decomposition plus
    eta-squared (the share of total variance the grouping explains) —
    the k-group generalization the pairwise tests (``ab_conversion_
    lift``, ``mann_whitney_u``) cannot ask. A tiny eta-squared says the
    event type carries almost no information about the metric — a
    feature-selection fact as much as a test.

    Scale shape: everything reduces from ONE combinable pass of
    per-group (n, sum, sum-of-squares) partials; SSB/SSW come from the
    sum identities, so no second scan for deviations-from-mean.

    Round-12 scale fix (found by the 1000x tail sweep at 100M events):
    raw SS totals are EXTENSIVE — they grow with n while double
    partial-sum error grows too, so at 1000x the two engines' sums
    differed at the 14th significant digit (~4e-3 absolute on ~2.5e11)
    and no fixed-dp rounding can absorb that at any scale. The SS
    columns are therefore reported PER OBSERVATION (ssb_per_obs =
    SSB/N, ssw_per_obs = SSW/N — variance-explained and pooled-variance
    units): intensive, bounded by the value's variance, absolute
    cross-engine error ~1e-10 regardless of row count. f_stat and
    eta_squared are ratios of the same sums (relative error ~1e-14)
    and keep their contract; raw SS is recoverable as per_obs * n_obs."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ssq"),
    )
    one = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").alias("n_obs"),
        F.sum("s").alias("ts"),
        F.sum("ssq").alias("tssq"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb_part"),
    )
    ssb = F.col("sb_part") - F.col("ts") * F.col("ts") / F.col("n_obs")
    ssw = F.col("tssq") - F.col("sb_part")
    f_stat = F.when(
        (F.col("k") > 1) & (F.col("n_obs") > F.col("k")) & (ssw > 0),
        (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_obs") - F.col("k"))),
    )
    return one.select(
        F.col("k").alias("n_groups"),
        "n_obs",
        rnd(ssb / F.col("n_obs"), 6).alias("ssb_per_obs"),
        rnd(ssw / F.col("n_obs"), 6).alias("ssw_per_obs"),
        rnd(f_stat, 4).alias("f_stat"),
        rnd(ssb / (ssb + ssw), 6).alias("eta_squared"),
    )


# --------------------------------------------------------------------------
# capture-recapture (Chapman) population estimate
# --------------------------------------------------------------------------

#: the two observation windows (epoch seconds): week 1 and week 2 of
#: the fixture month.
CR_W1_END = 1704067200 + 7 * 86400
CR_W2_END = 1704067200 + 14 * 86400


_CR_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN epoch(ts) < {CR_W1_END} THEN 1 ELSE 0 END) AS w1,
         max(CASE WHEN epoch(ts) >= {CR_W1_END} AND epoch(ts) < {CR_W2_END}
                  THEN 1 ELSE 0 END) AS w2
  FROM events GROUP BY user_id
),
agg AS (
  SELECT count(*) AS n_month,
         CAST(sum(w1) AS BIGINT) AS n1,
         CAST(sum(w2) AS BIGINT) AS n2,
         CAST(sum(w1 * w2) AS BIGINT) AS m_recaptured
  FROM per_user
)
SELECT n1, n2, m_recaptured,
       round((n1 + 1.0) * (n2 + 1.0) / (m_recaptured + 1.0) - 1.0 + 1e-6, 2)
         AS chapman_estimate,
       n_month,
       round(((n1 + 1.0) * (n2 + 1.0) / (m_recaptured + 1.0) - 1.0)
             / n_month + 1e-6, 4) AS estimate_over_truth
FROM agg
"""


@register(
    "capture_recapture_estimate",
    oracle=_CR_ORACLE,
    tags=("prepared-r8",),
)
def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE-RECAPTURE population estimate (Chapman's bias-corrected
    Lincoln-Petersen): treat week-1 actives as the marked sample and
    week-2 actives as the recapture sample; the overlap yields
    ``(n1+1)(n2+1)/(m+1) - 1`` — an estimate of the ACTIVE POPULATION
    including users the pipeline never observed in either window. The
    coverage self-audit ("how much are we not seeing?") next to the
    fully-observed month truth so the estimator's error is itself
    hash-checked.

    Scale shape: one keyed aggregate computes both window flags per
    user; every statistic reduces from that single pass (no joins, no
    second scan)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    per_user = ev.groupBy("user_id").agg(
        F.max((sec < CR_W1_END).cast("int")).alias("w1"),
        F.max(
            ((sec >= CR_W1_END) & (sec < CR_W2_END)).cast("int")
        ).alias("w2"),
    )
    agg = per_user.agg(
        F.count("*").alias("n_month"),
        F.sum("w1").cast("long").alias("n1"),
        F.sum("w2").cast("long").alias("n2"),
        F.sum((F.col("w1") * F.col("w2")).cast("long")).alias("m_recaptured"),
    )
    chapman = (
        (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m_recaptured") + 1.0)
        - 1.0
    )
    return agg.select(
        "n1",
        "n2",
        "m_recaptured",
        rnd(chapman, 2).alias("chapman_estimate"),
        "n_month",
        rnd(chapman / F.col("n_month"), 4).alias("estimate_over_truth"),
    )


def _phi_upper(z):
    """Two-sided normal p-value 2*(1 - Phi(|z|)) via the Zelen-Severo
    polynomial (A&S 26.2.17) — spelled out with plain arithmetic so the
    DuckDB twin computes bit-near-identical doubles."""
    az = F.abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    pdf = F.exp(-az * az / 2.0) / math.sqrt(2.0 * math.pi)
    poly = t * (
        0.319381530
        + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429)))
    )
    return 2.0 * pdf * poly


_PHI_SQL = (
    "2.0 * (exp(-abs({z}) * abs({z}) / 2.0) / sqrt(2.0 * pi())) "
    "* ((1.0 / (1.0 + 0.2316419 * abs({z}))) * (0.319381530 "
    "+ (1.0 / (1.0 + 0.2316419 * abs({z}))) * (-0.356563782 "
    "+ (1.0 / (1.0 + 0.2316419 * abs({z}))) * (1.781477937 "
    "+ (1.0 / (1.0 + 0.2316419 * abs({z}))) * (-1.821255978 "
    "+ (1.0 / (1.0 + 0.2316419 * abs({z}))) * 1.330274429)))))"
)

#: Benjamini-Hochberg false-discovery rate.
FDR_Q = 0.10


# --------------------------------------------------------------------------
# FDR-controlled segment shift scan (Benjamini-Hochberg)
# --------------------------------------------------------------------------

_FDR_ORACLE = f"""
WITH seg AS (
  SELECT event_type,
         CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS INTEGER)
           AS dow,
         CAST(sum(CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 0 ELSE 1 END)
              AS BIGINT) AS n_b,
         sum(value * CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
           AS s_a,
         sum(value * CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 0 ELSE 1 END)
           AS s_b,
         sum(value * value
             * CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END) AS ss_a,
         sum(value * value
             * CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 0 ELSE 1 END) AS ss_b
  FROM events GROUP BY 1, 2
  HAVING n_a >= 2 AND n_b >= 2
),
tested AS (
  SELECT event_type, dow, n_a, n_b,
         (s_b / n_b - s_a / n_a)
           / sqrt(((ss_a - s_a * s_a / n_a) / (n_a - 1.0)) / n_a
                  + ((ss_b - s_b * s_b / n_b) / (n_b - 1.0)) / n_b) AS z_raw
  FROM seg
),
withp AS (
  SELECT *, least({_PHI_SQL.format(z="z_raw")}, 1.0) AS p_raw FROM tested
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY p_raw, event_type, dow) AS i,
         count(*) OVER () AS m
  FROM withp
),
crits AS (
  SELECT *, CAST(i AS DOUBLE) / m * {FDR_Q} AS crit FROM ranked
),
pstar AS (
  SELECT *,
         max(CASE WHEN p_raw <= crit THEN p_raw END) OVER () AS p_star
  FROM crits
)
SELECT event_type, dow, n_a, n_b,
       round(z_raw + 1e-6, 4) AS z_score,
       round(p_raw + 1e-6, 6) AS p_value,
       round(crit + 1e-6, 6) AS bh_critical,
       COALESCE(p_raw <= p_star, false) AS rejected
FROM pstar
"""


@register("fdr_segment_scan", oracle=_FDR_ORACLE, tags=("prepared-r8",))
def fdr_segment_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT SHIFT SCAN WITH FDR CONTROL: for every (event type x
    day-of-week) segment, a two-sample z-test of the metric mean
    between the month's halves; the 35 p-values then pass through
    Benjamini-Hochberg at q=``FDR_Q`` — the multiple-testing
    discipline that separates "5 segments shifted" from "we ran 35
    tests and alpha did its thing". Reports each segment's z, p, BH
    critical value, and the final reject flag.

    Scale shape: one combinable hash agg computes each segment's
    per-half moments; the test + p-value is per-row closed-form math;
    the BH step is two window passes over the bounded segment table.
    The normal CDF uses the same explicit polynomial on both engines
    (no erf dependency)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    dow = ((F.floor(sec / 86400) + 4) % 7).cast("int")
    is_a = (sec < SPLIT_EPOCH_S).cast("int")
    seg = ev.groupBy("event_type", dow.alias("dow")).agg(
        F.sum(is_a).cast("long").alias("n_a"),
        F.sum(1 - is_a).cast("long").alias("n_b"),
        F.sum(F.col("value") * is_a).alias("s_a"),
        F.sum(F.col("value") * (1 - is_a)).alias("s_b"),
        F.sum(F.col("value") * F.col("value") * is_a).alias("ss_a"),
        F.sum(F.col("value") * F.col("value") * (1 - is_a)).alias("ss_b"),
    ).where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("s_a") / na, F.col("s_b") / nb
    va = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / na) / (na - 1.0)
    vb = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / nb) / (nb - 1.0)
    z = (mb - ma) / F.sqrt(va / na + vb / nb)
    tested = seg.select(
        "event_type",
        "dow",
        "n_a",
        "n_b",
        z.alias("z_raw"),
        F.least(_phi_upper(z), F.lit(1.0)).alias("p_raw"),
    )
    wp = Window.orderBy("p_raw", "event_type", "dow")
    wm = Window.partitionBy()
    ranked = tested.select(
        "*",
        F.row_number().over(wp).alias("i"),
        F.count("*").over(wm).alias("m"),
    ).withColumn(
        "crit", F.col("i").cast("double") / F.col("m") * FDR_Q
    )
    pstar = ranked.select(
        "*",
        F.max(
            F.when(F.col("p_raw") <= F.col("crit"), F.col("p_raw"))
        ).over(wm).alias("p_star"),
    )
    return pstar.select(
        "event_type",
        "dow",
        "n_a",
        "n_b",
        rnd("z_raw", 4).alias("z_score"),
        rnd("p_raw", 6).alias("p_value"),
        rnd("crit", 6).alias("bh_critical"),
        F.coalesce(
            F.col("p_raw") <= F.col("p_star"), F.lit(False)
        ).alias("rejected"),
    )


# --------------------------------------------------------------------------
# Gumbel block-maxima return levels
# --------------------------------------------------------------------------

#: Euler-Mascheroni constant (Gumbel mean offset).
_EULER_GAMMA = 0.5772156649015329

#: return periods (in blocks = days).
RETURN_PERIODS = (30, 365)


_EVT_ORACLE = f"""
WITH maxima AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         max(value) AS mx
  FROM events GROUP BY 1, 2
),
fit AS (
  SELECT event_type, count(*) AS n_blocks, avg(mx) AS m, stddev_samp(mx) AS s
  FROM maxima GROUP BY event_type
),
fanned AS (
  SELECT f.event_type, f.n_blocks,
         f.m - {_EULER_GAMMA} * (f.s * {math.sqrt(6.0)!r} / pi()) AS mu_raw,
         f.s * {math.sqrt(6.0)!r} / pi() AS beta_raw,
         t.return_period_days
  FROM fit f CROSS JOIN (VALUES {", ".join(f"({t})" for t in RETURN_PERIODS)})
       t(return_period_days)
)
SELECT event_type, n_blocks, return_period_days,
       round(mu_raw + 1e-6, 4) AS gumbel_mu,
       round(beta_raw + 1e-6, 4) AS gumbel_beta,
       round(mu_raw - beta_raw
             * ln(-ln(1.0 - 1.0 / return_period_days)) + 1e-6, 4)
         AS return_level
FROM fanned
"""


@register(
    "extreme_value_return_levels",
    oracle=_EVT_ORACLE,
    tags=("prepared-r8",),
)
def extreme_value_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUMBEL RETURN LEVELS from daily block maxima, per event type:
    fit the Gumbel distribution by method of moments over the daily
    maxima (beta = s*sqrt(6)/pi, mu = m - gamma*beta) and report the
    T-day return level ``mu - beta * ln(-ln(1 - 1/T))`` for T in
    ``RETURN_PERIODS`` — the extreme-value answer to "what daily peak
    should capacity absorb once a month / once a year?", which the
    mean-and-sigma monitors (z-score alerting) systematically
    underestimate because maxima are not Gaussian.

    Scale shape: block maxima are a combinable (key, day) hash agg;
    moments and the closed-form fit reduce per key; return periods fan
    over a constant in-plan list."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    maxima = ev.groupBy("event_type", day.alias("day")).agg(
        F.max("value").alias("mx")
    )
    fit = maxima.groupBy("event_type").agg(
        F.count("*").alias("n_blocks"),
        F.avg("mx").alias("m"),
        F.stddev_samp("mx").alias("s"),
    )
    beta = F.col("s") * math.sqrt(6.0) / math.pi
    mu = F.col("m") - _EULER_GAMMA * beta
    fanned = fit.select(
        "event_type",
        "n_blocks",
        mu.alias("mu_raw"),
        beta.alias("beta_raw"),
        F.explode(
            F.array(*[F.lit(t) for t in RETURN_PERIODS])
        ).alias("return_period_days"),
    )
    level = F.col("mu_raw") - F.col("beta_raw") * F.log(
        -F.log(1.0 - 1.0 / F.col("return_period_days"))
    )
    return fanned.select(
        "event_type",
        "n_blocks",
        "return_period_days",
        rnd("mu_raw", 4).alias("gumbel_mu"),
        rnd("beta_raw", 4).alias("gumbel_beta"),
        rnd(level, 4).alias("return_level"),
    )


# --------------------------------------------------------------------------
# negative-binomial overdispersion fit
# --------------------------------------------------------------------------

_NB_ORACLE = """
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS c FROM events GROUP BY 1, 2
),
fit AS (
  SELECT event_type, count(*) AS n_users, avg(c) AS m,
         var_samp(CAST(c AS DOUBLE)) AS v
  FROM per_user GROUP BY event_type
)
SELECT event_type, n_users,
       round(m + 1e-6, 4) AS mean_count,
       round(v + 1e-6, 4) AS var_count,
       round(CASE WHEN v > m THEN m * m / (v - m) END + 1e-6, 4) AS nb_r,
       round(CASE WHEN v > m THEN m / v END + 1e-6, 6) AS nb_p,
       v > m AS overdispersed
FROM fit
"""


@register("negative_binomial_fit", oracle=_NB_ORACLE, tags=("prepared-r8",))
def negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE-BINOMIAL method-of-moments fit of per-user event counts
    per event type: when variance exceeds the mean (which
    ``burstiness_fano`` flags), the Poisson model underestimates tails
    badly; the NB parameters ``r = m^2/(v-m)``, ``p = m/v`` quantify
    exactly how heavy the count tail is, and feed capacity simulation
    and anomaly thresholds that don't cry wolf on bursty keys. NULL
    parameters (with overdispersed=false) when v <= m — the Poisson
    regime, identically on both engines via NULL propagation.

    Scale shape: two stacked combinable hash aggs (user x type counts,
    then per-type moments)."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("c")
    )
    fit = per_user.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.avg("c").alias("m"),
        F.var_samp(F.col("c").cast("double")).alias("v"),
    )
    over = F.col("v") > F.col("m")
    r = F.when(over, F.col("m") * F.col("m") / (F.col("v") - F.col("m")))
    p = F.when(over, F.col("m") / F.col("v"))
    return fit.select(
        "event_type",
        "n_users",
        rnd("m", 4).alias("mean_count"),
        rnd("v", 4).alias("var_count"),
        rnd(r, 4).alias("nb_r"),
        rnd(p, 6).alias("nb_p"),
        over.alias("overdispersed"),
    )


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard
# --------------------------------------------------------------------------

_NA_ORACLE = f"""
WITH sec AS (SELECT user_id, event_type, epoch(ts) AS s FROM events),
s0 AS (
  SELECT user_id, min(s) AS t0 FROM sec
  WHERE event_type = 'signup' GROUP BY user_id
),
fp AS (
  SELECT p.user_id, min(p.s) AS tp
  FROM sec p JOIN s0 ON p.user_id = s0.user_id
  WHERE p.event_type = 'purchase' AND p.s >= s0.t0
  GROUP BY p.user_id
),
tmax AS (SELECT max(s) AS tmax FROM sec),
subj AS (
  SELECT CAST(floor((COALESCE(fp.tp, t.tmax) - s0.t0) / 3600) AS BIGINT)
           AS dur,
         CASE WHEN fp.tp IS NOT NULL THEN 1 ELSE 0 END AS obs
  FROM s0 LEFT JOIN fp ON s0.user_id = fp.user_id CROSS JOIN tmax t
),
g AS (
  SELECT dur, count(*) AS n_all, CAST(sum(obs) AS BIGINT) AS d
  FROM subj GROUP BY dur
),
r AS (
  SELECT dur, d,
         CAST(sum(n_all) OVER ()
              - COALESCE(sum(n_all) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_at_risk
  FROM g
),
h AS (
  SELECT dur, d, n_at_risk,
         sum(CAST(d AS DOUBLE) / n_at_risk)
           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS na_raw,
         sum(CAST(d AS DOUBLE)
             / (CAST(n_at_risk AS DOUBLE) * CAST(n_at_risk AS DOUBLE)))
           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS var_raw
  FROM r
)
SELECT dur AS t_hours, n_at_risk, d AS n_events,
       round(na_raw + {NUDGE}, 6) AS cum_hazard,
       round(var_raw + {NUDGE}, 8) AS var_hazard
FROM h WHERE d > 0
"""


@register("nelson_aalen_hazard", oracle=_NA_ORACLE, tags=("prepared-r10",))
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN CUMULATIVE HAZARD over the signup -> first-purchase
    delay, right-censored at corpus end — the estimator companion of
    ``kaplan_meier_survival``: KM multiplies survival factors, NA sums
    hazard increments d/n, and NA is the standard choice when hazard
    CURVES (not survival probabilities) are compared or fed to
    regression. The per-time variance increment d/n² rides along
    (Poisson-type variance), so the estimator's uncertainty contract is
    itself hash-checked.

    Scale shape: identical to KM — two keyed min-aggs, a 1-row
    corpus-max broadcast, and ordered windows over DISTINCT hour
    durations (calendar-bounded, never user-bounded)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    s0 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(sec).alias("t0"))
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("tp")
    )
    first_p = (
        s0.join(purch, "user_id")
        .where(F.col("tp") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("tp"))
    )
    tmax = ev.agg(F.max(sec).alias("tmax"))
    subj = (
        s0.join(first_p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.floor(
                (F.coalesce("tp", "tmax") - F.col("t0")) / 3600
            ).alias("dur"),
            F.col("tp").isNotNull().cast("int").alias("obs"),
        )
    )
    g = subj.groupBy("dur").agg(
        F.count("*").alias("n_all"), F.sum("obs").alias("d")
    )
    w_ord = Window.orderBy("dur")
    w_before = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "dur",
        "d",
        (
            F.sum("n_all").over(
                w_ord.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            - F.coalesce(F.sum("n_all").over(w_before), F.lit(0))
        ).alias("n_at_risk"),
    )
    dn = F.col("d").cast("double") / F.col("n_at_risk")
    dn2 = F.col("d").cast("double") / (
        F.col("n_at_risk").cast("double") * F.col("n_at_risk").cast("double")
    )
    h = r.select(
        "dur",
        "d",
        "n_at_risk",
        F.sum(dn).over(w_ord).alias("na_raw"),
        F.sum(dn2).over(w_ord).alias("var_raw"),
    )
    return h.where(F.col("d") > 0).select(
        F.col("dur").alias("t_hours"),
        "n_at_risk",
        F.col("d").alias("n_events"),
        rnd("na_raw", 6).alias("cum_hazard"),
        rnd("var_raw", 8).alias("var_hazard"),
    )


# --------------------------------------------------------------------------
# Kruskal-Wallis by binned midranks
# --------------------------------------------------------------------------

KW_BIN_DP = 2  #: values bin at this rounding before midranking


_KW_ORACLE = f"""
WITH hist AS (
  SELECT round(value + {NUDGE}, {KW_BIN_DP}) AS bin, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
bins AS (SELECT bin, sum(n) AS t FROM hist GROUP BY bin),
ranked_bins AS (
  SELECT bin, t,
         CAST(COALESCE(sum(t) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS midrank
  FROM bins
),
per AS (
  SELECT h.event_type, sum(h.n) AS n_g,
         sum(CAST(h.n AS DOUBLE) * r.midrank) AS r_g
  FROM hist h JOIN ranked_bins r ON h.bin = r.bin
  GROUP BY h.event_type
),
ties AS (
  SELECT sum(CAST(t AS DOUBLE) * t * t - CAST(t AS DOUBLE)) AS tie_sum
  FROM ranked_bins
),
tot AS (
  SELECT sum(n_g) AS n, count(*) AS k,
         sum(r_g * r_g / CAST(n_g AS DOUBLE)) AS rr
  FROM per
)
SELECT p.event_type,
       CAST(p.n_g AS BIGINT) AS n_obs,
       round(p.r_g / CAST(p.n_g AS DOUBLE) + {NUDGE}, 4) AS mean_rank,
       round(12.0 / (CAST(t.n AS DOUBLE) * (t.n + 1.0)) * t.rr
             - 3.0 * (t.n + 1.0) + {NUDGE}, 4) AS h_stat,
       round(CASE WHEN 1.0 - ti.tie_sum
                       / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n) > 0
                  THEN (12.0 / (CAST(t.n AS DOUBLE) * (t.n + 1.0)) * t.rr
                        - 3.0 * (t.n + 1.0))
                       / (1.0 - ti.tie_sum
                          / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n)) END
             + {NUDGE}, 4) AS h_corrected,
       CAST(t.k - 1 AS INTEGER) AS df
FROM per p CROSS JOIN tot t CROSS JOIN ties ti
"""


@register("kruskal_wallis_binned", oracle=_KW_ORACLE, tags=("prepared-r10",))
def kruskal_wallis_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS one-way rank test of ``value`` across event
    types, computed on BINNED MIDRANKS (values rounded to ``KW_BIN_DP``
    decimals; every observation in a bin shares the bin's midrank) —
    the rank-based ANOVA next to ``anova_oneway``'s parametric one and
    ``mann_whitney_u``'s two-sample case, with the H statistic
    tie-corrected for the binning it performs. Per-group mean ranks
    emit so the DIRECTION of separation is visible, with H / corrected
    H / df as constant columns.

    Scale shape: the binned-AUC discipline — one combinable
    (bin, event_type) histogram bounds everything downstream: the
    midrank window runs over the bin axis (bounded by the generator's
    fixed value range x 10^dp, data-independent), never a
    corpus-cardinality rank sort."""
    ev = load(spark, sf_dir, "events")
    b = F.round(F.col("value") + F.lit(NUDGE), KW_BIN_DP)
    hist = ev.groupBy(b.alias("bin"), "event_type").agg(
        F.count("*").alias("n")
    )
    bins = hist.groupBy("bin").agg(F.sum("n").alias("t"))
    wb = Window.orderBy("bin")
    ranked_bins = bins.select(
        "bin",
        "t",
        (
            F.coalesce(
                F.sum("t").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("double")
            + (F.col("t").cast("double") + 1.0) / 2.0
        ).alias("midrank"),
    )
    per = (
        hist.join(ranked_bins, "bin")
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_g"),
            F.sum(F.col("n").cast("double") * F.col("midrank")).alias("r_g"),
        )
    )
    ties = ranked_bins.agg(
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t")
            - F.col("t").cast("double")
        ).alias("tie_sum")
    )
    tot = per.agg(
        F.sum("n_g").alias("n"),
        F.count("*").alias("k"),
        F.sum(
            F.col("r_g") * F.col("r_g") / F.col("n_g").cast("double")
        ).alias("rr"),
    )
    j = per.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ties))
    nn = F.col("n").cast("double")
    h = 12.0 / (nn * (nn + 1.0)) * F.col("rr") - 3.0 * (nn + 1.0)
    c = 1.0 - F.col("tie_sum") / (nn * nn * nn - nn)
    return j.select(
        "event_type",
        F.col("n_g").alias("n_obs"),
        rnd(F.col("r_g") / F.col("n_g").cast("double"), 4).alias("mean_rank"),
        rnd(h, 4).alias("h_stat"),
        rnd(F.when(c > 0, h / c), 4).alias("h_corrected"),
        (F.col("k") - 1).cast("int").alias("df"),
    )


# --------------------------------------------------------------------------
# Brown-Forsythe (median-centred Levene) variance-homogeneity test
# --------------------------------------------------------------------------

_LEVENE_ORACLE = f"""
WITH med AS (
  SELECT event_type,
         round(quantile_cont(value, 0.5) + {NUDGE}, 9) AS med
  FROM events GROUP BY 1
),
z AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS z
  FROM events e JOIN med m ON e.event_type = m.event_type
),
g AS (
  SELECT event_type, count(*) AS n_g, max(med) AS med,
         sum(z) AS sz, sum(z * z) AS sz2
  FROM z GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n, count(*) AS k, sum(sz) AS szt
  FROM g
),
stats AS (
  SELECT g.event_type, g.n_g, g.med,
         g.sz / g.n_g AS zbar_g,
         g.sz2 - g.n_g * (g.sz / g.n_g) * (g.sz / g.n_g) AS ssw_g,
         g.n_g * (g.sz / g.n_g - t.szt / t.n)
              * (g.sz / g.n_g - t.szt / t.n) AS ssb_g,
         t.n, t.k
  FROM g CROSS JOIN tot t
),
wrow AS (
  SELECT sum(ssb_g) AS ssb, sum(ssw_g) AS ssw,
         max(n) AS n2, max(k) AS k2
  FROM stats
)
SELECT s.event_type, s.n_g,
       round(s.med + {NUDGE}, 4) AS group_median,
       round(s.zbar_g + {NUDGE}, 6) AS mean_abs_dev,
       round(CAST(w.n2 - w.k2 AS DOUBLE) / (w.k2 - 1) * w.ssb / w.ssw
             + {NUDGE}, 4) AS w_stat,
       w.k2 - 1 AS df1,
       w.n2 - w.k2 AS df2
FROM stats s CROSS JOIN wrow w
"""


@register(
    "levene_variance_test",
    oracle=_LEVENE_ORACLE,
    tags=("prepared-r10",),
)
def levene_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE VARIANCE-HOMOGENEITY TEST across event types:
    absolute deviations from each group's EXACT MEDIAN (the robust
    Levene variant), then the one-way ANOVA F on those deviations —
    the assumption check that should precede every pooled-variance
    test in the cohort (`welch_t_test` exists precisely because this
    can fail; now the engine can SAY whether it fails). Group medians
    are rounded to 9 dp before centring so |x - med| is bit-identical
    in both engines.

    Scale shape: exact per-group medians (bounded groups), broadcast
    back; then ONE combinable pass carrying (n, sum z, sum z^2) per
    group; W assembled from k-bounded rows. Per-group rows emit n,
    median, mean |dev|; the W statistic and dfs ride along as constant
    columns (the Theil pattern)."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") + F.lit(NUDGE), 9).alias(
            "med"
        )
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("z"),
    )
    g = z.groupBy("event_type").agg(
        F.count("*").alias("n_g"),
        F.max("med").alias("med"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("sz2"),
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.count("*").alias("k"),
        F.sum("sz").alias("szt"),
    )
    j = g.crossJoin(F.broadcast(tot))
    zbar_g = F.col("sz") / F.col("n_g")
    zbar = F.col("szt") / F.col("n")
    stats = j.select(
        "event_type",
        "n_g",
        "med",
        zbar_g.alias("zbar_g"),
        (F.col("sz2") - F.col("n_g") * zbar_g * zbar_g).alias("ssw_g"),
        (F.col("n_g") * (zbar_g - zbar) * (zbar_g - zbar)).alias("ssb_g"),
        "n",
        "k",
    )
    wrow = stats.agg(
        F.sum("ssb_g").alias("ssb"),
        F.sum("ssw_g").alias("ssw"),
        F.max("n").alias("n2"),
        F.max("k").alias("k2"),
    )
    w = (
        (F.col("n2") - F.col("k2")).cast("double")
        / (F.col("k2") - 1)
        * F.col("ssb")
        / F.col("ssw")
    )
    const = wrow.select(
        rnd(w, 4).alias("w_stat"),
        (F.col("k2") - 1).alias("df1"),
        (F.col("n2") - F.col("k2")).alias("df2"),
    )
    return stats.crossJoin(F.broadcast(const)).select(
        "event_type",
        "n_g",
        rnd("med", 4).alias("group_median"),
        rnd("zbar_g", 6).alias("mean_abs_dev"),
        "w_stat",
        "df1",
        "df2",
    )


# --------------------------------------------------------------------------
# Friedman rank test over complete day-blocks
# --------------------------------------------------------------------------

_FRIEDMAN_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
{COMPLETE_DAYS_CTE},
ranked AS (
  SELECT event_type, k,
         rank() OVER (PARTITION BY bucket_start ORDER BY x)
         + (count(*) OVER (PARTITION BY bucket_start, x) - 1) / 2.0
           AS midrank
  FROM complete
),
per AS (
  SELECT event_type, max(k) AS k, count(*) AS n_days,
         sum(midrank) AS rank_sum
  FROM ranked GROUP BY 1
),
tot AS (
  SELECT max(k) AS k2, max(n_days) AS nb,
         sum(rank_sum * rank_sum) AS sr2
  FROM per
)
SELECT p.event_type, p.n_days,
       round(p.rank_sum + {NUDGE}, 4) AS rank_sum,
       round(p.rank_sum / p.n_days + {NUDGE}, 6) AS mean_rank,
       round(12.0 / (t.nb * t.k2 * (t.k2 + 1)) * t.sr2
             - 3.0 * t.nb * (t.k2 + 1) + {NUDGE}, 4) AS q_stat,
       t.k2 - 1 AS df
FROM per p CROSS JOIN tot t
"""


@register("friedman_test", oracle=_FRIEDMAN_ORACLE, tags=("prepared-r10",))
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN RANK TEST: days are blocks, event types are
    treatments, the blocked observation is the daily mean value; rank
    WITHIN each complete day (midranks on ties), then
    Q = 12/(n*k*(k+1)) * sum_j R_j^2 - 3*n*(k+1) — the
    repeated-measures counterpart of `kruskal_wallis_binned` (KW
    pools all observations; Friedman blocks out the day effect, which
    is the right test when days differ systematically). Daily means
    are rounded to 9 dp before ranking so the tie structure is
    engine-identical.

    Scale shape: one calendar-bounded daily aggregate; the ranking
    window is partitioned PER DAY (k rows per partition — constant);
    everything after is k-bounded algebra."""
    complete = complete_days(mean_series(spark, sf_dir, "event_type", DAY_S))
    w_rank = Window.partitionBy("bucket_start").orderBy("x")
    w_tie = Window.partitionBy("bucket_start", "x")
    ranked = complete.select(
        "event_type",
        "bucket_start",
        "k",
        (
            F.rank().over(w_rank)
            + (F.count("*").over(w_tie) - 1) / F.lit(2.0)
        ).alias("midrank"),
    )
    per = ranked.groupBy("event_type").agg(
        F.max("k").alias("k"),
        F.count("*").alias("n_days"),
        F.sum("midrank").alias("rank_sum"),
    )
    tot = per.agg(
        F.max("k").alias("k2"),
        F.max("n_days").alias("nb"),
        F.sum(F.col("rank_sum") * F.col("rank_sum")).alias("sr2"),
    )
    q = (
        F.lit(12.0)
        / (F.col("nb") * F.col("k2") * (F.col("k2") + 1))
        * F.col("sr2")
        - F.lit(3.0) * F.col("nb") * (F.col("k2") + 1)
    )
    const = tot.select(
        rnd(q, 4).alias("q_stat"), (F.col("k2") - 1).alias("df")
    )
    return per.crossJoin(F.broadcast(const)).select(
        "event_type",
        "n_days",
        rnd("rank_sum", 4).alias("rank_sum"),
        rnd(F.col("rank_sum") / F.col("n_days"), 6).alias("mean_rank"),
        "q_stat",
        "df",
    )


# --------------------------------------------------------------------------
# mutual information between event type and day-of-week
# --------------------------------------------------------------------------

_MI_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7 AS dow,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
margx AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS nx FROM cells GROUP BY 1
),
margy AS (SELECT dow, CAST(sum(n) AS BIGINT) AS ny FROM cells GROUP BY 1),
j AS (
  SELECT c.event_type, c.dow, c.n,
         CAST(c.n AS DOUBLE) / t.nt AS p,
         CAST(x.nx AS DOUBLE) / t.nt AS px,
         CAST(y.ny AS DOUBLE) / t.nt AS py
  FROM cells c
  JOIN margx x ON c.event_type = x.event_type
  JOIN margy y ON c.dow = y.dow
  CROSS JOIN tot t
),
withmi AS (
  SELECT event_type, dow, n, p,
         ln(p / (px * py)) * {INV_LN2} AS pmi_u,
         p * ln(p / (px * py)) * {INV_LN2} AS contrib_u,
         px, py
  FROM j
),
hx AS (
  SELECT sum(t) AS hx FROM (
    SELECT event_type, max(-px * ln(px) * {INV_LN2}) AS t
    FROM withmi GROUP BY 1)
),
hy AS (
  SELECT sum(t) AS hy FROM (
    SELECT dow, max(-py * ln(py) * {INV_LN2}) AS t
    FROM withmi GROUP BY 1)
),
mi AS (SELECT sum(contrib_u) AS mi_u FROM withmi)
SELECT w.event_type, w.dow, w.n,
       round(w.p + {NUDGE}, 6) AS p_joint,
       round(w.pmi_u + {NUDGE}, 6) AS pmi_bits,
       round(w.contrib_u + {NUDGE}, 8) AS mi_contribution_bits,
       round(m.mi_u + {NUDGE}, 6) AS mi_bits,
       round(m.mi_u / least(hx.hx, hy.hy) + {NUDGE}, 6) AS normalized_mi
FROM withmi w CROSS JOIN mi m CROSS JOIN hx CROSS JOIN hy
"""


@register(
    "mutual_information_profile",
    oracle=_MI_ORACLE,
    tags=("prepared-r10",),
)
def mutual_information_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION (bits) between event type and day-of-week,
    cell by cell: each (type, dow) row carries its joint probability,
    pointwise MI, and MI contribution; the total MI and the
    min-entropy-normalized MI ride along as constant columns — the
    dependence screen behind "does traffic mix shift by weekday",
    asked of the SAME bounded contingency table chi-square tests use
    (`contingency_association`) but in information units, which
    compose with the entropy family (`behavior_entropy`,
    `token_entropy_profile`). Day-of-week is derived ARITHMETICALLY
    ((epoch_days + 4) % 7, 0 = Sunday) so no engine calendar function
    (with its locale-dependent week start) enters the hash.

    Scale shape: ONE combinable (type, dow) count over the corpus;
    everything after is algebra on the k x 7 bounded table."""
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            (
                (F.floor(F.col("ts").cast("double") / 86400) + 4) % 7
            )
            .cast("long")
            .alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").alias("n"))
    )
    tot = cells.agg(F.sum("n").alias("nt"))
    margx = cells.groupBy("event_type").agg(F.sum("n").alias("nx"))
    margy = cells.groupBy("dow").agg(F.sum("n").alias("ny"))
    j = (
        cells.join(F.broadcast(margx), "event_type")
        .join(F.broadcast(margy), "dow")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("n").cast("double") / F.col("nt")
    px = F.col("nx").cast("double") / F.col("nt")
    py = F.col("ny").cast("double") / F.col("nt")
    pmi = F.log(p / (px * py)) * F.lit(INV_LN2)
    contrib = p * pmi
    withmi = j.select(
        "event_type",
        "dow",
        "n",
        p.alias("p_joint"),
        pmi.alias("pmi_u"),
        contrib.alias("contrib_u"),
        (-px * F.log(px) * F.lit(INV_LN2)).alias("hx_term"),
    )
    # H(X): sum one term per distinct type; H(Y): one per distinct dow —
    # aggregate the bounded cell table with de-duplicating maxes per key
    hx = (
        withmi.groupBy("event_type")
        .agg(F.max("hx_term").alias("t"))
        .agg(F.sum("t").alias("hx"))
    )
    hy = (
        j.select("dow", (-py * F.log(py) * F.lit(INV_LN2)).alias("t"))
        .groupBy("dow")
        .agg(F.max("t").alias("t"))
        .agg(F.sum("t").alias("hy"))
    )
    mi = withmi.agg(F.sum("contrib_u").alias("mi_u"))
    const = (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            rnd("mi_u", 6).alias("mi_bits"),
            rnd(
                F.col("mi_u") / F.least(F.col("hx"), F.col("hy")), 6
            ).alias("normalized_mi"),
        )
    )
    return withmi.crossJoin(F.broadcast(const)).select(
        "event_type",
        "dow",
        "n",
        rnd("p_joint", 6).alias("p_joint"),
        rnd("pmi_u", 6).alias("pmi_bits"),
        rnd("contrib_u", 8).alias("mi_contribution_bits"),
        "mi_bits",
        "normalized_mi",
    )


# --------------------------------------------------------------------------
# weekend odds-ratio table (2x2 epidemiology-style effect measures)
# --------------------------------------------------------------------------

OR_Z = 1.96  #: 95% normal CI half-width multiplier on the log-OR scale


_OR_ORACLE = f"""
WITH med AS (
  SELECT event_type,
         round(quantile_cont(value, 0.5) + {NUDGE}, 9) AS med
  FROM events GROUP BY 1
),
flagged AS (
  SELECT e.event_type,
         ((CAST(floor(epoch(e.ts)) AS BIGINT) // 86400) + 4) % 7
           IN (0, 6) AS weekend,
         e.value > m.med AS high
  FROM events e JOIN med m ON e.event_type = m.event_type
),
g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN weekend AND high THEN 1 ELSE 0 END) AS BIGINT)
           AS a,
         CAST(sum(CASE WHEN weekend AND NOT high THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT weekend AND high THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(CASE WHEN NOT weekend AND NOT high THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM flagged GROUP BY 1
),
eff AS (
  SELECT *,
         ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5))) AS log_or,
         sqrt(1 / (a + 0.5) + 1 / (b + 0.5)
              + 1 / (c + 0.5) + 1 / (d + 0.5)) AS se
  FROM g
),
eff2 AS (
  SELECT event_type, a, b, c, d,
         round(exp(log_or) + {NUDGE}, 4) AS odds_ratio,
         round(exp(log_or - {OR_Z} * se) + {NUDGE}, 4) AS or_ci_lo,
         round(exp(log_or + {OR_Z} * se) + {NUDGE}, 4) AS or_ci_hi,
         round((CAST(a AS DOUBLE) / (a + b))
               / (CAST(c AS DOUBLE) / (c + d)) + {NUDGE}, 4)
           AS relative_risk
  FROM eff
)
SELECT *, (or_ci_lo > 1.0 OR or_ci_hi < 1.0) AS significant
FROM (SELECT event_type, a, b, c, d, odds_ratio, or_ci_lo, or_ci_hi,
             relative_risk FROM eff2)
"""


@register("odds_ratio_table", oracle=_OR_ORACLE, tags=("prepared-r10",))
def odds_ratio_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 EFFECT-MEASURE TABLE per event type: exposure = weekend
    (arithmetic day-of-week), outcome = value above the type's exact
    median; reports the Haldane-Anscombe-corrected ODDS RATIO with its
    95% log-scale CI and the RELATIVE RISK — the epidemiology-style
    effect measures the A/B battery lacks (lift is a ratio of means;
    OR/RR are the ratios of RATES, comparable across prevalences and
    robust to the 0-cell via the +0.5 correction). The significance
    flag reads the ROUNDED CI bounds.

    Scale shape: a broadcast per-type median join, then ONE combinable
    pass producing the four 2x2 cells per type — bounded algebra
    after."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") + F.lit(NUDGE), 9).alias(
            "med"
        )
    )
    dow = ((F.floor(F.col("ts").cast("double") / 86400) + 4) % 7).cast(
        "long"
    )
    flagged = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        ((dow == 0) | (dow == 6)).alias("weekend"),
        (F.col("value") > F.col("med")).alias("high"),
    )
    g = flagged.groupBy("event_type").agg(
        F.sum((F.col("weekend") & F.col("high")).cast("long")).alias("a"),
        F.sum((F.col("weekend") & ~F.col("high")).cast("long")).alias("b"),
        F.sum((~F.col("weekend") & F.col("high")).cast("long")).alias("c"),
        F.sum((~F.col("weekend") & ~F.col("high")).cast("long")).alias("d"),
    )
    ah = F.col("a") + 0.5
    bh = F.col("b") + 0.5
    ch = F.col("c") + 0.5
    dh = F.col("d") + 0.5
    log_or = F.log(ah * dh / (bh * ch))
    se = F.sqrt(1 / ah + 1 / bh + 1 / ch + 1 / dh)
    lo_r = rnd(F.exp(log_or - F.lit(OR_Z) * se), 4)
    hi_r = rnd(F.exp(log_or + F.lit(OR_Z) * se), 4)
    rr = (
        F.col("a") / (F.col("a") + F.col("b"))
    ) / (F.col("c") / (F.col("c") + F.col("d")))
    return g.select(
        "event_type",
        "a",
        "b",
        "c",
        "d",
        rnd(F.exp(log_or), 4).alias("odds_ratio"),
        lo_r.alias("or_ci_lo"),
        hi_r.alias("or_ci_hi"),
        rnd(rr, 4).alias("relative_risk"),
        ((lo_r > 1.0) | (hi_r < 1.0)).alias("significant"),
    )


# --------------------------------------------------------------------------
# Cochran's Q over binary day-blocks
# --------------------------------------------------------------------------

_COCHRAN_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
{COMPLETE_DAYS_CTE},
{DAILY_MEDIAN_CTE},
flagged AS (
  SELECT c.event_type, c.bucket_start, c.k,
         CAST(c.x > m.med AS BIGINT) AS s
  FROM complete c JOIN med m ON c.event_type = m.event_type
),
rows_r AS (
  SELECT bucket_start, CAST(sum(s) AS BIGINT) AS r_i
  FROM flagged GROUP BY 1
),
cols_c AS (
  SELECT event_type, max(k) AS k, count(*) AS n_days,
         CAST(sum(s) AS BIGINT) AS c_j
  FROM flagged GROUP BY 1
),
rtot AS (
  SELECT CAST(sum(r_i) AS BIGINT) AS t,
         CAST(sum(r_i * r_i) AS BIGINT) AS sr2
  FROM rows_r
),
ctot AS (
  SELECT max(k) AS k2, CAST(sum(c_j * c_j) AS BIGINT) AS sc2 FROM cols_c
)
SELECT c.event_type, c.n_days, c.c_j AS days_above_median,
       round(CAST(t.k2 - 1 AS DOUBLE)
             * (t.k2 * t.sc2 - r.t * r.t)
             / (t.k2 * r.t - r.sr2) + {NUDGE}, 4) AS q_stat,
       t.k2 - 1 AS df
FROM cols_c c CROSS JOIN ctot t CROSS JOIN rtot r
"""


@register("cochran_q_test", oracle=_COCHRAN_ORACLE, tags=("prepared-r10",))
def cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q TEST: the binary repeated-measures counterpart of
    `friedman_test` — blocks are complete days, the binary response is
    "the type's daily mean exceeded its own global (daily-series)
    median", and Q = (k-1)[k*sum C_j^2 - T^2] / [k*T - sum R_i^2]
    asks whether the k event types' above-median DAYS are
    synchronized or independent. Medians are taken over the 9dp-
    rounded daily means so the binarization is engine-identical.

    Scale shape: calendar-bounded daily aggregate -> broadcast
    per-type median join -> two bounded aggregates (per-day row sums,
    per-type column sums). Nothing touches event cardinality after
    the first groupBy."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    complete = (
        complete_days(daily)
        .join(F.broadcast(daily_median(daily)), "event_type")
        .select(
            "event_type",
            "bucket_start",
            "k",
            (F.col("x") > F.col("med")).cast("long").alias("s"),
        )
    )
    rows_r = complete.groupBy("bucket_start").agg(F.sum("s").alias("r_i"))
    cols_c = complete.groupBy("event_type").agg(
        F.max("k").alias("k"),
        F.count("*").alias("n_days"),
        F.sum("s").alias("c_j"),
    )
    rtot = rows_r.agg(
        F.sum("r_i").alias("t"),
        F.sum(F.col("r_i") * F.col("r_i")).alias("sr2"),
    )
    ctot = cols_c.agg(
        F.max("k").alias("k2"),
        F.sum(F.col("c_j") * F.col("c_j")).alias("sc2"),
    )
    q = (
        (F.col("k2") - 1).cast("double")
        * (F.col("k2") * F.col("sc2") - F.col("t") * F.col("t"))
        / (F.col("k2") * F.col("t") - F.col("sr2"))
    )
    const = ctot.crossJoin(F.broadcast(rtot)).select(
        rnd(q, 4).alias("q_stat"), (F.col("k2") - 1).alias("df")
    )
    return cols_c.crossJoin(F.broadcast(const)).select(
        "event_type",
        "n_days",
        F.col("c_j").alias("days_above_median"),
        "q_stat",
        "df",
    )


# --------------------------------------------------------------------------
# Poisson rate-ratio test (weekend vs weekday arrival intensity)
# --------------------------------------------------------------------------

_POISSON_ORACLE = f"""
WITH dayed AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_idx
  FROM events
),
flagged AS (
  SELECT event_type, day_idx,
         ((day_idx + 4) % 7) IN (0, 6) AS weekend
  FROM dayed
),
per_day AS (
  SELECT event_type, day_idx, weekend, count(*) AS n
  FROM flagged GROUP BY 1, 2, 3
),
g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN weekend THEN n ELSE 0 END) AS BIGINT) AS n_we,
         CAST(sum(CASE WHEN NOT weekend THEN n ELSE 0 END) AS BIGINT)
           AS n_wd,
         CAST(sum(CASE WHEN weekend THEN 1 ELSE 0 END) AS BIGINT)
           AS days_we,
         CAST(sum(CASE WHEN NOT weekend THEN 1 ELSE 0 END) AS BIGINT)
           AS days_wd
  FROM per_day GROUP BY 1
),
eff AS (
  SELECT *,
         ln(((n_we + 0.5) / days_we) / ((n_wd + 0.5) / days_wd)) AS lrr,
         sqrt(1 / (n_we + 0.5) + 1 / (n_wd + 0.5)) AS se
  FROM g
),
eff2 AS (
  SELECT event_type, n_we, n_wd, days_we, days_wd,
         round(CAST(n_we AS DOUBLE) / days_we + {NUDGE}, 4)
           AS rate_weekend,
         round(CAST(n_wd AS DOUBLE) / days_wd + {NUDGE}, 4)
           AS rate_weekday,
         round(exp(lrr) + {NUDGE}, 4) AS rate_ratio,
         round(exp(lrr - 1.96 * se) + {NUDGE}, 4) AS rr_ci_lo,
         round(exp(lrr + 1.96 * se) + {NUDGE}, 4) AS rr_ci_hi,
         round(lrr / se + {NUDGE}, 4) AS z_stat
  FROM eff
)
SELECT *, abs(z_stat) > 1.96 AS significant FROM eff2
"""


@register(
    "poisson_rate_ratio_test",
    oracle=_POISSON_ORACLE,
    tags=("prepared-r10",),
)
def poisson_rate_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON RATE-RATIO TEST per event type: weekend vs weekday
    ARRIVAL INTENSITY (events per observed day), with the
    log-rate-ratio normal test and 95% CI — the COUNT-side complement
    of `odds_ratio_table` (which conditions on an outcome; this asks
    whether the arrival process itself beats/undershoots the weekday
    rate). Haldane +0.5 on both counts keeps the log finite and is
    applied identically in both engines. Day-of-week is the same
    arithmetic (epoch_days+4)%7 used cohort-wide.

    Scale shape: ONE combinable pass per type (conditional counts +
    distinct-day counts via the day-level pre-aggregate) — bounded
    algebra after."""
    ev = load(spark, sf_dir, "events")
    dayed = ev.select(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 86400)).cast("long").alias(
            "day_idx"
        ),
    ).select(
        "event_type",
        "day_idx",
        (((F.col("day_idx") + 4) % 7).isin(0, 6)).alias("weekend"),
    )
    per_day = dayed.groupBy("event_type", "day_idx", "weekend").agg(
        F.count("*").alias("n")
    )
    g = per_day.groupBy("event_type").agg(
        F.sum(F.when(F.col("weekend"), F.col("n")).otherwise(0)).alias(
            "n_we"
        ),
        F.sum(F.when(~F.col("weekend"), F.col("n")).otherwise(0)).alias(
            "n_wd"
        ),
        F.sum(F.when(F.col("weekend"), 1).otherwise(0))
        .cast("long")
        .alias("days_we"),
        F.sum(F.when(~F.col("weekend"), 1).otherwise(0))
        .cast("long")
        .alias("days_wd"),
    )
    rate_we = F.col("n_we") / F.col("days_we")
    rate_wd = F.col("n_wd") / F.col("days_wd")
    lrr = F.log(
        ((F.col("n_we") + 0.5) / F.col("days_we"))
        / ((F.col("n_wd") + 0.5) / F.col("days_wd"))
    )
    se = F.sqrt(1 / (F.col("n_we") + 0.5) + 1 / (F.col("n_wd") + 0.5))
    z_r = rnd(lrr / se, 4)
    return g.select(
        "event_type",
        "n_we",
        "n_wd",
        "days_we",
        "days_wd",
        rnd(rate_we, 4).alias("rate_weekend"),
        rnd(rate_wd, 4).alias("rate_weekday"),
        rnd(F.exp(lrr), 4).alias("rate_ratio"),
        rnd(F.exp(lrr - 1.96 * se), 4).alias("rr_ci_lo"),
        rnd(F.exp(lrr + 1.96 * se), 4).alias("rr_ci_hi"),
        z_r.alias("z_stat"),
        (F.abs(z_r) > 1.96).alias("significant"),
    )


# --------------------------------------------------------------------------
# McNemar's test on consecutive-day paired states
# --------------------------------------------------------------------------

MCNEMAR_CRIT = 3.841  #: chi-square 5% critical value at df = 1


_MCNEMAR_ORACLE = f"""
WITH {TYPE_DAILY_CTE},
{DAILY_MEDIAN_CTE},
flagged AS (
  SELECT d.event_type, d.bucket_start, d.x > m.med AS hi
  FROM daily d JOIN med m ON d.event_type = m.event_type
),
paired AS (
  SELECT event_type, hi,
         lag(hi) OVER (PARTITION BY event_type ORDER BY bucket_start)
           AS hi_prev,
         bucket_start - lag(bucket_start) OVER (PARTITION BY event_type
                                                ORDER BY bucket_start) AS gap
  FROM flagged
),
g AS (
  SELECT event_type, count(*) AS n_pairs,
         CAST(sum(CASE WHEN hi_prev AND NOT hi THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT hi_prev AND hi THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM paired WHERE hi_prev IS NOT NULL AND gap = 86400
  GROUP BY 1
),
eff AS (
  SELECT event_type, n_pairs, b, c,
         round(pow(abs(b - c) - 1, 2.0) / (b + c) + {NUDGE}, 4)
           AS chi2_stat
  FROM g
)
SELECT *, chi2_stat > {MCNEMAR_CRIT} AS asymmetric_flips FROM eff
"""


@register("mcnemar_test", oracle=_MCNEMAR_ORACLE, tags=("prepared-r10",))
def mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST per event type on CONSECUTIVE-DAY pairs: did the
    series flip above/below its own median more often in one direction
    than the other? Pairs (day t-1, day t) are the matched samples;
    the discordant cells b (above->below) and c (below->above) feed
    the continuity-corrected chi-square (|b-c|-1)^2/(b+c) — the
    paired counterpart of `odds_ratio_table`'s independent 2x2, and a
    direct test of drift DIRECTION asymmetry (a trending series flips
    one way more than the other; `mann_kendall_trend` measures the
    trend, McNemar certifies the flip asymmetry). Only strictly
    consecutive days pair (gap = 86400), so missing days break pairs
    identically in both engines.

    Scale shape: calendar-bounded daily aggregate + broadcast median
    join + one lag window per type + ONE combinable count aggregate."""
    daily = mean_series(spark, sf_dir, "event_type", DAY_S)
    flagged = daily.join(F.broadcast(daily_median(daily)), "event_type").select(
        "event_type",
        "bucket_start",
        (F.col("x") > F.col("med")).alias("hi"),
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    paired = flagged.select(
        "event_type",
        "hi",
        F.lag("hi").over(w).alias("hi_prev"),
        (F.col("bucket_start") - F.lag("bucket_start").over(w)).alias("gap"),
    ).where(F.col("hi_prev").isNotNull() & (F.col("gap") == DAY_S))
    g = paired.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("hi_prev") & ~F.col("hi")).cast("long")).alias("b"),
        F.sum((~F.col("hi_prev") & F.col("hi")).cast("long")).alias("c"),
    )
    chi = F.pow(F.abs(F.col("b") - F.col("c")) - 1, F.lit(2.0)) / (
        F.col("b") + F.col("c")
    )
    chi_r = rnd(chi, 4)
    return g.select(
        "event_type",
        "n_pairs",
        "b",
        "c",
        chi_r.alias("chi2_stat"),
        (chi_r > MCNEMAR_CRIT).alias("asymmetric_flips"),
    )


# --------------------------------------------------------------------------
# Hill tail-index estimator over top order statistics
# --------------------------------------------------------------------------

HILL_KS = (50, 100, 200)  #: order-statistic depths for the Hill curve


def _hill_oracle() -> str:
    ks = ", ".join(str(k) for k in HILL_KS)
    return f"""
WITH top AS (
  SELECT o_totalprice AS x,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
           AS rk
  FROM orders
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT {max(HILL_KS) + 1}
),
ks AS (SELECT unnest([{ks}]) AS k),
thresholds AS (
  SELECT ks.k, top.x AS x_k1
  FROM top JOIN ks ON top.rk = ks.k + 1
),
joined AS (
  SELECT t.k, t.x_k1, top.x
  FROM top JOIN thresholds t ON top.rk <= t.k
)
SELECT k,
       round(max(x_k1) + {NUDGE}, 4) AS threshold,
       round(avg(ln(x / x_k1)) + {NUDGE}, 6) AS hill_h,
       round(1.0 / avg(ln(x / x_k1)) + {NUDGE}, 4) AS tail_alpha
FROM joined GROUP BY k
"""


@register("hill_tail_index", oracle=_hill_oracle(), tags=("prepared-r10",))
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL TAIL-INDEX curve for order totals: for each depth k,
    H_k = (1/k) * sum_{i<=k} ln(x_(i) / x_(k+1)) over the descending
    order statistics and tail alpha = 1/H_k — the standard estimator
    of the Pareto tail exponent, read across several k to see whether
    the tail is stable (the plot behind `value_at_risk`'s quantile
    choice and `extreme_value_return_levels`' block-maxima fit; Hill
    uses ALL top-k exceedances, not just block maxima). Ties broken
    by o_orderkey so the order statistics are engine-identical.

    Scale shape: the ONLY corpus touch is orderBy().limit(max_k + 1)
    — Spark plans TakeOrderedAndProject (per-partition heaps, k+1-row
    driver merge), the repo's blessed top-k pattern; every window
    after runs on the 201-row bounded set."""
    orders = load(spark, sf_dir, "orders")
    top = (
        orders.select("o_totalprice", "o_orderkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(max(HILL_KS) + 1)
    )
    w = Window.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    idx = top.select(
        F.row_number().over(w).alias("rk"),
        F.col("o_totalprice").alias("x"),
    )
    ks = spark.createDataFrame(
        [(k,) for k in HILL_KS], "k long"
    )
    thresholds = idx.join(
        F.broadcast(ks), F.col("rk") == F.col("k") + 1
    ).select("k", F.col("x").alias("x_k1"))
    joined = idx.join(F.broadcast(thresholds), F.col("rk") <= F.col("k"))
    return (
        joined.groupBy("k")
        .agg(
            F.max("x_k1").alias("threshold"),
            F.avg(F.log(F.col("x") / F.col("x_k1"))).alias("h_u"),
        )
        .select(
            "k",
            rnd("threshold", 4).alias("threshold"),
            rnd("h_u", 6).alias("hill_h"),
            # h_u == 0 when the top-(k+1) values are ALL ties (a
            # replicated corpus saturates the tail: the 100x probe hit
            # this — every order has 99 twins, so the top-101 are one
            # value and ln(x/x_k1) == 0 for every row). The estimator
            # is undefined there; DuckDB's x/0 is NULL, so try_divide
            # is the engine-identical spelling, not an error guard.
            rnd(F.try_divide(F.lit(1.0), F.col("h_u")), 4).alias("tail_alpha"),
        )
    )
