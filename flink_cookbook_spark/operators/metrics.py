"""Reference-pipeline batch twins over the ``events`` fixture table.

The reference job (see SURVEY.md section 2.1) is: Kafka/datagen source ->
JSON parse (P1) -> key_by node_id (K1) -> 5-min tumbling window avg (W1/W2)
-> Welford running moments + z-score scaling (A1/A2) -> SARIMAX baseline
(A5) -> trend metrics (A7) -> latest-value broadcast join (J1) -> deviation
alerts (J2) -> sinks (O1). Reference citations: /root/reference/src/
flinkarima.py:121-127 (parse), :261-281 (window avg), :178-216 (Welford),
:130-142 (trend), :288-376 (broadcast join + alerts).

Here each stage is a *batch twin* over ``events`` (``user_id`` plays
node_id, ``value`` plays cpu — FIXTURES.md B2), expressed in pure
DataFrame ops so Catalyst plans them (hash-agg with partial aggregation,
single shuffle per keyed stage, whole-stage codegen) and DuckDB can check
them. The streaming forms live in flink_cookbook_spark/streaming/.

Scale notes (100 TB): every query below shuffles at most twice — once for
the (window_start, user_id) hash aggregation (map-side partial agg first),
once for the per-user window functions. The window-function stage re-uses
the same ``user_id`` hash partitioning, so with AQE the second exchange
coalesces; no broadcast, no driver-side collection, no Python in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import ROUND_DP, register, rnd
from flink_cookbook_spark.functions.time import epoch_seconds

#: reference defaults (/root/reference/run_job.sh:29-31, flinkarima.py:516-533)
Z_THRESHOLD = 3.0
PCT_THRESHOLD = 50.0
MIN_BASELINE = 1.0
#: 5-minute tumble (flinkarima.py:420-422)
WINDOW_SECONDS = 300
#: emit cadence: fit/emit every Nth window sample (flinkarima.py:218-224)
EMIT_EVERY_N = 5
#: the alert schema of every-window alerting, batch flagship and stream
ALERT_COLS = [
    "user_id", "window_start", "alert_type", "severity", "observed", "baseline",
    "deviation", "pct_deviation", "z_score", "baseline_window_start",
]


def score_alerts(
    scored: DataFrame,
    z_threshold: float = Z_THRESHOLD,
    pct_threshold: float = PCT_THRESHOLD,
    min_baseline: float = MIN_BASELINE,
) -> DataFrame:
    """J2, the alert rule (flinkarima.py:516-533) as column expressions:
    score ``observed`` against ``baseline`` and ``running_std``, keep the
    rows past either threshold, and append ``deviation``,
    ``pct_deviation``, ``z_score``, ``alert_type`` and ``severity``."""
    deviation = F.col("observed") - F.col("baseline")
    pct = F.when(
        F.col("baseline") >= min_baseline, deviation / F.col("baseline") * 100.0
    ).otherwise(F.lit(0.0))
    z = F.when(F.col("running_std") > 0, deviation / F.col("running_std")).otherwise(
        F.lit(0.0)
    )
    return (
        scored.withColumn("deviation", deviation)
        .withColumn("pct_deviation", pct)
        .withColumn("z_score", z)
        .where(
            (F.abs(F.col("z_score")) >= z_threshold)
            | (F.abs(F.col("pct_deviation")) >= pct_threshold)
        )
        .withColumn("alert_type", F.lit("cpu_deviation"))
        .withColumn(
            "severity",
            F.when(F.abs(F.col("z_score")) >= 2 * z_threshold, "high").otherwise("medium"),
        )
    )


def five_min_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2: per-key 5-minute tumbling window average (+ max event time).

    Twin of FiveMinuteAverager (flinkarima.py:261-281). Event-time windows
    (SURVEY.md section 1.4): deterministic and strictly more correct than
    the reference's processing-time tumble.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            rnd(F.avg("value")).alias("avg_value"),
            F.count("*").alias("n_events"),
            F.max(epoch_seconds("ts")).alias("max_ts"),
        )
        .select(
            epoch_seconds("w.start").alias("window_start"),
            "user_id",
            "avg_value",
            "n_events",
            "max_ts",
        )
    )


_WINDOW_AGG_ORACLE = f"""
SELECT CAST(floor(epoch(ts) / {WINDOW_SECONDS}) * {WINDOW_SECONDS} AS BIGINT) AS window_start,
       user_id,
       round(avg(value) + 1e-6, {ROUND_DP}) AS avg_value,
       count(*) AS n_events,
       CAST(floor(max(epoch(ts))) AS BIGINT) AS max_ts
FROM events
GROUP BY 1, 2
"""

register("five_min_window_agg", oracle=_WINDOW_AGG_ORACLE, tags=("streaming-twin", "W1", "W2"))(
    five_min_window_agg
)


def _windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared first stage: the 5-min window aggregate, minimal columns.

    Materialized once per (session, sf_dir) via memo_persist — this is
    the continuous aggregate every downstream metrics query starts from
    (z-score, Welford, trends, as-of join, both alert pipelines), and
    several of them consume it twice within one plan. A production
    deployment materializes exactly this table (the reference emits it
    as its ``raw_metrics`` stream, flinkarima.py:443-451); recomputing
    the events scan + window agg per use was the single largest source
    of duplicated work in the bench set. Released by _cache.clear()."""
    from flink_cookbook_spark.pipeline._cache import memo_persist

    def build() -> DataFrame:
        ev = load(spark, sf_dir, "events")
        return (
            ev.groupBy(F.window("ts", "5 minutes").alias("w"), "user_id")
            .agg(rnd(F.avg("value")).alias("avg_value"))
            .select(epoch_seconds("w.start").alias("window_start"), "user_id", "avg_value")
            # materialize partitioned by the key every consumer clusters
            # on: this repartition("user_id") is what lets the per-user
            # Window, Aggregate and model (``baseline_batch``) consumers
            # skip their Exchange — the persisted relation's
            # hashpartitioning(user_id) is recognized through
            # InMemoryTableScan (the session enables
            # canChangeCachedPlanOutputPartitioning). One extra
            # 3 MB shuffle at build time buys exchange-free consumers —
            # the on-disk analogue is writing the continuous aggregate
            # bucketed by user_id.
            .repartition("user_id")
        )

    return memo_persist(spark, "windowed_5m", sf_dir, build)


_WINDOWED_CTE = f"""
windowed AS (
  SELECT CAST(floor(epoch(ts) / {WINDOW_SECONDS}) * {WINDOW_SECONDS} AS BIGINT) AS window_start,
         user_id,
         round(avg(value) + 1e-6, {ROUND_DP}) AS avg_value
  FROM events
  GROUP BY 1, 2
)
"""


def welford_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-key running count/mean/std over window averages.

    The reference maintains Welford count/mean/M2 state per node
    (flinkarima.py:178-216); the batch twin is Spark's hash aggregate —
    ``stddev_samp`` is itself Welford-style internally, computed
    distributed with map-side partial moments (no naive two-pass).
    """
    win = _windowed(spark, sf_dir)
    return win.groupBy("user_id").agg(
        F.count("avg_value").alias("n_samples"),
        rnd(F.avg("avg_value")).alias("running_mean"),
        rnd(F.stddev_samp("avg_value")).alias("running_std"),
    )


register(
    "welford_moments",
    oracle="WITH "
    + _WINDOWED_CTE
    + f"""
SELECT user_id,
       count(avg_value) AS n_samples,
       round(avg(avg_value) + 1e-6, {ROUND_DP}) AS running_mean,
       round(stddev_samp(avg_value) + 1e-6, {ROUND_DP}) AS running_std
FROM windowed
GROUP BY user_id
""",
    tags=("streaming-twin", "A1"),
)(welford_moments)


def zscore_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: the reference's core question as one batch query.

    Per-node 5-minute average CPU, z-scored against the *prior* trailing
    mean/std (the reference scales with moments excluding the current
    point — flinkarima.py:197-199), flagged when |z| >= 3 or percent
    deviation >= 50% (flinkarima.py:331-340). Composes W1+W2+A1+A2+J2.

    Emits every scored window with ``is_alert``/``severity`` columns
    rather than filtering, so the full scoring surface is checkable.
    """
    win = _windowed(spark, sf_dir)
    prior = (
        Window.partitionBy("user_id")
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = win.select(
        "user_id",
        "window_start",
        "avg_value",
        F.count("avg_value").over(prior).alias("n_prior"),
        F.avg("avg_value").over(prior).alias("mean_prior"),
        F.stddev_samp("avg_value").over(prior).alias("std_prior"),
    ).where(F.col("n_prior") >= 3)

    z = F.when(
        F.col("std_prior").isNotNull() & (F.col("std_prior") > 0),
        (F.col("avg_value") - F.col("mean_prior")) / F.col("std_prior"),
    ).otherwise(F.lit(0.0))
    deviation = F.col("avg_value") - F.col("mean_prior")
    pct = F.when(
        F.col("mean_prior") >= MIN_BASELINE, deviation / F.col("mean_prior") * 100.0
    ).otherwise(F.lit(0.0))

    scored = (
        scored.withColumn("z_score_raw", z)
        .withColumn("pct_deviation_raw", pct)
        .withColumn(
            "is_alert",
            (F.abs(F.col("z_score_raw")) >= Z_THRESHOLD)
            | (F.abs(F.col("pct_deviation_raw")) >= PCT_THRESHOLD),
        )
        .withColumn(
            "severity",
            F.when(~F.col("is_alert"), F.lit("none"))
            .when(F.abs(F.col("z_score_raw")) >= 2 * Z_THRESHOLD, F.lit("high"))
            .otherwise(F.lit("medium")),
        )
    )
    return scored.select(
        "user_id",
        "window_start",
        F.col("avg_value").alias("observed"),
        rnd("mean_prior").alias("baseline"),
        rnd("z_score_raw").alias("z_score"),
        rnd("pct_deviation_raw").alias("pct_deviation"),
        "is_alert",
        "severity",
    )


_ZSCORE_ORACLE = (
    "WITH "
    + _WINDOWED_CTE
    + f""",
scored AS (
  SELECT user_id, window_start, avg_value,
         count(avg_value) OVER prior AS n_prior,
         avg(avg_value) OVER prior AS mean_prior,
         stddev_samp(avg_value) OVER prior AS std_prior
  FROM windowed
  WINDOW prior AS (PARTITION BY user_id ORDER BY window_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
calc AS (
  SELECT *,
         CASE WHEN std_prior IS NOT NULL AND std_prior > 0
              THEN (avg_value - mean_prior) / std_prior ELSE 0.0 END AS z_raw,
         CASE WHEN mean_prior >= {MIN_BASELINE}
              THEN (avg_value - mean_prior) / mean_prior * 100.0 ELSE 0.0 END AS pct_raw
  FROM scored
  WHERE n_prior >= 3
)
SELECT user_id, window_start,
       avg_value AS observed,
       round(mean_prior + 1e-6, {ROUND_DP}) AS baseline,
       round(z_raw + 1e-6, {ROUND_DP}) AS z_score,
       round(pct_raw + 1e-6, {ROUND_DP}) AS pct_deviation,
       (abs(z_raw) >= {Z_THRESHOLD} OR abs(pct_raw) >= {PCT_THRESHOLD}) AS is_alert,
       CASE WHEN NOT (abs(z_raw) >= {Z_THRESHOLD} OR abs(pct_raw) >= {PCT_THRESHOLD}) THEN 'none'
            WHEN abs(z_raw) >= {2 * Z_THRESHOLD} THEN 'high'
            ELSE 'medium' END AS severity
FROM calc
"""
)

register("zscore_flags", oracle=_ZSCORE_ORACLE, tags=("flagship", "A1", "A2", "J2"))(zscore_flags)


def deviation_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the filtered alert stream (only rows crossing thresholds).

    Twin of AlertFunction.process_element (flinkarima.py:322-356), with
    alert_type/alert_reason assembled exactly like the reference contract
    (README.md:129-144).
    """
    scored = zscore_flags(spark, sf_dir)
    return (
        scored.where(F.col("is_alert"))
        .withColumn("alert_type", F.lit("cpu_deviation"))
        .withColumn(
            "alert_reason",
            F.when(
                F.abs(F.col("z_score")) >= Z_THRESHOLD,
                F.format_string("z_score %.2f exceeds threshold", rnd(F.col("z_score"), 2)),
            ).otherwise(
                F.format_string(
                    "pct_deviation %.2f exceeds threshold", rnd(F.col("pct_deviation"), 2)
                )
            ),
        )
        .select(
            "user_id",
            "window_start",
            "alert_type",
            "severity",
            "observed",
            "baseline",
            rnd(F.col("observed") - F.col("baseline")).alias("deviation"),
            "pct_deviation",
            "z_score",
            "alert_reason",
        )
    )


_ALERTS_ORACLE = (
    "WITH "
    + _WINDOWED_CTE
    + f""",
scored AS (
  SELECT user_id, window_start, avg_value,
         count(avg_value) OVER prior AS n_prior,
         avg(avg_value) OVER prior AS mean_prior,
         stddev_samp(avg_value) OVER prior AS std_prior
  FROM windowed
  WINDOW prior AS (PARTITION BY user_id ORDER BY window_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
calc AS (
  SELECT *,
         CASE WHEN std_prior IS NOT NULL AND std_prior > 0
              THEN (avg_value - mean_prior) / std_prior ELSE 0.0 END AS z_raw,
         CASE WHEN mean_prior >= {MIN_BASELINE}
              THEN (avg_value - mean_prior) / mean_prior * 100.0 ELSE 0.0 END AS pct_raw
  FROM scored
  WHERE n_prior >= 3
)
SELECT user_id, window_start,
       'cpu_deviation' AS alert_type,
       CASE WHEN abs(z_raw) >= {2 * Z_THRESHOLD} THEN 'high' ELSE 'medium' END AS severity,
       avg_value AS observed,
       round(mean_prior + 1e-6, {ROUND_DP}) AS baseline,
       round(avg_value - round(mean_prior + 1e-6, {ROUND_DP}) + 1e-6, {ROUND_DP}) AS deviation,
       round(pct_raw + 1e-6, {ROUND_DP}) AS pct_deviation,
       round(z_raw + 1e-6, {ROUND_DP}) AS z_score,
       CASE WHEN abs(round(z_raw + 1e-6, {ROUND_DP})) >= {Z_THRESHOLD}
            THEN printf('z_score %.2f exceeds threshold',
                        round(round(z_raw + 1e-6, {ROUND_DP}) + 1e-6, 2))
            ELSE printf('pct_deviation %.2f exceeds threshold',
                        round(round(pct_raw + 1e-6, {ROUND_DP}) + 1e-6, 2)) END
         AS alert_reason
FROM calc
WHERE abs(z_raw) >= {Z_THRESHOLD} OR abs(pct_raw) >= {PCT_THRESHOLD}
"""
)

register("deviation_alerts", oracle=_ALERTS_ORACLE, tags=("J2",))(deviation_alerts)


def trailing_trend_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: trailing moving averages over the per-key window series.

    Twin of _daily_trend_metrics (flinkarima.py:130-142): avg of the last
    season of samples and avg of the last 5 seasons. The reference season
    is 288 5-min samples (1 day); the fixture series is shorter, so the
    twin uses a 12-sample (1 h) and 48-sample (4 h) frame — same frames,
    smaller constants.
    """
    win = _windowed(spark, sf_dir)
    base = Window.partitionBy("user_id").orderBy("window_start")
    hour_frame = base.rowsBetween(-11, 0)
    four_hour_frame = base.rowsBetween(-47, 0)
    return win.select(
        "user_id",
        "window_start",
        "avg_value",
        rnd(F.avg("avg_value").over(hour_frame)).alias("trailing_1h_avg"),
        rnd(F.avg("avg_value").over(four_hour_frame)).alias("trailing_4h_avg"),
    )


register(
    "trailing_trend_metrics",
    oracle="WITH "
    + _WINDOWED_CTE
    + f"""
SELECT user_id, window_start, avg_value,
       round(avg(avg_value) OVER (PARTITION BY user_id ORDER BY window_start
                                  ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) + 1e-6, {ROUND_DP})
         AS trailing_1h_avg,
       round(avg(avg_value) OVER (PARTITION BY user_id ORDER BY window_start
                                  ROWS BETWEEN 47 PRECEDING AND CURRENT ROW) + 1e-6, {ROUND_DP})
         AS trailing_4h_avg
FROM windowed
""",
    tags=("streaming-twin", "A7"),
)(trailing_trend_metrics)


def emit_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: sample-count emit trigger — keep every Nth window sample per key.

    Twin of the reference's modular emit counter (flinkarima.py:218-224,
    N=5): batch form is ``row_number() % N = 0`` after ordering by window
    start within each key.
    """
    win = _windowed(spark, sf_dir)
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("window_start"))
    return (
        win.withColumn("sample_no", rn)
        .where(F.col("sample_no") % EMIT_EVERY_N == 0)
        .select("user_id", "window_start", "avg_value", "sample_no")
    )


register(
    "emit_cadence",
    oracle="WITH "
    + _WINDOWED_CTE
    + f""",
numbered AS (
  SELECT user_id, window_start, avg_value,
         row_number() OVER (PARTITION BY user_id ORDER BY window_start) AS sample_no
  FROM windowed
)
SELECT user_id, window_start, avg_value, CAST(sample_no AS INTEGER) AS sample_no
FROM numbered WHERE sample_no % {EMIT_EVERY_N} = 0
""",
    tags=("streaming-twin", "A4"),
)(emit_cadence)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    how: str = "inner",
) -> DataFrame:
    """Generic as-of (latest-value) join: for each left row, attach the
    most recent right row with ``right_ts <= left_ts`` on the same key.

    Twin of the reference's broadcast latest-value join (J1,
    flinkarima.py:288-376). The reference needs Flink broadcast state only
    because baselines must reach every alert subtask; in Spark both sides
    hash-partition on the key, so the scalable plan is a single-shuffle
    union + sorted last_value sweep — NO range join, NO per-key cross
    product, no broadcast. Cost: one exchange on ``key`` + one sort —
    this survives 100 TB with skew handled by AQE.

    ``how='inner'`` drops left rows with no prior right row (the
    reference's skip-if-missing, flinkarima.py:313-316).
    """
    lcols = [c for c in left.columns if c not in (key, left_ts)]
    marked_left = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in value_cols],
        F.lit(None).cast("long").alias("_r_ts"),
    )
    # right rows sort BEFORE left rows at equal ts => a baseline emitted
    # at ts is visible to a left row at the same ts (documented order:
    # right_ts <= left_ts, latest wins — SURVEY.md section 7.3).
    marked_right = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
        epoch_seconds(right_ts).alias("_r_ts"),
    )
    # deterministic tie-break among RIGHT rows sharing (key, ts): order by
    # the carried value columns too, so last() always picks the greatest
    # value tuple instead of whichever row the shuffle happened to deliver
    # last. Left rows are unaffected (their _r_* are all NULL and the
    # sweep reads only _r_*).
    sweep = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", *[F.col(f"_r_{c}") for c in value_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = marked_left.unionByName(marked_right).select(
        "*",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(sweep).alias(f"_f_{c}")
            for c in value_cols
        ],
        F.last("_r_ts", ignorenulls=True).over(sweep).alias("_f_ts"),
    )
    out = filled.where(F.col("_side") == 1)
    if how == "inner":
        out = out.where(F.col("_f_ts").isNotNull())
    return out.select(
        F.col("_k").alias(key),
        F.col("_ts").alias(left_ts),
        *[F.col(c) for c in lcols],
        *[F.col(f"_f_{c}").alias(f"{c}_asof") for c in value_cols],
        F.col("_f_ts").alias(f"{right_ts}_asof"),
    )


def latest_baseline_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 twin: enrich each window sample with the latest prior baseline.

    Baselines are the emit-cadence rows (every 5th sample per key, A4);
    raw rows are all window samples. Matches the reference topology where
    the SARIMAX branch emits baselines every Nth window and the alert
    operator looks up the latest one per key (flinkarima.py:309-316).

    Because the baselines are DERIVED from the same windowed series, the
    generic union+sweep ``asof_join`` is overkill here: the union scanned
    the memo twice, ran a separate row_number pass over the baselines
    side, and re-sorted the unioned rows. The single-relation form marks
    each row's baseline candidate in place (NULL off the emit cadence)
    and sweeps ``last(ignorenulls)`` over the same ordered window — one
    memo scan, one sort, zero extra exchanges. Semantics are identical:
    a baseline emitted at ts is visible to the row at the same ts (the
    sweep frame includes the current row, matching the union sweep's
    right-sorts-before-left tie-break), and (user_id, window_start) is
    unique so no further tie-break is needed.
    """
    win = _windowed(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("window_start")
    sweep = w.rowsBetween(Window.unboundedPreceding, 0)
    is_emit = (F.row_number().over(w) % EMIT_EVERY_N) == 0
    marked = win.select(
        "user_id",
        "window_start",
        "avg_value",
        F.when(is_emit, F.col("avg_value")).alias("_b_val"),
        F.when(is_emit, F.col("window_start")).alias("_b_ts"),
    )
    swept = marked.select(
        "user_id",
        "window_start",
        "avg_value",
        F.last("_b_val", ignorenulls=True).over(sweep).alias("baseline_value_asof"),
        F.last("_b_ts", ignorenulls=True).over(sweep).alias("window_start_asof"),
    )
    return swept.where(F.col("window_start_asof").isNotNull())


register(
    "latest_baseline_join",
    oracle="WITH "
    + _WINDOWED_CTE
    + f""",
numbered AS (
  SELECT user_id, window_start, avg_value,
         row_number() OVER (PARTITION BY user_id ORDER BY window_start) AS sample_no
  FROM windowed
),
baselines AS (
  SELECT user_id, window_start, avg_value AS baseline_value
  FROM numbered WHERE sample_no % {EMIT_EVERY_N} = 0
)
SELECT r.user_id, r.window_start, r.avg_value,
       b.baseline_value AS baseline_value_asof,
       b.window_start AS window_start_asof
FROM windowed r ASOF JOIN baselines b
  ON r.user_id = b.user_id AND r.window_start >= b.window_start
""",
    tags=("J1", "asof-join"),
)(latest_baseline_join)


def next_baseline_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: enrich each window sample with the NEXT scheduled
    baseline at-or-after it — the lookahead twin of J1 (used for
    backfill/repair jobs that align history to the baseline that was
    *about to* take effect). Same single-relation derived-baseline sweep
    as ``latest_baseline_join`` (see there for the equivalence argument),
    with first() over a following frame instead of last() over a
    preceding one — an emit row at ts is its own at-or-after match, same
    as the union sweep's right-sorts-after-left tie-break."""
    win = _windowed(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("window_start")
    sweep = w.rowsBetween(0, Window.unboundedFollowing)
    is_emit = (F.row_number().over(w) % EMIT_EVERY_N) == 0
    marked = win.select(
        "user_id",
        "window_start",
        "avg_value",
        F.when(is_emit, F.col("avg_value")).alias("_b_val"),
        F.when(is_emit, F.col("window_start")).alias("_b_ts"),
    )
    swept = marked.select(
        "user_id",
        "window_start",
        "avg_value",
        F.first("_b_val", ignorenulls=True).over(sweep).alias("baseline_value_asof"),
        F.first("_b_ts", ignorenulls=True).over(sweep).alias("window_start_asof"),
    )
    return swept.where(F.col("window_start_asof").isNotNull())


register(
    "next_baseline_join",
    oracle="WITH "
    + _WINDOWED_CTE
    + f""",
numbered AS (
  SELECT user_id, window_start, avg_value,
         row_number() OVER (PARTITION BY user_id ORDER BY window_start) AS sample_no
  FROM windowed
),
baselines AS (
  SELECT user_id, window_start, avg_value AS baseline_value
  FROM numbered WHERE sample_no % {EMIT_EVERY_N} = 0
)
SELECT r.user_id, r.window_start, r.avg_value,
       b.baseline_value AS baseline_value_asof,
       b.window_start AS window_start_asof
FROM windowed r ASOF JOIN baselines b
  ON r.user_id = b.user_id AND r.window_start <= b.window_start
""",
    tags=("asof-join", "forward"),
)(next_baseline_join)


# --- multi-resolution rollup (hypertable / continuous-aggregate shape) ------

#: rollup ladder: 15 min -> 1 h -> 1 d (seconds)
ROLLUP_LADDER = (("15m", 900), ("1h", 3600), ("1d", 86400))


def multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup of ``events``: one scan
    produces the finest (15-min) aggregate, and every coarser resolution
    (1 h, 1 d) is derived from the NEXT-FINER partials — counts and sums
    re-aggregate exactly; avg is computed from the partials at the end.

    This is the continuous-aggregate shape TimescaleDB/Druid use and the
    only sane plan at 100 TB: the raw table is scanned once, each coarser
    rollup aggregates n_buckets rows (thousands), not raw events
    (billions). A naive per-resolution scan would read the corpus three
    times; Catalyst reuses the 15-min exchange for the coarser levels
    because they group on a function of its key.
    """
    from flink_cookbook_spark.pipeline._cache import memo_persist

    def bucket(col, width):
        return (F.floor(col / width) * width).cast("long")

    def build_base() -> DataFrame:
        ev = load(spark, sf_dir, "events")
        sec = epoch_seconds("ts")
        return (
            ev.select(bucket(sec, 900).alias("bucket_start"), "event_type", "value")
            .groupBy("bucket_start", "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        )

    # materialized once (memo_persist, released by _cache.clear()):
    # without it each union branch re-scans raw events — 3 scans for a
    # 1-scan job (verified via executedPlan; ReuseExchange does not fire
    # across the differing branch tops).
    base = memo_persist(spark, "rollup_15m", sf_dir, build_base)
    levels = [base.withColumn("resolution", F.lit("15m"))]
    finer = base
    for name, width in ROLLUP_LADDER[1:]:
        finer = (
            finer.groupBy(bucket(F.col("bucket_start"), width).alias("bucket_start"), "event_type")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
        levels.append(finer.withColumn("resolution", F.lit(name)))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        "resolution",
        "bucket_start",
        "event_type",
        F.col("n").alias("n_events"),
        rnd(F.col("s") / F.col("n")).alias("avg_value"),
    )


register(
    "multi_resolution_rollup",
    oracle=f"""
SELECT '15m' AS resolution,
       CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS bucket_start,
       event_type, count(*) AS n_events,
       round(sum(value) / count(*) + 1e-6, {ROUND_DP}) AS avg_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT '1h', CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT), event_type, count(*),
       round(sum(value) / count(*) + 1e-6, {ROUND_DP})
FROM events GROUP BY 2, 3
UNION ALL
SELECT '1d', CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT), event_type, count(*),
       round(sum(value) / count(*) + 1e-6, {ROUND_DP})
FROM events GROUP BY 2, 3
""",
    tags=("rollup", "hypertable", "W1", "bench"),
)(multi_resolution_rollup)


def mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: flag events whose value deviates from
    the per-user MEDIAN by more than 3 scaled MADs — the
    median/median-absolute-deviation alternative to the reference's
    mean/std z-score (A2, flinkarima.py:331-340), immune to the outliers
    it is hunting. Two grouped exact-percentile aggregates joined back;
    the per-user stats side is users-sized (broadcastable at any corpus
    scale), so events are scanned twice but never self-joined.

    percentile == quantile_cont in DuckDB (both linear interpolation);
    1.4826 is the normal-consistency constant for MAD->sigma.
    """
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    med = ev.groupBy("user_id").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    abs_dev = ev.join(med, "user_id").select(
        "event_id", "user_id", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = abs_dev.groupBy("user_id").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    scaled = F.col("mad") * 1.4826
    return (
        abs_dev.join(mad, "user_id")
        .select(
            "event_id",
            "user_id",
            rnd("value", 2).alias("value"),
            rnd("med", 4).alias("user_median"),
            rnd(scaled, 4).alias("sigma_robust"),
            (F.col("ad") > 3 * scaled).alias("is_outlier"),
        )
    )


register(
    "mad_outlier_flags",
    oracle="""
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id),
ad AS (
  SELECT event_id, e.user_id, value, med, abs(value - med) AS ad
  FROM events e JOIN med USING (user_id)),
mad AS (
  SELECT user_id, quantile_cont(ad, 0.5) AS mad FROM ad GROUP BY user_id)
SELECT event_id, a.user_id,
       round(value + 1e-6, 2) AS value,
       round(med + 1e-6, 4) AS user_median,
       round(mad * 1.4826 + 1e-6, 4) AS sigma_robust,
       ad > 3 * (mad * 1.4826) AS is_outlier
FROM ad a JOIN mad USING (user_id)
""",
    tags=("agg", "robust-statistics", "A2-variant"),
)(mad_outlier_flags)


# --------------------------------------------------------------------------
# as-of join with freshness tolerance
# --------------------------------------------------------------------------

#: maximum allowed staleness (seconds) of the matched right row.
ASOF_TOLERANCE_S = 3600


_ASOF_TOLERANCE_ORACLE = f"""
WITH p AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, vt, max(view_value) AS view_value FROM (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS vt,
           value AS view_value
    FROM events WHERE event_type = 'view'
  ) GROUP BY user_id, vt
),
j AS (
  SELECT p.user_id, p.event_id, p.t, p.value, v.vt, v.view_value
  FROM p ASOF LEFT JOIN v
    ON p.user_id = v.user_id AND p.t >= v.vt
)
SELECT user_id, event_id, t,
       round(value + 1e-6, 4) AS value,
       CASE WHEN t - vt <= {ASOF_TOLERANCE_S} THEN vt END AS view_t_fresh,
       round(CASE WHEN t - vt <= {ASOF_TOLERANCE_S} THEN view_value END
             + 1e-6, 4) AS view_value_fresh,
       coalesce(t - vt <= {ASOF_TOLERANCE_S}, false) AS fresh
FROM j
"""


@register(
    "asof_tolerance_join",
    oracle=_ASOF_TOLERANCE_ORACLE,
    tags=("prepared-r8",),
)
def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH A FRESHNESS TOLERANCE: each purchase is enriched
    with the user's latest prior-or-equal view ONLY when that view is at
    most ``ASOF_TOLERANCE_S`` old — an as-of match staler than the
    tolerance is reported as no-match (NULLs + fresh=false), the
    standard guard against attributing to long-dead context. Same
    single-shuffle union+sweep machinery as ``latest_baseline_join``
    (never a range join); the tolerance is a post-sweep projection, so
    the plan cost is identical to the untolerated join."""
    ev = load(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", sec.alias("t"), "value"
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .select("user_id", sec.alias("vt"), F.col("value").alias("view_value"))
        # dedupe exact-tie timestamps keeping MAX value, mirroring the
        # sweep's deterministic value-ordered tie-break
        .groupBy("user_id", "vt")
        .agg(F.max("view_value").alias("view_value"))
    )
    j = asof_join(
        purchases, views,
        key="user_id", left_ts="t", right_ts="vt",
        value_cols=["view_value"], how="left",
    )
    fresh = F.col("t") - F.col("vt_asof") <= ASOF_TOLERANCE_S
    return j.select(
        "user_id",
        "event_id",
        "t",
        rnd("value", 4).alias("value"),
        F.when(fresh, F.col("vt_asof")).alias("view_t_fresh"),
        rnd(F.when(fresh, F.col("view_value_asof")), 4).alias("view_value_fresh"),
        F.coalesce(fresh, F.lit(False)).alias("fresh"),
    )
