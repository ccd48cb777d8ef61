"""A/B experiment design and readout.

Users fall into two arms deterministically (``user_id`` parity). On
that split this module reports the conversion lift with a pooled
two-proportion z-test, Welch's t-test of the event value, covariate
balance as standardized mean differences, the per-arm sample size the
next experiment needs (power analysis), Wald's SPRT over the
conversion stream, an offline UCB1 bandit replay and a Simpson's-paradox
audit. ``streaming/sequential.py`` runs the same SPRT live, with this
module's constants.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import NUDGE, register, rnd


# --------------------------------------------------------------------------
# A/B conversion lift with a two-proportion z-test
# --------------------------------------------------------------------------

#: a user "converts" when any purchase exceeds this metric value (the
#: fixture's high-value tail; at production scale this is the business
#: conversion predicate).
AB_CONVERT_VALUE = 90.0


_AB_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT user_id % 2 AS arm, count(*) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_conv
  FROM per_user GROUP BY 1
),
one AS (
  SELECT max(CASE WHEN arm = 0 THEN n_users END) AS n_a,
         max(CASE WHEN arm = 0 THEN n_conv END) AS c_a,
         max(CASE WHEN arm = 1 THEN n_users END) AS n_b,
         max(CASE WHEN arm = 1 THEN n_conv END) AS c_b
  FROM arms
),
stats AS (
  SELECT n_a, c_a, n_b, c_b,
         CAST(c_a AS DOUBLE) / n_a AS p_a,
         CAST(c_b AS DOUBLE) / n_b AS p_b,
         CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pool
  FROM one
),
z AS (
  SELECT *,
         CASE WHEN sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b)) > 0
              THEN (p_b - p_a)
                   / sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b))
         END AS zr
  FROM stats
)
SELECT n_a, c_a, n_b, c_b,
       round(p_a + 1e-6, 6) AS rate_a,
       round(p_b + 1e-6, 6) AS rate_b,
       round(p_b - p_a + 1e-6, 6) AS abs_lift,
       round(zr + 1e-6, 4) AS z_score,
       abs(zr) > 1.96 AS significant_95
FROM z
"""


@register("ab_conversion_lift", oracle=_AB_ORACLE, tags=("prepared-r8",))
def ab_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B CONVERSION LIFT with a pooled two-proportion z-test: users
    split into arms by id parity (the deterministic stand-in for an
    assignment column), conversion = any purchase above
    ``AB_CONVERT_VALUE``; reports per-arm rates, absolute lift, the
    z statistic, and the alpha=0.05 verdict — the experiment readout
    every growth pipeline computes daily.

    Scale shape: per-user flags reduce in one combinable hash agg
    keyed by user (conversion is MAX over the user's rows — no
    distinct-count), arms reduce over the user table, and the z-test
    math runs on a 1-row aggregate. Two exchanges total, both keyed."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONVERT_VALUE)
            ).cast("int")
        ).alias("converted")
    )
    arms = per_user.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_conv"),
    )
    one = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("n_conv"))).alias("c_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("n_conv"))).alias("c_b"),
    )
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    z = F.when(se > 0, (p_b - p_a) / se)
    return one.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        rnd(p_a, 6).alias("rate_a"),
        rnd(p_b, 6).alias("rate_b"),
        rnd(p_b - p_a, 6).alias("abs_lift"),
        rnd(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


#: conversion predicate shared with ab_conversion_lift's shape: a user
#: converts when any purchase exceeds this metric value.
POWER_CONVERT_VALUE = 90.0

#: absolute minimum-detectable-effect grid for the power table.
POWER_MDES = (0.01, 0.02, 0.05)

#: two-sided alpha=0.05 and power=0.80 normal quantiles.
Z_ALPHA_2 = 1.959964
Z_BETA = 0.841621


# --------------------------------------------------------------------------
# A/B sample-size / power analysis
# --------------------------------------------------------------------------

_POWER_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {POWER_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
base AS (
  SELECT count(*) AS n_users,
         sum(converted) / CAST(count(*) AS DOUBLE) AS p_base
  FROM per_user
),
fanned AS (
  SELECT b.n_users, b.p_base, t.mde
  FROM base b CROSS JOIN
       (VALUES {", ".join(f"(CAST({m!r} AS DOUBLE))" for m in POWER_MDES)}) t(mde)
)
SELECT round(mde + 1e-6, 2) AS mde_abs,
       round(p_base + 1e-6, 6) AS p_base,
       CAST(ceil(pow({Z_ALPHA_2} * sqrt(2.0 * p_base * (1.0 - p_base))
                     + {Z_BETA} * sqrt(p_base * (1.0 - p_base)
                         + least(p_base + mde, 0.999999)
                           * (1.0 - least(p_base + mde, 0.999999))), 2.0)
                 / (mde * mde)) AS BIGINT) AS n_required_per_arm,
       CAST(floor(n_users / 2.0) AS BIGINT) AS n_available_per_arm,
       CAST(floor(n_users / 2.0) AS BIGINT)
         >= CAST(ceil(pow({Z_ALPHA_2} * sqrt(2.0 * p_base * (1.0 - p_base))
                     + {Z_BETA} * sqrt(p_base * (1.0 - p_base)
                         + least(p_base + mde, 0.999999)
                           * (1.0 - least(p_base + mde, 0.999999))), 2.0)
                 / (mde * mde)) AS BIGINT) AS powered
FROM fanned
"""


@register("ab_power_analysis", oracle=_POWER_ORACLE, tags=("prepared-r8",))
def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER ANALYSIS for the next experiment: given the observed
    baseline conversion rate, the required per-arm sample size to
    detect each absolute lift in ``POWER_MDES`` at alpha=0.05 /
    power=0.80 (the standard two-proportion formula
    ``(z_a*sqrt(2*p*q) + z_b*sqrt(p*q + p'*q'))^2 / mde^2``), next to
    the arm size actually available — the "can we even run this test?"
    table that should precede every ``ab_conversion_lift`` readout.
    All MDE rows always emit.

    Scale shape: one keyed aggregate to per-user flags, one 1-row
    rate aggregate, and the closed-form math fanned over a constant
    in-plan MDE list."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > POWER_CONVERT_VALUE)
            ).cast("int")
        ).alias("converted")
    )
    base = per_user.agg(
        F.count("*").alias("n_users"),
        (F.sum("converted") / F.count("*")).alias("p_base"),
    )
    fanned = base.select(
        "n_users",
        "p_base",
        F.explode(
            F.array(*[F.lit(m) for m in POWER_MDES])
        ).alias("mde"),
    )
    p = F.col("p_base")
    q = 1.0 - p
    p2 = F.least(p + F.col("mde"), F.lit(0.999999))
    q2 = 1.0 - p2
    n_req = F.ceil(
        F.pow(
            Z_ALPHA_2 * F.sqrt(2.0 * p * q) + Z_BETA * F.sqrt(p * q + p2 * q2),
            2.0,
        )
        / (F.col("mde") * F.col("mde"))
    )
    avail = F.floor(F.col("n_users") / 2)
    return fanned.select(
        rnd("mde", 2).alias("mde_abs"),
        rnd(p, 6).alias("p_base"),
        n_req.alias("n_required_per_arm"),
        avail.alias("n_available_per_arm"),
        (avail >= n_req).alias("powered"),
    )


# --------------------------------------------------------------------------
# SPRT sequential test over the user conversion stream
# --------------------------------------------------------------------------

SPRT_P0 = 0.10  #: null conversion rate
SPRT_P1 = 0.15  #: alternative conversion rate
SPRT_ALPHA = 0.05
SPRT_BETA = 0.05


def _sprt_oracle() -> str:
    import math

    l1 = math.log(SPRT_P1 / SPRT_P0)
    l0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
    upper = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
    lower = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))
    return f"""
WITH per_user AS (
  SELECT user_id, min(epoch(ts)) AS first_ts,
         max(CASE WHEN event_type = 'purchase' AND value > {POWER_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY user_id
),
seq AS (
  SELECT row_number() OVER (ORDER BY first_ts, user_id) AS n,
         sum(x * {l1!r} + (1 - x) * {l0!r})
           OVER (ORDER BY first_ts, user_id ROWS UNBOUNDED PRECEDING) AS llr
  FROM per_user
),
crossing AS (
  SELECT n AS decided_at_n,
         CASE WHEN llr >= {upper!r} THEN 'accept_h1'
              ELSE 'accept_h0' END AS decision
  FROM seq WHERE llr >= {upper!r} OR llr <= {lower!r}
  ORDER BY n LIMIT 1
),
final AS (
  SELECT CAST(max(n) AS BIGINT) AS n_total,
         arg_max(llr, n) AS llr_final
  FROM seq
)
SELECT f.n_total,
       round(f.llr_final + 1e-6, 4) AS llr_final,
       CAST(c.decided_at_n AS INTEGER) AS decided_at_n,
       COALESCE(c.decision, 'continue') AS decision,
       round({upper!r} + 1e-6, 4) AS upper_bound,
       round({lower!r} + 1e-6, 4) AS lower_bound
FROM final f LEFT JOIN crossing c ON true
"""


@register("sprt_sequential_test", oracle=_sprt_oracle(), tags=("prepared-r8",))
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD'S SPRT over the user-conversion stream: cumulative
    log-likelihood ratio of H1 (p=``SPRT_P1``) vs H0 (p=``SPRT_P0``)
    in user first-seen order, with the classic decision boundaries
    ``ln((1-b)/a)`` / ``ln(b/(1-a))`` — the sequential monitor that
    stops an experiment the moment the evidence suffices instead of
    waiting for a fixed horizon. Reports the first boundary crossing
    (or 'continue') plus the final LLR. Naturally a streaming
    computation; this is its deterministic batch replay.

    Scale shape: one keyed aggregate to per-user (first_ts, converted),
    one ordered cumulative window (the sequential order IS the
    operator's semantics), one rank-limited first-crossing pick."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("double")).alias("first_ts"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > POWER_CONVERT_VALUE)
            ).cast("int")
        ).alias("x"),
    )
    import math

    l1 = math.log(SPRT_P1 / SPRT_P0)
    l0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
    upper = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
    lower = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))
    wo = Window.orderBy("first_ts", "user_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    llr = F.sum(
        F.col("x") * l1 + (1 - F.col("x")) * l0
    ).over(wo)
    seq = per_user.select(
        F.row_number()
        .over(Window.orderBy("first_ts", "user_id"))
        .alias("n"),
        llr.alias("llr"),
    )
    crossing = (
        seq.where((F.col("llr") >= upper) | (F.col("llr") <= lower))
        .orderBy("n")
        .limit(1)
        .select(
            F.col("n").alias("decided_at_n"),
            F.when(F.col("llr") >= upper, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
    )
    final = seq.orderBy(F.col("n").desc()).limit(1).select(
        F.col("n").alias("n_total"), F.col("llr").alias("llr_final")
    )
    out = final.crossJoin(F.broadcast(crossing))
    # LEFT-ish semantics: if no crossing, emit 'continue' with NULL n.
    # crossJoin of an empty 1-row side would drop the row, so union the
    # no-crossing shape and keep the first (crossing wins when present).
    no_cross = final.select(
        "n_total",
        "llr_final",
        F.lit(None).cast("int").alias("decided_at_n"),
        F.lit("continue").alias("decision"),
    )
    merged = out.select(
        "n_total", "llr_final", "decided_at_n", "decision"
    ).unionAll(no_cross)
    w1 = Window.orderBy(F.col("decided_at_n").asc_nulls_last())
    return (
        merged.withColumn("rk", F.row_number().over(w1))
        .where(F.col("rk") == 1)
        .select(
            "n_total",
            rnd("llr_final", 4).alias("llr_final"),
            "decided_at_n",
            "decision",
            rnd(F.lit(upper), 4).alias("upper_bound"),
            rnd(F.lit(lower), 4).alias("lower_bound"),
        )
    )


# --------------------------------------------------------------------------
# covariate balance (standardized mean differences)
# --------------------------------------------------------------------------

#: |SMD| above this flags imbalance (the conventional 0.1 rule).
SMD_FLAG = 0.1


_SMD_ORACLE = f"""
WITH feats AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(count(*) AS DOUBLE) AS n_events,
         avg(value) AS mean_value,
         CAST(count(DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT))
              AS DOUBLE) AS active_days
  FROM events GROUP BY user_id
),
stacked AS (
  SELECT arm, 'n_events' AS feature, n_events AS v FROM feats
  UNION ALL
  SELECT arm, 'mean_value', mean_value FROM feats
  UNION ALL
  SELECT arm, 'active_days', active_days FROM feats
),
arms AS (
  SELECT feature, arm, count(*) AS n, avg(v) AS m, var_samp(v) AS s2
  FROM stacked GROUP BY 1, 2
),
one AS (
  SELECT feature,
         max(CASE WHEN arm = 0 THEN m END) AS mean_a,
         max(CASE WHEN arm = 1 THEN m END) AS mean_b,
         max(CASE WHEN arm = 0 THEN s2 END) AS v_a,
         max(CASE WHEN arm = 1 THEN s2 END) AS v_b
  FROM arms GROUP BY feature
)
SELECT feature,
       round(mean_a + 1e-6, 4) AS mean_a,
       round(mean_b + 1e-6, 4) AS mean_b,
       round(CASE WHEN v_a + v_b > 0
                  THEN (mean_b - mean_a) / sqrt((v_a + v_b) / 2.0) END
             + 1e-6, 4) AS smd,
       abs(CASE WHEN v_a + v_b > 0
                THEN (mean_b - mean_a) / sqrt((v_a + v_b) / 2.0) END)
         > {SMD_FLAG} AS imbalanced
FROM one
"""


@register("covariate_balance_smd", oracle=_SMD_ORACLE, tags=("prepared-r8",))
def covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVARIATE BALANCE between the A/B arms: standardized mean
    difference ``(mean_b - mean_a) / sqrt((var_a + var_b) / 2)`` for
    each pre-treatment user feature (activity volume, mean metric,
    active days), with the conventional |SMD| > 0.1 imbalance flag —
    the table a reviewer checks BEFORE believing ``ab_conversion_
    lift``: arms that differ on covariates confound the lift. All
    features always emit.

    Scale shape: one keyed aggregate to per-user features, one
    per-arm moment aggregate, and a 3-row in-plan feature unpivot."""
    ev = load(spark, sf_dir, "events")
    feats = ev.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n_events"),
        F.avg("value").alias("mean_value"),
        F.countDistinct(
            F.floor(F.col("ts").cast("double") / 86400)
        ).cast("double").alias("active_days"),
    ).withColumn("arm", (F.col("user_id") % 2).cast("int"))
    stacked = feats.select(
        "arm",
        F.expr(
            "stack(3, 'n_events', n_events, 'mean_value', mean_value, "
            "'active_days', active_days) as (feature, v)"
        ),
    )
    arms = stacked.groupBy("feature", "arm").agg(
        F.count("*").alias("n"),
        F.avg("v").alias("m"),
        F.var_samp("v").alias("s2"),
    )
    one = arms.groupBy("feature").agg(
        F.max(F.when(F.col("arm") == 0, F.col("m"))).alias("mean_a"),
        F.max(F.when(F.col("arm") == 1, F.col("m"))).alias("mean_b"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("v_a"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("v_b"),
    )
    smd = F.when(
        (F.col("v_a") + F.col("v_b")) > 0,
        (F.col("mean_b") - F.col("mean_a"))
        / F.sqrt((F.col("v_a") + F.col("v_b")) / 2.0),
    )
    return one.select(
        "feature",
        rnd("mean_a", 4).alias("mean_a"),
        rnd("mean_b", 4).alias("mean_b"),
        rnd(smd, 4).alias("smd"),
        (F.abs(smd) > SMD_FLAG).alias("imbalanced"),
    )


#: conversion predicate shared with the experiment operators.
BANDIT_CONVERT_VALUE = 90.0

#: the bandit's arms: the event-type vocabulary, index order fixed.
BANDIT_ARMS = ("click", "error", "purchase", "signup", "view")


# --------------------------------------------------------------------------
# UCB1 offline bandit replay
# --------------------------------------------------------------------------

def _ucb_oracle() -> str:
    k = len(BANDIT_ARMS)
    arm_list = ", ".join(f"'{a}'" for a in BANDIT_ARMS)
    # scores: unplayed arm j gets 1e18 - j (always wins, lowest index
    # first); else mean + sqrt(2 ln T / n). list_indexof returns the
    # FIRST index of the max -> ties break to the lowest arm index.
    scores = (
        f"list_transform(range(1, {k + 1}), j -> "
        f"CASE WHEN n[j] = 0 THEN 1e18 - j "
        f"ELSE CAST(s[j] AS DOUBLE) / n[j] "
        f"+ sqrt(2.0 * ln(CAST(tt AS DOUBLE)) / n[j]) END)"
    )
    return f"""
WITH RECURSIVE firsts AS MATERIALIZED (
  SELECT user_id, event_type AS action FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
),
per_user AS MATERIALIZED (
  SELECT e.user_id, min(epoch(e.ts)) AS first_ts, f.action,
         max(CASE WHEN e.event_type = 'purchase'
                       AND e.value > {BANDIT_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS reward
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  GROUP BY e.user_id, f.action
),
seq AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY first_ts, user_id) AS i,
         list_position([{arm_list}], action) AS logged,
         reward,
         count(*) OVER () AS total
  FROM per_user
),
steps AS (
  SELECT 0 AS i,
         {"[" + ", ".join("0" for _ in range(k)) + "]"} AS n,
         {"[" + ", ".join("0" for _ in range(k)) + "]"} AS s,
         0 AS matched
  UNION ALL
  SELECT st.i + 1,
         CASE WHEN ch.choice = q.logged
              THEN list_transform(range(1, {k + 1}),
                     j -> st.n[j] + CASE WHEN j = ch.choice THEN 1 ELSE 0 END)
              ELSE st.n END,
         CASE WHEN ch.choice = q.logged
              THEN list_transform(range(1, {k + 1}),
                     j -> st.s[j] + CASE WHEN j = ch.choice
                                    THEN q.reward ELSE 0 END)
              ELSE st.s END,
         st.matched + CASE WHEN ch.choice = q.logged THEN 1 ELSE 0 END
  FROM steps st
  JOIN seq q ON q.i = st.i + 1
  CROSS JOIN LATERAL (
    SELECT list_indexof(sc.scores, list_max(sc.scores)) AS choice
    FROM (
      SELECT {scores} AS scores
      FROM (SELECT st.n AS n, st.s AS s,
                   list_sum(st.n) AS tt) z
    ) sc
  ) ch
),
final AS (
  SELECT * FROM steps ORDER BY i DESC LIMIT 1
),
armrows AS (
  SELECT t.j, [{arm_list}][t.j] AS arm, f.n[t.j] AS n_plays,
         f.s[t.j] AS s_sum, list_sum(f.n) AS tt, f.matched,
         (SELECT max(total) FROM seq) AS n_steps
  FROM final f CROSS JOIN (SELECT unnest(range(1, {k + 1})) AS j) t
)
SELECT arm,
       CAST(n_plays AS BIGINT) AS n_plays,
       round(CASE WHEN n_plays > 0
                  THEN CAST(s_sum AS DOUBLE) / n_plays END + 1e-6, 6)
         AS mean_reward,
       round(CASE WHEN n_plays > 0 AND tt > 0
                  THEN CAST(s_sum AS DOUBLE) / n_plays
                       + sqrt(2.0 * ln(CAST(tt AS DOUBLE)) / n_plays)
             END + 1e-6, 6) AS ucb_score,
       CAST(n_steps AS BIGINT) AS n_steps,
       CAST(matched AS BIGINT) AS n_matched
FROM armrows
"""


@register("ucb_bandit_replay", oracle=_ucb_oracle(), tags=("prepared-r8",))
def ucb_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 OFFLINE REPLAY over logged traffic: users step through in
    first-seen order; each user's FIRST event type is the logged
    action and their conversion the reward. The UCB1 policy (unplayed
    arms first by index, then argmax of mean + sqrt(2 ln T / n))
    proposes an arm at every step, and — the replay method — only
    steps where the proposal matches the logged action count as plays.
    Emits the per-arm play counts, mean rewards, and final UCB scores:
    the offline answer to "what would the bandit have learned from
    this traffic?" before any policy ships.

    Scale shape: the replay is inherently ONE sequential chain (like
    ``sprt_sequential_test``), so the fold runs as a single-group
    ``applyInPandas`` over the per-user reduce (the SARIMAX escape
    hatch for non-relational recurrences); per-user reduction and
    ordering stay distributed. The DuckDB twin replays the identical
    recurrence as a RECURSIVE CTE carrying the two 5-element state
    lists."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    w = F.struct(F.col("ts").cast("double").alias("t"), "event_id")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("double")).alias("first_ts"),
        F.min_by("event_type", w).alias("action"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > BANDIT_CONVERT_VALUE)
            ).cast("int")
        ).alias("reward"),
    )
    arms = list(BANDIT_ARMS)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["first_ts", "user_id"])
        n = [0] * len(arms)
        s = [0] * len(arms)
        matched = 0
        for row in pdf.itertuples(index=False):
            t_total = sum(n)
            unplayed = [j for j in range(len(arms)) if n[j] == 0]
            if unplayed:
                choice = unplayed[0]
            else:
                scores = [
                    s[j] / n[j] + math.sqrt(2.0 * math.log(t_total) / n[j])
                    for j in range(len(arms))
                ]
                choice = scores.index(max(scores))
            try:
                logged = arms.index(row.action)
            except ValueError:
                continue  # unseen action label: not replayable
            if choice == logged:
                n[choice] += 1
                s[choice] += int(row.reward)
                matched += 1
        out = []
        for j, a in enumerate(arms):
            mean_r = s[j] / n[j] if n[j] else None
            t_total = sum(n)
            ucb = (
                mean_r + math.sqrt(2.0 * math.log(t_total) / n[j])
                if n[j] and t_total
                else None
            )
            out.append(
                {
                    "arm": a,
                    "n_plays": n[j],
                    "mean_reward": round(mean_r + 1e-6, 6)
                    if mean_r is not None
                    else None,
                    "ucb_score": round(ucb + 1e-6, 6)
                    if ucb is not None
                    else None,
                    "n_steps": len(pdf),
                    "n_matched": matched,
                }
            )
        return pd.DataFrame(out)

    schema = (
        "arm string, n_plays long, mean_reward double, ucb_score double, "
        "n_steps long, n_matched long"
    )
    return (
        per_user.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(run, schema)
    )


# --------------------------------------------------------------------------
# Simpson's-paradox reversal check
# --------------------------------------------------------------------------

_SIMPSON_ORACLE = f"""
WITH firsts AS (
  SELECT user_id, event_type AS segment FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
),
per_user AS (
  SELECT e.user_id, count(*) AS n_ev, f.segment,
         max(CASE WHEN e.event_type = 'purchase'
                       AND e.value > {BANDIT_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS conv
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  GROUP BY e.user_id, f.segment
),
med AS (
  SELECT n_ev AS med FROM (
    SELECT n_ev, row_number() OVER (ORDER BY n_ev, user_id) AS rn,
           count(*) OVER () AS m
    FROM per_user
  ) WHERE rn = (m + 1) // 2
),
flagged AS (
  SELECT segment,
         CASE WHEN p.n_ev > m.med THEN 1 ELSE 0 END AS hi, conv
  FROM per_user p CROSS JOIN med m
),
seg AS (
  SELECT segment,
         CAST(sum(hi * conv) AS BIGINT) AS c_hi,
         CAST(sum(hi) AS BIGINT) AS n_hi,
         CAST(sum((1 - hi) * conv) AS BIGINT) AS c_lo,
         CAST(sum(1 - hi) AS BIGINT) AS n_lo
  FROM flagged GROUP BY segment
  UNION ALL
  SELECT '__all__',
         CAST(sum(hi * conv) AS BIGINT), CAST(sum(hi) AS BIGINT),
         CAST(sum((1 - hi) * conv) AS BIGINT), CAST(sum(1 - hi) AS BIGINT)
  FROM flagged
),
lifts AS (
  SELECT segment, n_hi AS n_high_activity, n_lo AS n_low_activity,
         CASE WHEN n_hi > 0 AND n_lo > 0
              THEN CAST(c_hi AS DOUBLE) / n_hi - CAST(c_lo AS DOUBLE) / n_lo
         END AS raw
  FROM seg
),
agg_sign AS (
  SELECT sign(raw) AS s FROM lifts WHERE segment = '__all__'
)
SELECT l.segment, l.n_high_activity, l.n_low_activity,
       round(l.raw + 1e-6, 6) AS conv_lift_high_vs_low,
       CASE WHEN l.segment = '__all__' THEN false
            ELSE COALESCE(sign(l.raw) * a.s < 0, false) END
         AS reverses_aggregate
FROM lifts l CROSS JOIN agg_sign a
"""


@register(
    "simpson_reversal_check",
    oracle=_SIMPSON_ORACLE,
    tags=("prepared-r8",),
)
def simpson_reversal_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX AUDIT: compare the aggregate association
    between user activity (above/below the discrete median event
    count) and conversion with the same association WITHIN each
    event-type-majority segment — reporting the aggregate lift, each
    segment's lift, and whether any segment's sign REVERSES the
    aggregate (the aggregation paradox every per-segment dashboard
    silently risks). One row per segment plus the aggregate row.

    Scale shape: two keyed reduces (per-user features, then per-
    segment conditional rates); the median split is a rank-limited
    window pick; everything downstream runs over the bounded segment
    table."""
    ev = load(spark, sf_dir, "events")
    w = F.struct(F.col("ts").cast("double").alias("t"), "event_id")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_ev"),
        F.min_by("event_type", w).alias("segment"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > BANDIT_CONVERT_VALUE)
            ).cast("int")
        ).alias("conv"),
    )
    from pyspark.sql import Window as W

    wm = W.orderBy("n_ev", "user_id")
    wt = W.partitionBy()
    med = (
        per_user.select(
            "n_ev",
            F.row_number().over(wm).alias("rn"),
            F.count("*").over(wt).alias("m"),
        )
        .where(F.col("rn") == F.floor((F.col("m") + 1) / 2))
        .select(F.col("n_ev").alias("med"))
    )
    flagged = per_user.crossJoin(F.broadcast(med)).select(
        "segment",
        (F.col("n_ev") > F.col("med")).cast("int").alias("hi"),
        "conv",
    )
    seg = flagged.groupBy("segment").agg(
        F.sum(F.col("hi") * F.col("conv")).alias("c_hi"),
        F.sum("hi").alias("n_hi"),
        F.sum((1 - F.col("hi")) * F.col("conv")).alias("c_lo"),
        F.sum(1 - F.col("hi")).alias("n_lo"),
    )
    total = flagged.groupBy(F.lit("__all__").alias("segment")).agg(
        F.sum(F.col("hi") * F.col("conv")).alias("c_hi"),
        F.sum("hi").alias("n_hi"),
        F.sum((1 - F.col("hi")) * F.col("conv")).alias("c_lo"),
        F.sum(1 - F.col("hi")).alias("n_lo"),
    )
    both = seg.unionAll(total)
    lift = F.when(
        (F.col("n_hi") > 0) & (F.col("n_lo") > 0),
        F.col("c_hi") / F.col("n_hi") - F.col("c_lo") / F.col("n_lo"),
    )
    with_lift = both.select(
        "segment",
        F.col("n_hi").cast("long").alias("n_high_activity"),
        F.col("n_lo").cast("long").alias("n_low_activity"),
        rnd(lift, 6).alias("conv_lift_high_vs_low"),
        lift.alias("_raw"),
    )
    agg_sign = with_lift.where(F.col("segment") == "__all__").select(
        F.signum("_raw").alias("agg_sign")
    )
    return (
        with_lift.crossJoin(F.broadcast(agg_sign))
        .select(
            "segment",
            "n_high_activity",
            "n_low_activity",
            "conv_lift_high_vs_low",
            F.when(
                F.col("segment") == "__all__", F.lit(False)
            ).otherwise(
                F.coalesce(
                    F.signum("_raw") * F.col("agg_sign") < 0, F.lit(False)
                )
            ).alias("reverses_aggregate"),
        )
    )


# --------------------------------------------------------------------------
# Welch's unequal-variance t-test between the A/B arms
# --------------------------------------------------------------------------

#: two-sided normal-approximation critical value at alpha = 0.05. The
#: Welch df on this fixture is in the thousands, where t and normal
#: quantiles agree to 3 decimals — and neither engine ships a t-CDF.
WELCH_CRIT = 1.96


_WELCH_ORACLE = f"""
WITH arms AS (
  SELECT event_type, CAST(user_id % 2 AS INTEGER) AS arm,
         count(*) AS n, avg(value) AS m, var_samp(value) AS s2
  FROM events GROUP BY 1, 2
),
one AS (
  SELECT event_type,
         max(CASE WHEN arm = 0 THEN n END) AS n_a,
         max(CASE WHEN arm = 1 THEN n END) AS n_b,
         max(CASE WHEN arm = 0 THEN m END) AS mean_a,
         max(CASE WHEN arm = 1 THEN m END) AS mean_b,
         max(CASE WHEN arm = 0 THEN s2 END) AS v_a,
         max(CASE WHEN arm = 1 THEN s2 END) AS v_b
  FROM arms GROUP BY event_type
),
calc AS (
  SELECT *,
         v_a / n_a + v_b / n_b AS se2
  FROM one
)
SELECT event_type, n_a, n_b,
       round(mean_a + {NUDGE}, 4) AS mean_a,
       round(mean_b + {NUDGE}, 4) AS mean_b,
       round(CASE WHEN se2 > 0
                  THEN (mean_b - mean_a) / sqrt(se2) END + {NUDGE}, 4)
         AS t_stat,
       round(CASE WHEN se2 > 0
                  THEN se2 * se2
                       / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                          + (v_b / n_b) * (v_b / n_b) / (n_b - 1)) END
             + {NUDGE}, 2) AS df_welch,
       abs(round(CASE WHEN se2 > 0
                      THEN (mean_b - mean_a) / sqrt(se2) END + {NUDGE}, 4))
         > {WELCH_CRIT} AS significant
FROM calc
"""


@register("welch_t_test", oracle=_WELCH_ORACLE, tags=("prepared-r10",))
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S T-TEST of ``value`` between the deterministic A/B arms
    (user_id parity), per event type: the unequal-variance two-sample
    test (t statistic + Welch-Satterthwaite df) that belongs between
    ``ab_conversion_lift`` (which assumes pooled proportions) and
    ``mann_whitney_u`` (which drops the parametric assumption
    entirely). Significance is judged on the ROUNDED t against the
    normal-approx critical value so a last-ulp variance divergence can
    never flip the flag between engines.

    Scale shape: one combinable (event_type, arm) moment aggregate,
    then a conditional-aggregation pivot to one row per event type —
    no joins, no windows."""
    ev = load(spark, sf_dir, "events")
    arms = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        "value",
    ).groupBy("event_type", "arm").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("s2"),
    )
    one = arms.groupBy("event_type").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 0, F.col("m"))).alias("mean_a"),
        F.max(F.when(F.col("arm") == 1, F.col("m"))).alias("mean_b"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("v_a"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("v_b"),
    )
    va_n = F.col("v_a") / F.col("n_a")
    vb_n = F.col("v_b") / F.col("n_b")
    se2 = va_n + vb_n
    t = F.when(se2 > 0, (F.col("mean_b") - F.col("mean_a")) / F.sqrt(se2))
    df_w = F.when(
        se2 > 0,
        (se2 * se2)
        / (
            va_n * va_n / (F.col("n_a") - 1)
            + vb_n * vb_n / (F.col("n_b") - 1)
        ),
    )
    t_r = rnd(t, 4)
    return one.select(
        "event_type",
        "n_a",
        "n_b",
        rnd("mean_a", 4).alias("mean_a"),
        rnd("mean_b", 4).alias("mean_b"),
        t_r.alias("t_stat"),
        rnd(df_w, 2).alias("df_welch"),
        (F.abs(t_r) > WELCH_CRIT).alias("significant"),
    )
