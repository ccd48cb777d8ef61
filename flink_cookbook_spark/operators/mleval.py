"""Model-evaluation operators: calibration, threshold sweeps, CUPED.

The evaluation side of the engine's model surface: the engine already
trains simple models in-plan (``logistic_churn_baseline``), and this
round-8 change set adds ranking scores alongside it (the retrieval
family's ``retrieval_ndcg_mrr``); this module adds the three
classifier/experiment evaluation tables every ML platform materializes:

- ``calibration_report`` — reliability diagram bins + ECE
  contributions + per-bin Brier mass for a closed-form probabilistic
  scorer over ``events``;
- ``roc_threshold_sweep`` — confusion counts and P/R/F1 at the nine
  decile thresholds, computed from a 10-row binned histogram (ONE
  corpus pass; the threshold fan-out touches only the bounded bins,
  never the events);
- ``cuped_adjusted_lift`` — the standard variance-reduction estimator
  for online experiments: theta = cov(pre, post)/var(pre), adjusted
  metric ``post - theta * (pre - mean(pre))``, with the A/B split from
  the repo's deterministic md5 coin so both engines assign identical
  groups.

Scorer/label construction (deterministic, both engines): the predicted
probability is the closed-form sigmoid p = 1/(1+exp(-(value-50)/10))
and the label is ``value > 55`` — correlated but not degenerate, so the
reliability curve, confusion counts, and CUPED theta are all
non-trivial. Floating-point posture: p is a smooth function of a
continuous metric, so decile-bin boundary flips from last-ulp exp()
divergence are measure-zero (ARCHITECTURE.md round-7 rules); every
reported float is tie-stable-rounded via ``registry.rnd``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import NUDGE, register, rnd

#: label threshold and sigmoid scale/center for the deterministic scorer.
SCORE_CENTER = 50.0
SCORE_SCALE = 10.0
LABEL_MIN = 55.0
#: number of reliability-diagram bins (= 1/width); thresholds sweep the
#: interior bin boundaries.
N_BINS = 10

#: Spark-side scorer/label expressions (SQL twins inline in oracles).
#: Functions, not module-level Columns: classic PySpark Column algebra
#: needs an active SparkContext, and this module must import cleanly
#: before any session exists (registry._ensure_loaded at cold start).
def _p():
    return 1.0 / (1.0 + F.exp(-(F.col("value") - SCORE_CENTER) / SCORE_SCALE))


def _y():
    return (F.col("value") > LABEL_MIN).cast("int")


_P_SQL = f"1.0 / (1.0 + exp(-(value - {SCORE_CENTER}) / {SCORE_SCALE}))"
_Y_SQL = f"CASE WHEN value > {LABEL_MIN} THEN 1 ELSE 0 END"


def _binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded reliability histogram: per decile bin of p, the
    event count, positive count, and p/brier sums. 10 rows out of any
    corpus size — every downstream eval table derives from this."""
    ev = load(spark, sf_dir, "events")
    b = F.least(F.floor(_p() * N_BINS), F.lit(N_BINS - 1)).cast("long")
    return (
        ev.select(
            b.alias("bin"),
            _p().alias("p"),
            _y().alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").alias("n_pos"),
            F.sum("p").alias("p_sum"),
            F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias(
                "brier_sum"
            ),
        )
    )


_BINNED_SQL = f"""
SELECT CAST(least(floor(({_P_SQL}) * {N_BINS}), {N_BINS - 1}) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum({_Y_SQL}) AS BIGINT) AS n_pos,
       sum({_P_SQL}) AS p_sum,
       sum((({_P_SQL}) - ({_Y_SQL})) * (({_P_SQL}) - ({_Y_SQL}))) AS brier_sum
FROM events GROUP BY 1
"""


def calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: all ``N_BINS`` bins always emit (left join
    against the literal bin list — an empty bin is a zero row, never a
    missing row), with mean confidence, observed accuracy, |gap|, the
    bin's ECE contribution n/N * |acc - conf|, and its Brier mass.
    Summing the ece_part / brier_part columns reproduces the scalar
    ECE / Brier score exactly — the summary lives in the same table the
    diagram is drawn from."""
    hist = _binned(spark, sf_dir)
    bins = spark.range(N_BINS).select(F.col("id").cast("long").alias("bin"))
    total = hist.groupBy().agg(F.sum("n").alias("n_total"))
    conf = F.col("p_sum") / F.col("n")
    acc = F.col("n_pos").cast("double") / F.col("n")
    filled = (
        bins.join(hist, "bin", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "bin",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("n_pos", F.lit(0)).alias("n_pos"),
            F.coalesce("p_sum", F.lit(0.0)).alias("p_sum"),
            F.coalesce("brier_sum", F.lit(0.0)).alias("brier_sum"),
            "n_total",
        )
    )
    nz = F.col("n") > 0
    return filled.select(
        "bin",
        "n",
        "n_pos",
        rnd(F.when(nz, conf).otherwise(0.0), 6).alias("conf"),
        rnd(F.when(nz, acc).otherwise(0.0), 6).alias("acc"),
        rnd(F.when(nz, F.abs(acc - conf)).otherwise(0.0), 6).alias("gap"),
        rnd(
            F.when(
                nz, F.col("n") / F.col("n_total") * F.abs(acc - conf)
            ).otherwise(0.0),
            6,
        ).alias("ece_part"),
        rnd(F.col("brier_sum") / F.col("n_total"), 6).alias("brier_part"),
    ).orderBy("bin")


register(
    "calibration_report",
    oracle=f"""
WITH hist AS ({_BINNED_SQL}),
bins AS (SELECT CAST(range AS BIGINT) AS bin FROM range({N_BINS})),
total AS (SELECT sum(n) AS n_total FROM hist),
filled AS (
  SELECT bins.bin,
         coalesce(hist.n, 0) AS n,
         coalesce(hist.n_pos, 0) AS n_pos,
         coalesce(hist.p_sum, 0.0) AS p_sum,
         coalesce(hist.brier_sum, 0.0) AS brier_sum,
         total.n_total
  FROM bins LEFT JOIN hist ON bins.bin = hist.bin CROSS JOIN total
)
SELECT bin,
       CAST(n AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos,
       round(CASE WHEN n > 0 THEN p_sum / n ELSE 0.0 END + {NUDGE}, 6) AS conf,
       round(CASE WHEN n > 0 THEN CAST(n_pos AS DOUBLE) / n ELSE 0.0 END
             + {NUDGE}, 6) AS acc,
       round(CASE WHEN n > 0
             THEN abs(CAST(n_pos AS DOUBLE) / n - p_sum / n) ELSE 0.0 END
             + {NUDGE}, 6) AS gap,
       round(CASE WHEN n > 0
             THEN CAST(n AS DOUBLE) / n_total
                  * abs(CAST(n_pos AS DOUBLE) / n - p_sum / n)
             ELSE 0.0 END + {NUDGE}, 6) AS ece_part,
       round(brier_sum / n_total + {NUDGE}, 6) AS brier_part
FROM filled
""",
    tags=("mleval",),
)(calibration_report)


def roc_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts + precision/recall/F1 at each decile threshold
    t = k/10, k = 1..9 — always nine rows. Because thresholds sit
    exactly on the bin boundaries, ``predicted positive at t`` is
    ``bin >= k`` on the 10-row histogram: the corpus is touched ONCE,
    the 9x fan-out multiplies a constant-size aggregate."""
    hist = _binned(spark, sf_dir)
    ks = spark.range(1, N_BINS).select(F.col("id").cast("long").alias("k"))
    joined = F.broadcast(ks).crossJoin(hist)
    pos = F.col("bin") >= F.col("k")
    agg = joined.groupBy("k").agg(
        F.sum(F.when(pos, F.col("n_pos")).otherwise(0)).alias("tp"),
        F.sum(F.when(pos, F.col("n") - F.col("n_pos")).otherwise(0)).alias(
            "fp"
        ),
        F.sum(F.when(~pos, F.col("n_pos")).otherwise(0)).alias("fn"),
        F.sum(F.when(~pos, F.col("n") - F.col("n_pos")).otherwise(0)).alias(
            "tn"
        ),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
    ).otherwise(0.0)
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
    ).otherwise(0.0)
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    return agg.select(
        rnd(F.col("k").cast("double") / N_BINS, 2).alias("threshold"),
        "tp",
        "fp",
        "fn",
        "tn",
        rnd(prec, 6).alias("precision"),
        rnd(rec, 6).alias("recall"),
        rnd(f1, 6).alias("f1"),
    )


register(
    "roc_threshold_sweep",
    oracle=f"""
WITH hist AS ({_BINNED_SQL}),
ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, {N_BINS})),
agg AS (
  SELECT k,
         CAST(sum(CASE WHEN bin >= k THEN n_pos ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN bin >= k THEN n - n_pos ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN bin < k THEN n_pos ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN bin < k THEN n - n_pos ELSE 0 END) AS BIGINT) AS tn
  FROM ks CROSS JOIN hist GROUP BY k
),
rates AS (
  SELECT k, tp, fp, fn, tn,
         CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp)
              ELSE 0.0 END AS prec,
         CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn)
              ELSE 0.0 END AS rec
  FROM agg
)
SELECT round(CAST(k AS DOUBLE) / {N_BINS} + {NUDGE}, 2) AS threshold,
       tp, fp, fn, tn,
       round(prec + {NUDGE}, 6) AS precision,
       round(rec + {NUDGE}, 6) AS recall,
       round(CASE WHEN prec + rec > 0 THEN 2 * prec * rec / (prec + rec)
             ELSE 0.0 END + {NUDGE}, 6) AS f1
FROM rates
""",
    tags=("mleval",),
)(roc_threshold_sweep)


#: CUPED period split (epoch seconds): the fixture month's first 14
#: days are the pre-period, the rest the experiment period.
CUPED_SPLIT_S = 1704067200 + 14 * 86400


def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout: per-user pre/post
    mean metric, deterministic md5-coin group assignment, pooled
    theta = cov(pre, post) / var(pre), adjusted metric
    ``post - theta * (pre - mean(pre))``. One row: group means raw and
    adjusted, both lifts, and the variance-reduction ratio the method
    exists for. Only users observed in BOTH periods enter (the standard
    CUPED cohort — theta is undefined for users without a pre-period).
    Scale: two keyed aggregates + moment aggregates; the user-level
    frame is one shuffle on user_id; every reduction after that is a
    1-row aggregate."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.avg(F.when(sec < CUPED_SPLIT_S, F.col("value"))).alias("pre"),
            F.avg(
                F.when(sec >= CUPED_SPLIT_S, F.col("value"))
            ).alias("post"),
        )
        .where(F.col("pre").isNotNull() & F.col("post").isNotNull())
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    users = per_user.select(
        "user_id",
        "pre",
        "post",
        F.when(h % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias("grp"),
    )
    moments = users.groupBy().agg(
        F.count("*").alias("n_users"),
        F.covar_pop("pre", "post").alias("cov_pp"),
        F.var_pop("pre").alias("var_pre"),
        F.avg("pre").alias("mean_pre"),
        F.var_pop("post").alias("var_post"),
    )
    adj = (
        users.crossJoin(F.broadcast(moments))
        .select(
            "grp",
            "post",
            (
                F.col("post")
                - (F.col("cov_pp") / F.col("var_pre"))
                * (F.col("pre") - F.col("mean_pre"))
            ).alias("post_adj"),
            "n_users",
            "cov_pp",
            "var_pre",
            "var_post",
        )
    )
    return adj.groupBy().agg(
        F.max("n_users").alias("n_users"),
        rnd(F.max(F.col("cov_pp") / F.col("var_pre")), 6).alias("theta"),
        rnd(F.avg(F.when(F.col("grp") == "A", F.col("post"))), 6).alias(
            "mean_a_raw"
        ),
        rnd(F.avg(F.when(F.col("grp") == "B", F.col("post"))), 6).alias(
            "mean_b_raw"
        ),
        rnd(
            F.avg(F.when(F.col("grp") == "B", F.col("post")))
            - F.avg(F.when(F.col("grp") == "A", F.col("post"))),
            6,
        ).alias("lift_raw"),
        rnd(
            F.avg(F.when(F.col("grp") == "B", F.col("post_adj")))
            - F.avg(F.when(F.col("grp") == "A", F.col("post_adj"))),
            6,
        ).alias("lift_adj"),
        rnd(F.max("var_post"), 6).alias("var_post"),
        rnd(F.var_pop("post_adj"), 6).alias("var_adj"),
        rnd(1 - F.var_pop("post_adj") / F.max("var_post"), 6).alias(
            "var_reduction"
        ),
    )


register(
    "cuped_adjusted_lift",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         avg(CASE WHEN epoch(ts) < {CUPED_SPLIT_S} THEN value END) AS pre,
         avg(CASE WHEN epoch(ts) >= {CUPED_SPLIT_S} THEN value END) AS post
  FROM events GROUP BY user_id
),
cohort AS (
  SELECT user_id, pre, post,
         CASE WHEN (CAST('0x' || substr(
                md5('cuped:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                % 2) = 0 THEN 'A' ELSE 'B' END AS grp
  FROM per_user WHERE pre IS NOT NULL AND post IS NOT NULL
),
moments AS (
  SELECT count(*) AS n_users,
         covar_pop(pre, post) AS cov_pp,
         var_pop(pre) AS var_pre,
         avg(pre) AS mean_pre,
         var_pop(post) AS var_post
  FROM cohort
),
adj AS (
  SELECT grp, post,
         post - (cov_pp / var_pre) * (pre - mean_pre) AS post_adj,
         n_users, cov_pp, var_pre, var_post
  FROM cohort CROSS JOIN moments
)
SELECT CAST(max(n_users) AS BIGINT) AS n_users,
       round(max(cov_pp / var_pre) + {NUDGE}, 6) AS theta,
       round(avg(CASE WHEN grp = 'A' THEN post END) + {NUDGE}, 6) AS mean_a_raw,
       round(avg(CASE WHEN grp = 'B' THEN post END) + {NUDGE}, 6) AS mean_b_raw,
       round(avg(CASE WHEN grp = 'B' THEN post END)
             - avg(CASE WHEN grp = 'A' THEN post END) + {NUDGE}, 6) AS lift_raw,
       round(avg(CASE WHEN grp = 'B' THEN post_adj END)
             - avg(CASE WHEN grp = 'A' THEN post_adj END) + {NUDGE}, 6)
         AS lift_adj,
       round(max(var_post) + {NUDGE}, 6) AS var_post,
       round(var_pop(post_adj) + {NUDGE}, 6) AS var_adj,
       round(1 - var_pop(post_adj) / max(var_post) + {NUDGE}, 6)
         AS var_reduction
FROM adj
""",
    tags=("mleval", "experiment"),
)(cuped_adjusted_lift)


# --------------------------------------------------------------------------
# logistic-regression conversion baseline with AUC
# --------------------------------------------------------------------------

LOGIT_ITERS = 5  #: full-batch gradient steps
LOGIT_LR = 1.0  #: learning rate
LOGIT_CONVERT_VALUE = 90.0  #: conversion predicate threshold
LOGIT_AUC_BINS = 1_000_000  #: fixed score-histogram grid for the binned AUC
#  1e-6-wide cells: the binned AUC is an APPROXIMATION of the exact
#  Mann-Whitney value — distinct scores landing in the same cell are
#  counted as ties (half-credit), a coarsening that grows with score
#  density (the 1e-6 grid is 1000x coarser than the 9-dp score
#  rounding, so at high cardinality real orderings inside a cell are
#  lost). Engine-vs-oracle parity is unaffected: both sides bin on the
#  identical grid. The histogram stays bounded by the grid (and in
#  practice by the distinct-score count), never by user cardinality.


def _user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, x1=ln(1+events), x2=mean value/100, y=converted)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.log(1.0 + F.count("*")).alias("x1"),
        (F.avg("value") / 100.0).alias("x2"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > LOGIT_CONVERT_VALUE)
            ).cast("int")
        ).alias("y"),
    )


def _logit_oracle() -> str:
    # unroll the gradient steps as CTEs w0..w{n}: each wi holds the
    # three coefficients; the next step's gradient references them.
    steps = ["w0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"]
    for i in range(LOGIT_ITERS):
        prev = f"w{i}"
        steps.append(f"""w{i + 1} AS (
  SELECT {prev}.b0 + {LOGIT_LR} * avg(f.y - 1.0 / (1.0 + exp(-({prev}.b0
           + {prev}.b1 * f.x1 + {prev}.b2 * f.x2)))) AS b0,
         {prev}.b1 + {LOGIT_LR} * avg((f.y - 1.0 / (1.0 + exp(-({prev}.b0
           + {prev}.b1 * f.x1 + {prev}.b2 * f.x2)))) * f.x1) AS b1,
         {prev}.b2 + {LOGIT_LR} * avg((f.y - 1.0 / (1.0 + exp(-({prev}.b0
           + {prev}.b1 * f.x1 + {prev}.b2 * f.x2)))) * f.x2) AS b2
  FROM feats f CROSS JOIN {prev}
  GROUP BY {prev}.b0, {prev}.b1, {prev}.b2
)""")
    final = f"w{LOGIT_ITERS}"
    chain = ",\n".join(steps)
    return f"""
WITH feats AS (
  SELECT user_id,
         ln(1.0 + count(*)) AS x1,
         avg(value) / 100.0 AS x2,
         max(CASE WHEN event_type = 'purchase'
                       AND value > {LOGIT_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
{chain},
scored AS (
  SELECT f.y,
         round(1.0 / (1.0 + exp(-(w.b0 + w.b1 * f.x1 + w.b2 * f.x2))), 9) AS s
  FROM feats f CROSS JOIN {final} w
),
hist AS (
  SELECT CAST(least(floor(s * {LOGIT_AUC_BINS}), {LOGIT_AUC_BINS - 1})
              AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS np
  FROM scored GROUP BY 1
),
cum AS (
  SELECT n, np,
         COALESCE(sum(n - np) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_below
  FROM hist
),
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_users,
         CAST(sum(np) AS BIGINT) AS n_pos,
         sum(CAST(np AS DOUBLE)
             * (CAST(neg_below AS DOUBLE)
                + CAST(n - np AS DOUBLE) / 2.0)) AS u_stat
  FROM cum
)
SELECT a.n_users, a.n_pos,
       round(w.b0 + 1e-6, 6) AS w_intercept,
       round(w.b1 + 1e-6, 6) AS w_log_events,
       round(w.b2 + 1e-6, 6) AS w_mean_value,
       round(CASE WHEN a.n_pos > 0 AND a.n_users > a.n_pos
                  THEN a.u_stat
                       / (CAST(a.n_pos AS DOUBLE)
                          * (a.n_users - a.n_pos)) END + 1e-6, 6) AS auc
FROM agg a CROSS JOIN {final} w
"""


@register(
    "logistic_churn_baseline",
    oracle=_logit_oracle(),
    tags=("prepared-r8",),
)
def logistic_churn_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED + EVALUATED MODEL BASELINE: full-batch gradient descent
    for logistic regression of conversion on two user features
    (activity volume, mean metric), unrolled for ``LOGIT_ITERS`` fixed
    steps from zero init — the Lloyd-k-means discipline applied to a
    supervised model, so an ITERATIVE trainer gets a full value-hash
    oracle. The fit finishes with a BINNED Mann-Whitney AUC computed
    in-plan over a fixed ``LOGIT_AUC_BINS``-cell score histogram
    (within-bin positive/negative ties counted half), making this the
    engine's first train-and-evaluate loop: coefficient recovery AND
    ranking quality, both driver-checkable.

    Scale shape: each step is ONE combinable aggregate producing the
    3-scalar mean gradient (the only driver state — the k-means
    centroid contract); scoring is zero-shuffle arithmetic; the AUC
    reduces the corpus to a <= ``LOGIT_AUC_BINS``-row histogram in one
    combinable aggregate, and the only ordered window runs over that
    BOUNDED histogram — never a user-cardinality sort (the global
    score-midrank window this replaces was the engine's last
    single-partition sort at entity cardinality). Scores are rounded
    to 9 dp before binning, so the bin index is the same integer on
    both engines despite 1e-15 gradient-sum divergence."""
    feats = _user_features(spark, sf_dir).persist()
    w0 = w1 = w2 = 0.0
    try:
        for _ in range(LOGIT_ITERS):
            z = w0 + w1 * F.col("x1") + w2 * F.col("x2")
            p = 1.0 / (1.0 + F.exp(-z))
            r = F.col("y") - p
            [g] = feats.agg(
                F.avg(r).alias("g0"),
                F.avg(r * F.col("x1")).alias("g1"),
                F.avg(r * F.col("x2")).alias("g2"),
            ).collect()
            w0 += LOGIT_LR * g.g0
            w1 += LOGIT_LR * g.g1
            w2 += LOGIT_LR * g.g2
        z = w0 + w1 * F.col("x1") + w2 * F.col("x2")
        scored = feats.select(
            "y", F.round(1.0 / (1.0 + F.exp(-z)), 9).alias("s")
        )
        b = F.least(
            F.floor(F.col("s") * LOGIT_AUC_BINS), F.lit(LOGIT_AUC_BINS - 1)
        ).cast("long")
        hist = scored.groupBy(b.alias("bin")).agg(
            F.count("*").alias("n"),
            F.sum("y").cast("long").alias("np"),
        )
        w_below = Window.orderBy("bin").rowsBetween(
            Window.unboundedPreceding, -1
        )
        cum = hist.select(
            "n",
            "np",
            F.coalesce(
                F.sum(F.col("n") - F.col("np")).over(w_below), F.lit(0)
            ).alias("neg_below"),
        )
        agg = cum.agg(
            F.sum("n").alias("n_users"),
            F.sum("np").alias("n_pos"),
            F.sum(
                F.col("np").cast("double")
                * (
                    F.col("neg_below").cast("double")
                    + (F.col("n") - F.col("np")).cast("double") / 2.0
                )
            ).alias("u_stat"),
        )
        n1 = F.col("n_pos").cast("double")
        n0 = (F.col("n_users") - F.col("n_pos")).cast("double")
        auc = F.when((n1 > 0) & (n0 > 0), F.col("u_stat") / (n1 * n0))
        return agg.select(
            "n_users",
            "n_pos",
            rnd(F.lit(w0), 6).alias("w_intercept"),
            rnd(F.lit(w1), 6).alias("w_log_events"),
            rnd(F.lit(w2), 6).alias("w_mean_value"),
            rnd(auc, 6).alias("auc"),
        )
    finally:
        feats.unpersist()


# --------------------------------------------------------------------------
# decision stump: best single split by information gain
# --------------------------------------------------------------------------

STUMP_CONVERT_VALUE = 90.0  #: label predicate, shared with the logistic
STUMP_COUNT_CAP = 30  #: n_events feature bins capped at this count
STUMP_VALUE_BIN = 5.0  #: mean-value feature bin width


_STUMP_ORACLE = f"""
WITH feats AS (
  SELECT user_id, count(*) AS n_ev, avg(value) AS mv,
         max(CASE WHEN event_type = 'purchase'
                       AND value > {STUMP_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
binned AS (
  SELECT 'n_events' AS feature,
         CAST(least(n_ev, {STUMP_COUNT_CAP}) AS DOUBLE) AS bin, y
  FROM feats
  UNION ALL
  SELECT 'mean_value', floor(mv / {STUMP_VALUE_BIN}) * {STUMP_VALUE_BIN}, y
  FROM feats
),
hist AS (
  SELECT feature, bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS np
  FROM binned GROUP BY 1, 2
),
cum AS (
  SELECT feature, bin AS threshold,
         sum(n) OVER (PARTITION BY feature ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(np) OVER (PARTITION BY feature ORDER BY bin
                       ROWS UNBOUNDED PRECEDING) AS npl,
         sum(n) OVER (PARTITION BY feature) AS nt,
         sum(np) OVER (PARTITION BY feature) AS npt
  FROM hist
),
sides AS (SELECT * FROM cum WHERE nl < nt),
scored AS (
  SELECT feature,
         round(threshold + {NUDGE}, 4) AS threshold,
         CAST(nl AS BIGINT) AS n_left,
         CAST(nt - nl AS BIGINT) AS n_right,
         round(
           (CASE WHEN npt > 0 AND npt < nt
                 THEN -(CAST(npt AS DOUBLE) / nt) * ln(CAST(npt AS DOUBLE) / nt)
                      - (1.0 - CAST(npt AS DOUBLE) / nt)
                        * ln(1.0 - CAST(npt AS DOUBLE) / nt)
                 ELSE 0.0 END)
           - (CAST(nl AS DOUBLE) / nt)
             * (CASE WHEN npl > 0 AND npl < nl
                     THEN -(CAST(npl AS DOUBLE) / nl) * ln(CAST(npl AS DOUBLE) / nl)
                          - (1.0 - CAST(npl AS DOUBLE) / nl)
                            * ln(1.0 - CAST(npl AS DOUBLE) / nl)
                     ELSE 0.0 END)
           - (CAST(nt - nl AS DOUBLE) / nt)
             * (CASE WHEN npt - npl > 0 AND npt - npl < nt - nl
                     THEN -(CAST(npt - npl AS DOUBLE) / (nt - nl))
                            * ln(CAST(npt - npl AS DOUBLE) / (nt - nl))
                          - (1.0 - CAST(npt - npl AS DOUBLE) / (nt - nl))
                            * ln(1.0 - CAST(npt - npl AS DOUBLE) / (nt - nl))
                     ELSE 0.0 END)
           + {NUDGE}, 6) AS info_gain
  FROM sides
)
SELECT feature, threshold, n_left, n_right, info_gain,
       row_number() OVER (ORDER BY info_gain DESC, feature ASC,
                          threshold ASC) = 1 AS is_best
FROM scored
"""


@register("decision_stump_split", oracle=_STUMP_ORACLE, tags=("prepared-r10",))
def decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION STUMP TRAINED IN-PLAN: every candidate (feature,
    threshold) split of the user conversion label, scored by
    information gain over BOUNDED feature histograms, with the winning
    split flagged — the depth-1 tree next to
    ``logistic_churn_baseline``'s linear model, and the exact shape of
    a gradient-boosting split finder's inner loop (histogram-based
    split enumeration, the LightGBM discipline).

    Scale shape: one corpus pass reduces users to (feature, bin)
    histograms (bins capped by construction: event counts clip at
    ``STUMP_COUNT_CAP``, mean values bin at width ``STUMP_VALUE_BIN``
    over the generator's bounded value range); thresholds ARE the bin
    edges, so candidate enumeration and gain evaluation touch only the
    bounded histogram — never the corpus. Split sides are prefix sums
    along each feature's ordered bins (window over the bins)."""
    ev = load(spark, sf_dir, "events")
    feats = ev.groupBy("user_id").agg(
        F.count("*").alias("n_ev"),
        F.avg("value").alias("mv"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > STUMP_CONVERT_VALUE)
            ).cast("int")
        ).alias("y"),
    )
    binned = feats.select(
        F.expr(
            f"stack(2, 'n_events', CAST(least(n_ev, {STUMP_COUNT_CAP}) AS DOUBLE), "
            f"'mean_value', CAST(floor(mv / {STUMP_VALUE_BIN}) AS DOUBLE) "
            f"* {STUMP_VALUE_BIN}) "
            "as (feature, bin)"
        ),
        "y",
    )
    hist = binned.groupBy("feature", "bin").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("np")
    )
    wf = Window.partitionBy("feature").orderBy("bin")
    wtot = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        F.col("bin").alias("threshold"),
        F.sum("n").over(wf).alias("nl"),
        F.sum("np").over(wf).alias("npl"),
        F.sum("n").over(wtot).alias("nt"),
        F.sum("np").over(wtot).alias("npt"),
    ).where(F.col("nl") < F.col("nt"))  # right side must be non-empty

    def _ent(pos, n):
        p = pos.cast("double") / n.cast("double")
        q = 1.0 - p
        return -(
            F.when(p > 0, p * F.log(p)).otherwise(F.lit(0.0))
            + F.when(q > 0, q * F.log(q)).otherwise(F.lit(0.0))
        )

    nr = F.col("nt") - F.col("nl")
    npr = F.col("npt") - F.col("npl")
    gain = (
        _ent(F.col("npt"), F.col("nt"))
        - (F.col("nl").cast("double") / F.col("nt")) * _ent(F.col("npl"), F.col("nl"))
        - (nr.cast("double") / F.col("nt")) * _ent(npr, nr)
    )
    scored = cum.select(
        "feature",
        rnd("threshold", 4).alias("threshold"),
        F.col("nl").alias("n_left"),
        nr.alias("n_right"),
        rnd(gain, 6).alias("info_gain"),
    )
    wbest = Window.orderBy(
        F.col("info_gain").desc(), F.col("feature").asc(), F.col("threshold").asc()
    )
    return scored.withColumn(
        "is_best", F.row_number().over(wbest) == 1
    )


# --------------------------------------------------------------------------
# KS separation of the probabilistic scorer
# --------------------------------------------------------------------------

KSSEP_BINS = 100  #: fixed score grid (finer than the mleval reliability 10)


def _kssep_oracle() -> str:
    return f"""
WITH hist AS (
  SELECT CAST(least(floor(({_P_SQL}) * {KSSEP_BINS}), {KSSEP_BINS - 1})
              AS BIGINT) AS bin,
         count(*) AS n,
         CAST(sum({_Y_SQL}) AS BIGINT) AS np
  FROM events GROUP BY 1
),
tots AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total, CAST(sum(np) AS BIGINT) AS n_pos
  FROM hist
),
cum AS (
  SELECT h.bin, t.n_total, t.n_pos,
         CAST(sum(h.np) OVER (ORDER BY h.bin ROWS UNBOUNDED PRECEDING)
              AS DOUBLE) / t.n_pos AS cpos,
         CAST(sum(h.n - h.np) OVER (ORDER BY h.bin ROWS UNBOUNDED PRECEDING)
              AS DOUBLE) / (t.n_total - t.n_pos) AS cneg
  FROM hist h CROSS JOIN tots t
),
gap AS (
  SELECT n_total, n_pos, bin,
         round(abs(cpos - cneg) + {NUDGE}, 6) AS gap
  FROM cum
)
SELECT n_total, n_pos, gap AS ks_stat, bin AS ks_bin,
       round((CAST(bin AS DOUBLE) + 1.0) / {KSSEP_BINS} + {NUDGE}, 4)
         AS ks_threshold
FROM gap ORDER BY gap DESC, bin ASC LIMIT 1
"""


@register(
    "score_ks_separation",
    oracle=_kssep_oracle(),
    tags=("prepared-r10",),
)
def score_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS SEPARATION STATISTIC of the closed-form probabilistic scorer
    (the credit-scoring "KS": max gap between the positive and negative
    cumulative score distributions), computed on a fixed
    ``KSSEP_BINS``-cell histogram of the same scorer the mleval family
    evaluates — calibration says the probabilities are honest, ROC
    sweeps thresholds, KS names the single best separating threshold
    and how much separation exists there.

    Scale shape: one corpus pass to the bounded histogram; the CDF
    window and the argmax run over <= ``KSSEP_BINS`` rows."""
    ev = load(spark, sf_dir, "events")
    b = F.least(F.floor(_p() * KSSEP_BINS), F.lit(KSSEP_BINS - 1)).cast(
        "long"
    )
    hist = ev.select(b.alias("bin"), _y().alias("y")).groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("np")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tots = hist.agg(
        F.sum("n").alias("n_total"), F.sum("np").alias("n_pos")
    )
    cum = hist.crossJoin(F.broadcast(tots)).select(
        "bin",
        "n_total",
        "n_pos",
        (
            F.sum("np").over(w).cast("double") / F.col("n_pos")
        ).alias("cpos"),
        (
            F.sum(F.col("n") - F.col("np")).over(w).cast("double")
            / (F.col("n_total") - F.col("n_pos"))
        ).alias("cneg"),
    )
    gap = cum.select(
        "n_total",
        "n_pos",
        "bin",
        rnd(F.abs(F.col("cpos") - F.col("cneg")), 6).alias("gap"),
    )
    return (
        gap.orderBy(F.col("gap").desc(), F.col("bin").asc())
        .limit(1)
        .select(
            "n_total",
            "n_pos",
            F.col("gap").alias("ks_stat"),
            F.col("bin").alias("ks_bin"),
            rnd(
                (F.col("bin").cast("double") + 1.0) / KSSEP_BINS, 4
            ).alias("ks_threshold"),
        )
    )


# --------------------------------------------------------------------------
# isotonic calibration over score bins (PAV via the minimax formula)
# --------------------------------------------------------------------------

ISO_BINS = 20  #: equal-width account-balance bins


_ISO_ORACLE = f"""
WITH has AS (SELECT DISTINCT o_custkey FROM orders),
labeled AS (
  SELECT c.c_acctbal,
         CASE WHEN h.o_custkey IS NULL THEN 0 ELSE 1 END AS y
  FROM customer c LEFT JOIN has h ON c.c_custkey = h.o_custkey
),
rng AS (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM labeled),
binned AS (
  SELECT CAST(least({ISO_BINS - 1},
              floor((l.c_acctbal - r.lo) / (r.hi - r.lo) * {ISO_BINS}))
              AS BIGINT) AS bin,
         l.y
  FROM labeled l CROSS JOIN rng r
),
bins AS (
  SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS s
  FROM binned GROUP BY 1
),
cums AS (
  SELECT bin, n, s,
         sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
         sum(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cs
  FROM bins
),
ranges AS (
  SELECT l.bin AS i, r.bin AS k,
         CAST(r.cs - (l.cs - l.s) AS DOUBLE)
           / (r.cn - (l.cn - l.n)) AS avg_ik
  FROM cums l JOIN cums r ON l.bin <= r.bin
),
inner_min AS (
  SELECT j.bin AS j, ranges.i, min(ranges.avg_ik) AS m
  FROM cums j JOIN ranges
    ON ranges.i <= j.bin AND j.bin <= ranges.k
  GROUP BY 1, 2
),
iso AS (SELECT j, max(m) AS iso_u FROM inner_min GROUP BY 1)
SELECT c.bin, c.n, c.s,
       round(CAST(c.s AS DOUBLE) / c.n + {NUDGE}, 6) AS empirical_rate,
       round(i.iso_u + {NUDGE}, 6) AS isotonic_rate
FROM cums c JOIN iso i ON c.bin = i.j
"""


@register(
    "isotonic_calibration_binned",
    oracle=_ISO_ORACLE,
    tags=("prepared-r10",),
)
def isotonic_calibration_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ISOTONIC CALIBRATION of "has placed an order" against account
    balance, fit on ISO_BINS equal-width bins via the MINIMAX
    characterization of isotonic regression:
    iso(j) = max_{i<=j} min_{k>=j} avg(y, bins i..k) — exactly the
    pool-adjacent-violators solution, but expressed as bounded
    relational algebra instead of a sequential pooling loop (the PAV
    twin of `calibration_report`, which only reports raw bin rates;
    isotonic is what a monotone recalibrator actually deploys). Range
    averages come from prefix sums over the B-row bin table, so the
    i/j/k fan-out is B^3-bounded — a compile-time constant — never
    data-scaled.

    Scale shape: one corpus pass to the B-row (n, successes)
    histogram (customer left-semi-joined to orders is the outcome);
    every window/join after operates on <= B rows by construction."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    has = orders.select("o_custkey").distinct()
    labeled = cust.join(
        has.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "y", F.lit(1)
        ),
        "c_custkey",
        "left",
    ).select("c_acctbal", F.coalesce("y", F.lit(0)).alias("y"))
    rng = labeled.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    binned = labeled.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(ISO_BINS - 1),
            F.floor(
                (F.col("c_acctbal") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * ISO_BINS
            ),
        )
        .cast("long")
        .alias("bin"),
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("s")
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = bins.select(
        "bin",
        "n",
        "s",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("s").over(wcum).alias("cs"),
    )
    left = cums.select(
        F.col("bin").alias("i"),
        (F.col("cn") - F.col("n")).alias("cn_before"),
        (F.col("cs") - F.col("s")).alias("cs_before"),
    )
    right = cums.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("cn_k"),
        F.col("cs").alias("cs_k"),
    )
    ranges = left.join(right, F.col("i") <= F.col("k")).select(
        "i",
        "k",
        (
            (F.col("cs_k") - F.col("cs_before")).cast("double")
            / (F.col("cn_k") - F.col("cn_before"))
        ).alias("avg_ik"),
    )
    js = cums.select(F.col("bin").alias("j"))
    inner = (
        js.join(
            ranges,
            (F.col("i") <= F.col("j")) & (F.col("j") <= F.col("k")),
        )
        .groupBy("j", "i")
        .agg(F.min("avg_ik").alias("m"))
    )
    iso = inner.groupBy("j").agg(F.max("m").alias("iso_u"))
    return (
        cums.join(iso, cums.bin == iso.j)
        .select(
            "bin",
            "n",
            "s",
            rnd(F.col("s").cast("double") / F.col("n"), 6).alias(
                "empirical_rate"
            ),
            rnd("iso_u", 6).alias("isotonic_rate"),
        )
    )
