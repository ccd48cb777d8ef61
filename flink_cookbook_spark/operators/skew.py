"""Skew mitigation: salted joins (+ AQE as the first line of defense).

At 100 TB a handful of hot keys (a viral document source, a monitoring
node gone chatty) can pin a join's wall-clock to one straggler task.
First line of defense is AQE skew-join splitting (enabled in
session.get_spark); when the skew is in an *aggregation-feeding* join or
beyond AQE's split granularity, explicit salting spreads a hot key over
N subkeys: the big side gets a random salt in [0, N), the small side is
replicated N times, and the join key becomes (key, salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from flink_cookbook_spark.pipeline.dedup import _SQL_HASH, _portable_hash


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Join ``big`` (skewed) with ``small`` on ``key`` using salt fan-out.

    The big side's hot keys scatter uniformly over ``n_salts`` partitions;
    the small side is exploded x n_salts (fine — it is the small side).
    Result columns match a plain ``big.join(small, key, how)``.

    Only ``inner`` and ``left`` (big-side-preserving) joins are valid:
    a right/full join would surface each unmatched small-side row once
    per salt replica.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins, not {how!r}: the "
            "replicated small side would duplicate unmatched rows"
        )
    salted_big = big.withColumn("_salt", (F.rand(seed) * n_salts).cast("int"))
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_big.join(salted_small, [key, "_salt"], how)
    return out.drop("_salt")


# --- registered query: salted join, hash-checked against a plain join -------

from pyspark.sql import SparkSession  # noqa: E402

from flink_cookbook_spark.catalog import load  # noqa: E402
from flink_cookbook_spark.registry import register, rnd  # noqa: E402


def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join, driver-checkable: lineitem (big, potentially
    hot-keyed) joins part (small) through ``salted_join`` with 8 salts,
    then aggregates revenue per brand. The salt is internal — the result
    is salt-invariant by construction — so the oracle is the PLAIN join
    aggregate: a hash match proves the salted plan computes exactly what
    the unsalted join would, which is the entire point of salting.

    Scale shape: the hot l_partkey keys scatter over 8 subkeys so no
    single task owns a whole hot key; the small side replicates x8
    (200k rows/SF — still broadcast-range). First line of defense at
    100 TB remains AQE skew splitting; this is the explicit fallback
    when skew concentrates beyond AQE's granularity."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, part, "p_partkey", n_salts=8)
    # revenue sums in DECIMAL (exact 2-dp fixture money; see
    # q9_product_profit's money discipline — double summation flipped a
    # cent at the 10x probe), rounded half-up on the exact value and
    # cast back to double for the driver's type-sensitive hash
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
        rnd(F.avg("l_quantity")).alias("avg_qty"),
    )


register(
    "salted_join_agg",
    oracle="""
SELECT p_brand,
       count(*) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
            AS DOUBLE) AS revenue,
       round(avg(l_quantity) + 1e-6, 4) AS avg_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
    tags=("join", "skew", "salting", "bench"),
)(salted_join_agg)


def hot_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the distribution of per-key row counts for
    each candidate shuffle key of the events table — the report that
    decides WHETHER a join needs salting before anyone pays for it.

    Per key column: one partial-aggregated count per key (shuffle volume
    = distinct keys), then a single tiny rollup of count quantiles and
    the max/mean skew factor. At 100 TB this is the cheap pre-flight
    every repartition/join strategy decision should read.
    """
    ev = load(spark, sf_dir, "events")
    outs = []
    for key in ("user_id", "event_type"):
        per_key = ev.groupBy(F.col(key).cast("string").alias("k")).agg(
            F.count("*").alias("n")
        )
        outs.append(
            per_key.agg(
                F.lit(key).alias("key_col"),
                F.count("*").alias("n_keys"),
                F.min("n").alias("min_rows"),
                F.floor(F.expr("percentile(n, 0.5)")).alias("p50_rows"),
                F.floor(F.expr("percentile(n, 0.99)")).alias("p99_rows"),
                F.max("n").alias("max_rows"),
                rnd(F.max("n") / F.avg("n"), 4).alias("skew_factor"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


register(
    "hot_key_profile",
    oracle="""
WITH u AS (
  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n
  FROM events GROUP BY 1
),
t AS (
  SELECT event_type AS k, count(*) AS n
  FROM events GROUP BY 1
)
SELECT 'user_id' AS key_col, count(*) AS n_keys,
       min(n) AS min_rows,
       CAST(floor(quantile_cont(n, 0.5)) AS BIGINT) AS p50_rows,
       CAST(floor(quantile_cont(n, 0.99)) AS BIGINT) AS p99_rows,
       max(n) AS max_rows,
       round(max(n) * 1.0 / avg(n) + 1e-6, 4) AS skew_factor
FROM u
UNION ALL
SELECT 'event_type', count(*), min(n),
       CAST(floor(quantile_cont(n, 0.5)) AS BIGINT),
       CAST(floor(quantile_cont(n, 0.99)) AS BIGINT),
       max(n),
       round(max(n) * 1.0 / avg(n) + 1e-6, 4)
FROM t
""",
    tags=("skew", "profiling", "diagnostics"),
)(hot_key_profile)


def two_stage_skew_agg(spark, sf_dir: str) -> DataFrame:
    """Two-stage (salted) aggregation for hot grouping keys: stage 1
    aggregates on (key, salt) so a hot key's rows spread over SALTS
    reducers; stage 2 merges the SALTS partials per key. For algebraic
    aggregates (count/sum/min/max — avg via sum/count) the result is
    IDENTICAL to the direct groupBy; what changes is that no single
    reducer ever sees a whole hot key. The aggregation-side counterpart
    of ``salted_join`` (joins get AQE skew splitting; a skewed
    ``groupBy`` does not — partial aggregation usually saves it, but
    not for high-cardinality-state aggregates like collect/distinct,
    which is when this shape becomes mandatory).

    The salt is a deterministic md5 coin (engine-portable), so the
    oracle can reproduce stage 1 exactly — the registered output is the
    stage-2 result, which also equals the plain single-stage oracle by
    algebra; the DuckDB twin computes BOTH and joins them, so a hash
    match proves the equivalence, not just the final numbers.
    """
    salts = 8
    ev = load(spark, sf_dir, "events")
    salt = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % salts
    )
    stage1 = (
        ev.select("event_type", "value", salt.alias("salt"))
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").alias("c"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    stage2 = stage1.groupBy("event_type").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_salt_partials"),
        rnd(F.sum("s") / F.sum("c"), 4).alias("avg_value"),
        rnd(F.min("mn"), 4).alias("min_value"),
        rnd(F.max("mx"), 4).alias("max_value"),
    )
    return stage2


register(
    "two_stage_skew_agg",
    oracle="""
WITH staged AS (
  SELECT event_type,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 8
           AS salt,
         count(*) AS c, sum(value) AS s, min(value) AS mn, max(value) AS mx
  FROM events GROUP BY 1, 2
),
two_stage AS (
  SELECT event_type,
         CAST(sum(c) AS BIGINT) AS n_events,
         count(*) AS n_salt_partials,
         round(sum(s) / sum(c) + 1e-6, 4) AS avg_value,
         round(min(mn) + 1e-6, 4) AS min_value,
         round(max(mx) + 1e-6, 4) AS max_value
  FROM staged GROUP BY event_type
),
direct AS (
  SELECT event_type, count(*) AS n_events
  FROM events GROUP BY event_type
)
-- joining on BOTH columns proves two-stage == single-stage, row by row
SELECT t.event_type, t.n_events, t.n_salt_partials,
       t.avg_value, t.min_value, t.max_value
FROM two_stage t JOIN direct d
  ON t.event_type = d.event_type AND t.n_events = d.n_events
""",
    tags=("skew", "aggregation", "salting"),
)(two_stage_skew_agg)


# --------------------------------------------------------------------------
# hash-partition skew report
# --------------------------------------------------------------------------

#: candidate partition counts; divisors of the finest level so coarser
#: bucket counts derive EXACTLY from the finest histogram (x mod 8 =
#: (x mod 128) mod 8 whenever 8 | 128 — one scan serves all three).
SKEW_PARTITION_COUNTS = (8, 32, 128)


_SKEW_ORACLE = f"""
WITH b128 AS (
  SELECT {_SQL_HASH.format(x="CAST(l_orderkey AS VARCHAR)")} % 128 AS b,
         count(*) AS n
  FROM lineitem GROUP BY 1
),
fanned AS (
  SELECT b, n, t.n_partitions
  FROM b128 CROSS JOIN (VALUES {", ".join(f"({c})" for c in SKEW_PARTITION_COUNTS)})
       t(n_partitions)
),
per_part AS (
  SELECT n_partitions, b % n_partitions AS p, CAST(sum(n) AS BIGINT) AS pn
  FROM fanned GROUP BY 1, 2
),
stats AS (
  SELECT n_partitions,
         CAST(sum(pn) AS BIGINT) AS n_rows,
         count(*) AS nonempty_partitions,
         CAST(max(pn) AS BIGINT) AS max_rows,
         CAST(sum(pn * pn) AS DOUBLE) AS ss
  FROM per_part GROUP BY 1
)
SELECT n_partitions, n_rows, nonempty_partitions, max_rows,
       round(CAST(n_rows AS DOUBLE) / n_partitions + 1e-6, 4) AS avg_rows,
       round(max_rows / (CAST(n_rows AS DOUBLE) / n_partitions) + 1e-6, 4)
         AS skew_ratio,
       round(sqrt(greatest(ss / n_partitions
                           - (CAST(n_rows AS DOUBLE) / n_partitions)
                             * (CAST(n_rows AS DOUBLE) / n_partitions), 0.0))
             / (CAST(n_rows AS DOUBLE) / n_partitions) + 1e-6, 6) AS cv
FROM stats
"""


@register("partition_skew_report", oracle=_SKEW_ORACLE, tags=("prepared-r8",))
def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-PARTITION SKEW under candidate ``shuffle.partitions``
    settings: bucket lineitem's join key with the portable md5 hash at
    the finest candidate (128), then report — for 8/32/128 partitions —
    the max/mean partition ratio and the coefficient of variation,
    i.e. exactly the numbers that decide whether a key needs salting
    before its next shuffle. CV near sqrt((N-1)/rows-ish) noise means
    a healthy key; skew_ratio >> 1 means a hot key.

    Scale shape: ONE combinable hash aggregate reduces the corpus to a
    <=128-row bucket histogram; the coarser partition counts derive
    from that histogram arithmetically (divisor property above), so
    sweeping the knob costs zero extra scans. Variance uses the
    sum-of-squares identity with the FULL partition count in the
    denominator (empty partitions count as zero)."""
    li = load(spark, sf_dir, "lineitem")
    finest = SKEW_PARTITION_COUNTS[-1]
    b128 = li.groupBy(
        (_portable_hash(F.col("l_orderkey").cast("string")) % finest).alias("b")
    ).agg(F.count("*").alias("n"))
    fanned = b128.select(
        "b",
        "n",
        F.explode(
            F.array(*[F.lit(c) for c in SKEW_PARTITION_COUNTS])
        ).alias("n_partitions"),
    )
    per_part = fanned.groupBy(
        "n_partitions", (F.col("b") % F.col("n_partitions")).alias("p")
    ).agg(F.sum("n").alias("pn"))
    stats = per_part.groupBy("n_partitions").agg(
        F.sum("pn").alias("n_rows"),
        F.count("*").alias("nonempty_partitions"),
        F.max("pn").alias("max_rows"),
        F.sum(F.col("pn").cast("double") * F.col("pn")).alias("ss"),
    )
    mean = F.col("n_rows") / F.col("n_partitions")
    var = F.col("ss") / F.col("n_partitions") - mean * mean
    return stats.select(
        "n_partitions",
        "n_rows",
        "nonempty_partitions",
        "max_rows",
        rnd(mean, 4).alias("avg_rows"),
        rnd(F.col("max_rows") / mean, 4).alias("skew_ratio"),
        rnd(F.sqrt(F.greatest(var, F.lit(0.0))) / mean, 6).alias("cv"),
    ).orderBy("n_partitions")
