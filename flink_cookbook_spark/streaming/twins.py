"""Driver-checkable batch twins of streaming-ONLY semantics.

The watermark late-data drop and dropDuplicatesWithinWatermark behaviors
are exercised live in tests/test_streaming.py and
tests/test_scale_behaviors.py, but a streaming query cannot be
oracle-compared by the driver. These twins restate the SEMANTIC RULE of
each behavior as a deterministic batch query over ``events`` that DuckDB
can verify, so the driver records real correctness evidence for the
streaming feature set (VERDICT round 1, next-round item 4). The
module also holds the batch measurements that size a watermark:
``lateness_profile`` and ``watermark_completeness_sweep``.

Determinism notes:
- The fixture's events are time-ordered, so "arrival order" must be
  synthesized to produce genuine out-of-orderness: each event's arrival
  time is its event time plus a deterministic pseudo-random jitter of
  +/- 450 s derived from md5(event_id) — identical in both engines.
  The stream is then mostly in-order, with a realistic late tail: an
  event is late when a record more than LATE_DELAY_SECONDS newer
  arrived first, which the jitter bound makes possible (900 s max
  displacement > 600 s delay) but not pervasive.
- The late-drop rule implemented is the bounded-out-of-orderness
  watermark both Flink (BoundedOutOfOrdernessWatermarks) and Spark
  (max event time - delay, advanced per trigger) apply: a record is
  late iff its event time is older than (max event time seen strictly
  before it, in arrival order) minus the delay. Spark advances the
  watermark per micro-batch rather than per record, so the per-record
  rule is the conservative (strictest) member of the same family — the
  live behavior is pinned separately in tests/test_scale_behaviors.py.

Scale note (100 TB): the watermark is tracked PER INGEST PARTITION —
events carry a synthesized partition id (md5(user_id) % N_INGEST_PARTITIONS,
the keyed-producer placement a Kafka topic gives), and the running-max
window partitions on it. That is both the faithful model (Flink/Spark
track watermarks per source split and Kafka guarantees order only within
a partition) and the scale-safe plan: N parallel bounded sorts instead
of one global single-task sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import ROUND_DP, register, rnd
from flink_cookbook_spark.functions.time import epoch_seconds

#: watermark delay for the late-data twin (matches the streaming recipes)
LATE_DELAY_SECONDS = 600
WINDOW_SECONDS = 300
#: arrival jitter bound: +/- JITTER_SECONDS/2 around the event time
JITTER_SECONDS = 900
#: synthesized source splits (think: Kafka partitions). The watermark is
#: tracked per split, as Flink per-source-split watermarks and Spark's
#: per-partition max-event-time tracking both do.
N_INGEST_PARTITIONS = 8


def late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics as a batch query: place each event
    on a deterministic ingest partition (md5(user_id) — the keyed
    producer's placement), replay each partition in a deterministic
    jittered arrival order (event time +/- 450 s of md5-derived jitter),
    track the running max event time PER PARTITION over that order, and
    drop any record older than its partition's max minus the 10-minute
    delay — then aggregate the survivors into the pipeline's 5-minute
    windows. Output includes the number of dropped (late) events per
    window so the drop itself is value-checked, not just the surviving
    aggregate."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", epoch_seconds("ts").alias("tsl")
    )
    jitter = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % JITTER_SECONDS
        - JITTER_SECONDS // 2
    )
    ingest_pid = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % N_INGEST_PARTITIONS
    )
    arrived = ev.withColumn("arrival_ts", F.col("tsl") + jitter).withColumn(
        "ingest_pid", ingest_pid
    )
    arr = Window.partitionBy("ingest_pid").orderBy("arrival_ts", "event_id")
    with_wm = arrived.withColumn(
        "max_seen", F.max("tsl").over(arr.rowsBetween(Window.unboundedPreceding, -1))
    ).withColumn(
        "is_late",
        F.col("tsl") < F.col("max_seen") - F.lit(LATE_DELAY_SECONDS),
    )
    return (
        with_wm.groupBy(
            (F.floor(F.col("tsl") / WINDOW_SECONDS) * WINDOW_SECONDS)
            .cast("long")
            .alias("window_start"),
            "user_id",
        )
        .agg(
            F.count(F.when(~F.coalesce("is_late", F.lit(False)), 1)).alias("n_on_time"),
            F.count(F.when(F.col("is_late"), 1)).alias("n_late"),
            rnd(
                F.avg(F.when(~F.coalesce("is_late", F.lit(False)), F.col("value")))
            ).alias("avg_on_time"),
        )
    )


register(
    "late_data_drop",
    oracle=f"""
WITH jittered AS (
  SELECT event_id, user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS tsl,
         CAST(floor(epoch(ts)) AS BIGINT)
           + CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)
             % {JITTER_SECONDS}
           - {JITTER_SECONDS // 2} AS arrival_ts,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
             % {N_INGEST_PARTITIONS} AS ingest_pid
  FROM events
),
arr AS (
  SELECT *,
         max(tsl) OVER (
           PARTITION BY ingest_pid
           ORDER BY arrival_ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS max_seen
  FROM jittered
),
flagged AS (
  SELECT *, tsl < max_seen - {LATE_DELAY_SECONDS} AS is_late FROM arr
)
SELECT CAST(floor(tsl / {WINDOW_SECONDS}) * {WINDOW_SECONDS} AS BIGINT) AS window_start,
       user_id,
       count(*) FILTER (WHERE NOT coalesce(is_late, false)) AS n_on_time,
       count(*) FILTER (WHERE is_late) AS n_late,
       round(avg(value) FILTER (WHERE NOT coalesce(is_late, false)) + 1e-6,
             {ROUND_DP}) AS avg_on_time
FROM flagged
GROUP BY 1, 2
""",
    tags=("streaming-twin", "watermark", "late-data"),
)(late_data_drop)


def dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark semantics as a batch query: the
    at-least-once-delivery case where a redelivered record carries a
    NEW timestamp. We simulate redelivery by unioning events with a
    1-second-jittered copy, then collapse on the business identity
    (user_id, event_id) keeping the first arrival — exactly what the
    streaming operator does within the watermark horizon (the live twin
    is tests/test_streaming.py::test_dedup_within_watermark)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    redelivered = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND"))
    return (
        ev.unionAll(redelivered)
        .groupBy("user_id", "event_id")
        .agg(
            F.min(epoch_seconds("ts")).alias("first_arrival_ts"),
            F.count("*").alias("n_deliveries"),
        )
    )


register(
    "dedup_within_watermark",
    oracle="""
WITH deliveries AS (
  SELECT user_id, event_id, ts FROM events
  UNION ALL
  SELECT user_id, event_id, ts + INTERVAL 1 SECOND FROM events
)
SELECT user_id, event_id,
       CAST(floor(min(epoch(ts))) AS BIGINT) AS first_arrival_ts,
       count(*) AS n_deliveries
FROM deliveries
GROUP BY 1, 2
""",
    tags=("streaming-twin", "dedup", "watermark"),
)(dedup_within_watermark)


# --------------------------------------------------------------------------
# event-time lateness profile (watermark sizing)
# --------------------------------------------------------------------------

_LATENESS_ORACLE = """
WITH late AS (
  SELECT event_type,
         greatest(
           max(epoch(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - epoch(ts), 0.0) AS lateness
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN lateness > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       round(sum(CASE WHEN lateness > 0 THEN 1.0 ELSE 0.0 END) / count(*)
             + 1e-6, 6) AS late_share,
       round(quantile_cont(lateness, 0.95) + 1e-6, 2) AS p95_lateness_s,
       round(max(lateness) + 1e-6, 2) AS max_lateness_s
FROM late
WHERE lateness IS NOT NULL
GROUP BY event_type
"""


@register("lateness_profile", oracle=_LATENESS_ORACLE, tags=("prepared-r8",))
def lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME LATENESS PROFILE — the number behind every
    ``withWatermark`` duration: within each key's ARRIVAL order
    (event_id), how far does an event's timestamp lag the maximum
    event time already seen for that key? Reports per event type the
    out-of-order share and the lateness quantiles; the production
    watermark is read off the tail (p95/max) rather than guessed.
    One keyed window pass (running max over arrival order) + one hash
    aggregate — per-key, so the profile parallelizes by key instead of
    serializing through a global arrival order."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.col("ts").cast("double")
    late = ev.select(
        "event_type",
        F.greatest(F.max(t).over(w) - t, F.lit(0.0)).alias("lateness"),
    ).where(F.col("lateness").isNotNull())
    return late.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("lateness") > 0).cast("long")).alias("n_late"),
        rnd(
            F.sum((F.col("lateness") > 0).cast("double")) / F.count("*"), 6
        ).alias("late_share"),
        rnd(F.expr("percentile(lateness, 0.95)"), 2).alias("p95_lateness_s"),
        rnd(F.max("lateness"), 2).alias("max_lateness_s"),
    )


# --------------------------------------------------------------------------
# watermark delay vs completeness sweep
# --------------------------------------------------------------------------

#: candidate watermark delays (seconds) swept against observed lateness.
WATERMARK_CANDIDATES = (0, 60, 300, 900, 3600)


_WATERMARK_SWEEP_ORACLE = f"""
WITH late AS (
  SELECT greatest(
           max(epoch(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - epoch(ts), 0.0) AS lateness
  FROM events
),
f AS (SELECT lateness FROM late WHERE lateness IS NOT NULL),
base AS (SELECT count(*) AS n_events FROM f),
cand AS (SELECT unnest([{", ".join(str(d) for d in WATERMARK_CANDIDATES)}])
                AS watermark_delay_s)
SELECT c.watermark_delay_s,
       CAST(coalesce(sum(CASE WHEN f.lateness > c.watermark_delay_s
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped,
       round((max(b.n_events)
              - coalesce(sum(CASE WHEN f.lateness > c.watermark_delay_s
                                  THEN 1 ELSE 0 END), 0)) * 1.0
             / greatest(max(b.n_events), 1) + 1e-6, 6) AS completeness
FROM cand c CROSS JOIN base b LEFT JOIN f ON true
GROUP BY c.watermark_delay_s
"""


@register(
    "watermark_completeness_sweep",
    oracle=_WATERMARK_SWEEP_ORACLE,
    tags=("prepared-r8",),
)
def watermark_completeness_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK SIZING SWEEP — the decision table built on top of
    ``lateness_profile``'s quantiles: for each candidate
    ``withWatermark`` delay, how many events would arrive later than the
    watermark allows (state already closed -> dropped) and the resulting
    completeness. The production delay is the smallest candidate whose
    completeness clears the SLO, read straight off this table instead of
    guessed. Lateness is the same per-key running-max definition as
    ``lateness_profile`` (one keyed window pass); the sweep is
    conditional aggregation folded to ONE combinable row then exploded,
    so every candidate always emits — zero drops included."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.col("ts").cast("double")
    late = ev.select(
        F.greatest(F.max(t).over(w) - t, F.lit(0.0)).alias("lateness")
    ).where(F.col("lateness").isNotNull())
    base = late.agg(
        F.count("*").alias("n_events"),
        *[
            F.coalesce(
                F.sum((F.col("lateness") > F.lit(float(d))).cast("long")),
                F.lit(0),
            ).alias(f"d{i}")
            for i, d in enumerate(WATERMARK_CANDIDATES)
        ],
    )
    swept = base.select(
        "n_events",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("delay"), F.col(f"d{i}").alias("nd")
                    )
                    for i, d in enumerate(WATERMARK_CANDIDATES)
                ]
            )
        ).alias("s"),
    )
    return swept.select(
        F.col("s.delay").alias("watermark_delay_s"),
        F.col("s.nd").alias("n_dropped"),
        rnd(
            (F.col("n_events") - F.col("s.nd"))
            / F.greatest(F.col("n_events"), F.lit(1)).cast("double"),
            6,
        ).alias("completeness"),
    )
