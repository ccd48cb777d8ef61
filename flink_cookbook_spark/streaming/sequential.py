"""Streaming SPRT: Wald's sequential probability-ratio test as a
stateful Structured Streaming operator.

The batch replay (``operators/experiments.sprt_sequential_test``) proves
the DECISION MATH against the DuckDB oracle; this module is the form
the operator actually ships in — a sequential test is intrinsically a
streaming computation (observe, update the log-likelihood ratio,
decide the moment a boundary is crossed), so it gets the same
``applyInPandasWithState`` treatment as the SARIMAX baseline operator:
per-group Arrow-batched state carrying (n, llr, decided_at, decision)
across micro-batches AND across checkpointed restarts.

The experiment stream is keyed by experiment id (the fixture runs one
experiment, but the operator is written for many concurrent tests —
per-key state hash-partitions across executors exactly like the
baseline operator's per-node state). Within a micro-batch,
observations process in (first_ts, user_id) order; across batches,
arrival order IS the sequential order — the same contract the batch
twin replays deterministically.

Equality of the streaming decision with the batch twin — including a
mid-stream checkpoint restart — is pinned in
tests/test_streaming.py::test_streaming_sprt_equals_batch.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.streaming.keyed import keyed_step
from flink_cookbook_spark.operators.experiments import (
    POWER_CONVERT_VALUE,
    SPRT_ALPHA,
    SPRT_BETA,
    SPRT_P0,
    SPRT_P1,
)

#: per-observation log-likelihood increments and decision boundaries.
L1 = math.log(SPRT_P1 / SPRT_P0)
L0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
UPPER = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
LOWER = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))

#: output schema of the streaming operator: one progress row per
#: micro-batch per experiment.
SPRT_SCHEMA = (
    "experiment_id string, n_total long, llr double, "
    "decided_at_n long, decision string"
)


def sprt_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment observation stream's batch form: one row per
    user with the first-seen timestamp (the sequential order) and the
    conversion outcome — exactly the input the batch twin folds."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("double")).alias("first_ts"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > POWER_CONVERT_VALUE)
            ).cast("int")
        ).alias("x"),
    ).withColumn("experiment_id", F.lit("exp-1"))


def sprt_step(
    experiment_id, rows: pd.DataFrame, state_row: tuple | None
) -> tuple[pd.DataFrame, tuple]:
    """One experiment's trigger: fold ``rows``' outcomes (in
    (first_ts, user_id) order) into the stored (n, llr, decided_at,
    decision) state, latching the first boundary crossing."""
    n, llr, decided_at, decision = state_row or (0, 0.0, -1, "continue")
    for x in rows["x"]:
        n += 1
        llr += x * L1 + (1 - x) * L0
        if decided_at < 0 and (llr >= UPPER or llr <= LOWER):
            decided_at = n
            decision = "accept_h1" if llr >= UPPER else "accept_h0"
    out = {"experiment_id": experiment_id, "n_total": n, "llr": llr,
           "decided_at_n": decided_at if decided_at >= 0 else None, "decision": decision}
    return pd.DataFrame([out]), (n, llr, decided_at, decision)


def sprt_streaming(obs_stream: DataFrame) -> DataFrame:
    """Streaming SPRT over an observation stream with columns
    (experiment_id, user_id, first_ts, x): per experiment, fold each
    micro-batch's observations in (first_ts, user_id) order into the
    running LLR, latch the first boundary crossing, and emit one
    progress row per batch. State is four scalars per experiment —
    trivially inside any state-store budget at any key cardinality."""
    return keyed_step(
        obs_stream, "experiment_id", ["first_ts", "user_id"], sprt_step,
        "n long, llr double, decided_at long, decision string", SPRT_SCHEMA,
    )
