"""Synthetic-fixture edge cases for the round-8-prepared operators:
constructions where the RIGHT answer is known exactly (zero drift,
exact throttle counts, forced SPRT acceptance), complementing the
cross-engine oracle equality with ground-truth checks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_cookbook_spark.operators.stats import SPLIT_EPOCH_S

MONTH_START = 1704067200


@pytest.fixture(scope="module")
def mirrored_events_dir(spark, tmp_path_factory):
    """events.parquet where the second half is an EXACT value-mirror of
    the first (each event duplicated with ts shifted by the half-month)
    -> every binned distribution is identical across the split."""
    base = str(tmp_path_factory.mktemp("edge_fx") / "mirror")
    rows = []
    eid = 0
    for u in range(6):
        for k in range(40):
            t = MONTH_START + 86400 * (k % 13) + 3600 * u + 60 * k
            v = float(10 + (u * 7 + k * 3) % 80)
            et = ["click", "purchase", "view"][k % 3]
            rows.append((eid, t, u, et, v))
            eid += 1
            rows.append((eid, t + (SPLIT_EPOCH_S - MONTH_START), u, et, v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, tsec long, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.timestamp_seconds("tsec").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit('{"k": 1}').alias("props"),
    )
    df.write.parquet(f"{base}/events.parquet")
    return base


def test_ks_and_w1_are_exactly_zero_on_mirrored_halves(spark, mirrored_events_dir):
    from flink_cookbook_spark.operators.drift import ks_test_drift, wasserstein_drift

    for r in ks_test_drift(spark, mirrored_events_dir).collect():
        assert r.n_a == r.n_b
        assert abs(r.ks_d - 1e-6) < 1e-9, r  # 0 + the display nudge
        assert not r.drifted
    for r in wasserstein_drift(spark, mirrored_events_dir).collect():
        assert abs(r.wasserstein_1) < 2e-6, r  # 0 (4-dp round eats the nudge)


def test_mwu_is_centered_on_mirrored_halves(spark, mirrored_events_dir):
    """Identical samples -> U equals its expectation exactly."""
    from flink_cookbook_spark.operators.stats import mann_whitney_u

    for r in mann_whitney_u(spark, mirrored_events_dir).collect():
        assert r.n_a == r.n_b
        assert abs(r.u_stat - r.u_expected) < 0.51
        assert not r.shifted_95


@pytest.fixture(scope="module")
def burst_events_dir(spark, tmp_path_factory):
    """One user fires 5 requests within 2 seconds: with burst=3 and
    60 s refill, events 4 and 5 must throttle (init leaves 2 tokens
    after the first admit; 2 more admits drain it; refill over 2 s is
    negligible)."""
    base = str(tmp_path_factory.mktemp("edge_fx2") / "burst")
    t0 = MONTH_START + 1000
    rows = [
        (i, t0 + i // 2, 1, "click", 50.0) for i in range(5)
    ]  # ts: t0, t0, t0+1, t0+1, t0+2
    df = spark.createDataFrame(
        rows, "event_id long, tsec long, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.timestamp_seconds("tsec").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.write.parquet(f"{base}/events.parquet")
    return base


def test_token_bucket_throttles_the_burst_exactly(spark, burst_events_dir):
    from flink_cookbook_spark.operators.timeseries import rate_limit_simulation

    [r] = rate_limit_simulation(spark, burst_events_dir).collect()
    assert r.n_requests == 5
    assert r.n_throttled == 2


def test_sprt_accepts_h1_when_everyone_converts(spark, tmp_path_factory):
    """All users convert -> the LLR walk climbs by ln(p1/p0) per user
    and must cross the upper boundary at ceil(upper / ln(p1/p0))."""
    import math

    from flink_cookbook_spark.operators.experiments import (
        SPRT_ALPHA,
        SPRT_BETA,
        SPRT_P0,
        SPRT_P1,
        sprt_sequential_test,
    )

    base = str(tmp_path_factory.mktemp("edge_fx3") / "allconv")
    rows = [(i, MONTH_START + i * 60, i, "purchase", 95.0) for i in range(40)]
    df = spark.createDataFrame(
        rows, "event_id long, tsec long, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.timestamp_seconds("tsec").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.write.parquet(f"{base}/events.parquet")
    [r] = sprt_sequential_test(spark, base).collect()
    upper = math.log((1 - SPRT_BETA) / SPRT_ALPHA)
    step = math.log(SPRT_P1 / SPRT_P0)
    assert r.decision == "accept_h1"
    assert r.decided_at_n == math.ceil(upper / step)


def test_shapley_axioms_on_constructed_corpus(spark, tmp_path_factory):
    """Construct a corpus where conversion depends ONLY on having seen
    'click' and check the axioms in the form the zero-fill convention
    (unobserved coalition -> v=0) actually guarantees: symmetry for
    identically-absent channels, click as the strict maximum, and
    efficiency against the zero-filled lattice."""
    from flink_cookbook_spark.operators.timeseries import shapley_attribution

    base = str(tmp_path_factory.mktemp("edge_fx4") / "shap")
    rows = []
    eid = 0
    # 40 users: half see {click, view}, half see {view} only; exactly
    # the click-seers convert (purchase value 95 AFTER the touches)
    for u in range(40):
        t0 = MONTH_START + u * 1000
        rows.append((eid, t0, u, "view", 10.0)); eid += 1
        if u % 2 == 0:
            rows.append((eid, t0 + 10, u, "click", 10.0)); eid += 1
            rows.append((eid, t0 + 100, u, "purchase", 95.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, tsec long, user_id long, event_type string, value double"
    ).select(
        "event_id", F.timestamp_seconds("tsec").alias("ts"),
        "user_id", "event_type", "value", F.lit("{}").alias("props"),
    )
    df.write.parquet(f"{base}/events.parquet")
    got = {r.channel: r for r in shapley_attribution(spark, base).collect()}
    # Under the data-driven zero-fill convention (unobserved coalition
    # -> v = 0), exact axioms take this form on this corpus:
    # symmetry — error and signup interact identically (never seen),
    # so their values are EQUAL; click is the only channel whose
    # presence raises any observed coalition's rate, so it is the
    # strict maximum; efficiency — the values sum to
    # v(full) - v(empty) over the zero-filled lattice, both 0 here.
    assert abs(got["error"].shapley_value - got["signup"].shapley_value) < 2e-6
    assert got["click"].shapley_value == max(
        r.shapley_value for r in got.values()
    )
    assert got["click"].shapley_value > 0
    total = sum(r.shapley_value for r in got.values())
    assert abs(total) < 1e-4  # v(full coalition) is unobserved -> 0
