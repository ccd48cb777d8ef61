"""Property tests for the stateful baseline model operator (SURVEY.md
section 5.2: rows-only driver check, so numerical properties live here)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from flink_cookbook_spark.streaming.sarimax import (
    ASOF_COLS,
    BASELINE_COLS,
    FIXTURE_CONFIG,
    BaselineConfig,
    _KeyState,
    _process_sample,
    baseline_batch,
    forecast_next,
    model_name,
    model_step,
    replay_key,
)


def test_forecast_constant_series_is_constant():
    cfg = BaselineConfig(season=12)
    z = np.full(40, 7.5)
    assert forecast_next(z, cfg) == pytest.approx(7.5)


def test_forecast_pure_seasonal_pattern():
    """A strict periodic signal forecasts the value one season ahead."""
    cfg = BaselineConfig(season=4)
    pattern = [1.0, 5.0, 9.0, 3.0]
    z = np.array(pattern * 8)
    fc = forecast_next(z, cfg)
    assert fc == pytest.approx(pattern[len(z) % 4], abs=1e-9)


def test_forecast_short_history_is_naive():
    cfg = BaselineConfig(season=12)
    assert forecast_next(np.array([3.0, 4.0]), cfg) == 4.0


def test_welford_matches_numpy():
    """State-loop moments must match numpy mean/std to 1e-9 (SURVEY.md
    section 5.2 property)."""
    rng = np.random.default_rng(7)
    xs = rng.normal(50, 10, size=500)
    st = _KeyState()
    cfg = BaselineConfig(max_history=10_000, min_history=10_000)  # never emit
    for x in xs:
        _process_sample(st, float(x), cfg)
    assert st.mean == pytest.approx(np.mean(xs), abs=1e-9)
    assert st.std() == pytest.approx(np.std(xs, ddof=1), abs=1e-9)


def test_history_trim_bounds_state():
    cfg = BaselineConfig(max_history=50, min_history=10, emit_every_n=5, season=5)
    st = _KeyState()
    for x in range(500):
        _process_sample(st, float(x), cfg)
    assert len(st.scaled) == 50
    assert len(st.raw) == 50
    assert st.count == 500  # Welford counts everything; history is bounded


def test_emit_cadence():
    """Emissions occur exactly on every Nth sample once min_history is
    reached (flinkarima.py:218-224 semantics)."""
    cfg = BaselineConfig(max_history=100, min_history=10, emit_every_n=5, season=3)
    st = _KeyState()
    emitted_at = []
    for i in range(1, 101):
        rec = _process_sample(st, float(i % 7), cfg)
        if rec is not None:
            emitted_at.append(i)
    assert emitted_at == [i for i in range(1, 101) if i % 5 == 0 and i >= 10]


def test_baseline_within_sane_range():
    """On a stationary series the inverse-scaled baseline must stay in
    the data's neighborhood and never below 0 (clamp, flinkarima.py:248)."""
    cfg = BaselineConfig(max_history=100, min_history=12, emit_every_n=5, season=12)
    st = _KeyState()
    rng = np.random.default_rng(3)
    recs = []
    for x in rng.normal(40, 5, size=200):
        rec = _process_sample(st, float(max(0, x)), cfg)
        if rec:
            recs.append(rec)
    assert recs
    for r in recs:
        assert 0 <= r["baseline"] <= 100
        assert r["running_std"] > 0


def test_batch_twin_equals_plain_python(spark, sf_dir):
    """applyInPandas over real fixture data must equal a plain-Python
    replay of the same per-key series — proves the distributed grouping /
    ordering adds nothing."""
    from flink_cookbook_spark.operators.metrics import _windowed

    win = _windowed(spark, sf_dir).collect()
    got = {
        (r.user_id, r.window_start): r.baseline
        for r in baseline_batch(_windowed(spark, sf_dir), FIXTURE_CONFIG).collect()
    }
    # plain python replay
    series: dict[int, list] = {}
    for r in sorted(win, key=lambda r: (r.user_id, r.window_start)):
        series.setdefault(r.user_id, []).append(r)
    want = {}
    for uid, rows in series.items():
        st = _KeyState()
        for r in rows:
            rec = _process_sample(st, float(r.avg_value), FIXTURE_CONFIG)
            if rec is not None:
                want[(uid, r.window_start)] = rec["baseline"]
    assert set(got) == set(want)
    assert got and all(got[k] == pytest.approx(want[k], abs=1e-9) for k in want)


def _replay_to_scan(df) -> list[str]:
    """Lines of ``df``'s executed plan from the replay's MapInPandas down
    to the first cached scan. Read after an action: only then is AQE's
    final plan, with every exchange it kept, the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString().splitlines()
    assert "isFinalPlan=true" in plan[0], plan[0]
    top = next(i for i, line in enumerate(plan) if "MapInPandas" in line)
    scan = next(i for i in range(top, len(plan)) if "InMemoryTableScan" in plan[i])
    return plan[top : scan + 1]


def test_baseline_batch_clusters_through_the_planner(spark, sf_dir):
    """``baseline_batch`` states the layout its replay needs (every key's
    rows in one partition, in window order) and the planner supplies it.
    Over the ``_windowed`` memo, materialized hash-partitioned by
    user_id, the executed plan has no Exchange between the replay and
    the cached scan; a round-robin copy of the memo still gives the
    memo's rows. AQE merges the fixture memo into one partition, so the
    checks also run on the memo rebuilt over 4 partitions."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.operators.metrics import _windowed
    from flink_cookbook_spark.pipeline import _cache

    def check(memo) -> int:
        replay = baseline_batch(memo)
        rows = sorted(replay.collect())
        path = _replay_to_scan(replay)
        assert not any("Exchange" in line for line in path), "\n".join(path)
        assert rows and sorted(baseline_batch(memo.repartition(4)).collect()) == rows
        return memo.select(F.spark_partition_id()).distinct().count()

    check(_windowed(spark, sf_dir))
    confs = {  # 4 shuffle partitions that AQE finds too big to merge
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "4",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    _cache.clear()
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert check(_windowed(spark, sf_dir)) > 1
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        _cache.clear()  # later callers rebuild the memo under the session's confs


#: per method, a config and a key count for the runner-equality pin: the
#: css config stays small (a real optimizer fit per emitted record)
_RUNNER_CASES = {
    "ewma": (FIXTURE_CONFIG, 13),
    "css": (BaselineConfig(max_history=48, min_history=24, emit_every_n=12, season=12,
                           method="css"), 4),
}


def _runner_input(n_keys: int, max_len: int) -> pd.DataFrame:
    rng = np.random.default_rng(7)
    rows = []
    for uid in range(n_keys):
        n = int(rng.integers(5, max_len))
        for t in range(n):
            rows.append((uid, 1000 + 300 * t, float(round(rng.normal(40, 5), 4))))
    pdf = pd.DataFrame(rows, columns=["user_id", "window_start", "avg_value"])
    return pdf.sort_values(["user_id", "window_start"]).reset_index(drop=True)


def _replay_all(pdf: pd.DataFrame, cfg: BaselineConfig) -> pd.DataFrame:
    """The scalar reference: ``replay_key`` per key, in key order."""
    recs = [
        r for uid, g in pdf.groupby("user_id") for r in replay_key(_KeyState(), uid, g, cfg)
    ]
    return pd.DataFrame(recs, columns=BASELINE_COLS)


@pytest.mark.parametrize("method", ["ewma", "css"])
def test_vectorized_runner_equals_scalar_loop(method):
    """The across-keys NumPy replay (round-14, guide section 4.2) must be
    BIT-IDENTICAL to the scalar `_process_sample` loop — same float-op
    sequence per key, and for css the same fit input — including across
    Arrow-batch boundaries and through the history-buffer trim (series
    longer than max_history)."""
    from flink_cookbook_spark.streaming.sarimax import _vectorized_runner

    cfg, n_keys = _RUNNER_CASES[method]
    pdf = _runner_input(n_keys, 2 * cfg.max_history + 40)  # some series trim
    # uneven batch splits (mid-segment) exercise the cross-batch carry
    cuts = [0, len(pdf) // 9, len(pdf) // 2, len(pdf)]
    batches = [pdf.iloc[a:b] for a, b in zip(cuts, cuts[1:])]

    got = pd.concat(list(_vectorized_runner(cfg)(iter(batches))), ignore_index=True)
    want = _replay_all(pdf, cfg)

    assert len(got) == len(want) > 0
    assert set(want["model"]) == {model_name(cfg)}
    for c in BASELINE_COLS:
        gv, wv = got[c].tolist(), want[c].tolist()
        assert gv == wv, f"column {c} diverged (first mismatch: " + str(
            next((i, a, b) for i, (a, b) in enumerate(zip(gv, wv)) if a != b)
        )


def _carry_cases() -> dict:
    """Per streaming step: (step, the shell's order, key, one key's
    input in arrival order)."""
    from functools import partial

    from flink_cookbook_spark.streaming.heavyhitters import heavy_hitters_step
    from flink_cookbook_spark.streaming.pagehinkley import page_hinkley_step
    from flink_cookbook_spark.streaming.ratelimit import rate_limit_step
    from flink_cookbook_spark.streaming.sequential import sprt_step

    rng = np.random.default_rng(3)
    n = 400
    t = np.cumsum(rng.exponential(40.0, n)).round(3)  # bursts throttle, gaps refill
    ev = pd.DataFrame({"t": t, "event_id": np.arange(n)})
    shift = np.where(np.arange(n) < n // 2, 10.0, 25.0)  # a mean shift PH alarms on
    return {
        "model": (partial(model_step, cfg=FIXTURE_CONFIG), None, "node-07",
                  _runner_input(1, 2 * FIXTURE_CONFIG.max_history + 40)[
                      ["window_start", "avg_value"]]),
        "rate_limit": (rate_limit_step, ["t"], 7, ev[["t"]]),
        "heavy_hitters": (heavy_hitters_step, ["t", "event_id"], 1,
                          ev.assign(item=rng.zipf(1.6, n) % 23)),
        "page_hinkley": (page_hinkley_step, ["t", "event_id"], "purchase",
                         ev.assign(value=shift + rng.normal(0, 3, n))),
        "sprt": (sprt_step, ["first_ts", "user_id"], "exp-1",
                 pd.DataFrame({"first_ts": t, "user_id": np.arange(n),
                               "x": (rng.random(n) < 0.2).astype(int)})),
    }


@pytest.mark.parametrize("name", list(_carry_cases()))
def test_step_independent_of_trigger_boundaries(name):
    """Each streaming operator's step, run through the shell's per-group
    path (``apply_step``), ends in the same state row when one key's
    input arrives in one trigger as when it is split at trigger
    boundaries (fixed and random), shuffled and cut into two Arrow
    chunks within each trigger, its state passed on through the state
    row. The model emits a row per window, so all its rows must be
    equal; the other steps emit their post-trigger state, so the last
    trigger's rows must be."""
    from flink_cookbook_spark.streaming.keyed import apply_step

    step, order, key, series = _carry_cases()[name]
    want, state = apply_step(step, order, key, [series], None)
    assert len(want)
    rng = np.random.default_rng(11)
    splits = [[5, 14, 15, 16, 100]] + [
        sorted(rng.choice(np.arange(1, len(series)), rng.integers(1, 12), replace=False))
        for _ in range(6)
    ]
    for cuts in splits:
        row, parts = None, []
        for a, b in zip([0, *cuts], [*cuts, len(series)]):
            trigger = series.iloc[a:b].sample(frac=1, random_state=int(b))
            chunks = [trigger.iloc[: len(trigger) // 2], trigger.iloc[len(trigger) // 2:]]
            rows, row = apply_step(step, order, key, chunks, row)
            parts.append(rows)
        assert row == state, cuts
        if name == "model":
            got = pd.concat([p.astype(object) for p in parts if len(p)], ignore_index=True)
            pd.testing.assert_frame_equal(got, want.astype(object), check_exact=True)
        else:
            pd.testing.assert_frame_equal(rows, want, check_exact=True)
    if name != "model":
        return

    assert list(want.columns) == ASOF_COLS
    last = want.iloc[-1]
    assert state[6:] == (last["baseline_window_start"], last["baseline"], last["running_std"])
    recs = pd.DataFrame(replay_key(_KeyState(), key, series, FIXTURE_CONFIG), columns=BASELINE_COLS)
    emit = want[want["baseline_window_start"] == want["window_start"]]
    pd.testing.assert_frame_equal(
        emit[BASELINE_COLS].reset_index(drop=True), recs, check_dtype=False, check_exact=True
    )
    asof = pd.merge_asof(
        series, recs[["window_start", "baseline", "running_std"]].assign(
            baseline_window_start=recs["window_start"]
        ), on="window_start",
    ).dropna(subset=["baseline_window_start"]).reset_index(drop=True)
    for c in ("window_start", "baseline", "running_std", "baseline_window_start"):
        assert want[c].tolist() == asof[c].tolist(), c
    assert want["observed"].tolist() == asof["avg_value"].tolist()


def test_fit_failure_drops_one_record_in_both_runners(monkeypatch, caplog):
    """A forecaster that raises drops exactly its own record, in both
    replays, and is logged once (the reference logs and swallows fit
    errors per key); every other record is unchanged."""
    import logging

    import flink_cookbook_spark.streaming.sarimax as sx

    cfg = BaselineConfig(max_history=40, min_history=10, emit_every_n=5, season=4,
                         method="css")
    pdf = _runner_input(3, 40)
    real = sx.forecast_next
    fit_inputs = []
    monkeypatch.setattr(sx, "forecast_next",
                        lambda h, c: fit_inputs.append(tuple(h)) or real(h, c))
    want = _replay_all(pdf, cfg)
    assert len(want) == len(fit_inputs) > 3
    bad = fit_inputs[2]  # the fit input of the third record

    def failing(h, c):
        if tuple(h) == bad:
            raise FloatingPointError("fit diverged")
        return real(h, c)

    monkeypatch.setattr(sx, "forecast_next", failing)
    caplog.set_level(logging.WARNING, logger=sx.__name__)
    expect = want.drop(index=2).reset_index(drop=True)
    runners = {
        "replay_key": lambda: _replay_all(pdf, cfg),
        "vectorized": lambda: pd.concat(
            list(sx._vectorized_runner(cfg)(iter([pdf]))), ignore_index=True
        ),
    }
    for name, run in runners.items():
        caplog.clear()
        pd.testing.assert_frame_equal(run(), expect, check_exact=True, obj=name)
        assert [r.getMessage() for r in caplog.records] == [
            "baseline forecast failed, record dropped"
        ], name
        assert "fit diverged" in caplog.text, name


def test_model_column_names_active_forecaster():
    """Every baseline record carries which forecaster produced it, so
    consumers can tell the vendored CSS fit from the numpy fallback
    (the default)."""
    from flink_cookbook_spark.streaming.sarimax import BASELINE_SCHEMA

    assert "model string" in BASELINE_SCHEMA
    assert model_name(FIXTURE_CONFIG) == "ewma_fallback"
    assert model_name(BaselineConfig(method="css")) == "sarimax_css"
    cfg = BaselineConfig(max_history=50, min_history=10, emit_every_n=5, season=5)
    st = _KeyState()
    recs = [r for x in range(60) if (r := _process_sample(st, float(x), cfg))]
    assert recs and all(r["model"] == "ewma_fallback" for r in recs)


def test_resolve_method_covers_all_branches():
    """Dispatch-table completeness (round-6 verdict #6): each method maps
    to its model tag, and an unknown method is a loud error, not a
    silent fallback."""
    assert model_name(BaselineConfig(method="ewma")) == "ewma_fallback"
    assert model_name(BaselineConfig(method="css")) == "sarimax_css"
    with pytest.raises(ValueError, match="unknown forecast method"):
        BaselineConfig(method="bogus")


def test_trend_window_matches_reference_days_rule():
    """_daily_trend_metrics twin: days = max(5, max_history // season)
    (flinkarima.py:240-244), trend_5season averages the whole trimmed
    slice — 8 seasons at the fixture ratio 96//12, not a fixed 5."""
    from flink_cookbook_spark.streaming.sarimax import _trend_metrics

    cfg = BaselineConfig(max_history=96, min_history=12, emit_every_n=5, season=12)
    raw = [float(i) for i in range(96)]
    latest, five = _trend_metrics(raw, cfg)
    assert latest == pytest.approx(sum(raw[-12:]) / 12)
    assert five == pytest.approx(sum(raw) / 96)  # 8 seasons = all 96
    # small-history config keeps the 5-day floor
    cfg2 = BaselineConfig(max_history=20, min_history=5, emit_every_n=5, season=12)
    raw2 = [float(i) for i in range(20)]
    _, five2 = _trend_metrics(raw2, cfg2)
    assert five2 == pytest.approx(sum(raw2) / 20)  # floor(20/12)=1 -> days=5 -> all


def test_fallback_oracle_equals_stateful_loop(spark, sf_dir):
    """baseline_fallback_oracle (pure window-SQL re-derivation, the
    driver's hash-checked pair) must reproduce the mapInPandas stateful
    loop record-for-record on real fixture data. Together with the
    driver's Spark==DuckDB check this closes the loop: stateful loop ==
    Spark SQL == DuckDB SQL for the numpy-fallback path."""
    from flink_cookbook_spark.streaming.sarimax import (
        baseline_fallback_oracle,
        sarimax_baseline,
    )

    sql_rows = {
        (r.user_id, r.window_start): r
        for r in baseline_fallback_oracle(spark, sf_dir).collect()
    }
    loop_rows = {
        (r.user_id, r.window_start): r
        for r in sarimax_baseline(spark, sf_dir).collect()
    }
    assert set(sql_rows) == set(loop_rows)
    assert sql_rows
    quantum = 2e-4  # both sides round to 4 dp; loop output is unrounded
    for key, sq in sql_rows.items():
        lp = loop_rows[key]
        assert sq.history_size == lp.history_size
        assert sq.model == lp.model == "ewma_fallback"
        for col in ("observed", "baseline", "running_mean", "running_std",
                    "trend_latest", "trend_5season"):
            assert getattr(sq, col) == pytest.approx(
                getattr(lp, col), abs=quantum
            ), f"{key} {col}"


def test_alert_oracle_coheres_with_stateful_pipeline(spark, sf_dir):
    """The hash-checked alert pipeline (SQL baselines, rounded 4dp) must
    fire (nearly) the same alerts as the stateful-loop pipeline —
    divergence is only possible for alerts sitting exactly on a
    threshold boundary within rounding quantum."""
    from flink_cookbook_spark.streaming.sarimax import (
        pipeline_alerts_end_to_end,
        pipeline_alerts_fallback_oracle,
    )

    loop_keys = {
        (r.user_id, r.window_start)
        for r in pipeline_alerts_end_to_end(spark, sf_dir).collect()
    }
    sql_keys = {
        (r.user_id, r.window_start)
        for r in pipeline_alerts_fallback_oracle(spark, sf_dir).collect()
    }
    assert loop_keys and sql_keys
    diff = len(loop_keys ^ sql_keys)
    assert diff <= max(1, len(loop_keys | sql_keys) // 100), (
        f"{diff} boundary divergences out of {len(loop_keys | sql_keys)}"
    )


# ---------------------------------------------------------------------------
# vendored seasonal-ARIMA (CSS) — the reference MODEL without statsmodels
# ---------------------------------------------------------------------------


def test_css_recovers_known_arma_parameters():
    """CSS on data simulated FROM the model recovers the generating
    (phi, theta, Theta) to coarse tolerance — the estimator is consistent,
    not just 'runs'."""
    from flink_cookbook_spark.streaming.seasonal_arima import (
        css_residuals,
        difference,
        fit_css,
    )

    s = 12
    phi0, theta0, big0 = 0.5, -0.3, -0.4
    rng = np.random.default_rng(11)
    n = 2000
    eps = rng.normal(0, 1.0, size=n)
    w = np.zeros(n)
    for t in range(n):
        w[t] = eps[t]
        if t >= 1:
            w[t] += phi0 * w[t - 1] + theta0 * eps[t - 1]
        if t >= s:
            w[t] += big0 * eps[t - s]
        if t >= s + 1:
            w[t] += theta0 * big0 * eps[t - s - 1]
    # integrate back: z such that (1-B)(1-B^s) z = w
    z = np.zeros(n + s + 1)
    for t in range(s + 1, n + s + 1):
        z[t] = w[t - s - 1] + z[t - 1] + z[t - s] - z[t - s - 1]
    phi, theta, big = fit_css(z, s)
    assert phi == pytest.approx(phi0, abs=0.15)
    assert theta == pytest.approx(theta0, abs=0.15)
    assert big == pytest.approx(big0, abs=0.15)
    # residuals under the fitted params are near-white: CSS variance close
    # to the innovation variance used to simulate
    resid = css_residuals(difference(z, s), phi, theta, big, s)
    assert np.var(resid) == pytest.approx(1.0, rel=0.2)


def test_css_fit_is_deterministic():
    from flink_cookbook_spark.streaming.seasonal_arima import fit_css

    rng = np.random.default_rng(5)
    z = np.cumsum(rng.normal(0, 1, 300))
    assert fit_css(z, 12) == fit_css(z, 12)


def test_css_forecast_tracks_seasonal_signal():
    """On a seasonal + trend + small-noise series the CSS forecast must
    land near the true next value, and at least as close as a naive
    last-value forecast."""
    from flink_cookbook_spark.streaming.seasonal_arima import forecast_one_step

    s = 12
    rng = np.random.default_rng(42)
    t = np.arange(120)
    true = 50 + 0.1 * t + 10 * np.sin(2 * np.pi * t / s)
    z = true + rng.normal(0, 0.5, size=len(t))
    fc = forecast_one_step(z[:-1], s)
    true_next = true[-1]
    assert abs(fc - true_next) < 2.0
    assert abs(fc - true_next) <= abs(z[-2] - true_next) + 1e-9


def test_css_branch_runs_through_state_loop():
    """The non-fallback branch executes end-to-end through the per-sample
    state machine: method='css' produces finite, clamped baselines tagged
    sarimax_css."""
    cfg = BaselineConfig(
        max_history=60, min_history=24, emit_every_n=12, season=12, method="css"
    )
    st = _KeyState()
    rng = np.random.default_rng(9)
    recs = []
    for i in range(72):
        x = 40 + 8 * np.sin(2 * np.pi * i / 12) + rng.normal(0, 1)
        rec = _process_sample(st, float(max(0.0, x)), cfg)
        if rec:
            recs.append(rec)
    assert recs
    for r in recs:
        assert r["model"] == "sarimax_css"
        assert np.isfinite(r["baseline"]) and r["baseline"] >= 0
        assert 20 <= r["baseline"] <= 70  # in the signal's neighborhood


def test_css_batch_twin_on_fixture(spark, sf_dir):
    """baseline_batch with the CSS forecaster runs distributed (the same
    mapInPandas boundary) on real fixture data and emits sarimax_css
    records — the 'real model' path is executable, not just importable."""
    from flink_cookbook_spark.operators.metrics import _windowed

    cfg = BaselineConfig(
        max_history=96, min_history=12, emit_every_n=24, season=12, method="css"
    )
    rows = baseline_batch(_windowed(spark, sf_dir), cfg).collect()
    assert rows
    assert all(r.model == "sarimax_css" for r in rows)
    assert all(np.isfinite(r.baseline) and r.baseline >= 0 for r in rows)


def test_css_matches_statsmodels_when_available():
    """Environment-gated exact-model parity: when statsmodels IS present,
    the vendored CSS forecast agrees with the statespace SARIMAX forecast
    on a well-behaved seasonal series (loose tolerance: CSS conditions on
    pre-sample zeros, ML uses the exact likelihood)."""
    SARIMAX = pytest.importorskip("statsmodels.tsa.statespace.sarimax").SARIMAX

    from flink_cookbook_spark.streaming.seasonal_arima import forecast_one_step

    s = 12
    rng = np.random.default_rng(3)
    t = np.arange(240)
    z = 30 + 5 * np.sin(2 * np.pi * t / s) + rng.normal(0, 0.5, len(t))
    want = float(
        SARIMAX(z, order=(1, 1, 1), seasonal_order=(0, 1, 1, s),
                enforce_stationarity=False, enforce_invertibility=False)
        .fit(disp=False).forecast(1)[-1]
    )
    got = forecast_one_step(z, s)
    assert got == pytest.approx(want, abs=1.0)


def test_css_vs_ewma_cross_validation():
    """Round-5 verdict ask #5: rolling one-step cross-validation of the
    vendored CSS fit against the EWMA fallback.

    (a) On the seasonal fixture shape (daily profile + noise, the
    datagen's regime) the two forecasters must agree within tolerance —
    both capture the seasonal level, so their rolling MAEs are close and
    the mean absolute forecast gap is small relative to the seasonal
    amplitude.

    (b) On a pure AR(1) series (no seasonality) the CSS fit must BEAT
    the fallback: the AR term is exactly what EWMA's seasonal-naive
    anchor cannot model — this sharpens seasonal_arima.py's claim to
    implement the reference MODEL rather than being a dressed-up EWMA.
    """
    from flink_cookbook_spark.streaming.sarimax import BaselineConfig, forecast_next

    s = 12
    css_cfg = BaselineConfig(max_history=240, min_history=48, season=s, method="css")
    ewma_cfg = BaselineConfig(max_history=240, min_history=48, season=s, method="ewma")

    # (a) seasonal fixture: sine profile + noise, amplitude 10
    rng = np.random.default_rng(1234)
    t = np.arange(160)
    z = 60 + 10 * np.sin(2 * np.pi * t / s) + rng.normal(0, 0.5, len(t))
    gaps, css_err, ewma_err = [], [], []
    for cut in range(120, 160):
        hist = z[:cut]
        fc_css = forecast_next(hist, css_cfg)
        fc_ewma = forecast_next(hist, ewma_cfg)
        gaps.append(abs(fc_css - fc_ewma))
        css_err.append(abs(fc_css - z[cut]))
        ewma_err.append(abs(fc_ewma - z[cut]))
    assert np.mean(gaps) < 2.0          # << the 10-unit seasonal amplitude
    assert np.mean(css_err) < 2.0       # both track the signal
    assert np.mean(ewma_err) < 2.0

    # (b) pure AR(1), phi=0.8: CSS's AR term wins, fallback can't model it
    rng = np.random.default_rng(77)
    n = 200
    ar = np.zeros(n)
    for i in range(1, n):
        ar[i] = 0.8 * ar[i - 1] + rng.normal(0, 1.0)
    ar += 50.0
    css_err, ewma_err = [], []
    for cut in range(150, 200):
        hist = ar[:cut]
        css_err.append(abs(forecast_next(hist, css_cfg) - ar[cut]))
        ewma_err.append(abs(forecast_next(hist, ewma_cfg) - ar[cut]))
    assert np.mean(css_err) < np.mean(ewma_err), (
        f"CSS MAE {np.mean(css_err):.3f} must beat EWMA MAE {np.mean(ewma_err):.3f} on AR(1)"
    )
