"""Streaming PAGE-HINKLEY mean-shift detector: the classic sequential
changepoint test in its native stateful-streaming form.

Page's cumulative-deviation test (the PH variant of CUSUM) tracks, per
key, m_t = sum_{i<=t} (x_i - xbar_i - delta) where xbar_i is the
RUNNING mean at step i, and alarms when the excursion
PH_t = m_t - min_{0<=i<=t} m_i exceeds ``PH_STREAM_LAMBDA`` — the
min includes the initial m_0 = 0 (``page_hinkley_fold`` seeds
m_min = 0.0), and the batch twin takes least(0, min over observed
prefix sums) so the two detectors share the identical convention. Unlike the
windowed drift monitor (``streaming/driftmon.py``, a two-sample KS gap
per window), PH is STRICTLY ONLINE: constant state per key — five
scalars — no window buffer, no reference histogram; it is the
streaming twin of the batch ``page_hinkley_drift`` replay
(operators/drift.py), which applies the same recurrence to daily
means under a full DuckDB value-hash oracle.

Scale shape: keys hash-partition across executors via the
``applyInPandasWithState`` groupBy; state per key is CONSTANT (five
scalars); arrivals fold in (t, event_id) order inside each
micro-batch, so a checkpointed two-phase restart replays to the same
state as one continuous pass — the same determinism contract as the
Space-Saving tracker (``streaming/heavyhitters.py``), pinned in
tests/test_streaming.py::test_streaming_page_hinkley_equals_replay.

Fixed-point discipline: the fold is pure float recurrence over the
same values in the same order, so restart-vs-continuous equality is
EXACT (bit-identical), not approximate.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from flink_cookbook_spark.streaming.keyed import keyed_step

#: magnitude tolerance subtracted per step (value units) and the alarm
#: threshold on the PH excursion. Raw event values are noisier than
#: the batch twin's daily means, so the streaming lambda sits higher.
PH_STREAM_DELTA = 0.1
PH_STREAM_LAMBDA = 50.0

#: output: one row per key per micro-batch (the post-batch state).
PH_SCHEMA = (
    "event_type string, n_processed long, running_mean double, "
    "ph_stat double, alarm boolean, n_alarm_crossings long"
)


def page_hinkley_fold(
    state: tuple[int, float, float, float, int], xs: list[float]
) -> tuple[int, float, float, float, int]:
    """Fold ``xs`` into the PH state tuple
    ``(n, sum_x, m, m_min, n_alarm_crossings)`` — the single
    recurrence the operator and the replay test share (one
    definition, no drift between them). A "crossing" increments when
    PH_t first exceeds lambda after having been at or below it."""
    n, sum_x, m, m_min, crossings = state
    above = (m - m_min) > PH_STREAM_LAMBDA
    for x in xs:
        n += 1
        sum_x += x
        m += x - (sum_x / n) - PH_STREAM_DELTA
        if m < m_min:
            m_min = m
        now_above = (m - m_min) > PH_STREAM_LAMBDA
        if now_above and not above:
            crossings += 1
        above = now_above
    return (n, sum_x, m, m_min, crossings)


def page_hinkley_step(
    event_type, rows: pd.DataFrame, state_row: tuple | None
) -> tuple[pd.DataFrame, tuple]:
    """One key's trigger: fold ``rows``' values (in (t, event_id)
    order) into the stored PH state and emit the post-batch detector
    row."""
    state = page_hinkley_fold(
        state_row or (0, 0.0, 0.0, 0.0, 0), [float(x) for x in rows["value"]]
    )
    n, sum_x, m, m_min, crossings = state
    ph = m - m_min
    out = {"event_type": event_type, "n_processed": n, "running_mean": sum_x / n,
           "ph_stat": ph, "alarm": ph > PH_STREAM_LAMBDA, "n_alarm_crossings": crossings}
    return pd.DataFrame([out]), state


def page_hinkley_streaming(value_stream: DataFrame) -> DataFrame:
    """Per-key Page-Hinkley over a stream with columns
    (event_type, t, event_id, value): emits the post-batch detector
    state per key per micro-batch; state is five scalars by
    construction."""
    return keyed_step(
        value_stream, "event_type", ["t", "event_id"], page_hinkley_step,
        "n long, sum_x double, m double, m_min double, crossings long", PH_SCHEMA,
    )
