"""Streaming token-bucket rate limiter: the admission-control operator
in its native stateful-streaming form.

The batch replay (``operators/timeseries.rate_limit_simulation``) proves
the bucket recurrence against the DuckDB oracle per user-day; this is
the operator a gateway actually runs — ``applyInPandasWithState``
keyed by USER, so unlike the single-experiment streaming SPRT
(``streaming/sequential.py``) this exercises stateful streaming at
KEY CARDINALITY: every user carries its own (tokens, last_ts,
throttled) triple, keys hash-partition across executors, and a
checkpointed restart must restore all of them.

Semantics note: the streaming bucket is continuous (state persists
across days — a real limiter does not reset at midnight), so its
per-user totals equal the batch day-sliced replay only when no user
session spans a day boundary; the parity test therefore compares
against a direct continuous Python replay, and separately checks the
day-sliced batch operator where slicing cannot matter.

Equality across a two-phase checkpointed restart is pinned in
tests/test_streaming.py::test_streaming_rate_limiter_equals_replay.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from flink_cookbook_spark.operators.timeseries import RL_BURST, RL_REFILL_S
from flink_cookbook_spark.streaming.keyed import keyed_step

#: output: one cumulative row per user per micro-batch.
RL_SCHEMA = (
    "user_id long, n_requests long, n_throttled long, "
    "tokens_left double, last_ts double"
)


def rate_limit_step(
    user_id, rows: pd.DataFrame, state_row: tuple | None
) -> tuple[pd.DataFrame, tuple]:
    """One user's trigger: admit or throttle each request of ``rows``
    (in ``t`` order) from the stored (n, thr, tok, last) bucket; a new
    user's first request finds a full bucket."""
    n, thr, tok, last = state_row or (0, 0, None, None)
    for t in rows["t"]:
        t = float(t)
        tok = RL_BURST if last is None else min(RL_BURST, tok + (t - last) / RL_REFILL_S)
        if tok >= 1.0:
            tok -= 1.0
        else:
            thr += 1
        last = t
        n += 1
    out = {"user_id": int(user_id), "n_requests": n, "n_throttled": thr,
           "tokens_left": tok, "last_ts": last}
    return pd.DataFrame([out]), (n, thr, tok, last)


def rate_limiter_streaming(req_stream: DataFrame) -> DataFrame:
    """Per-user token bucket over a request stream with columns
    (user_id, t): admit or throttle each request in event order within
    the batch, carrying (tokens, last_ts, counts) across micro-batches
    and restarts. State is four scalars per user."""
    return keyed_step(
        req_stream, "user_id", ["t"], rate_limit_step,
        "n long, thr long, tok double, last double", RL_SCHEMA,
    )
