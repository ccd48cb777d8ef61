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

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from flink_cookbook_spark.operators.timeseries import RL_BURST, RL_REFILL_S

#: output: one cumulative row per user per micro-batch.
RL_SCHEMA = (
    "user_id long, n_requests long, n_throttled long, "
    "tokens_left double, last_ts double"
)


def rate_limiter_streaming(req_stream: DataFrame) -> DataFrame:
    """Per-user token bucket over a request stream with columns
    (user_id, t): admit or throttle each request in event order within
    the batch, carrying (tokens, last_ts, counts) across micro-batches
    and restarts. State is four scalars per user."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = "n long, thr long, tok double, last double"

    def run(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.exists:
            n, thr, tok, last = state.get
            if last == -1.0:  # stored sentinel for "never initialized"
                tok, last = None, None
        else:
            n, thr, tok, last = 0, 0, None, None
        chunks = [pdf for pdf in pdf_iter]
        if chunks:
            whole = pd.concat(chunks, ignore_index=True).sort_values("t")
            for row in whole.itertuples(index=False):
                t = float(row.t)
                if last is None:
                    tok, last = RL_BURST - 1.0, t
                    n += 1
                    continue
                tok = min(RL_BURST, tok + (t - last) / RL_REFILL_S)
                if tok >= 1.0:
                    tok -= 1.0
                else:
                    thr += 1
                last = t
                n += 1
        state.update((n, thr, tok if tok is not None else -1.0,
                      last if last is not None else -1.0))
        yield pd.DataFrame(
            [
                {
                    "user_id": int(user_id),
                    "n_requests": n,
                    "n_throttled": thr,
                    "tokens_left": tok if tok is not None else -1.0,
                    "last_ts": last if last is not None else -1.0,
                }
            ]
        )

    return req_stream.groupBy("user_id").applyInPandasWithState(
        run,
        outputStructType=RL_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
