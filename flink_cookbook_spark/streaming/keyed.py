"""The one stateful shell of the streaming operators.

Every keyed streaming operator (the model, Page-Hinkley, Space-Saving,
the token bucket, SPRT) is one pure step ``(key, rows, state_row | None)
-> (out_rows, state_row)``: the key's new rows of one trigger and its
stored state row (None for a new key) in, the trigger's output rows and
the state row to store out. This is *Structured Streaming*'s arbitrary
stateful processing, and the reference's ``process_element`` per key.
``keyed_step`` runs a step in ``applyInPandasWithState``; ``apply_step``
is the per-group body, callable without Spark, so a test can split a
key's input at any trigger boundaries and carry the state row itself.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame

Step = Callable[[object, pd.DataFrame, tuple | None], tuple[pd.DataFrame, tuple]]


def apply_step(
    step: Step, order: list[str] | None, key, chunks: Iterable[pd.DataFrame],
    state_row: tuple | None,
) -> tuple[pd.DataFrame, tuple]:
    """One key's trigger: concatenate its Arrow chunks (a key's rows can
    span several, in shuffle order), sort once by ``order`` (None: the
    step orders its rows itself) and call ``step``."""
    rows = pd.concat(chunks, ignore_index=True)
    if order:
        rows = rows.sort_values(order)
    return step(key, rows, state_row)


def keyed_step(
    stream: DataFrame, key: str, order: list[str] | None, step: Step,
    state_schema: str, out_schema: str,
) -> DataFrame:
    """``step`` per ``key`` and trigger over ``stream``, its state row
    kept as a ``state_schema`` row in the state store across triggers
    and checkpointed restarts; emits ``out_schema`` rows in append mode.
    Without a timeout a group runs only for a key with new rows, so a
    step always sees at least one row."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def run(k: tuple, chunks: Iterable[pd.DataFrame], state: GroupState):
        out, row = apply_step(step, order, k[0], chunks, state.get if state.exists else None)
        state.update(row)
        yield out

    return stream.groupBy(key).applyInPandasWithState(
        run,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
