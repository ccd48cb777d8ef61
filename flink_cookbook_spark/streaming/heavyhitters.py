"""Streaming SPACE-SAVING heavy hitters: the bounded-memory top-k
tracker in its native stateful-streaming form.

Metwally/Agrawal/El Abbadi's Space-Saving summary keeps exactly
``HH_CAPACITY`` counters per shard; an untracked arrival evicts the
current minimum counter and inherits its count as the new entry's
error bound.  Invariants (the classic guarantees, pinned by the
ground-truth test):

* ``count_est >= true_count``  (over-estimate only), and
* ``count_est - err_bound <= true_count``  (the error is certified),
* ``err_bound <= n_processed / HH_CAPACITY``  (bounded memory buys a
  bounded error).

Scale shape: the item space is hash-SHARDED (``item % HH_SHARDS``) and
each shard maintains its own summary as the state of a
``streaming/keyed.keyed_step`` step — state per key is a CONSTANT-size
summary (capacity entries as one JSON string), shards hash-partition
across executors, and a global top-k is a cheap merge of per-shard
summaries (union of candidate sets; per-item counts are exact per shard
because an item lives in exactly one shard).  Like the token-bucket
limiter (``streaming/ratelimit.py``) it keeps Python state per key; the
windowed drift monitor (``streaming/driftmon.py``) is not a stateful
Python operator but a JVM watermarked aggregation, whose state Spark
keeps per key and open window.

Determinism: events are folded in (t, event_id) order inside each
micro-batch, and eviction picks the minimum (count, item) pair, so a
checkpointed two-phase restart replays to the same summary as one
continuous pass — pinned in
tests/test_streaming.py::test_streaming_heavy_hitters_equals_replay.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import DataFrame

from flink_cookbook_spark.streaming.keyed import keyed_step

#: counters kept per shard (the memory budget), and the shard count.
HH_CAPACITY = 4
HH_SHARDS = 2

#: output: the full tracked summary per shard per micro-batch.
HH_SCHEMA = (
    "shard long, item long, count_est long, err_bound long, n_processed long"
)


def space_saving_fold(
    summary: dict[int, tuple[int, int]], items: list[int]
) -> dict[int, tuple[int, int]]:
    """Fold ``items`` into a {item: (count, err)} summary in place —
    the single-threaded recurrence both the operator and the test
    replay share (one definition, no drift between them)."""
    for it in items:
        if it in summary:
            c, e = summary[it]
            summary[it] = (c + 1, e)
        elif len(summary) < HH_CAPACITY:
            summary[it] = (1, 0)
        else:
            evict_item, (evict_c, _) = min(
                summary.items(), key=lambda kv: (kv[1][0], kv[0])
            )
            del summary[evict_item]
            summary[it] = (evict_c + 1, evict_c)
    return summary


def heavy_hitters_step(
    shard, rows: pd.DataFrame, state_row: tuple | None
) -> tuple[pd.DataFrame, tuple]:
    """One shard's trigger: fold ``rows``' items (in (t, event_id)
    order) into the stored (JSON summary, processed count) state and
    emit the tracked summary."""
    enc, n = state_row or ("{}", 0)
    summary = {int(k): tuple(v) for k, v in json.loads(enc).items()}
    items = [int(x) for x in rows["item"]]
    space_saving_fold(summary, items)
    n += len(items)
    out = pd.DataFrame([
        {"shard": int(shard), "item": it, "count_est": c, "err_bound": e, "n_processed": n}
        for it, (c, e) in sorted(summary.items())
    ])
    return out, (json.dumps({str(k): list(v) for k, v in summary.items()}), n)


def heavy_hitters_streaming(item_stream: DataFrame) -> DataFrame:
    """Per-shard Space-Saving over a stream with columns
    (item, t, event_id): emits the tracked summary after every
    micro-batch; state is the JSON-encoded summary plus the processed
    count — constant size by construction."""
    from pyspark.sql import functions as F

    sharded = item_stream.withColumn(
        "shard", F.pmod(F.col("item"), F.lit(HH_SHARDS)).cast("long")
    )
    return keyed_step(
        sharded, "shard", ["t", "event_id"], heavy_hitters_step,
        "summary string, n long", HH_SCHEMA,
    )
