"""Restart-parity probe at 10,000-key cardinality (round-11 ladder rung).

The committed suite pins checkpointed-restart parity for the stateful
streaming operators at 1000 keys (tests/test_streaming.py,
test_streaming_page_hinkley_restart_parity_1000_keys). This probe runs
the same two-phase availableNow protocol at 10x that cardinality —
10,000 keys x 60 events = 600k rows through the five-scalar
Page-Hinkley detector (applyInPandasWithState) — and asserts every
key's final state is BIT-IDENTICAL to one continuous Python pass of
the shared fold. At this cardinality every state-store partition holds
~300 keys and every Arrow batch carries hundreds of groups, so the
determinism contract (fold in (t, event_id) order, constant per-key
state) is exercised far from the fixture regime.

It also reports end-to-end streaming throughput (rows/s across both
checkpointed phases, JVM-warm), the honest comparison point for the
reference's 10 msg/s design ingest (BASELINE.md).

Off-CI by design (~1-2 min): run manually, record in PERF.md.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

N_KEYS = int(os.environ.get("SPARK_GRAFT_PROBE_KEYS", "10000"))
N_EVENTS = int(os.environ.get("SPARK_GRAFT_PROBE_EVENTS_PER_KEY", "60"))


def main() -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_cookbook_spark.session import get_spark
    from flink_cookbook_spark.streaming.pagehinkley import (
        PH_STREAM_LAMBDA,
        page_hinkley_fold,
        page_hinkley_streaming,
    )

    # state at the core count, as in the recorded results (the session
    # default is one state partition)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(app_name="fcs-restart10k-probe", shuffle_partitions=cpus)

    rng = random.Random(20260816)
    data = []
    eid = 0
    for k in range(N_KEYS):
        key = f"k{k:05d}"
        for i in range(N_EVENTS):
            # a third of keys shift +15 mid-series so alarm/crossing
            # state is exercised, not just the quiet path
            level = 10.0 + (k % 7) + (
                15.0 if i >= (N_EVENTS * 5) // 8 and k % 3 == 0 else 0.0
            )
            t = 1704067200.0 + i * 60 + (k % 50)
            data.append((key, t, eid, level + rng.uniform(-1.0, 1.0)))
            eid += 1
    ev = spark.createDataFrame(
        data, "event_type string, t double, event_id long, value double"
    )
    split_t = 1704067200.0 + (N_EVENTS // 3) * 60

    base = tempfile.mkdtemp(prefix="fcs_restart10k_")
    data_dir, ckpt, out_dir = (
        os.path.join(base, "vals"),
        os.path.join(base, "ckpt"),
        os.path.join(base, "out"),
    )
    try:
        ev.where(F.col("t") <= split_t).coalesce(4).write.parquet(
            data_dir, mode="overwrite"
        )
        schema = spark.read.parquet(data_dir).schema

        def run_phase() -> float:
            t0 = time.perf_counter()
            stream = spark.readStream.schema(schema).parquet(data_dir)
            q = (
                page_hinkley_streaming(stream)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            return time.perf_counter() - t0

        phase1_s = run_phase()
        ev.where(F.col("t") > split_t).coalesce(4).write.parquet(
            data_dir, mode="append"
        )
        phase2_s = run_phase()

        out = spark.read.parquet(out_dir)
        w = Window.partitionBy("event_type").orderBy(
            F.col("n_processed").desc()
        )
        final_rows = (
            out.withColumn("rk", F.dense_rank().over(w))
            .where("rk = 1")
            .collect()
        )
        # duplicate-emission guard (round-13, mirroring the r12
        # probe_stream100m hardening): a key whose FINAL state row was
        # emitted twice with identical values would silently win the
        # dict comprehension — the rank-1 row count must equal the key
        # count exactly.
        n_dup_final = len(final_rows) - len(
            {r.event_type for r in final_rows}
        )
        assert n_dup_final == 0, f"{n_dup_final} duplicate final emissions"
        final = {r.event_type: r for r in final_rows}

        per_key: dict = {}
        for key, t, e, v in sorted(data, key=lambda r: (r[1], r[2])):
            per_key.setdefault(key, []).append(v)

        mismatches = []
        n_alarmed = 0
        assert len(final) == N_KEYS, f"{len(final)} keys emitted"
        for key, xs in per_key.items():
            n, sum_x, m, m_min, crossings = page_hinkley_fold(
                (0, 0.0, 0.0, 0.0, 0), xs
            )
            r = final[key]
            ok = (
                r.n_processed == n == N_EVENTS
                and r.running_mean == sum_x / n  # bit-identical
                and r.ph_stat == m - m_min
                and r.alarm == (r.ph_stat > PH_STREAM_LAMBDA)
                and r.n_alarm_crossings == crossings
            )
            if not ok:
                mismatches.append(key)
            n_alarmed += int(r.alarm)

        total_rows = len(data)
        wall = phase1_s + phase2_s
        print(
            json.dumps(
                {
                    "metric": "restart_parity_10k",
                    "keys": N_KEYS,
                    "rows": total_rows,
                    "phase1_s": round(phase1_s, 2),
                    "phase2_s": round(phase2_s, 2),
                    "rows_per_s": round(total_rows / wall),
                    "alarmed_keys": n_alarmed,
                    "mismatched_keys": len(mismatches),
                    "sample_mismatches": mismatches[:5],
                }
            )
        )
        if mismatches:
            sys.exit(1)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
