"""``batch_mix``: registered queries executed one at a time through
``write.format("noop")``, which computes every column (``.count()`` lets
Catalyst prune most of the work; see README.md).

The tables are the repo's sf0.01 fixture set, copied byte for byte into
``fixtures/sf0.01`` so the benchmark reads nothing outside its checkout.

The first pass over the mix is the warm-up and the output check: each
query's result is hashed with the ``tests/oracle_harness.py``
normalisation and compared with ``golden.json``. The timed passes follow,
each in an order shuffled by the seed. The ``pipeline._cache`` memo is
cleared before every timed query, so each query pays the memo builds it
needs and reuses them within itself, and its time does not depend on the
seeded order (with one clear per pass, whichever of two queries sharing
an entry ran first would pay its build, and the slowest query would
change with the seed). The number of timed passes is fixed by
``--seconds``, one per 5 s; one pass takes 6-9 s on a 4-core host. Each
query counts its mean wall time over the timed passes; the latency tail
is taken over the wall times of every query in every pass.
"""

from __future__ import annotations

import json
import math
import os
import random
import time

from common import median, tail

HERE = os.path.dirname(os.path.abspath(__file__))
#: the fixture tables (lineitem ~60k rows)
SF_DIR = os.path.join(HERE, "fixtures", "sf0.01")
#: family -> queries: one per family the per-layer metrics name, each the
#: cheapest of its family that still runs the family's core operator
MIX = {
    "flagship": ["sarimax_baseline"],
    "tpch": ["q1_pricing_summary"],
    "windows": ["window_running_frames"],
    "graph": ["supplier_pagerank"],
    "dedup": ["simhash_bucket_dups"],
    "similarity": ["cosine_topk"],
    "text": ["tf_idf"],
    "pyudf": ["arrow_python_udf"],
}
FAMILY = {q: fam for fam, qs in MIX.items() for q in qs}
GOLDEN = os.path.join(HERE, "golden.json")


def result_hash(df) -> tuple[int, int]:
    """(rows, order-insensitive checksum) of a Spark result, through the
    oracle harness's streamed comparison path."""
    from tests.oracle_harness import _chunk_checksum, _spark_chunks

    rows, checksum, _, _ = _chunk_checksum(_spark_chunks(df))
    return rows, checksum


def _clear_memo() -> None:
    from flink_cookbook_spark.pipeline import _cache

    _cache.clear()


def run_batch(spark, run) -> dict:
    from flink_cookbook_spark.registry import all_specs

    specs = all_specs()
    sf = SF_DIR
    with open(GOLDEN) as f:
        golden = json.load(f)["queries"]
    rng = random.Random(run.seed)
    names = list(FAMILY)
    # warm-up + output check (untimed)
    with run.tracer.span("check_pass"):
        for name in names:
            with run.tracer.span("check", query=name):
                got = result_hash(specs[name].fn(spark, sf))
            want = golden[name]
            if list(got) != [want["rows"], want["checksum"]]:
                run.failures.append(f"{name}: rows/hash {got} != golden {want}")
    run.ready()
    walls: dict[str, list[float]] = {n: [] for n in names}
    totals = []
    probe_for = None
    if run.tracer.enabled:
        from trace_layers import QueryProbe as probe_for
    # one timed pass per 5 s of --seconds: a fixed amount of work, so the
    # number of passes never depends on how fast the host is
    for _ in range(max(1, run.seconds // 5)):
        rng.shuffle(names)
        total = 0.0
        with run.tracer.span("pass", index=len(totals)):
            for name in names:
                _clear_memo()  # each query pays its own memo builds, whatever the order
                probe = probe_for(spark, run, name) if probe_for else None
                t0 = time.perf_counter()
                with run.tracer.span("fn", query=name):
                    df = specs[name].fn(spark, sf)
                t1 = time.perf_counter()
                if probe:
                    probe.after_fn()
                with run.tracer.span("noop_write", query=name):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                if probe:
                    probe.done(t1 - t0, t2 - t0)
                walls[name].append(t2 - t0)
                total += t2 - t0
                run.attempted += 1
        totals.append(total)
    # each query's mean over the passes: on a shared host a single pass,
    # even the best one, varies from run to run more than the mean does
    per_query = {n: sum(w) / len(w) for n, w in walls.items()}
    total = sum(per_query.values())
    run.notes["passes"] = len(totals)
    run.notes["pass_totals_s"] = [round(t, 4) for t in totals]
    run.notes["slowest"] = sorted(per_query.items(), key=lambda kv: -kv[1])[:3]
    run.notes["walls_s"] = {n: [round(x, 3) for x in w] for n, w in walls.items()}
    run.layer["batch.total_s"] = total
    run.layer["batch.geomean_s"] = math.exp(
        sum(math.log(v) for v in per_query.values()) / len(per_query)
    )
    for fam in MIX:
        run.layer[f"{fam}.s"] = sum(per_query[q] for q in MIX[fam])
    # eight per-query means cannot support a percentile with 10 samples
    # beyond it; the query x pass wall times can
    value, pct, n = tail([x for w in walls.values() for x in w])
    run.notes["latency"] = (
        f"p50 {median(per_query.values()):.4f} s over {len(per_query)} query means, "
        f"p{pct:.1f} {value:.4f} s over {n} query x pass samples"
    )
    return {
        "work_s": total,
        "latency_p50_s": median(per_query.values()),
        "latency_tail_s": value,
    }
