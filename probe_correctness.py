"""Cross-engine CORRECTNESS probe past fixture scale.

The shipped fixtures stop at sf0.1; the driver's hash gate runs at
sf0.01. This tool manufactures the same 10x scaled dataset as
probe_sf1.py, then runs the DRIVER-IDENTICAL comparison (Spark result
vs DuckDB oracle: row count + column set + order-insensitive value
hash) for a list of registered queries at that scale — checking that
the rounding-tie discipline, sketch math, and adaptive-k derivations
hold as sums grow 100x past the driver's gate, not merely that plans
stay fast. Off-CI by design (minutes of DuckDB work): run manually,
record results in PERF.md.

    python probe_correctness.py                      # default query set
    SPARK_GRAFT_PROBE_QUERIES=q1,q2 python probe_correctness.py
    SPARK_GRAFT_PROBE_QUERIES=ALL python probe_correctness.py  # whole registry

Sweep resilience (round-11, verdict ask #6): the round-10 whole-registry
30x sweep died when ONE query (`exact_quantiles`, since rewritten) took
down the local JVM — every later query read "connection refused", a
harness casualty rather than engine failures. The loop now health-checks
the session after any per-query exception and relaunches the JVM if it
died (the scaled parquet directory survives on disk; the DuckDB side is
a separate process), so a query-level JVM death is reported as THAT
query's failure only. Results stream to a JSONL file
(``SPARK_GRAFT_PROBE_RESULTS``) so a partial sweep is inspectable and
resumable: with ``SPARK_GRAFT_PROBE_RESUME=1`` previously-recorded
queries are skipped (their recorded status is carried into the totals).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

#: one hash-checked representative per major family (kept moderate: the
#: DuckDB side replays unrolled iterative oracles at 10x fixture size).
_DEFAULT = (
    "five_min_window_agg",
    "deviation_alerts",
    "baseline_fallback_oracle",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "mode_per_group",
    "listagg_ordered",
    "ntile_segment_quartiles",
    "value_histogram",
    "event_id_gap_audit",
    "kmv_merge_rollup",
    "bitmap_distinct_rollup",
    "duplicate_paragraph_filter",
    "exact_dedup",
    "minhash_lsh_pairs",
    "similarity_threshold_curve",
    "ivf_topk",
    "imi_topk",
    "sessionize_dynamic_gap",
    "autocorrelation",
)


def _alive(spark) -> bool:
    """Cheap JVM health check: a scalar job that touches the gateway."""
    try:
        spark.range(1).count()
        return True
    except Exception:
        return False


def _relaunch():
    """Tear down every handle to the dead JVM and launch a fresh one.

    PySpark pins the py4j gateway and the instantiated session at module
    level; after the JVM process dies they must be reset or getOrCreate
    keeps handing back proxies into the corpse."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from flink_cookbook_spark.session import get_spark

    active = SparkContext._active_spark_context
    if active is not None:
        try:
            active.stop()
        except Exception:
            pass
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None
    for attr in ("_instantiatedSession", "_activeSession"):
        if hasattr(SparkSession, attr):
            setattr(SparkSession, attr, None)
    return get_spark(app_name="fcs-correctness-probe")


def main() -> None:
    from probe_sf1 import _scale

    import duckdb

    from flink_cookbook_spark.catalog import TABLES
    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.registry import all_specs
    from flink_cookbook_spark.session import get_spark
    from tests.oracle_harness import compare

    names = tuple(
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_PROBE_QUERIES", ",".join(_DEFAULT)).split(",")
        if q.strip()
    )
    results_path = os.environ.get("SPARK_GRAFT_PROBE_RESULTS")
    results: dict[str, str] = {}
    if results_path and os.environ.get("SPARK_GRAFT_PROBE_RESUME") and os.path.exists(results_path):
        with open(results_path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                rec = json.loads(line)
                results.update({k: v for k, v in rec.items() if isinstance(v, str)})
        print(json.dumps({"resumed_from": results_path, "prior": len(results)}), flush=True)

    def emit(name: str, status: str) -> None:
        print(json.dumps({name: status}), flush=True)
        if results_path:
            with open(results_path, "a") as fh:
                fh.write(json.dumps({name: status}) + "\n")

    spark = get_spark(app_name="fcs-correctness-probe")
    # SPARK_GRAFT_PROBE_DATA_DIR: reuse (and keep) an already-scaled
    # dataset directory across sweep restarts — regenerating the 30x
    # tables costs minutes per relaunch. The directory is created and
    # populated on first use; when unset, a throwaway tempdir is used.
    data_dir = os.environ.get("SPARK_GRAFT_PROBE_DATA_DIR")
    keep_data = data_dir is not None
    out_dir = data_dir or tempfile.mkdtemp(prefix="fcs_cprobe_")
    try:
        if not (keep_data and os.path.exists(os.path.join(out_dir, "_SCALED_OK"))):
            _scale(spark, out_dir)
            if keep_data:
                open(os.path.join(out_dir, "_SCALED_OK"), "w").close()
        clear()
        specs = all_specs()
        if names == ("ALL",):
            # whole-registry sweep: every registered query with an
            # oracle, alphabetically (rows-only queries report SKIP).
            # SPARK_GRAFT_PROBE_EXCLUDE names queries to leave out —
            # used by the 30x sweep for the exact pair family, whose
            # dup-saturated workload is quadratic in the replication
            # factor by fixture construction (each exclusion must be
            # named with its reason in PERF.md).
            exclude = {
                q.strip()
                for q in os.environ.get("SPARK_GRAFT_PROBE_EXCLUDE", "").split(",")
                if q.strip()
            }
            names = tuple(n for n in sorted(specs) if n not in exclude)
            if exclude:
                print(json.dumps({"excluded": sorted(exclude)}), flush=True)
        # Spark writes each table as a DIRECTORY of part files — glob it
        con = duckdb.connect()
        # bound the oracle side so a 600M-row replay can't drive the
        # PROCESS into the OOM killer (DuckDB defaults to 80% of RAM,
        # which collides with the Spark heap in this single process) and
        # spill somewhere with room instead of the repo cwd
        mem = os.environ.get("SPARK_GRAFT_PROBE_DUCKDB_MEM")
        if mem:
            con.execute(f"SET memory_limit='{mem}'")
        tmp = os.environ.get("SPARK_GRAFT_PROBE_DUCKDB_TMP")
        if tmp:
            os.makedirs(tmp, exist_ok=True)
            con.execute(f"SET temp_directory='{tmp}'")
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{out_dir}/{t}.parquet/*.parquet'"
            )
        # SPARK_GRAFT_PROBE_TIMEOUT_S: per-query wall-clock bound. The
        # 100x sweeps hit single-node ORACLE replays that run 30-50+
        # minutes on shapes Spark executes in seconds (q7's unselective
        # join graph, the gap-fill grid); a watchdog interrupts BOTH
        # engines (duckdb con.interrupt() + cancelAllJobs) so the blowup
        # is recorded as that query's TIMEOUT instead of stalling the
        # sweep — the mechanical form of the "named exclusion".
        timeout_s = float(os.environ.get("SPARK_GRAFT_PROBE_TIMEOUT_S", "0") or 0)
        for name in names:
            if name in results:
                continue  # resumed from a prior partial sweep
            spec = specs.get(name)
            if spec is None or spec.oracle is None:
                results[name] = "SKIP (no oracle)"
                emit(name, results[name])
                continue
            timer = None
            timed_out = threading.Event()
            if timeout_s:
                def _cancel(con=con, spark=spark):
                    timed_out.set()
                    try:
                        con.interrupt()
                    except Exception:
                        pass
                    try:
                        spark.sparkContext.cancelAllJobs()
                    except Exception:
                        pass

                timer = threading.Timer(timeout_s, _cancel)
                timer.daemon = True
                timer.start()
            try:
                problems = compare(
                    spec.fn(spark, out_dir), con, spec.oracle, name,
                    # 10x outputs can exceed driver collect limits (the
                    # gap-fill grid is ~42M rows); past this row count
                    # the harness switches to its memory-bounded
                    # streamed checksum with identical pass semantics
                    stream_threshold=2_000_000,
                )
                results[name] = "OK" if not problems else "FAIL: " + "; ".join(problems)
            except Exception as exc:  # record, keep probing
                results[name] = f"ERROR: {type(exc).__name__}: {exc}"
                if not _alive(spark):
                    # the query killed the JVM: charge the death to THIS
                    # query, relaunch, and keep sweeping (scaled parquet
                    # is still on disk; memoized intermediates die with
                    # the session, clear() drops the stale handles)
                    results[name] = f"ERROR (JVM death): {type(exc).__name__}"
                    clear()
                    spark = _relaunch()
            finally:
                if timer is not None:
                    timer.cancel()
            if timed_out.is_set():
                # conservative: even if compare returned past the race,
                # jobs were cancelled mid-flight — record the timeout
                results[name] = f"TIMEOUT ({int(timeout_s)}s, both engines interrupted)"
            emit(name, results[name])
        con.close()
    finally:
        clear()
        if not keep_data:
            shutil.rmtree(out_dir, ignore_errors=True)
    n_ok = sum(1 for v in results.values() if v == "OK")
    print(json.dumps({"metric": "correctness_probe", "ok": n_ok, "total": len(results)}))
    if n_ok != len(results):
        sys.exit(1)


if __name__ == "__main__":
    main()
