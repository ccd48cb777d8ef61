"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The program under test is the
``flink_cookbook_spark`` package of that checkout, driven on
``local[<cores>]`` through its public functions. With ``--trace 0`` the
last stdout line is a JSON object holding the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced run, and the
spans are written to ``.perfbench_work/spans-<workload>-<seed>.jsonl``.
Outputs are checked after timing; a failed check makes ``correct`` false
and the exit code 1. Without the package the benchmark exits with 2.
"""

from __future__ import annotations

import time

T0 = time.time()  # process start, as near as Python gets to it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

from common import END_TO_END, RssSampler, Tracer  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("stream", "batch_mix")


class Run:
    """Everything one run shares between the harness and a workload."""

    def __init__(self, args, work: str, rss: RssSampler):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = args.cores
        self.work = work
        self.rss = rss
        self.tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
        self.notes: dict = {}
        self.layer: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.over_capacity = False
        self.ready_at: float | None = None

    def ready(self) -> None:
        """Mark the end of set-up: the workload is about to be timed."""
        self.ready_at = time.time()


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:  # keep every execution for the status-store reader
        for k in ("spark.sql.ui.retainedExecutions", "spark.ui.retainedJobs",
                  "spark.ui.retainedStages", "spark.ui.retainedTasks"):
            conf[k] = "1000000"
    return conf


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it spawned) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            proc.wait(timeout=60)


def run_workload(args, work: str) -> tuple[Run, dict]:
    from flink_cookbook_spark.registry import all_specs
    from flink_cookbook_spark.session import get_spark

    # peak_rss_mb is a per-layer metric: sample memory in traced runs only
    with RssSampler(enabled=bool(args.trace)) as rss:
        run = Run(args, work, rss)
        tr = run.tracer
        with tr.span("get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{args.cores}]",
                extra_conf=_spark_conf(work, run.tracer.enabled),
            )
        with tr.span("all_specs"):
            run.notes["queries"] = len(all_specs())
        with tr.span("warmup"):
            spark.range(1).count()
        if tr.enabled:
            from trace_layers import install_listener

            install_listener(spark, run)
        try:
            if args.workload == "batch_mix":
                from batch import run_batch as body
            else:
                from stream import run_stream as body
            metrics = body(spark, run)
        finally:
            _stop_spark(spark)
    metrics["setup_s"] = run.ready_at - T0 - run.notes.get("stage_s", 0.0)
    metrics["peak_rss_mb"] = rss.peak / 2**20
    return run, metrics


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="flink_cookbook_spark benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "flink_cookbook_spark", "__init__.py")):
        print(f"no flink_cookbook_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher and the Spark driver): temp files in the checkout,
    # no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    try:
        run, metrics = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if run.over_capacity:
        run.failures.append("stream: backlog grew in the paced phase, rate is over capacity")
    if args.trace:
        from trace_layers import PER_LAYER, finish_layers

        layer = finish_layers(run, metrics)
        out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        run.notes["spans"] = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
        run.tracer.dump(run.notes["spans"])
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    for k, v in run.notes.items():
        print(f"# {k}: {v}")
    for f in run.failures:
        print(f"# FAILED {f}")
    correct = not run.failures
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": len(run.failures),
        "metrics": out,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
