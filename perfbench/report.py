"""Tracing overhead and the single-threaded reference.

    python3 perfbench/report.py --seed 1 --seconds 20

For each workload it runs ``run.py`` once untraced and once traced with
the same seed, and prints each end-to-end metric both ways and the gap
(the tracing overhead). It then runs ``stream`` untraced on ``local[1]``,
the single-threaded reference; its backlog phase gives the single-core
drain rate, and its paced phase may be over capacity there. Run from the root of a
checkout; the summary is also written to ``.perfbench_work/report.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream", "batch_mix")


def _run(workload: str, seed: int, seconds: int, trace: int, cores: int | None = None,
         must_pass: bool = True) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = done.stdout.strip().splitlines()
    if (must_pass and done.returncode != 0) or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {done.returncode}:\n{done.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["notes"] = [ln for ln in lines[:-1] if ln.startswith("# ")]
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--workloads", default=",".join(WORKLOADS))
    a = p.parse_args(argv)
    report: dict = {"seed": a.seed, "seconds": a.seconds, "overhead": {}}
    for w in a.workloads.split(","):
        plain = _run(w, a.seed, a.seconds, 0)["metrics"]
        traced = _run(w, a.seed, a.seconds, 1)
        report["overhead"][w] = rows = {}
        print(f"{w}: metric, untraced, traced, overhead")
        for name, m in plain.items():
            t = traced["metrics"][f"traced.{name}"]["value"]
            gap = (t - m["value"]) / m["value"]
            rows[name] = {"untraced": m["value"], "traced": t, "overhead": gap}
            print(f"  {name:16s} {m['value']:12.4f} {t:12.4f} {gap:+8.1%} {m['unit']}")
        report[f"per_layer.{w}"] = {k: v["value"] for k, v in traced["metrics"].items()}
    single = _run("stream", a.seed, a.seconds, 0, cores=1, must_pass=False)
    report["stream.local1"] = {k: v["value"] for k, v in single["metrics"].items()}
    report["stream.local1_notes"] = single["notes"]
    print("stream on local[1]:", *single["notes"], sep="\n  ")
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_work", "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
