"""Benchmark harness: run the engine's headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}. Each query is executed as a real
action (count of the full result) after a warm-up of the session; per-query
time includes planning + execution, excluding JVM start.

Regression gate: ``python bench.py --check`` additionally compares each
per-query time against the committed budgets in ``perf_budgets.json``
(sf0.1 only) and lists queries drifting >30% over budget on stderr,
exiting 1 if any. ``--write-budgets`` refreshes the budget file with the
per-query MEDIAN over three full sweeps (round-13 lesson: a single
sweep's min-of-2 records lucky-fast floors that generate false DRIFT
flags on unchanged plans for the rest of the round; medians over >=3
sweeps are the committed policy). The printed JSON line is always the
FIRST sweep — the driver contract is unchanged.

Coverage tier (round-8 verdict #5): ``python bench.py --tier2`` times
EVERY registered query once so no operator's cost is invisible to the
bench, and writes ``perf_tier2.json``; with ``--check`` it gates against
that snapshot (generous 2x bar) instead of writing.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: the flagship pipeline + the heaviest representatives of
#: each operator family (keep in sync as families land).
HEADLINE: tuple[str, ...] = (
    "zscore_flags",
    "five_min_window_agg",
    "latest_baseline_join",
    "welford_moments",
    "trailing_trend_metrics",
    "deviation_alerts",
    "pipeline_alerts_end_to_end",
    "minhash_lsh_pairs",
    "sessionize",
)

#: allowed drift over budget before --check flags a query. Budgets are the
#: committed per-query seconds at sf0.1 (PERF.md explains the snapshot).
#: Even after speed-normalizing, per-query scheduling/GC jitter on this
#: shared host is ±20-25% for sub-second queries (measured across
#: repeated runs with identical plans), so the bar is 30%: anything over
#: it has historically been a real plan change (welford's epoch-cast
#: regression was 1.7x; dedup_clusters' extra rounds 1.5x), while
#: everything under it has reproduced as noise. Budgets under 0.3 s are
#: floored there: sub-0.3 s queries jitter by scheduler noise.
DRIFT, FLOOR = 1.30, 0.3

#: tier-2 drift bar: one timed run per query (no min-of-2), so the
#: noise floor is higher than the headline tier's — the gate exists to
#: catch a QUADRATIC blowup hiding off the headline bench, not 30%
#: drifts (the headline tier owns those).
TIER2_DRIFT, TIER2_FLOOR = 2.0, 0.5


def _sf():
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "", 1).isdigit() else sf


def timed_count(fn, spark, sf_dir: str):
    """Run ``fn(spark, sf_dir).count()`` once; return the DataFrame, its
    row count and the wall seconds, planning included."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    rows = df.count()
    return df, rows, round(time.perf_counter() - t0, 3)


def _sweep(spark, specs, names, passes: int) -> dict[str, float]:
    """Time every name ``passes`` times over the list; return each
    query's minimum (steady-state plan cost, not first-run codegen/JIT
    noise)."""
    timings: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            dt = timed_count(specs[name].fn, spark, SF_DIR)[2]
            timings[name] = min(timings.get(name, dt), dt)
    return timings


def _write(path: str, budgets: dict[str, float]) -> None:
    with open(path, "w") as f:
        json.dump({"sf": _sf(), "budgets": budgets}, f, indent=1, sort_keys=True)
    print(f"wrote {path}", file=sys.stderr)


def _gate(timings: dict[str, float], ref_path: str, drift: float, floor: float, rerun) -> int:
    """Exit code of the regression gate: 1 if any query's speed-normalized
    time exceeds ``max(budget, floor) * drift`` and a warm ``rerun(name)``
    confirms it, or if ``ref_path`` is missing; 0 otherwise, including
    when the budgets are for another sf."""
    ref_name = os.path.basename(ref_path)
    if not os.path.exists(ref_path):
        print(f"--check: no {ref_name}; write it first", file=sys.stderr)
        return 1
    with open(ref_path) as f:
        ref = json.load(f)
    if ref.get("sf") != _sf():
        print(f"--check: {ref_name} is for sf={ref.get('sf')}, run is sf={_sf()}; skipping", file=sys.stderr)
        return 0
    budgets = ref["budgets"]
    # normalize out host-speed noise: this container's wall-clock swings
    # ~±25% run to run (shared host), which would flag every query on a
    # slow run. Scale measured times by the MEDIAN per-query
    # budget/measured ratio over the common set — a GLOBAL slowdown then
    # cancels, while a single query regressing relative to its peers
    # still trips the gate. Median, not total ratio (round-8 verdict):
    # one heavy outlier regressing would otherwise drag the whole
    # normalization factor with it and partially mask itself.
    ratios = [budgets[n] / sec for n, sec in timings.items() if n in budgets and sec > 0]
    speed = statistics.median(ratios) if ratios else 1.0

    def over(sec: float, budget: float) -> bool:
        return sec * speed > max(budget, floor) * drift

    # PERF.md bench policy, applied mechanically: a flag from one sweep on
    # a shared host is not actionable by itself (cold costs — memo-index
    # builds, codegen, the Python datasource's interpreter spin-up — land
    # stochastically across a pass). Re-run only the flagged few warm and
    # keep the min; real plan regressions reproduce, jitter does not.
    flagged = []
    for name, sec in sorted(timings.items()):
        if name not in budgets or not over(sec, budgets[name]):
            continue
        warm = min(sec, rerun(name))
        if over(warm, budgets[name]):
            flagged.append(name)
            print(f"--check DRIFT {name}: {warm * speed:.3f}s (speed-normalized x{speed:.2f}) "
                  f"vs budget {budgets[name]:.3f}s ({warm * speed / budgets[name]:.2f}x)",
                  file=sys.stderr)
        else:
            print(f"--check {name}: {sec:.3f}s was jitter; warm re-run {warm:.3f}s within budget",
                  file=sys.stderr)
    new = sorted(n for n in timings if n not in budgets)
    if new:
        print(f"--check: {len(new)} unbudgeted queries: {new}", file=sys.stderr)
    if not flagged:
        print(f"--check: all queries within {drift}x of {ref_name}", file=sys.stderr)
    return 1 if flagged else 0


def main() -> int:
    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.registry import all_specs
    from flink_cookbook_spark.session import get_spark

    tier2 = "--tier2" in sys.argv
    spark = get_spark(app_name="fcs-bench-tier2" if tier2 else "fcs-bench")
    specs = all_specs()
    if tier2:
        names = sorted(specs)
    else:
        names = [n for n in HEADLINE if n in specs]
        # also bench anything tagged "bench" that is not already headline
        names += [n for n, s in sorted(specs.items()) if "bench" in s.tags and n not in names]

    # warm up the JVM + parquet footer caches with a trivial action
    spark.range(1).count()

    # The memoized pipeline indexes are released in the finally below —
    # AFTER --check's warm-confirm pass, which must see the same warm
    # memo state the sweep ran under (minhash_lsh_pairs et al. would
    # otherwise pay a full index rebuild and read as false regressions).
    try:
        timings = _sweep(spark, specs, names, 1 if tier2 else 2)
        print(json.dumps({
            "metric": "tier2_all_queries_total" if tier2 else "headline_queries_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": _sf(),
        }))

        def rerun(name: str) -> float:
            return _sweep(spark, specs, [name], 1)[name]

        if tier2:
            path = os.path.join(REPO_ROOT, "perf_tier2.json")
            if "--check" in sys.argv:
                return _gate(timings, path, TIER2_DRIFT, TIER2_FLOOR, rerun)
            _write(path, timings)
            return 0
        path = os.path.join(REPO_ROOT, "perf_budgets.json")
        if "--write-budgets" in sys.argv:
            # Budgets are the per-query median of three min-of-2 sweeps,
            # never one sweep's values. The two extra sweeps run fully
            # warm (memo caches and JIT from the printed sweep, whose
            # first pass is the cold one), so the median leans mildly
            # toward warm floors.
            sweeps = [timings] + [_sweep(spark, specs, names, 2) for _ in range(2)]
            _write(path, {n: round(statistics.median(s[n] for s in sweeps), 3) for n in timings})
        if "--check" in sys.argv:
            return _gate(timings, path, DRIFT, FLOOR, rerun)
        return 0
    finally:
        clear()


if __name__ == "__main__":
    sys.exit(main())
