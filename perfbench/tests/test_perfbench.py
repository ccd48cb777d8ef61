"""Self-tests of the benchmark: no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

import gen
from common import END_TO_END, Tracer, alert_latencies, tail
from trace_layers import PER_LAYER, parse_metric

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _write(tmp_path, tag: str, seed: int) -> list[bytes]:
    out, tmp = tmp_path / f"out-{tag}", tmp_path / f"tmp-{tag}"
    out.mkdir(), tmp.mkdir()
    shape = gen.Shape(nodes=7, windows_per_chunk=3)
    gen.write_backlog(seed, shape, str(out), str(tmp), 0, 4)
    return [p.read_bytes() for p in sorted(out.iterdir())]


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b = _write(tmp_path, "a", 5), _write(tmp_path, "b", 5)
    assert len(a) == 4 and a == b
    c = _write(tmp_path, "c", 6)
    assert all(x != y for x, y in zip(a, c))


def test_generator_chunking_does_not_change_the_events():
    shape1, shape3 = gen.Shape(windows_per_chunk=1), gen.Shape(windows_per_chunk=3)
    three = gen.chunk_table(9, shape3, 1)  # windows 3, 4, 5
    ones = [gen.chunk_table(9, shape1, k) for k in (3, 4, 5)]
    assert three.to_pylist() == [r for t in ones for r in t.to_pylist()]


def test_generator_injects_anomalies_and_staggers_node_starts():
    shape = gen.Shape(nodes=10, anomaly_fraction=0.5)
    first = gen.window_table(1, shape, 0)
    assert set(first.column("node_id").to_pylist()) == {"node-000", "node-005"}
    cpu = [gen.window_table(1, shape, w).column("cpu").to_pylist() for w in range(20)]
    assert max(max(c) for c in cpu) > 75.0  # shifted windows
    assert all(0.0 <= v <= 100.0 for c in cpu for v in c)


def test_latency_attribution_on_a_hand_built_timeline():
    minute = 60_000
    # chunk k holds events up to (k + 1) * 5 minutes; warm-up chunks 0-1
    chunks = [
        {"max_event_ms": (k + 1) * 5 * minute - 1, "due": None if k < 2 else 100.0 + k}
        for k in range(8)
    ]
    alerts = [
        (0, 150.0),    # window [0, 5m) closes at 15m: chunk 3 (due 103)
        (300, 160.0),  # window [5m, 10m) closes at 20m: chunk 4 (due 104)
        (1500, 170.0),  # window [25m, 30m) closes at 40m: no chunk reaches it
    ]
    assert alert_latencies(alerts, chunks, gen.WINDOW_S, gen.WATERMARK_S) == [47.0, 56.0]
    # a window closed by a warm-up chunk is not timed
    assert alert_latencies([(-600, 1.0)], chunks, gen.WINDOW_S, gen.WATERMARK_S) == []


@pytest.mark.parametrize("n", [11, 12, 50, 99, 100, 101, 1000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    values = [float(v) for v in range(n)]
    value, pct, count = tail(values)
    assert count == n
    beyond = [v for v in values if v > value]
    assert len(beyond) == 10  # at least 10, and the highest such percentile
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_with_too_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(True, "t")
    root = tr.add("root", 0.0, 10.0)
    tr.add("child", 1.0, 4.0, root)
    tr.add("child", 3.0, 5.0, root)  # overlaps the first child
    tr.add("child", 9.0, 12.0, root)  # runs past the parent's end
    st = tr.self_times()
    assert st["root"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["child"] == pytest.approx(3.0 + 2.0 + 3.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "t")
    with tr.span("x"):
        tr.add("y", 0.0, 1.0)
    assert tr.spans == []


@pytest.mark.parametrize(
    "text,value",
    [
        ("1,234", 1234.0),
        ("12.0 KiB", 12.0 * 1024),
        ("total (min, med, max (stageId: taskId))\n918 ms (228 ms, 230 ms (stage 0.0: task 1))", 0.918),
        ("1.5 s", 1.5),
        (None, 0.0),
    ],
)
def test_sql_metric_strings_parse(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_printed_metric_names_are_declared_in_benchmark_json():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == END_TO_END
    assert declared_layer == PER_LAYER
    for name in [*END_TO_END, *PER_LAYER]:
        assert NAME.match(name), name
    assert not set(END_TO_END) & set(PER_LAYER)
