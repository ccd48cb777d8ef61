"""Shared pieces of the benchmark: statistics, spans, memory sampling and
the metric names each mode prints."""

from __future__ import annotations

import bisect
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

#: end-to-end metrics, printed with ``--trace 0``: name -> unit
END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """The highest percentile that still has at least 10 samples beyond
    it: the 11th-largest sample. Returns (value, percentile, samples);
    with fewer than 11 samples there is no such percentile, and the
    maximum is returned with percentile 100."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return float(s[-1]), 100.0, n
    return float(s[n - 11]), 100.0 * (n - 10) / n, n


def alert_latencies(alerts, chunks, window_s: int, watermark_s: int) -> list[float]:
    """Latency of each alert from the due time of the chunk holding the
    first event that closes the alert's window.

    ``alerts``: (window_start_s, delivered_wall_s) pairs. ``chunks``: the
    generator's records in write order, each with ``max_event_ms`` and
    ``due`` (None for untimed warm-up chunks). A window [s, s + window_s)
    is emitted once the watermark (max event time - watermark_s) reaches
    its end, so its closing event is the first one with event time
    >= s + window_s + watermark_s. Alerts whose closing chunk is untimed,
    or that no chunk closes, are skipped.
    """
    reach, top = [], -1
    for c in chunks:  # running max: the first chunk reaching a time
        top = max(top, c["max_event_ms"])
        reach.append(top)
    out = []
    for window_start, delivered in alerts:
        need_ms = (window_start + window_s + watermark_s) * 1000
        k = bisect.bisect_left(reach, need_ms)
        if k < len(chunks) and chunks[k]["due"] is not None:
            out.append(delivered - chunks[k]["due"])
    return out


class Tracer:
    """Spans recorded from the benchmark's own code around calls into the
    program. Kept in memory; ``dump`` writes them as JSON lines. A
    disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a finished span (wall-clock seconds); returns its id."""
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent,
             "run": self.run_id, **attrs}
        )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part
        of its interval its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _tree_pids(root: int, exclude: set[int]) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces; fields resume after its ')'
        parent[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c, p in parent.items() if p == pid and c not in exclude)
    return out


def tree_pss_bytes(root: int, exclude: set[int]) -> int:
    """Proportional set size summed over the tree: a page shared by the
    forked Python workers counts once, not once per worker."""
    total = 0
    for pid in _tree_pids(root, exclude):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited while sampling
    return total


class RssSampler:
    """Peak resident memory (proportional set size) of this process and
    its descendants (the Python driver, the JVM and its Python workers),
    sampled from /proc. Processes in ``exclude`` (the load generator) are
    not counted. A disabled sampler starts no thread: reading a process's
    smaps takes its memory-map lock, which an untimed metric should not
    cost a timed run."""

    def __init__(self, enabled: bool = True, interval_s: float = 0.5):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me, self.exclude))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.enabled:
            self._thread.join()
