"""Query registry: every engine operator registers a named query + oracle.

Each operator from SURVEY.md section 2 that is SQL-expressible registers
both a Spark callable ``(spark, sf_dir) -> DataFrame`` and the equivalent
ANSI SQL (runnable by DuckDB over the same parquet tables). The driver —
and our own tests/test_oracle.py — compare the two (row count + schema +
order-insensitive value hash).

Discipline enforced here (driver contract, __spark_entry__.py):
- every computed column is aliased identically on both sides;
- floating-point aggregates are rounded (ROUND_DP decimals) on both sides
  so engine-internal summation order can never flip the hash;
- timestamps are projected as epoch seconds (BIGINT) or formatted strings
  so timezone/precision representation can never flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: decimal places used when rounding float aggregates on BOTH sides.
ROUND_DP = 4

#: nudge added before rounding on BOTH sides. Spark rounds via BigDecimal
#: HALF_UP on the shortest decimal representation; DuckDB rounds on the
#: binary double — they disagree when a value (e.g. an average of 4-dp
#: inputs with an even divisor, or a money SUM ending in .xx5) lands
#: exactly on a rounding tie. The nudge must exceed the engines'
#: summation-order divergence (observed up to ~1e-8 on 1e7-magnitude
#: sums at sf0.1 — why 1e-9 was not enough) while staying at or below
#: the smallest rounding quantum used (1e-6 at dp=6); at dp=6 it is a
#: uniform one-quantum shift applied identically on both sides, so
#: comparisons still match.
NUDGE = 1e-6


def rnd(col, dp: int = ROUND_DP):
    """Spark-side tie-stable rounding; SQL twin: ``round((x) + {NUDGE}, dp)``
    — every oracle must use the same ``NUDGE`` literal (1e-6, see above) or
    rounding ties can flip the value hash."""
    from pyspark.sql import functions as F

    if isinstance(col, str):
        col = F.col(col)
    return F.round(col + F.lit(NUDGE), dp)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # None => driver records rows-only check
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def _driver_evidence(root: str | None = None) -> tuple[dict[str, dict], dict[str, int], int]:
    """Read the driver's own CORRECTNESS_r*.json artifacts (repo root).

    Returns (latest per-query record, per-query round number of that
    latest record, highest round number recorded). Derived from the
    artifacts rather than a hand-maintained snapshot so the 'already
    verified' set can never drift from what the driver actually
    observed — a query that regresses in a later round automatically
    loses verified status because the LATEST record per name wins.
    """
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # sort by the round number EMBEDDED IN THE FILENAME, not lexically or
    # positionally: _r10 must sort after _r9, and deleting/regenerating an
    # early artifact must not shift which round later greens map to (that
    # would silently change every REVERIFY_AFTER gate).
    def _round_of(path: str) -> int:
        m = re.search(r"_r(\d+)\.json$", path)
        return int(m.group(1)) if m else 0

    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), key=_round_of)
    merged: dict[str, dict] = {}
    last_round: dict[str, int] = {}
    max_round = 0
    for path in files:
        rno = _round_of(path)
        if rno <= 0:
            continue
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        max_round = max(max_round, rno)
        for name, rec in data.items():
            if isinstance(rec, dict):
                merged[name] = rec
                last_round[name] = rno
    return merged, last_round, max_round


#: queries whose OUTPUT SEMANTICS changed after the driver's last green
#: record for them: name -> round count at the time of the change. A
#: green recorded in or before that round no longer describes the
#: current query, so the entry forces re-pend until the driver records
#: a LATER result (then the gate self-clears and the entry is inert:
#: delete it). Only list queries whose VALUES changed — plan-only or
#: comment changes keep old greens valid.
REVERIFY_AFTER: dict[str, int] = {
    # the method-dispatch rewrite (one baseline step, two replays) changed
    # its output from 3 rows to 2; its last green record (CORRECTNESS_r07)
    # describes the 3-row form
    "baseline_method_dispatch": 14,
}


def _verified_names() -> frozenset[str]:
    """Names the driver has verified in their CURRENT form: hash-green,
    or cleanly rows-only-checked for a query that still registers no
    oracle (upgrading a rows-only query to an oracle re-pends it, and
    ``REVERIFY_AFTER`` re-pends semantics changes the artifacts cannot
    see)."""
    _ensure_loaded()
    evidence, last_round, _ = _driver_evidence()
    out = set()
    for name, rec in evidence.items():
        spec = _REGISTRY.get(name)
        if spec is None:
            continue
        if last_round.get(name, 0) <= REVERIFY_AFTER.get(name, 0):
            continue  # green predates a semantics change — re-pend
        if rec.get("hash_match"):
            if spec.oracle is not None:
                out.add(name)
        elif (
            rec.get("err") == "no_oracle"
            and (rec.get("spark_rows") or 0) > 0
            and spec.oracle is None
        ):
            out.add(name)
    return frozenset(out)


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _ensure_loaded() -> None:
    """Import every operator module so registrations run."""
    import flink_cookbook_spark.operators.drift  # noqa: F401
    import flink_cookbook_spark.operators.experiments  # noqa: F401
    import flink_cookbook_spark.operators.forecasting  # noqa: F401
    import flink_cookbook_spark.operators.geo  # noqa: F401
    import flink_cookbook_spark.operators.graph  # noqa: F401
    import flink_cookbook_spark.operators.metrics  # noqa: F401
    import flink_cookbook_spark.operators.mleval  # noqa: F401
    import flink_cookbook_spark.operators.relational  # noqa: F401
    import flink_cookbook_spark.operators.skew  # noqa: F401
    import flink_cookbook_spark.operators.stats  # noqa: F401
    import flink_cookbook_spark.operators.timeseries  # noqa: F401
    import flink_cookbook_spark.operators.tpch  # noqa: F401
    import flink_cookbook_spark.operators.windows  # noqa: F401
    import flink_cookbook_spark.functions.collections  # noqa: F401
    import flink_cookbook_spark.functions.pyudf  # noqa: F401
    import flink_cookbook_spark.functions.scalars  # noqa: F401
    import flink_cookbook_spark.pipeline.curation  # noqa: F401
    import flink_cookbook_spark.pipeline.dedup  # noqa: F401
    import flink_cookbook_spark.pipeline.similarity  # noqa: F401
    import flink_cookbook_spark.pipeline.text  # noqa: F401
    import flink_cookbook_spark.pipeline.multimodal  # noqa: F401
    import flink_cookbook_spark.pipeline.retrieval  # noqa: F401
    import flink_cookbook_spark.pipeline.sampling  # noqa: F401
    import flink_cookbook_spark.sources.formats  # noqa: F401
    import flink_cookbook_spark.sources.pydatasource  # noqa: F401
    import flink_cookbook_spark.streaming.sarimax  # noqa: F401
    import flink_cookbook_spark.streaming.sources  # noqa: F401
    import flink_cookbook_spark.streaming.twins  # noqa: F401


def get_query(name: str) -> QuerySpec:
    _ensure_loaded()
    return _REGISTRY[name]


def proven_sort_key(name: str, last_round: dict[str, int], n_rounds: int):
    """LRU-with-rotation ordering for the proven tail: least-recently
    PROVED first (so a query's re-proof gap is bounded by
    ceil(n_proven / window) rounds — plain md5 rotation alone leaves the
    gap unbounded in principle), ties broken by a per-round md5 rotation
    so same-round cohorts don't freeze into one fixed order."""
    import hashlib

    return (
        last_round.get(name, 0),
        hashlib.md5(f"{n_rounds}:{name}".encode()).hexdigest(),
    )


def all_specs() -> dict[str, QuerySpec]:
    """All registered specs, ordered for the driver's bounded (~50-entry)
    per-round correctness window: never-verified / regressed / upgraded
    queries FIRST (registration order preserved), then the proven set
    least-recently-proved first (``proven_sort_key``) — so every round
    covers all new ground, re-proves the stalest ~40 greens, and no
    green query's latest driver record can age past
    ceil(n_queries / window) + 1 rounds (tests/test_robustness.py pins
    the bound by simulation)."""
    _ensure_loaded()
    verified = _verified_names()
    _, last_round, n_rounds = _driver_evidence()
    pending = {n: s for n, s in _REGISTRY.items() if n not in verified}
    proven_names = sorted(
        (n for n in _REGISTRY if n in verified),
        key=lambda n: proven_sort_key(n, last_round, n_rounds),
    )
    return {**pending, **{n: _REGISTRY[n] for n in proven_names}}


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
