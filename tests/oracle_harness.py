"""Local replica of the driver's DuckDB-oracle comparison.

Mirrors the driver contract: for each registered query, run the Spark
DataFrame and the oracle SQL over the same parquet fixtures, then compare
row count, column-name set, and an order-insensitive value comparison
(columns sorted by name, rows sorted by all columns). Exact equality is
required — queries are responsible for rounding floats so engine-internal
summation order cannot flip values (registry.ROUND_DP).
"""

from __future__ import annotations

import math
import os
import re

import duckdb
import numpy as np
import pandas as pd


def _signbit(col: pd.Series) -> pd.Series:
    return np.signbit(col.fillna(1.0).to_numpy(dtype="float64"))


def _is_date_col(col: pd.Series) -> bool:
    import datetime

    vals = col.dropna()
    return len(vals) > 0 and isinstance(vals.iloc[0], (datetime.date, datetime.datetime))

from flink_cookbook_spark.catalog import TABLES
from flink_cookbook_spark.session import driver_memory

#: the least memory (MiB) an oracle connection gets, however little the
#: host has left beside the Spark driver.
DUCKDB_MEMORY_FLOOR_MIB = 2048

_MIB_PER_UNIT = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def memory_mib(spark_mem: str) -> int:
    """MiB in a Spark memory string (``8g``, ``8192m``, ``1t``; a bare
    number is MiB, as Spark reads it)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", spark_mem.strip().lower())
    if m is None:
        raise ValueError(f"not a Spark memory string: {spark_mem!r}")
    return int(int(m.group(1)) * _MIB_PER_UNIT[m.group(2) or "m"])


def duckdb_memory_limit_mib() -> int:
    """The oracle connection's memory cap: half the host RAM that the
    Spark driver heap leaves, at least ``DUCKDB_MEMORY_FLOOR_MIB``.
    DuckDB's default (80 % of RAM) ignores the driver JVM beside it, so
    a heavy oracle took the host down instead of failing its query. The
    other half is for what the cap does not count: the JVM past its heap
    and the Python process holding the compared chunks. On a 15.7 GiB
    host at the 10x ``gap_fill_locf`` check, the JVM held 9.1 GB for an
    8 GB heap, and a cap of all 7.7 GiB left let the process reach
    8.0 GB, so the kernel killed the JVM; at half (3.9 GiB) the oracle
    still passes and the process peaks at 5.4 GB."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    free = host - memory_mib(driver_memory())
    return max(free // 2, DUCKDB_MEMORY_FLOOR_MIB)


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A memory-capped DuckDB with one view per fixture table of
    ``sf_dir``: a parquet file, or the directory of parts Spark writes."""
    con = duckdb.connect(config={"memory_limit": f"{duckdb_memory_limit_mib()}MiB"})
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize types that legitimately differ in representation
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            # -0.0 vs 0.0 and NaN ordering hazards
            df[c] = df[c].apply(lambda x: 0.0 if x == 0 else x)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


#: pandas dtypes the driver's type-sensitive hash treats as equal.
#: Everything else differing (int64 vs float64 — the DuckDB HUGEINT trap)
#: is a real driver hash-fail even when values match.
_DTYPE_EQUIV = {
    "int32": "int64",  # width-only; the driver hashes python ints
    "int8": "int64",
    "int16": "int64",
    "uint64": "int64",
    "float32": "float64",
}


def _canon_dtype(dt: str) -> str:
    return _DTYPE_EQUIV.get(dt, dt)


#: chunk canonicalization for the streamed-checksum path: same value
#: semantics as ``_normalize`` (sorted columns, str-ified objects,
#: -0.0 -> 0.0, widened numeric dtypes) but vectorized per chunk so
#: arbitrarily large outputs hash in bounded memory.
#:
#: ALL numerics hash as float64 (round-12 fix): a NULLABLE int column
#: arrives as int64 in null-free chunks and float64 in chunks with a
#: null — per-chunk, per-engine, boundary-dependent — and
#: hash_pandas_object(5: int64) != hash(5.0: float64), so the old
#: int64 canonicalization made the checksum depend on where each
#: side's chunk boundaries fell relative to the nulls (reproduced:
#: identical 3M-row nullable-BIGINT data mismatched; it false-flagged
#: cogroup_asof_enrich at 1000x). Uniform float64 hashing is
#: chunk-independent; NULL ints and NULL floats both hash as NaN on
#: both sides. Caveat (documented, not reachable in practice): integer
#: VALUES above 2^53 would conflate in the hash — fixture/probe ids
#: and counts stay orders below; the dtype-KIND parity check is
#: preserved separately via the merged per-chunk dtype record.
def _canon_chunk(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith("float") or dt.startswith(("int", "uint")):
            # round-13 guard (advisor): int values past 2^53 would
            # CONFLATE under the uniform-float64 hashing (distinct
            # large ints within one float64 ulp hash equal), silently
            # weakening the exactness gate. Every current output is
            # pmod-reduced orders below this; if a future query emits
            # raw xxhash64/hash ids, fail loudly instead.
            if dt.startswith(("int", "uint")) and len(df[c]):
                mx = df[c].abs().max()
                if pd.notna(mx) and int(mx) > 2**53:
                    raise ValueError(
                        f"streamed checksum: int column {c!r} has |value| "
                        f"{int(mx)} > 2^53 — float64 hashing would conflate "
                        "distinct ints; use a string/decimal representation"
                    )
            col = df[c].astype("float64")
            df[c] = col.where(col != 0, 0.0)
        elif dt.startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        else:
            df[c] = df[c].astype(str)
    return df


def _raw_kind(dt: str) -> str:
    """Pre-canonicalization dtype KIND of a chunk column, for the
    type-parity check (int vs float is the driver-hash-relevant
    distinction; width is not)."""
    if dt.startswith("float"):
        return "float64"
    if dt.startswith(("int", "uint")):
        return "int64"
    # datetimes canonicalize to strings before hashing (both sides), so
    # their recorded kind stays "object" — same as the pre-round-12
    # post-canonicalization record
    return "object"


def _merge_kind(old: str | None, new: str) -> str:
    """Merge per-chunk dtype kinds for one column across a stream: a
    nullable int column legitimately reads int64 in null-free chunks
    and float64 in chunks with nulls — the column's kind is float64
    (what the driver's collected hash would see for the whole result)."""
    if old is None or old == new:
        return new
    if {old, new} == {"int64", "float64"}:
        return "float64"
    # round-13 guard (advisor): any OTHER within-stream kind oscillation
    # (e.g. object in one chunk, int64 in another) is not a known-benign
    # nullable-int artifact — surface it as a kind mismatch instead of
    # silently adopting the latest chunk's kind.
    return "mixed"


def _chunk_checksum(chunks) -> tuple[int, int, dict[str, str], dict[str, int]]:
    """(row_count, order-insensitive uint64 checksum, canonical dtypes,
    per-column signed-zero counts) over an iterable of pandas chunks.
    The checksum is the mod-2^64 sum of per-row hashes, so chunking and
    row order cannot affect it. Signed zeros are counted BEFORE the
    -0.0 -> 0.0 canonicalization: the driver's value hash is
    type-sensitive and sees -0.0 != 0.0, so the streamed path must
    report the asymmetry the collected path reports (negative-zero
    count check below)."""
    n = 0
    total = np.uint64(0)
    dtypes: dict[str, str] = {}
    negzero: dict[str, int] = {}
    with np.errstate(over="ignore"):
        for chunk in chunks:
            if not len(chunk):
                continue
            for c in chunk.columns:
                if str(chunk[c].dtype).startswith("float"):
                    nz = int(((chunk[c] == 0) & _signbit(chunk[c])).sum())
                    negzero[c] = negzero.get(c, 0) + nz
                # dtype kinds merged over EVERY chunk (round-12 fix): the
                # first chunk alone misreads a nullable int column whose
                # nulls happen to land in later chunks
                dtypes[c] = _merge_kind(
                    dtypes.get(c), _canon_dtype(_raw_kind(str(chunk[c].dtype)))
                )
            canon = _canon_chunk(chunk)
            h = pd.util.hash_pandas_object(canon, index=False).to_numpy()
            total = np.uint64(total + np.sum(h, dtype=np.uint64))
            n += len(chunk)
    return n, int(total), dtypes, negzero


def _spark_chunks(spark_df, batch_rows: int = 500_000):
    """Stream a Spark result as pandas chunks via a temp parquet spill
    (parquet round-trips doubles/longs/strings exactly), never holding
    more than one batch in driver memory."""
    import shutil
    import tempfile

    import pyarrow.dataset as ds

    tmp = tempfile.mkdtemp(prefix="fcs_cmp_")
    try:
        spark_df.write.mode("overwrite").parquet(tmp)
        dataset = ds.dataset(tmp, format="parquet")
        for batch in dataset.to_batches(batch_size=batch_rows):
            yield batch.to_pandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _duckdb_chunks(con: duckdb.DuckDBPyConnection, sql: str):
    con.execute(sql)
    while True:
        chunk = con.fetch_df_chunk(256)  # ~512k rows per chunk
        if chunk is None or not len(chunk):
            break
        yield chunk


def _compare_streamed(spark_df, con, sql: str, name: str) -> list[str]:
    """Driver-shaped comparison (row count + canonical dtype kinds +
    order-insensitive value checksum) in bounded memory, for results too
    large to collect. Weaker diagnostics than the collected path (a
    mismatch reports the checksum, not the first differing row) but the
    same pass/fail semantics."""
    sn, sh, sd, sz = _chunk_checksum(_spark_chunks(spark_df))
    wn, wh, wd, wz = _chunk_checksum(_duckdb_chunks(con, sql))
    problems: list[str] = []
    if sd and wd and sorted(sd) != sorted(wd):
        return [f"{name}: columns differ spark={sorted(sd)} oracle={sorted(wd)}"]
    for c in sd:
        if sd[c] != wd.get(c, sd[c]) and not (sd[c] == wd.get(c) == "object"):
            problems.append(
                f"{name}.{c}: dtype kind differs spark={sd[c]} oracle={wd[c]} "
                "(driver hash is type-sensitive)"
            )
    for c in set(sz) | set(wz):
        if sz.get(c, 0) != wz.get(c, 0):
            problems.append(
                f"{name}.{c}: negative-zero count differs spark={sz.get(c, 0)} "
                f"oracle={wz.get(c, 0)} (normalize with + 0.0 after round on "
                "both sides; the checksum canonicalizes -0.0 but the driver "
                "hash does not)"
            )
    if problems:
        return problems
    if sn != wn:
        return [f"{name}: row count spark={sn} oracle={wn}"]
    if sh != wh:
        problems.append(
            f"{name}: streamed checksum mismatch over {sn} rows "
            f"(spark={sh:#x} oracle={wh:#x})"
        )
    return problems


def compare(
    spark_df,
    con: duckdb.DuckDBPyConnection,
    sql: str,
    name: str,
    require_rows: bool = False,
    stream_threshold: int | None = None,
) -> list[str]:
    """Return a list of mismatch descriptions (empty == pass).

    ``require_rows`` flags a 0-row == 0-row match as a problem (the
    vacuous-green class: both engines agreeing on the empty set
    verifies nothing about the query's logic).

    ``stream_threshold``: when set and the Spark result exceeds this
    many rows, switch to the memory-bounded streamed-checksum
    comparison (probe-scale outputs — e.g. the 10x gap-fill grid at
    ~42M rows — exceed spark.driver.maxResultSize when collected; the
    driver's own gate at sf0.01 never needs this)."""
    problems: list[str] = []
    if stream_threshold is not None and spark_df.count() > stream_threshold:
        return _compare_streamed(spark_df, con, sql, name)
    got = spark_df.toPandas()
    want = con.execute(sql).fetchdf()
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"{name}: columns differ spark={sorted(got.columns)} oracle={sorted(want.columns)}")
        return problems
    # driver-hash replica: a numeric column whose KIND differs between the
    # engines (int vs float — e.g. a DuckDB HUGEINT sum fetched as float64
    # against Spark's BIGINT) flips the driver's type-sensitive value hash
    # even when every value matches. Catch it here so it can't reach CI.
    for c in got.columns:
        g, w = _canon_dtype(str(got[c].dtype)), _canon_dtype(str(want[c].dtype))
        if g == "object" and w.startswith("datetime64") and _is_date_col(got[c]):
            continue  # Spark DATE fetches as object-of-date; driver-equal
        if g != w and not (g == w == "object"):
            problems.append(
                f"{name}.{c}: dtype kind differs spark={got[c].dtype} "
                f"oracle={want[c].dtype} (driver hash is type-sensitive; "
                f"CAST the oracle — HUGEINT sums need CAST(... AS BIGINT))"
            )
    # -0.0 vs 0.0 also flips the driver hash (DuckDB round() preserves the
    # sign of zero, Spark's doesn't); _normalize erases it for sorting, so
    # count signed zeros per side first.
    for c in got.columns:
        if str(got[c].dtype).startswith("float") and str(want[c].dtype).startswith("float"):
            gz = int(((got[c] == 0) & _signbit(got[c])).sum())
            wz = int(((want[c] == 0) & _signbit(want[c])).sum())
            if gz != wz:
                problems.append(
                    f"{name}.{c}: negative-zero count differs spark={gz} "
                    f"oracle={wz} (normalize with + 0.0 after round on both sides)"
                )
    if problems:
        return problems
    if len(got) != len(want):
        problems.append(f"{name}: row count spark={len(got)} oracle={len(want)}")
        return problems
    if require_rows and len(got) == 0:
        problems.append(
            f"{name}: 0-row == 0-row oracle match — vacuous green; fix "
            "the query/fixture interaction or whitelist in VACUOUS_OK "
            "with a reason"
        )
        return problems
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        gc, wc = g[c], w[c]
        if str(gc.dtype).startswith("float") or str(wc.dtype).startswith("float"):
            bad = [
                i
                for i, (a, b) in enumerate(zip(gc, wc))
                if not (
                    (isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b))
                    or a == b
                )
            ]
        else:
            neq = gc.astype(str) != wc.astype(str)
            bad = list(neq[neq].index)
        if bad:
            i = bad[0]
            problems.append(
                f"{name}.{c}: {len(bad)} mismatched values, first at sorted-row {i}: "
                f"spark={g[c].iloc[i]!r} oracle={w[c].iloc[i]!r}"
            )
    return problems
