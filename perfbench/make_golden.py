"""Record ``golden.json``: each ``batch_mix`` query's row count and
order-insensitive result hash on the fixture tables in ``fixtures/sf0.01``.

    python3 perfbench/make_golden.py

Queries with a DuckDB oracle (``registry.all_oracles()``) take the
oracle's hash, and the Spark result is compared against it. Queries
without one (the model twins) take the Spark result's hash on the commit
this is run on. Run from the root of a checkout.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    from batch import FAMILY, GOLDEN, SF_DIR, result_hash
    from tests.oracle_harness import _chunk_checksum, _duckdb_chunks, duckdb_connection

    from flink_cookbook_spark.registry import all_oracles, all_specs
    from flink_cookbook_spark.session import get_spark

    sf = SF_DIR
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    specs, oracles = all_specs(), all_oracles()
    con = duckdb_connection(sf)
    out, bad = {}, []
    for name in FAMILY:
        got = result_hash(specs[name].fn(spark, sf))
        if name in oracles:
            rows, checksum, _, _ = _chunk_checksum(_duckdb_chunks(con, oracles[name]))
            source = "duckdb"
            if [rows, checksum] != list(got):
                bad.append(name)
        else:
            (rows, checksum), source = got, "spark"
        out[name] = {"rows": rows, "checksum": checksum, "source": source}
        print(name, out[name], "MISMATCH" if name in bad else "", flush=True)
    with open(GOLDEN, "w") as f:
        json.dump({"fixtures": os.path.relpath(SF_DIR, HERE), "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    if bad:
        print("Spark differs from the oracle on:", ", ".join(bad), file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
