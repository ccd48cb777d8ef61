"""Scale probes past the shipped fixtures: one tool, one subcommand each.

Off-CI by design (minutes each). Every subcommand prints one JSON line per
step and a summary line last; record the results in PERF.md / COVERAGE.md.

    python probe.py time [query ...]           # heavy families at 10x
    python probe.py time --copies 1 --reps 5 q21_waiting_suppliers
    python probe.py check [query ... | ALL]    # Spark vs DuckDB oracle hash
    python probe.py zipf | zipf-join | pairs   # skew and pair-family probes
    python probe.py band | restart | decimal53 # synthetic-input probes

``--copies N`` replicates bench.py's fixture (``$SPARK_GRAFT_SF_DIR``) N
times with keys shifted per replica (``scale``); ``--copies 1`` reads the
fixture itself. 10x of sf0.1 is the
largest replication that fits a 4-core, 15 GB host; the recorded 30x-1000x
rungs (evidence/) ran on a larger box.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from fractions import Fraction

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from bench import SF_DIR, timed_count  # noqa: E402

#: round-6 heavy hitters + one representative per expensive family (near-
#: dup index join, LSH, dedup closure, basket pairs, TPC-H multi-join,
#: as-of sweep, SQL-expressible reference pipeline) + the round-9 families
#: (grid haversine join, BM25 postings join, mleval bin histograms,
#: broadcast-cutpoint RFM, binned-AUC logistic).
TIME_QUERIES = (
    "duplicate_paragraph_filter",
    "kmv_merge_rollup",
    "embedding_index_manifest",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "part_affinity",
    "q21_waiting_suppliers",
    "latest_baseline_join",
    "pipeline_alerts_fallback_oracle",
    "ivf_topk",
    "sessionize",
    "geo_radius_join",
    "bm25_scores",
    "calibration_report",
    "roc_threshold_sweep",
    "rfm_segments",
    "logistic_churn_baseline",
)

#: one hash-checked representative per major family (kept moderate: the
#: DuckDB side replays unrolled iterative oracles at 10x fixture size).
CHECK_QUERIES = (
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

#: key columns shifted by ``replica * (max(domain) + 1)`` so key
#: cardinality grows with the rows; a foreign key shifts with the key it
#: references, so join integrity survives replication. Tables not listed
#: (region, nation, part, supplier) are dimensions and are not replicated.
_SHIFTED = {
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
    "events": {"event_id": ("events", "event_id"), "user_id": ("events", "user_id")},
    "orders": {"o_orderkey": ("orders", "o_orderkey"), "o_custkey": ("customer", "c_custkey")},
    "lineitem": {"l_orderkey": ("orders", "o_orderkey")},
    "customer": {"c_custkey": ("customer", "c_custkey")},
}


def _emit(rec: dict) -> None:
    print(json.dumps(rec), flush=True)


def shift_base(spark, src: str, table: str, key: str) -> int:
    """``max(key) + 1`` over ``src/<table>``: the per-replica key shift."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.catalog import load

    return load(spark, src, table).agg(F.max(key)).first()[0] + 1


def scale(spark, src: str, out: str, copies: int, tables=None) -> dict[str, int]:
    """Write ``copies`` replicas of each of ``tables`` (default: all) from
    ``src`` to ``out/<table>.parquet``; return the row count per table.

    Replicated text and vectors recur ``copies`` times: a harsher
    duplicate workload than organic growth (every document gets
    ``copies - 1`` exact twins)."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.catalog import TABLES, load

    sizes = {}
    for name in tables or TABLES:
        df = load(spark, src, name)
        bases = {
            col: shift_base(spark, src, table, key)
            for col, (table, key) in _SHIFTED.get(name, {}).items()
        }
        scaled = df
        for i in range(1, copies if bases else 1):
            rep = df
            for col, base in bases.items():
                rep = rep.withColumn(col, F.col(col) + F.lit(i * base))
            scaled = scaled.unionByName(rep)
        path = os.path.join(out, f"{name}.parquet")
        scaled.write.mode("overwrite").parquet(path)
        sizes[name] = spark.read.parquet(path).count()
    return sizes


def zipf_rank(id_col, s: float, n: int):
    """Zipf(s)-like rank in [0, n) per row: the inverse CDF
    u -> ceil(u^(-1/(s-1))) - 1, capped at n - 1, of a uniform drawn from
    md5(id_col) (the datagen source's seeding idiom; deterministic and
    engine-free). Rank 0 holds ~(1 - 2^-(s-1)) of the rows: a graded
    power-law head, not one synthetic hot key."""
    from pyspark.sql import functions as F

    u = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 13), 16, 10).cast(
        "double"
    ) / F.lit(float(16**13))
    return F.least(
        F.lit(n - 1),
        (F.ceil(F.pow(u + F.lit(1e-18), F.lit(-1.0 / (s - 1.0)))) - 1).cast("long"),
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def timed(fn, spark, sf_dir: str):
    """Run ``fn(spark, sf_dir).count()`` once. Return the DataFrame and a
    record of its wall seconds (planning included), rows, and final
    (AQE-decided) hash and broadcast exchange counts."""
    df, rows, sec = timed_count(fn, spark, sf_dir)
    plan = _plan(df)
    return df, {
        "sec": sec,
        "rows": rows,
        "shuffle_exchanges": plan.count("Exchange hashpartitioning"),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
    }


@contextlib.contextmanager
def _workdir():
    work = tempfile.mkdtemp(prefix="fcs_probe_")
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _replicated(spark, args, work: str, tables=None) -> str:
    """The directory the probe reads: ``SF_DIR`` at one copy, else
    ``--copies`` replicas of it written under ``work``."""
    if args.copies == 1:
        return SF_DIR
    out = os.path.join(work, "scaled")
    _emit({"probe_input_rows": scale(spark, SF_DIR, out, args.copies, tables)})
    return out


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"[:300]


def _time(spark, args) -> int:
    """Wall time, rows and exchange counts per query. One cold run each
    by default; ``--reps N`` (N > 1) runs one untimed warm-up (memo
    builds, codegen), then N timed runs, and adds min/median/all. A
    failing query is recorded and the batch goes on."""
    from flink_cookbook_spark.registry import get_query

    results = {}
    with _workdir() as work:
        sf_dir = _replicated(spark, args, work)
        for name in args.queries or TIME_QUERIES:
            try:
                fn = get_query(name).fn
                if args.reps > 1:
                    fn(spark, sf_dir).count()
                runs = [timed(fn, spark, sf_dir)[1] for _ in range(args.reps)]
            except Exception as exc:  # noqa: BLE001 — per-query containment
                rec = {"status": "ERROR", "error": _error(exc)}
            else:
                secs = [r["sec"] for r in runs]
                rec = {"status": "OK", **runs[-1], "sec": min(secs)}
                if args.reps > 1:
                    rec.update(min=min(secs), median=statistics.median(secs), all=secs)
            results[name] = rec
            _emit({name: rec})
    _emit({"metric": "sf1_probe", "copies": args.copies, "queries": results})
    return 0


def _check(spark, args) -> int:
    """The oracle comparison (row count, column set, order-insensitive
    value hash; tests/oracle_harness.compare) of each query against its
    DuckDB oracle on the replicated data: rounding ties, sketch math and
    adaptive-k derivations must hold as sums grow past the fixtures.
    ``ALL`` checks the whole registry. Exit 1 unless every query is OK."""
    from flink_cookbook_spark.registry import all_specs
    from tests.oracle_harness import compare, duckdb_connection

    specs = all_specs()
    names = sorted(specs) if args.queries == ["ALL"] else args.queries or CHECK_QUERIES
    results: dict[str, str] = {}
    with _workdir() as work:
        sf_dir = _replicated(spark, args, work)
        with duckdb_connection(sf_dir) as con:
            for name in names:
                spec = specs.get(name)
                if spec is None or spec.oracle is None:
                    status = "SKIP (no oracle)"
                else:
                    try:
                        # outputs past 2M rows (the 10x gap-fill grid is
                        # ~42M) exceed spark.driver.maxResultSize: the harness
                        # then compares memory-bounded streamed checksums
                        problems = compare(
                            spec.fn(spark, sf_dir), con, spec.oracle, name,
                            stream_threshold=2_000_000,
                        )
                        status = "OK" if not problems else "FAIL: " + "; ".join(problems)
                    except Exception as exc:  # noqa: BLE001 — record, keep probing
                        status = f"ERROR: {_error(exc)}"
                results[name] = status
                _emit({name: status})
    n_ok = sum(1 for v in results.values() if v == "OK")
    _emit({"metric": "correctness_probe", "ok": n_ok, "total": len(results)})
    return 0 if n_ok == len(results) else 1


#: the keyed-window family timed uniform vs Zipf by ``zipf``.
ZIPF_TIMED = ("five_min_window_agg", "sessionize", "latest_baseline_join")


def _zipf(spark, args) -> int:
    """Keyed operators under a power-law key (the committed skew tests use
    one synthetic 80/20 hot key). ``events.user_id`` is remapped to
    ``zipf_rank(event_id)``, then:

    1. ``hot_key_profile`` must report the skew it exists to catch;
    2. ``two_stage_skew_agg`` must equal the direct groupBy;
    3. the keyed-window family runs uniform vs Zipf at the same row count
       with identical exchange counts (plan shape is distribution-
       independent); the wall-time ratio is the recorded result."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.registry import get_query

    report: dict[str, object] = {"copies": args.copies, "s": args.s}
    with _workdir() as work:
        uni_dir = _replicated(spark, args, work, tables=("events",))
        zipf_dir = os.path.join(work, "zipf")
        ev = spark.read.parquet(os.path.join(uni_dir, "events.parquet"))
        n_users = ev.agg(F.max("user_id")).first()[0] + 1
        rank = zipf_rank(F.col("event_id"), args.s, n_users)
        ev.withColumn("user_id", rank.cast(ev.schema["user_id"].dataType)).write.mode(
            "overwrite"
        ).parquet(os.path.join(zipf_dir, "events.parquet"))
        report["rows"] = spark.read.parquet(os.path.join(zipf_dir, "events.parquet")).count()

        for label, d in (("uniform", uni_dir), ("zipf", zipf_dir)):
            clear()
            prof = {
                r["key_col"]: (r["max_rows"], r["skew_factor"])
                for r in get_query("hot_key_profile").fn(spark, d).collect()
            }
            key = f"hot_key_profile_{label}"
            report[key] = {"user_max_rows": prof["user_id"][0], "user_skew_factor": prof["user_id"][1]}
            _emit({key: report[key]})
        assert (
            report["hot_key_profile_zipf"]["user_skew_factor"]
            > 10 * report["hot_key_profile_uniform"]["user_skew_factor"]
        ), "zipf remap produced no measurable skew"

        clear()
        ev_z = spark.read.parquet(os.path.join(zipf_dir, "events.parquet"))
        direct = {
            r["event_type"]: r["n"]
            for r in ev_z.groupBy("event_type").agg(F.count("*").alias("n")).collect()
        }
        staged = {
            r["event_type"]: r["n_events"]
            for r in get_query("two_stage_skew_agg").fn(spark, zipf_dir).collect()
        }
        assert direct == staged, (direct, staged)
        report["two_stage_matches_direct"] = True

        timings: dict[str, dict] = {}
        for name in ZIPF_TIMED:
            fn = get_query(name).fn
            row: dict[str, object] = {}
            for label, d in (("uniform", uni_dir), ("zipf", zipf_dir)):
                clear()
                fn(spark, d).count()  # warm the plan/codegen
                _, rec = timed(fn, spark, d)
                row[label] = rec["sec"]
                row[f"{label}_exchanges"] = rec["shuffle_exchanges"]
            row["ratio"] = round(row["zipf"] / row["uniform"], 2) if row["uniform"] else None
            timings[name] = row
            _emit({name: row})
            assert row["uniform_exchanges"] == row["zipf_exchanges"], name
        report["timings"] = timings
    _emit({"metric": "zipf_probe", **report})
    return 0


def _zipf_join(spark, args) -> int:
    """The layered join skew defenses under a power-law join key.
    ``l_partkey`` is remapped to ``zipf_rank`` (rank 0 = the hot part) and
    the part dim is barred from broadcast (the regime where the "small"
    side of a fact-dim join no longer fits), then one join + revenue-per-
    brand agg runs three ways: ``naive`` (shuffle join, AQE skew split
    off), ``aqe`` (skew split on, the session default) and ``salted``
    (``salted_join``'s 8-way fan-out). All three must agree on every
    output row; the wall-time ratios are the recorded result."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.skew import salted_join

    report: dict[str, object] = {"copies": args.copies, "s": args.s}
    confs = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.skewJoin.enabled")
    restore = {k: spark.conf.get(k) for k in confs}
    try:
        with _workdir() as work:
            li = load(spark, _replicated(spark, args, work, tables=("lineitem",)), "lineitem")
            part = load(spark, SF_DIR, "part").select("p_partkey", "p_brand")
            rid = F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber"))
            li_path = os.path.join(work, "lineitem_zipf.parquet")
            li.select(
                "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
                # part keys are 1-based in the fixtures
                (zipf_rank(rid, args.s, part.count()) + 1).alias("l_partkey"),
            ).write.mode("overwrite").parquet(li_path)
            li_z = spark.read.parquet(li_path)
            n_rows = li_z.count()
            hot = li_z.groupBy("l_partkey").count().orderBy(F.col("count").desc()).first()
            report.update(
                rows=n_rows,
                hot_part_rows=hot["count"],
                hot_part_share=round(hot["count"] / n_rows, 3),
            )
            _emit({k: report[k] for k in ("rows", "hot_part_rows", "hot_part_share")})

            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

            def run(label: str, skew_join: bool, use_salt: bool):
                spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_join).lower())
                if use_salt:
                    # salted_join joins on the small side's key name
                    joined = salted_join(
                        li_z.withColumnRenamed("l_partkey", "p_partkey"), part, "p_partkey",
                        n_salts=8,
                    )
                else:
                    joined = li_z.join(part, li_z.l_partkey == part.p_partkey, "inner")
                df = joined.groupBy("p_brand").agg(
                    F.count("*").alias("n"),
                    F.sum(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,2)")
                    ).alias("revenue"),
                )
                df.count()  # warm codegen/scan cache effects symmetrically
                t0 = time.perf_counter()
                rows = {r["p_brand"]: (r["n"], str(r["revenue"])) for r in df.collect()}
                plan = _plan(df)
                rec = {
                    "sec": round(time.perf_counter() - t0, 2),
                    "skew_split_in_plan": "skew=true" in plan,
                    "exchanges": plan.count("Exchange hashpartitioning"),
                }
                _emit({label: rec})
                report[label] = rec
                return rows

            salted = run("salted", skew_join=True, use_salt=True)
            naive = run("naive", skew_join=False, use_salt=False)
            aqe = run("aqe", skew_join=True, use_salt=False)
            assert naive == aqe == salted, "variant results differ"
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)
    report["results_identical"] = True
    report["naive_over_aqe"] = round(report["naive"]["sec"] / report["aqe"]["sec"], 2)
    report["naive_over_salted"] = round(report["naive"]["sec"] / report["salted"]["sec"], 2)
    _emit({"metric": "zipf_join_probe", **report})
    return 0


#: 1-in-N base-document sampling for the ``pairs`` recall stratum.
STRATUM_MOD = 50


def _pairs(spark, args) -> int:
    """The LSH scale path of the pair family on the replicated corpus,
    where every document has ``copies - 1`` exact twins and the exact
    paths' true-pair work is quadratic in the replication by construction:

    1. wall time, pairs and exchanges of ``minhash_lsh_pairs`` and the
       downstream ``dedup_clusters`` closure on the full corpus;
    2. recall on a stratum (every copy of 1-in-50 base documents), small
       enough for the exact ``ngram_jaccard_pairs`` ground truth. LSH
       verify is exact Jaccard on candidates, so LSH pairs must be a
       subset of the exact pairs (asserted: precision 1.0)."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.pipeline.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    report: dict[str, object] = {"copies": args.copies, "stratum_mod": STRATUM_MOD}
    with _workdir() as work:
        full_dir = _replicated(spark, args, work, tables=("documents",))
        strat_dir = os.path.join(work, "stratum")
        # a replica's doc_id is base + i * shift, so doc_id % shift names
        # the base document and the stratum keeps all its copies
        shift = shift_base(spark, SF_DIR, "documents", "doc_id")
        full = load(spark, full_dir, "documents")
        report["full_docs"] = full.count()
        full.where((F.col("doc_id") % shift) % STRATUM_MOD == 0).write.mode("overwrite").parquet(
            os.path.join(strat_dir, "documents.parquet")
        )
        report["stratum_docs"] = load(spark, strat_dir, "documents").count()

        clear()
        _, rec = timed(minhash_lsh_pairs, spark, full_dir)
        rec["pairs"] = rec.pop("rows")
        report["minhash_lsh_pairs"] = rec
        _emit({"minhash_lsh_pairs": rec})
        _, report["dedup_clusters"] = timed(dedup_clusters, spark, full_dir)
        _emit({"dedup_clusters": report["dedup_clusters"]})

        clear()
        exact_df, exact = timed(ngram_jaccard_pairs, spark, strat_dir)
        lsh_df, lsh = timed(minhash_lsh_pairs, spark, strat_dir)
        exact_pairs = exact_df.select("doc1", "doc2")
        lsh_pairs = lsh_df.select("doc1", "doc2")
        n_hit = lsh_pairs.join(exact_pairs, ["doc1", "doc2"], "inner").count()
        n_extra = lsh_pairs.join(exact_pairs, ["doc1", "doc2"], "left_anti").count()
        report["stratum_recall"] = {
            "exact_pairs": exact["rows"],
            "exact_sec": exact["sec"],
            "lsh_pairs": lsh["rows"],
            "lsh_sec": lsh["sec"],
            "recall": round(n_hit / exact["rows"], 4) if exact["rows"] else None,
            "lsh_not_in_exact": n_extra,
        }
        _emit({"stratum_recall": report["stratum_recall"]})
        assert n_extra == 0, "LSH emitted a pair the exact index did not"
    _emit({"metric": "pairs30_probe", **report})
    return 0


#: ``band`` corpus shape: tokens per document, and every 50th document is
#: a planted near-dup of its predecessor.
TOK_LEN = 30
CLUSTER_STRIDE = 50


def _band(spark, args) -> int:
    """``minhash_band_sensitivity`` on an organic-duplicate corpus. The
    replicated corpora make its exact true-pair ground truth quadratic in
    the replication by construction; here duplication is sparse and known.

    Token j of base doc i is ``substr(md5(i || '_' || j), 1, 8)``, so
    unrelated docs share no shingles. Every doc with ``doc_id % 50 == 1``
    copies its predecessor's first 28 tokens and replaces the last 2:
    shingle Jaccard 26/30 = 0.867, above the 0.5 true-pair threshold. So
    the true-pair set is exactly ``--docs // 50`` planted pairs, and the
    operator's ``n_true_pairs`` is audited against that count."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.pipeline.dedup import minhash_band_sensitivity

    n_docs = args.docs
    with _workdir() as work:
        t0 = time.time()
        df = spark.range(n_docs).withColumnRenamed("id", "doc_id")
        is_dup = (F.col("doc_id") % CLUSTER_STRIDE == 1) & (F.col("doc_id") > 0)
        toks = F.expr(
            f"transform(sequence(0, {TOK_LEN - 1}), j -> substr(md5(concat("
            f"CAST(CASE WHEN j < {TOK_LEN - 2} THEN base_id ELSE doc_id END"
            " AS STRING), '_', CAST(j AS STRING))), 1, 8))"
        )
        df.withColumn("base_id", F.when(is_dup, F.col("doc_id") - 1).otherwise(F.col("doc_id"))).withColumn(
            "text", F.concat_ws(" ", toks)
        ).select(
            "doc_id",
            "text",
            F.lit("syn").alias("lang"),
            F.concat(F.lit("org"), (F.col("doc_id") % 4).cast("string")).alias("source"),
            F.length("text").alias("n_chars"),
        ).write.mode("overwrite").parquet(os.path.join(work, "documents.parquet"))
        planted = (n_docs - 1) // CLUSTER_STRIDE + (1 if (n_docs - 1) % CLUSTER_STRIDE >= 1 else 0)
        _emit({
            "phase": "corpus",
            "n_docs": n_docs,
            "planted_true_pairs": planted,
            "build_sec": round(time.time() - t0, 1),
        })

        t1 = time.time()
        rows = minhash_band_sensitivity(spark, work).collect()
        wall = time.time() - t1
    n_true = rows[0]["n_true_pairs"] if rows else 0
    _emit({
        "phase": "band_sensitivity",
        "wall_sec": round(wall, 1),
        "n_true_pairs_reported": n_true,
        "n_true_pairs_planted": planted,
        "construction_audit_ok": n_true == planted,
        "configs": [
            {k: r[k] for k in (
                "bands", "rows_per_band", "n_candidate_pairs", "n_true_covered", "recall", "precision",
            )}
            for r in sorted(rows, key=lambda r: -r["bands"])
        ],
    })
    return 0 if n_true == planted else 1


#: ``restart`` series length per key.
EVENTS_PER_KEY = 60


def _restart(spark, args) -> int:
    """Checkpointed-restart parity of the Page-Hinkley detector
    (``applyInPandasWithState``) at ``--keys`` cardinality: two
    availableNow phases with a restart between, against one continuous
    Python pass of the shared fold. Every key's final state must be
    bit-identical, with no duplicate final emission. Also reports rows/s
    across both phases. State runs at the core count, as recorded."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_cookbook_spark.streaming.pagehinkley import (
        PH_STREAM_LAMBDA,
        page_hinkley_fold,
        page_hinkley_streaming,
    )

    n_keys = args.keys
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    rng = random.Random(20260816)
    data = []
    eid = 0
    for k in range(n_keys):
        key = f"k{k:05d}"
        for i in range(EVENTS_PER_KEY):
            # a third of keys shift +15 mid-series so alarm/crossing
            # state is exercised, not just the quiet path
            level = 10.0 + (k % 7) + (
                15.0 if i >= (EVENTS_PER_KEY * 5) // 8 and k % 3 == 0 else 0.0
            )
            t = 1704067200.0 + i * 60 + (k % 50)
            data.append((key, t, eid, level + rng.uniform(-1.0, 1.0)))
            eid += 1
    ev = spark.createDataFrame(data, "event_type string, t double, event_id long, value double")
    split_t = 1704067200.0 + (EVENTS_PER_KEY // 3) * 60

    with _workdir() as work:
        data_dir, ckpt, out_dir = (os.path.join(work, d) for d in ("vals", "ckpt", "out"))
        ev.where(F.col("t") <= split_t).coalesce(4).write.parquet(data_dir, mode="overwrite")
        schema = spark.read.parquet(data_dir).schema

        def run_phase() -> float:
            t0 = time.perf_counter()
            q = (
                page_hinkley_streaming(spark.readStream.schema(schema).parquet(data_dir))
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            return time.perf_counter() - t0

        phase1_s = run_phase()
        ev.where(F.col("t") > split_t).coalesce(4).write.parquet(data_dir, mode="append")
        phase2_s = run_phase()

        w = Window.partitionBy("event_type").orderBy(F.col("n_processed").desc())
        final_rows = (
            spark.read.parquet(out_dir)
            .withColumn("rk", F.dense_rank().over(w))
            .where("rk = 1")
            .collect()
        )
    # a key whose final state row was emitted twice would silently win
    # the dict below: the rank-1 row count must equal the key count
    final = {r.event_type: r for r in final_rows}
    n_dup_final = len(final_rows) - len(final)
    assert n_dup_final == 0, f"{n_dup_final} duplicate final emissions"
    assert len(final) == n_keys, f"{len(final)} keys emitted"

    per_key: dict = {}
    for key, _t, _e, v in sorted(data, key=lambda r: (r[1], r[2])):
        per_key.setdefault(key, []).append(v)
    mismatches = []
    n_alarmed = 0
    for key, xs in per_key.items():
        n, sum_x, m, m_min, crossings = page_hinkley_fold((0, 0.0, 0.0, 0.0, 0), xs)
        r = final[key]
        if not (
            r.n_processed == n == EVENTS_PER_KEY
            and r.running_mean == sum_x / n  # bit-identical
            and r.ph_stat == m - m_min
            and r.alarm == (r.ph_stat > PH_STREAM_LAMBDA)
            and r.n_alarm_crossings == crossings
        ):
            mismatches.append(key)
        n_alarmed += int(r.alarm)

    _emit({
        "metric": "restart_parity_10k",
        "keys": n_keys,
        "rows": len(data),
        "phase1_s": round(phase1_s, 2),
        "phase2_s": round(phase2_s, 2),
        "rows_per_s": round(len(data) / (phase1_s + phase2_s)),
        "alarmed_keys": n_alarmed,
        "mismatched_keys": len(mismatches),
        "sample_mismatches": mismatches[:5],
    })
    return 1 if mismatches else 0


TWO53 = 1 << 53


def _correct_double(cents: int) -> float:
    """The correctly rounded IEEE double nearest cents/100 (Fraction ->
    float is correctly rounded)."""
    return float(Fraction(cents, 100))


def _decimal53(spark, args) -> int:
    """The >2^53 DECIMAL -> DOUBLE cast boundary. A group's DECIMAL money
    sum is exact in both engines, but the final cast to DOUBLE differs
    once the unscaled 2-dp sum exceeds 2^53: Spark's
    BigDecimal.doubleValue is correctly rounded, DuckDB's cast divides
    the int128 unscaled value in double (double rounding). Phases:

    1. ``scan``: DuckDB's cast against the correctly rounded double in
       20k-cent windows below and above 2^53;
    2. ``double_cast_compare``: the oracle comparison (``compare``) of
       ``CAST(SUM(v) AS DOUBLE)`` on sums straddling the boundary, with a
       per-group ``forensic``;
    3. ``decimal_e2e_remediation``: the same sums compared as the exact
       DECIMAL string must be green on both sides of the boundary."""
    import duckdb

    from tests.oracle_harness import compare

    with duckdb.connect() as con:
        # The DECIMAL(38,2) is built from a STRING ("<c/100>.<c%100>") so its
        # unscaled value is exactly c: no arithmetic that could itself round.
        scan: dict = {"phase": "scan"}
        first = None
        for label, lo in (("below_2^53", TWO53 - 20_000), ("above_2^53", TWO53 + 1),
                          ("10x_above", 10 * TWO53 + 1)):
            con.execute("CREATE OR REPLACE TABLE cand(c BIGINT)")
            con.executemany("INSERT INTO cand VALUES (?)", [(v,) for v in range(lo, lo + 20_000)])
            rows = con.execute(
                "SELECT c, CAST(CAST(CONCAT(CAST(c // 100 AS VARCHAR), '.',"
                " LPAD(CAST(c % 100 AS VARCHAR), 2, '0')) AS DECIMAL(38,2))"
                " AS DOUBLE) FROM cand"
            ).fetchall()
            div = [c for c, d in rows if d != _correct_double(c)]
            scan[label] = {"checked": len(rows), "divergent": len(div)}
            if div and first is None:
                first = min(div)
        scan["first_divergent_cents"] = first
        _emit(scan)

        # groups: two safely below, the boundary itself, the first divergent
        # sum, and two an order past the boundary
        targets = [10_000_000_000, TWO53 - 2, TWO53, first or TWO53 + 1,
                   10 * TWO53 + 1, 10 * TWO53 + 7]
        with _workdir() as work:
            # two rows per group, target-1 and 1, so the SUM (not a literal)
            # crosses the boundary
            path = os.path.join(work, "t.parquet")
            spark.createDataFrame(
                [(g, c) for g, cents in enumerate(targets) for c in (cents - 1, 1)], "g INT, cents LONG"
            ).selectExpr(
                "g",
                "CAST(CONCAT(CAST(cents DIV 100 AS STRING), '.',"
                " LPAD(CAST(cents % 100 AS STRING), 2, '0')) AS DECIMAL(38,2)) AS v",
            ).coalesce(1).write.mode("overwrite").parquet(path)
            con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}/*.parquet'")
            sums = spark.read.parquet(path).groupBy("g").agg({"v": "sum"})

            got = sums.selectExpr("g", "CAST(`sum(v)` AS DOUBLE) AS s")
            problems = compare(
                got, con, "SELECT g, CAST(SUM(v) AS DOUBLE) AS s FROM t GROUP BY g",
                "decimal53_double_cast",
            )
            _emit({"phase": "double_cast_compare", "diverged": bool(problems), "problems": problems[:3]})

            sdf = {r["g"]: r["s"] for r in got.collect()}
            ddf = dict(con.execute("SELECT g, CAST(SUM(v) AS DOUBLE) FROM t GROUP BY g").fetchall())
            per_group = []
            for g, cents in enumerate(targets):
                sp, du = sdf[g], ddf[g]
                ulp = math.ulp(max(abs(sp), abs(du)))
                per_group.append({
                    "cents": cents,
                    "past_2^53": cents > TWO53,
                    "spark_correctly_rounded": sp == _correct_double(cents),
                    "duckdb_correctly_rounded": du == _correct_double(cents),
                    "ulps_apart": abs(round((sp - du) / ulp)) if ulp else 0,
                })
            _emit({"phase": "forensic", "groups": per_group})

            # Raw DECIMAL columns do not survive compare's type-sensitive
            # hash (Spark's toPandas yields object Decimals, DuckDB's fetchdf
            # float64), so the remediation ships the exact STRING form.
            problems_dec = compare(
                sums.selectExpr("g", "CAST(CAST(`sum(v)` AS DECIMAL(38,2)) AS STRING) AS s"),
                con,
                "SELECT g, CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS VARCHAR) AS s FROM t GROUP BY g",
                "decimal53_decimal_e2e",
            )
            _emit({"phase": "decimal_e2e_remediation", "green": not problems_dec,
                   "problems": problems_dec[:3]})
    return 1 if problems_dec else 0


def _parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = parser.add_subparsers(dest="cmd", required=True)
    data = argparse.ArgumentParser(add_help=False)
    data.add_argument("--copies", type=int, default=10,
                      help="replicas of $SPARK_GRAFT_SF_DIR (1: read it itself)")

    def add(name, run, help, parents=()):
        p = sub.add_parser(name, parents=list(parents), help=help, description=run.__doc__)
        p.set_defaults(run=run)
        return p

    p = add("time", _time, "wall time, rows and exchanges per query", [data])
    p.add_argument("queries", nargs="*", help=f"default: the {len(TIME_QUERIES)} heavy families")
    p.add_argument("--reps", type=int, default=1, help="timed runs per query after a warm-up (>1)")
    p = add("check", _check, "Spark vs DuckDB oracle hash per query", [data])
    p.add_argument("queries", nargs="*", help=f"default: {len(CHECK_QUERIES)} family representatives; ALL")
    add("zipf", _zipf, "keyed window/agg family under a Zipf user key", [data]).add_argument(
        "--s", type=float, default=1.3, help="Zipf exponent")
    add("zipf-join", _zipf_join, "naive vs AQE vs salted join under a Zipf part key", [data]).add_argument(
        "--s", type=float, default=1.5, help="Zipf exponent")
    add("pairs", _pairs, "LSH pairs on the replicated corpus, recall on a stratum", [data])
    add("band", _band, "minhash_band_sensitivity on an organic near-dup corpus").add_argument(
        "--docs", type=int, default=100_000, help="corpus size")
    add("restart", _restart, "Page-Hinkley restart parity").add_argument(
        "--keys", type=int, default=10_000, help="key cardinality")
    add("decimal53", _decimal53, "the 2^53 DECIMAL -> DOUBLE cast boundary")
    return parser


def main(argv=None) -> int:
    args = _parser().parse_args(argv)
    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.session import get_spark

    spark = get_spark(app_name=f"fcs-probe-{args.cmd}")
    try:
        return args.run(spark, args)
    finally:
        clear()


if __name__ == "__main__":
    sys.exit(main())
