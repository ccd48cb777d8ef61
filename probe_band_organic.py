"""Measure minhash_band_sensitivity's ENGINE side at scale on an
ORGANIC-duplicate corpus (round-12; verdict ask #5).

Why this probe exists: the replication-scaled probe corpora give every
base document N-1 exact twins, so the exact true-pair ground truth
inside ``minhash_band_sensitivity`` grows quadratically in the
replication factor BY FIXTURE CONSTRUCTION — the query was excluded
from the 100x/1000x rungs for that reason, leaving its engine side
with no scale answer. Real corpora do not look like that: duplication
is sparse and cluster sizes are bounded. This probe builds such a
corpus and runs the real operator on it.

Corpus construction (all JVM-side exprs, written once to
``<workdir>/documents.parquet`` with the fixture schema):

- N docs, each a stream of TOK_LEN tokens; token j of base doc i is
  ``substr(md5(i || '_' || j), 1, 8)`` — across-document shingle
  (3 consecutive tokens) collisions are cryptographically negligible,
  so unrelated docs share ZERO shingles.
- every doc with ``doc_id % CLUSTER_STRIDE == 1`` is a planted
  NEAR-DUP of its predecessor: it copies the predecessor's first
  TOK_LEN-2 tokens and replaces the last 2 with its own — shingle
  Jaccard (TOK_LEN-4)/TOK_LEN (= 0.867 at TOK_LEN=30), above the 0.5
  true-pair threshold.

Hence the exact true-pair set is KNOWN BY CONSTRUCTION: exactly
floor(N / CLUSTER_STRIDE) pairs (plus nothing else) — the probe audits
the operator's ``n_true_pairs`` against that count (the df-cap recall
cliff at 100x was caught by exactly this construction-vs-output
discipline, not by cross-engine agreement). Per-config candidate
volume and recall are reported; with 16-hash signatures and J=0.867
the (16,1) and (8,2) configs should sit near recall 1 and (2,8) lower
— the shape of the S-curve, now measured at organic scale.

Run (defaults N=5M — ~5M docs, O(N) true pairs):

    SPARK_GRAFT_ORG_DOCS=5000000 python probe_band_organic.py

Prints one JSON line per phase; record results in PERF.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

N_DOCS = int(os.environ.get("SPARK_GRAFT_ORG_DOCS", "5000000"))
TOK_LEN = 30
CLUSTER_STRIDE = 50  # every 50th doc is a near-dup of its predecessor


def _build_corpus(spark, out_dir: str) -> int:
    """Write documents.parquet (fixture schema) with planted organic
    near-dups; return the planted true-pair count."""
    from pyspark.sql import functions as F

    df = spark.range(N_DOCS).withColumnRenamed("id", "doc_id")
    is_dup = (F.col("doc_id") % CLUSTER_STRIDE == 1) & (F.col("doc_id") > 0)
    base = F.when(is_dup, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    # token j: first TOK_LEN-2 tokens come from the base doc (same for
    # a planted dup and its predecessor), last 2 always from the doc
    # itself (differentiates the dup; no-op for non-dups, whose base is
    # themselves)
    toks = F.expr(
        f"transform(sequence(0, {TOK_LEN - 1}), j -> substr(md5(concat("
        f"CAST(CASE WHEN j < {TOK_LEN - 2} THEN base_id ELSE doc_id END"
        " AS STRING), '_', CAST(j AS STRING))), 1, 8))"
    )
    docs = (
        df.withColumn("base_id", base)
        .withColumn("text", F.concat_ws(" ", toks))
        .select(
            "doc_id",
            "text",
            F.lit("syn").alias("lang"),
            F.concat(F.lit("org"), (F.col("doc_id") % 4).cast("string")).alias(
                "source"
            ),
            F.length("text").alias("n_chars"),
        )
    )
    docs.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
    return (N_DOCS - 1) // CLUSTER_STRIDE + (1 if (N_DOCS - 1) % CLUSTER_STRIDE >= 1 else 0)


def main() -> None:
    from flink_cookbook_spark.session import get_spark

    spark = get_spark(app_name="fcs-band-organic-probe")
    work = os.environ.get("SPARK_GRAFT_ORG_DIR") or tempfile.mkdtemp(
        prefix="fcs_band_org_"
    )
    keep = os.environ.get("SPARK_GRAFT_ORG_DIR") is not None
    try:
        t0 = time.time()
        planted = _build_corpus(spark, work)
        print(
            json.dumps(
                {
                    "phase": "corpus",
                    "n_docs": N_DOCS,
                    "planted_true_pairs": planted,
                    "build_sec": round(time.time() - t0, 1),
                }
            ),
            flush=True,
        )

        from flink_cookbook_spark.pipeline.dedup import (
            minhash_band_sensitivity,
        )

        t1 = time.time()
        rows = minhash_band_sensitivity(spark, work).collect()
        wall = time.time() - t1
        table = [
            {
                "bands": r["bands"],
                "rows_per_band": r["rows_per_band"],
                "n_candidate_pairs": r["n_candidate_pairs"],
                "n_true_covered": r["n_true_covered"],
                "recall": r["recall"],
                "precision": r["precision"],
            }
            for r in sorted(rows, key=lambda r: -r["bands"])
        ]
        n_true = rows[0]["n_true_pairs"] if rows else 0
        print(
            json.dumps(
                {
                    "phase": "band_sensitivity",
                    "wall_sec": round(wall, 1),
                    "n_true_pairs_reported": n_true,
                    "n_true_pairs_planted": planted,
                    "construction_audit_ok": n_true == planted,
                    "configs": table,
                }
            ),
            flush=True,
        )
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
