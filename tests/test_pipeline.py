"""Property tests for pipeline operators whose oracle is weak (rows-only)
or whose quality (recall/accuracy) is the actual contract."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_minhash_lsh_recall(spark, sf_dir):
    """LSH candidates must recover (almost) all true near-dup pairs found
    by exact jaccard: with 4 bands x 4 rows, P(miss | j>=0.9) < 2%."""
    from flink_cookbook_spark.pipeline.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r.doc1, r.doc2)
        for r in ngram_jaccard_pairs(spark, sf_dir).collect()
        if r.jaccard >= 0.9
    }
    lsh = {(r.doc1, r.doc2) for r in minhash_lsh_pairs(spark, sf_dir).collect()}
    assert exact, "fixture should contain planted near-duplicates"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} below 0.9 ({len(exact)} true pairs)"


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """The projected within_3rsd boolean must be TRUE for every group
    (the HLL estimate lands inside the 3-sigma bound), and exact_orders
    must equal the true distinct count."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.relational import agg_approx_distinct

    li = load(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_orderkey").alias("n")).collect()
    }
    for r in agg_approx_distinct(spark, sf_dir).collect():
        assert r.within_3rsd, r
        assert r.exact_orders == exact[r.l_returnflag], r


def test_multimodal_decode_matches_python(spark, sf_dir):
    """The Arrow-batched decode must equal plain-Python decode of the same
    payload bytes — verifies the mapInPandas plumbing end-to-end, BOTH
    branches: BMP docs (doc_id % BMP_EVERY == 0) through the real
    vendored parser, the rest through the byte-stats stub."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.multimodal import (
        BMP_EVERY, BMP_H, BMP_W, bmp_pixel, decode_real, decode_stub,
        encode_bmp, multimodal_features_df,
    )

    docs = {r.doc_id: r.text for r in load(spark, sf_dir, "documents").limit(50).collect()}
    feats = {r.doc_id: r for r in multimodal_features_df(spark, sf_dir).collect()}
    checked_bmp = checked_stub = 0
    for doc_id, text in docs.items():
        if doc_id % BMP_EVERY == 0:
            px = [[bmp_pixel(doc_id, x, y) for x in range(BMP_W)] for y in range(BMP_H)]
            want = decode_real(encode_bmp(BMP_W, BMP_H, px))
            checked_bmp += 1
        else:
            want = decode_stub(text.encode("utf-8"))
            checked_stub += 1
        got = feats[doc_id]
        assert got.n_bytes == want["n_bytes"]
        assert got.max_byte == want["max_byte"]
        assert got.n_frames == want["n_frames"]
        assert abs(got.mean_byte - want["mean_byte"]) < 1e-9
        assert all(abs(a - b) < 1e-9 for a, b in zip(got.feature, want["feature"]))
    assert checked_bmp > 0 and checked_stub > 0
    assert checked_bmp + checked_stub == 50


def test_bmp_roundtrip_recovers_pixels():
    """encode_bmp -> decode_real must recover the logical top-down pixel
    grid exactly, including the bottom-up row flip and 4-byte row padding
    (width=5 -> 15-byte raw rows padded to 16)."""
    from flink_cookbook_spark.pipeline.multimodal import decode_real, encode_bmp

    for w, h in [(4, 4), (5, 3), (1, 1), (7, 2)]:
        px = [[(x * 53 + y * 17) % 256 for x in range(w)] for y in range(h)]
        out = decode_real(encode_bmp(w, h, px))
        flat = [v for row in px for v in row]
        assert out["n_frames"] == h
        assert out["max_byte"] == max(flat)
        assert abs(out["mean_byte"] - sum(flat) / len(flat)) < 1e-12
        # f2 = logical top-left pixel: fails if the decoder forgets that
        # BMP stores rows bottom-up
        assert abs(out["feature"][2] - px[0][0] / 255.0) < 1e-12


def test_bmp_decoder_rejects_bad_payloads():
    from flink_cookbook_spark.pipeline.multimodal import decode_real, encode_bmp

    with pytest.raises(NotImplementedError):
        decode_real(b"payload")  # non-BMP -> codec libs absent
    good = encode_bmp(4, 4, [[0] * 4 for _ in range(4)])
    with pytest.raises(ValueError):
        decode_real(good[:60])  # truncated pixel data


def test_bm_prefixed_text_falls_back_to_stub():
    """A text payload that merely STARTS with the bytes 'BM' must route to
    the byte-stats stub (the oracle's doc_id-based branch), never crash
    the decode worker or silently emit bogus pixel stats (round-6 advice
    #2: content sniffing alone would send it to decode_real, which raises
    on the garbage header). Exercised via the worker's own batch fn."""
    import pandas as pd

    from flink_cookbook_spark.pipeline.multimodal import (
        _extract_batches, decode_stub, encode_bmp,
    )

    payloads = [
        b"BMW dealers reported record quarterly sales this year....",  # >54B
        b"BM short",  # <54 bytes, 'BM' magic
        encode_bmp(4, 4, [[7] * 4 for _ in range(4)]),  # genuine BMP
    ]
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "payload": payloads})
    (out,) = list(_extract_batches(iter([pdf])))
    for i in (0, 1):  # both fakes must equal the stub exactly
        want = decode_stub(payloads[i])
        got = out.iloc[i]
        assert got["n_bytes"] == want["n_bytes"]
        assert got["mean_byte"] == want["mean_byte"]
        assert got["n_frames"] == want["n_frames"]
    assert out.iloc[2]["n_frames"] == 4  # real BMP still decodes (4 rows)
    assert out.iloc[2]["max_byte"] == 7


def test_lsh_buckets_group_similar_vectors(spark, sf_dir):
    """Vectors in the same cosine-dup pair (cos >= 0.95) must share an LSH
    bucket by construction of the query; sanity-check the bucket profile
    is non-degenerate (more than one bucket, no bucket holding everything)."""
    from flink_cookbook_spark.pipeline.similarity import lsh_bucket_profile

    rows = lsh_bucket_profile(spark, sf_dir).collect()
    total = sum(r.n_vectors for r in rows)
    assert len(rows) > 4
    assert max(r.n_vectors for r in rows) < total * 0.5


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    """IVF (sample-trained centroids, nprobe=3 of 8 cells) must recover
    a solid fraction of the exact top-5 per query — embeddings are
    clustered by label, so the probed cells should rarely exclude true
    neighbors."""
    from flink_cookbook_spark.pipeline.similarity import cosine_topk, ivf_topk

    exact = {}
    for r in cosine_topk(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.cand_id)
    approx = {}
    for r in ivf_topk(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.cand_id)
    assert set(approx) == set(exact)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.64, f"IVF recall {hits}/{total}"


def test_lloyd_seeds_ties_and_empty_cluster():
    """The numpy trainer shared by the IVF and IMI quantizers, on a
    hand-checked array. Seeds are rows 0-2: C = [0, 4, 4].
    Round 1: the point at 2 is equidistant from all three centroids and
    joins cid 0 (lowest cid wins ties); every point at 3-5 ties between
    cids 1 and 2 and joins cid 1, so C = [mean(0, 2), mean(4, 4, 3, 5)]
    = [1, 4] and cid 2, empty, keeps its seed 4. Later rounds reassign
    nobody. Ties going to the highest cid, or an empty cluster dropping
    or moving, would each give a different matrix."""
    import numpy as np

    from flink_cookbook_spark.pipeline.similarity import _lloyd

    X = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 0.0], [3.0, 0.0], [5.0, 0.0], [2.0, 0.0]])
    before = X.copy()
    assert _lloyd(X, 3) == [[1.0, 0.0], [4.0, 0.0], [4.0, 0.0]]
    assert (X == before).all()  # the seeds are copied, not trained in place
    assert _lloyd(X, 1) == [[3.0, 0.0]]  # one cell: the mean of every row


def test_nearest_n_leads_with_the_assigned_cell(spark, sf_dir):
    """IVF probes a query's own cell first: for every fixture vector the
    first of ``_nearest_n``'s cids is ``_assign``'s cid. A duplicate of
    centroid 0 under a HIGHER cid, placed FIRST in the broadcast array,
    makes every vector of cell 0 a distance tie: both passes must send
    it to cid 0, whatever the array order."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.similarity import (
        NPROBE,
        _assign,
        _centroid_row,
        _emb_double,
        _ivf_centroids,
        _nearest_n,
    )

    emb = _emb_double(load(spark, sf_dir, "embeddings")).select("vec_id", "emb")
    cents = _ivf_centroids(spark, sf_dir)
    pairs = [(len(cents), cents[0])] + list(enumerate(cents))
    probed = (
        _assign(emb, pairs)
        .crossJoin(F.broadcast(_centroid_row(spark, cents=pairs)))
        .select(
            "vec_id",
            "cid",
            _nearest_n(F.col("emb"), F.col("cents"), 1).alias("first"),
            _nearest_n(F.col("emb"), F.col("cents"), NPROBE).alias("probes"),
        )
        .collect()
    )
    assert len(probed) == emb.count() > 0
    assert {r.cid for r in probed} <= set(range(len(cents)))
    assert any(r.cid == 0 for r in probed)
    for r in probed:
        assert r.first == [r.cid] and r.probes[0] == r.cid, r
        assert len(set(r.probes)) == NPROBE, r


def test_imi_topk_fixture_equals_brute_and_prunes_when_engaged(spark, sf_dir, tmp_path):
    """Two contracts for the inverted multi-index:

    1. At the shipped fixture SFs k' = 2, so the 2x2 probe grid covers
       every product cell and imi_topk must EQUAL brute-force cosine
       top-k exactly (not just high recall).
    2. On a synthetic corpus big enough to engage the clamp
       (n = 5 * TARGET_CELL + 40 -> k' = 3, 9 cells, 4 probed), the
       index must actually PRUNE (candidate set < corpus), keep recall
       above a floor, and still hash-match the unrolled double-Lloyd
       DuckDB oracle — the cross-engine proof at engaged scale."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.pipeline.similarity import (
        TARGET_CELL, TOP_K, _imi_k, cosine_topk, imi_topk,
    )
    from flink_cookbook_spark.registry import get_query
    from tests.oracle_harness import compare

    # contract 1: fixture-scale equality with brute force
    exact = {(r.query_id, r.rk): r.cand_id for r in cosine_topk(spark, sf_dir).collect()}
    mine = {(r.query_id, r.rk): r.cand_id for r in imi_topk(spark, sf_dir).collect()}
    assert mine == exact

    # contract 2: engaged-scale pruning + recall + cross-engine hash
    n, dim = 5 * TARGET_CELL + 40, 64
    assert _imi_k(n) == 3
    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), type=pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs], type=pa.list_(pa.float32())
                ),
                "label": pa.array([0] * n, type=pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    clear()
    try:
        spec = get_query("imi_topk")
        out = spec.fn(spark, str(tmp_path)).collect()
        brute = {}
        for r in cosine_topk(spark, str(tmp_path)).collect():
            brute.setdefault(r.query_id, set()).add(r.cand_id)
        approx = {}
        for r in out:
            approx.setdefault(r.query_id, set()).add(r.cand_id)
        hits = sum(len(brute[q] & approx.get(q, set())) for q in brute)
        total = sum(len(v) for v in brute.values())
        # isotropic gaussians are the WORST case for space partitioning;
        # the floor pins "useful", the oracle pins "correct"
        assert hits / total >= 0.3, f"IMI recall {hits}/{total}"
        assert all(len(v) == TOP_K for v in approx.values())
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path / 'embeddings.parquet'}'"
        )
        problems = compare(spec.fn(spark, str(tmp_path)), con, spec.oracle, "imi_topk")
        assert not problems, problems
    finally:
        clear()


def test_registry_consistency():
    """The driver contract must expose the full registered surface."""
    import __spark_entry__ as e

    from flink_cookbook_spark.registry import all_specs

    qs, os_ = e.queries(), e.oracle_sql()
    assert len(qs) == 369
    assert set(os_) <= set(qs)
    assert len(os_) == 367
    for flagship in ("zscore_flags", "pipeline_alerts_end_to_end", "minhash_lsh_pairs",
                     "cosine_topk", "sarimax_baseline", "dedup_clusters"):
        assert flagship in qs
    tags = [t for spec in all_specs().values() for t in spec.tags]
    assert tags.count("prepared-r8") == 103
    assert tags.count("prepared-r10") == 38


def test_no_module_binds_a_top_level_name_twice():
    """A second top-level binding of one name (def, class, assignment or
    import) silently shadows the first — a moved query or constant would
    replace another with no error. Parsed, not imported: no Spark."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "flink_cookbook_spark"
    twice = []
    for path in sorted(pkg.rglob("*.py")):
        seen: dict[str, int] = {}
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [(a.asname or a.name).split(".")[0] for a in node.names]
            else:
                continue
            for name in names:
                if name in seen:
                    twice.append(f"{path.relative_to(pkg)}:{node.lineno} {name} "
                                 f"(first bound at line {seen[name]})")
                seen.setdefault(name, node.lineno)
    assert not twice, twice


def test_dedup_clusters_bounded_caching(spark, sf_dir):
    """Iteration hygiene: label propagation must not leak storage per
    round. Each round materializes ONE checkpointed generation (whose
    observe() metric doubles as the convergence count); superseded
    generations are released by the ContextCleaner as the loop rebinds.
    At the fixture's 1-round convergence an invocation adds at most one
    persistent RDD."""
    from flink_cookbook_spark.pipeline.dedup import dedup_clusters

    jsc = spark.sparkContext._jsc.sc()
    dedup_clusters(spark, sf_dir).count()  # warm the memoized indexes
    before = jsc.getPersistentRDDs().size()
    out = dedup_clusters(spark, sf_dir)
    n = out.count()
    after = jsc.getPersistentRDDs().size()
    assert n > 0
    assert after - before <= 1, (before, after)
    # keeper labeling is internally consistent on the checkpointed result
    rows = out.collect()
    keepers = {r.cluster_id for r in rows if r.is_keeper}
    assert all(r.cluster_id in keepers for r in rows)


def test_memo_cache_clear_releases_storage(spark, sf_dir):
    """clear() must actually unpersist cached intermediates (blocking)
    and forget memoized values, so long-lived sessions that rewrite an
    sf_dir can drop stale state."""
    from flink_cookbook_spark.pipeline import _cache

    df = _cache.memo_persist(spark, "test_clear_df", sf_dir, lambda: spark.range(10))
    df.count()
    assert df.storageLevel.useMemory
    assert _cache.memo_value(spark, "test_clear_v", sf_dir, lambda: 42) == 42
    # memoized: build not re-run
    assert _cache.memo_value(spark, "test_clear_v", sf_dir, lambda: 43) == 42
    _cache.clear()
    assert not df.storageLevel.useMemory
    assert ("test_clear_df", sf_dir) not in _cache._CACHE
    assert ("test_clear_v", sf_dir) not in _cache._VALUES
    # rebuilt (not served stale) after clear
    assert _cache.memo_value(spark, "test_clear_v", sf_dir, lambda: 43) == 43
    _cache.clear()


def test_stratified_sample_is_deterministic_and_rate_accurate(spark, sf_dir):
    """Same session, same inputs -> identical membership; per-source
    keep fraction within binomial noise of the configured rate."""
    from flink_cookbook_spark.pipeline.sampling import stratified_sample

    a = sorted(r.doc_id for r in stratified_sample(spark, sf_dir).collect())
    b = sorted(r.doc_id for r in stratified_sample(spark, sf_dir).collect())
    assert a == b and len(a) > 0
    rows = stratified_sample(spark, sf_dir).groupBy("source", "keep_rate").count().collect()
    from flink_cookbook_spark.catalog import load

    totals = dict(
        load(spark, sf_dir, "documents").groupBy("source").count().collect()
    )
    for r in rows:
        n = totals[r.source]
        # 4-sigma binomial bound: |k/n - p| <= 4*sqrt(p(1-p)/n) + slack
        p = r.keep_rate
        bound = 4.0 * (p * (1 - p) / n) ** 0.5 + 0.05
        assert abs(r["count"] / n - p) <= bound, (r.source, r["count"], n, p)


def test_bigram_logprob_nonpositive_and_complete(spark, sf_dir):
    """Log-probabilities are <= 0 (MLE probabilities <= 1) and every doc
    with >= 2 tokens is scored."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.text import bigram_logprob_score

    scored = bigram_logprob_score(spark, sf_dir)
    assert scored.where(F.col("mean_logprob") > 1e-9).count() == 0
    n_docs = (
        load(spark, sf_dir, "documents")
        .where(F.size(F.split("text", " ")) >= 2)
        .count()
    )
    assert scored.count() == n_docs


def test_minhash_estimator_error_is_bounded(spark, sf_dir):
    """k=16 minhash: the estimator's mean absolute error over LSH
    candidates stays under 2/sqrt(k) (loose Chernoff-ish sanity bound —
    catches sign/indexing bugs, not a tight concentration claim)."""
    from flink_cookbook_spark.pipeline.dedup import minhash_jaccard_estimate

    rows = minhash_jaccard_estimate(spark, sf_dir).collect()
    assert rows, "LSH candidates expected on the fixture corpus"
    mae = sum(r.abs_err for r in rows) / len(rows)
    assert mae <= 0.5, mae


def test_changelog_compaction_one_row_per_key_latest(spark, sf_dir):
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.relational import changelog_compaction

    out = changelog_compaction(spark, sf_dir)
    assert out.groupBy("user_id").count().where(F.col("count") > 1).count() == 0
    ev = load(spark, sf_dir, "events")
    max_ts = dict(
        ev.groupBy("user_id").agg(F.max(F.col("ts").cast("long")).alias("m")).collect()
    )
    for r in out.collect():
        assert r.last_ts == max_ts[r.user_id]


def test_shingle_df_cap_drops_boilerplate_pairs(spark, tmp_path):
    """A boilerplate sentence shared by >SHINGLE_DF_CAP documents must NOT
    produce O(d^2) Jaccard pairs: its shingles are dropped by the df cap
    before the inverted-index self-join, while a genuine near-dup pair
    (rare shingles) survives — and the DuckDB oracle, which mirrors the
    cap, agrees exactly (hash-consistency with the cap ACTIVE)."""
    import duckdb
    import pandas as pd

    from flink_cookbook_spark.pipeline.dedup import (
        SHINGLE_DF_CAP,
        _shingles,
        ngram_jaccard_pairs,
    )
    from flink_cookbook_spark.registry import get_query
    from tests.oracle_harness import compare

    n_boiler = SHINGLE_DF_CAP + 20
    rows = []
    for i in range(n_boiler):
        # shared boilerplate header + unique tail (no cross-doc overlap)
        rows.append(
            {
                "doc_id": i,
                "text": f"all rights reserved terms of service apply u{i}a u{i}b u{i}c u{i}d u{i}e",
            }
        )
    # one true near-dup pair built from rare shingles
    rows.append({"doc_id": 9000, "text": "alpha beta gamma delta epsilon zeta eta"})
    rows.append({"doc_id": 9001, "text": "alpha beta gamma delta epsilon zeta theta"})
    pdf = pd.DataFrame(rows)
    pdf["lang"] = "en"
    pdf["source"] = "synthetic"
    pdf["n_chars"] = pdf["text"].str.len()
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    sf_dir = str(tmp_path)
    idx = _shingles(spark, sf_dir)
    max_df = idx.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    assert max_df <= SHINGLE_DF_CAP, max_df

    pairs = ngram_jaccard_pairs(spark, sf_dir)
    got = {(r.doc1, r.doc2) for r in pairs.collect()}
    assert (9000, 9001) in got
    # no boilerplate-only pair may appear (the uncapped index would emit
    # n_boiler*(n_boiler-1)/2 = 7140 of them)
    assert all(d1 >= 9000 for d1, _ in got), sorted(got)[:5]

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    problems = compare(pairs, con, get_query("ngram_jaccard_pairs").oracle, "ngram_jaccard_pairs")
    assert not problems, problems


def test_shingle_df_cap_scales_with_corpus(spark, tmp_path):
    """The stop-shingle cap is RELATIVE past the floor: in a corpus
    where 2% of docs > 100, a shingle whose df merely scaled with the
    corpus must SURVIVE (the 100x probe measured the old absolute cap
    silently dropping ~95% of true near-dup pairs), while a shingle in
    more than 2% of documents is still boilerplate and dropped. The
    oracle's greatest()-of-floor-and-fraction must agree exactly."""
    import duckdb
    import pandas as pd

    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.pipeline.dedup import (
        _shingle_df_cap,
        _shingles,
        ngram_jaccard_pairs,
    )
    from flink_cookbook_spark.registry import get_query
    from tests.oracle_harness import compare

    n_docs = 10_000  # effective cap = max(100, 200) = 200
    rows = []
    for i in range(n_docs):
        if i < 150:
            # a "duplicated document" run: 150 docs sharing one rare
            # 10-token sentence (shingle df 150 — above the old absolute
            # cap of 100, under the relative cap of 200) + a 2-token
            # unique tail; pairwise Jaccard = 8/12 >= 0.5
            text = (
                "quantum flux capacitor alignment manual for temporal "
                f"drive systems calibration u{i}a u{i}b"
            )
        elif i < 450:
            # true boilerplate: 300 docs (3% of corpus > 2%) -> dropped
            text = f"all rights reserved contact us today b{i}a b{i}b b{i}c b{i}d b{i}e"
        else:
            text = f"filler c{i}a c{i}b c{i}c c{i}d c{i}e c{i}f c{i}g"
        rows.append({"doc_id": i, "text": text})
    pdf = pd.DataFrame(rows)
    pdf["lang"] = "en"
    pdf["source"] = "synthetic"
    pdf["n_chars"] = pdf["text"].str.len()
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)
    sf_dir = str(tmp_path)

    clear()
    assert _shingle_df_cap(spark, sf_dir) == 200
    idx = _shingles(spark, sf_dir)
    kept = {r.shingle for r in idx.select("shingle").distinct().collect()}
    assert "quantum flux capacitor" in kept  # df 150: scaled, kept
    assert "all rights reserved" not in kept  # df 300 > 2%: dropped

    # the duplicated-document run produces its full pair clique through
    # the surviving shared shingles, and the oracle agrees exactly
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    dup_pairs = pairs.where("doc1 < 150 AND doc2 < 150").count()
    assert dup_pairs == 150 * 149 // 2, dup_pairs
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    problems = compare(
        pairs, con, get_query("ngram_jaccard_pairs").oracle, "ngram_jaccard_pairs"
    )
    assert not problems, problems


def test_similarity_threshold_curve_counts_planted_pair(spark, tmp_path):
    """The calibration curve must report REAL nonzero merge counts when
    near-identical embeddings exist (round-6 verdict: its only driver
    record ever was a vacuous 0-row vs 0-row match), with the sample cap
    ACTIVE (n > SIM_CURVE_MAX_VECTORS -> modulus 2, so the pair join
    input is genuinely the capped subset) — and the DuckDB oracle, which
    derives the same modulus in-SQL, must agree hash-exactly."""
    import hashlib

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_cookbook_spark.pipeline.similarity import (
        SIM_CURVE_MAX_VECTORS,
        SIM_CURVE_THRESHOLDS,
    )
    from flink_cookbook_spark.registry import get_query
    from tests.oracle_harness import compare

    n, dim = 2 * SIM_CURVE_MAX_VECTORS + 76, 8
    mod = n // SIM_CURVE_MAX_VECTORS
    assert mod >= 2  # the cap must actually drop vectors in this test

    def coin(vec_id: int) -> int:
        return int(hashlib.md5(f"simcurve:{vec_id}".encode()).hexdigest()[:15], 16)

    survivors = [v for v in range(n) if coin(v) % mod == 0]
    assert len(survivors) >= 2
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    # plant a near-identical pair at two SURVIVING ids (cosine ~1.0)
    a, b = survivors[0], survivors[1]
    vecs[b] = vecs[a] + np.float32(1e-4)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), type=pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs], type=pa.list_(pa.float32())
                ),
                "label": pa.array([0] * n, type=pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )

    curve = get_query("similarity_threshold_curve").fn(spark, str(tmp_path))
    rows = {float(r.threshold): r for r in curve.collect()}
    assert len(rows) == len(SIM_CURVE_THRESHOLDS)
    s = len(survivors)
    assert all(r.n_sample_pairs == s * (s - 1) // 2 for r in rows.values())
    # the planted pair must be merged at EVERY threshold incl. 0.99
    assert rows[0.99].n_pairs_merged >= 1
    # random gaussian pairs give the low thresholds larger counts
    assert rows[0.3].n_pairs_merged > rows[0.99].n_pairs_merged

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path / 'embeddings.parquet'}'"
    )
    problems = compare(
        curve, con, get_query("similarity_threshold_curve").oracle,
        "similarity_threshold_curve",
    )
    assert not problems, problems


def test_adaptive_k_parity_between_engines(spark, tmp_path):
    """Adaptive cell count (k = clamp(n // TARGET_CELL, 8, MAX_CELLS)):
    at every shipped fixture SF the clamp floors at 8, so this test
    manufactures a corpus where it ENGAGES (n = 10 * TARGET_CELL + 40 ->
    k = 10) and verifies (a) the Python clamp, (b) that the k-means and
    SemDeDup queries still hash-match their oracles — i.e. the in-SQL
    scalar-subquery clamp computes the same k and the unrolled Lloyd
    replay stays engine-exact with a data-dependent cell count."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.pipeline.similarity import (
        KM_K, MAX_CELLS, TARGET_CELL, _adaptive_k,
    )
    from flink_cookbook_spark.registry import get_query
    from tests.oracle_harness import compare

    assert _adaptive_k(0) == 8 and _adaptive_k(5000) == 19
    assert _adaptive_k(2000) == 8  # sf0.1 still floors at 8
    assert _adaptive_k(10**9) == MAX_CELLS

    n, dim = 10 * TARGET_CELL + 40, 64  # dim matches the corpus contract (DIM)
    assert _adaptive_k(n, KM_K) == 10
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), type=pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs], type=pa.list_(pa.float32())
                ),
                "label": pa.array([0] * n, type=pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path / 'embeddings.parquet'}'"
    )
    clear()  # fresh memo: do not reuse real-fixture centroids
    try:
        for name in ("kmeans_embeddings", "semantic_cluster_dups"):
            spec = get_query(name)
            df = spec.fn(spark, str(tmp_path))
            assert df.select("cluster").distinct().count() == 10, name
            problems = compare(df, con, spec.oracle, name)
            assert not problems, problems
    finally:
        clear()


def test_kmeans_lloyd_wcss_monotone(spark, sf_dir):
    """Each Lloyd update must not increase the within-cluster sum of
    squares — the convergence invariant of k-means. Checked over the real
    fixture by replaying the query's own helpers round by round."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.similarity import (
        DIM,
        KM_K,
        _assign,
        _emb_double,
    )

    emb = _emb_double(load(spark, sf_dir, "embeddings")).select("vec_id", "emb")
    seeds = sorted(emb.where(F.col("vec_id") < KM_K).collect(), key=lambda r: r.vec_id)
    pairs = [(int(r.vec_id), list(r.emb)) for r in seeds]
    wcss = []
    for _ in range(3):
        assigned = _assign(emb, pairs)
        wcss.append(assigned.agg(F.sum("sqdist")).collect()[0][0])
        rows = (
            assigned.select("cid", F.posexplode("emb").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by = {}
        for r in rows:
            by.setdefault(r.cid, {})[r.pos] = r.m
        pairs = [(cid, [by[cid][p] for p in range(DIM)]) for cid in sorted(by)]
    assert wcss[0] >= wcss[1] >= wcss[2], wcss
    assert wcss[1] < wcss[0]  # the first update must actually improve


def test_pagerank_mass_and_dangling(spark, sf_dir):
    """Rank mass stays within [(1-d), 1] (dangling outflow leaks, never
    inflates) and every vertex keeps at least the teleport floor."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.operators.graph import PR_DAMPING, supplier_pagerank

    df = supplier_pagerank(spark, sf_dir).cache()
    n = df.count()
    total_norm = df.agg(F.sum("pr_norm")).collect()[0][0]  # == n if mass-preserving
    # pr_norm carries the registry rounding nudge (+1e-6 per row)
    slack = n * 2e-6
    assert (1 - PR_DAMPING) * n - slack <= total_norm <= n + slack, (total_norm, n)
    floor = (1 - PR_DAMPING) - 1e-6
    assert df.where(F.col("pr_norm") < floor).count() == 0
    # an isolated vertex (degree 0) must sit exactly on the teleport floor
    iso = df.where((F.col("degree") == 0)).collect()
    for r in iso:
        assert abs(r.pr_norm - (1 - PR_DAMPING)) < 1e-4, r
    df.unpersist()


def test_scd2_cdc_apply_equals_full_recompute(spark, sf_dir):
    """The incremental CDC apply must produce byte-identical SCD2 rows
    to the full recompute (the registered oracle asserts this against
    DuckDB; this asserts it Spark-vs-Spark, so a divergence points at
    the apply logic rather than engine differences)."""
    from flink_cookbook_spark.operators.timeseries import (
        scd2_cdc_apply,
        scd2_dimension,
    )

    inc = scd2_cdc_apply(spark, sf_dir)
    full = scd2_dimension(spark, sf_dir)
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0


def test_bloom_prefilter_superset_contract(spark, sf_dir):
    """Bloom filters never produce false negatives: every true match
    must pass the filter, so bloom_kept = true_matches + false_positives
    in every group."""
    from flink_cookbook_spark.operators.relational import bloom_prefilter_join

    rows = bloom_prefilter_join(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.bloom_kept == r.true_matches + r.false_positives
        assert r.bloom_kept >= r.true_matches


def test_sorted_neighborhood_matches_global_sort(spark, sf_dir):
    """The blocked (distributed) SNM must find the same close pairs as
    a single global sorted pass — i.e. blocking loses nothing on this
    corpus."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.dedup import (
        SNM_EDIT_MAX,
        SNM_HEAD_LEN,
        SNM_SORT_KEY_LEN,
        SNM_WINDOW,
        sorted_neighborhood_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring("text", 1, SNM_HEAD_LEN).alias("head"),
        F.substring(F.lower("text"), 1, SNM_SORT_KEY_LEN).alias("sort_key"),
    )
    w = Window.orderBy("sort_key", "doc_id")
    neigh = keyed.select(
        "doc_id",
        "head",
        *[F.lead("doc_id", k).over(w).alias(f"n{k}_id") for k in range(1, SNM_WINDOW + 1)],
        *[F.lead("head", k).over(w).alias(f"n{k}_head") for k in range(1, SNM_WINDOW + 1)],
    )
    global_pairs = set()
    for k in range(1, SNM_WINDOW + 1):
        for r in (
            neigh.where(F.col(f"n{k}_id").isNotNull())
            .select(
                "doc_id",
                F.col(f"n{k}_id").alias("nb"),
                F.levenshtein("head", F.col(f"n{k}_head")).alias("d"),
            )
            .where(F.col("d") <= SNM_EDIT_MAX)
            .collect()
        ):
            global_pairs.add((r.doc_id, r.nb))
    blocked_pairs = {
        (r.doc_a, r.doc_b) for r in sorted_neighborhood_pairs(spark, sf_dir).collect()
    }
    assert blocked_pairs == global_pairs
    assert blocked_pairs  # fixture has known near-dups


def test_vocab_growth_monotone(spark, sf_dir):
    """Cumulative type and token counts must be non-decreasing in
    bucket order, and the final vocab_size must equal the corpus's
    distinct bigram count."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.pipeline.text import vocab_growth

    rows = sorted(
        vocab_growth(spark, sf_dir).collect(), key=lambda r: r.bucket
    )
    assert rows
    for a, b in zip(rows, rows[1:]):
        assert b.vocab_size >= a.vocab_size
        assert b.cum_bigrams > a.cum_bigrams


def test_weighted_sample_exact_quota_and_length_bias(spark, sf_dir):
    """Efraimidis-Spirakis sampling must hit the per-source quota
    exactly (without-replacement contract) and, being length-weighted,
    must over-represent long documents relative to the corpus mean."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.sampling import (
        WSR_K,
        weighted_sample_without_replacement,
    )

    s = weighted_sample_without_replacement(spark, sf_dir)
    counts = {r.source: r["count"] for r in s.groupBy("source").count().collect()}
    assert counts and all(c == WSR_K for c in counts.values())
    sample_avg = s.agg(F.avg("n_chars")).first()[0]
    corpus_avg = (
        load(spark, sf_dir, "documents").agg(F.avg("n_chars")).first()[0]
    )
    assert sample_avg > corpus_avg


def test_zorder_probe_prunes_most_buckets(spark, sf_dir):
    """The point of z-ordering: a small rectangular probe should need
    to scan only a few of the 16 z-buckets (min/max stats prune the
    rest). A linear layout by either single column would leave every
    bucket spanning the other dimension's full range."""
    from flink_cookbook_spark.sources.formats import (
        _Z_BUCKETS,
        zorder_layout_profile,
    )

    rows = zorder_layout_profile(spark, sf_dir).collect()
    assert len(rows) == _Z_BUCKETS
    scanned = sum(1 for r in rows if r.probe_must_scan)
    assert scanned <= _Z_BUCKETS // 4, f"probe scans {scanned}/{_Z_BUCKETS}"


def test_prefix_filter_actually_prunes_index(spark, sf_dir):
    """The prefix index the candidate join consumes must be materially
    smaller than the full shingle index (~(1-t) of it), and the query
    itself must stay join-shaped (no cross product)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_cookbook_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        _shingles,
        prefix_filter_jaccard_pairs,
    )
    from flink_cookbook_spark.plans.explain import has_cartesian

    assert not has_cartesian(prefix_filter_jaccard_pairs(spark, sf_dir))
    sh = _shingles(spark, sf_dir)
    full = sh.count()
    w_df = Window.partitionBy("shingle")
    ranked = sh.select(
        "doc_id", "shingle", F.count("*").over(w_df).alias("df")
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "shingle"))
        .alias("rank"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n"),
    )
    prefix = ranked.where(
        F.col("rank") <= F.floor((1 - JACCARD_THRESHOLD) * F.col("n")) + 1
    ).count()
    assert prefix < 0.65 * full, (prefix, full)


def test_incremental_dedup_verdict_partition(spark, sf_dir):
    """Every batch doc gets exactly one verdict, and near-dup verdicts
    must be consistent with the verified LSH pair list restricted to
    cross-split pairs."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.pipeline.dedup import (
        _BATCH_MIN,
        _BATCH_MOD,
        _lsh_verified_pairs_df,
        incremental_dedup_new_batch,
    )

    out = incremental_dedup_new_batch(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == len({r.doc_id for r in rows})
    near = {r.doc_id for r in rows if r.verdict == "near_dup"}
    pairs = _lsh_verified_pairs_df(spark, sf_dir).collect()
    expect = set()
    for p in pairs:
        a_in = p.doc1 % _BATCH_MOD >= _BATCH_MIN
        b_in = p.doc2 % _BATCH_MOD >= _BATCH_MIN
        if a_in and not b_in:
            expect.add(p.doc1)
        if b_in and not a_in:
            expect.add(p.doc2)
    # exact dups (none in fixture) would shadow near verdicts
    assert near == expect and expect


def test_multi_touch_credit_conserves_conversions(spark, sf_dir):
    """Time-decay shares are normalized per conversion: the summed
    credit across touch types must equal the number of attributed
    conversions (each distributes exactly 1.0)."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.operators.timeseries import multi_touch_attribution

    rows = multi_touch_attribution(spark, sf_dir).collect()
    assert {r.event_type for r in rows} <= {"view", "click"}
    total_credit = sum(r.total_credit for r in rows)
    assert abs(total_credit - round(total_credit)) < 0.05
    assert total_credit > 0


def test_adaptive_clamp_parity_sweep():
    """The adaptive cell counts are derived from the corpus count on
    BOTH engines; any divergence would silently shear the oracle from
    the query at exactly one corpus size. Sweep n across the clamp's
    whole behavior range (floors, growth region, caps, perfect squares
    — the ceil(sqrt()) edge) and require bit-equality between the
    Python derivation and DuckDB evaluating the oracle's expression."""
    import duckdb

    from flink_cookbook_spark.pipeline.similarity import (
        MAX_CELLS, TARGET_CELL, _adaptive_k, _imi_k,
    )

    con = duckdb.connect()
    ns = list(range(0, 3000, 97)) + [
        256 * 9, 256 * 9 + 1, 256 * 16, 256 * 25,  # perfect-square m
        10**5, 10**6, 10**7, 2 * 10**9,
    ]
    for n in ns:
        k_sql = con.execute(
            f"SELECT least(greatest(8, {n} // {TARGET_CELL}), {MAX_CELLS})"
        ).fetchone()[0]
        assert _adaptive_k(n) == k_sql, n
        kp_sql = con.execute(
            f"SELECT least(greatest(2, CAST(ceil(sqrt(greatest({n} // "
            f"{TARGET_CELL}, 1))) AS BIGINT)), 64)"
        ).fetchone()[0]
        assert _imi_k(n) == kp_sql, n


def test_exact_dedup_candidate_volume_guard(spark, sf_dir):
    """The observe() counter on each exact-verification candidate stage
    must report the TRUE candidate volume (independently recomputed from
    the shingle index), every emitted pair must have been a candidate,
    and at fixture scale the MinHash-takeover guard must NOT fire (the
    crossover is ~2 candidates/doc; fixtures sit far under it)."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline import dedup

    n_docs = load(spark, sf_dir, "documents").count()

    n_pairs = dedup.ngram_jaccard_pairs(spark, sf_dir).count()
    vol = dedup.last_candidate_volume("ngram_jaccard_pairs")
    assert vol >= n_pairs > 0
    sh = dedup._shingles(spark, sf_dir)
    a, b = sh.alias("a"), sh.alias("b")
    expected = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert vol == expected
    assert not dedup.exact_path_over_budget("ngram_jaccard_pairs", n_docs)
    # budget arithmetic: with a zero-doc denominator any volume trips it
    assert dedup.exact_path_over_budget("ngram_jaccard_pairs", 0)

    # the other two exact paths carry the same counter
    n_contain = dedup.containment_pairs(spark, sf_dir).count()
    assert dedup.last_candidate_volume("containment_pairs") >= n_contain > 0
    n_prefix = dedup.prefix_filter_jaccard_pairs(spark, sf_dir).count()
    vol_prefix = dedup.last_candidate_volume("prefix_filter_jaccard_pairs")
    assert vol_prefix >= n_prefix > 0
    # prefix filtering's whole point: it must not generate MORE
    # candidates than the unfiltered inverted index
    assert vol_prefix <= vol
