"""Semantic property tests for the queries tagged ``prepared-r8``.

The driver-identical oracle comparison for every registered query runs
in tests/test_oracle.py — duplicating it here would double the suite
cost for 103 queries. This module keeps the ground-truth property tests
plus the cohort-wide empty-input lint over the tag."""

from __future__ import annotations

import pytest

from tests.oracle_harness import compare, duckdb_connection


def _r8_specs() -> dict:
    """The registered queries tagged ``prepared-r8``, by name."""
    from flink_cookbook_spark.registry import all_specs

    return {n: s for n, s in sorted(all_specs().items()) if "prepared-r8" in s.tags}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


def test_asof_tolerance_actually_filters(spark, sf_dir):
    """The tolerance must do work on the fixture: some purchases have a
    fresh view (non-null), some have only a stale or missing one."""
    from flink_cookbook_spark.operators.metrics import asof_tolerance_join

    rows = asof_tolerance_join(spark, sf_dir).collect()
    fresh = sum(1 for r in rows if r.fresh)
    assert 0 < fresh < len(rows), (fresh, len(rows))
    for r in rows:
        if r.fresh:
            assert r.view_t_fresh is not None and r.t - r.view_t_fresh <= 3600
        else:
            assert r.view_t_fresh is None and r.view_value_fresh is None


def test_split_is_total_and_stratified(spark, sf_dir):
    """Every document lands in exactly one split, and per-stratum shares
    sum to 1 with the train split dominating."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.sampling import (
        stratified_split_manifest,
    )

    rows = stratified_split_manifest(spark, sf_dir).collect()
    n_total = sum(r.n_docs for r in rows)
    assert n_total == load(spark, sf_dir, "documents").count()
    by_stratum: dict = {}
    for r in rows:
        by_stratum.setdefault((r.lang, r.source), []).append(r)
    for rs in by_stratum.values():
        assert abs(sum(x.stratum_share for x in rs) - 1.0) < 1e-3
        splits = {x.split: x.n_docs for x in rs}
        # dominance is an EXPECTATION (80/10/10 via a fair coin): tiny
        # strata can legitimately land val-heavy, so only assert where
        # the sample is big enough for the margin to be overwhelming
        if sum(splits.values()) >= 50:
            assert splits.get("train", 0) >= splits.get("val", 0)
            assert splits.get("train", 0) >= splits.get("test", 0)
    # global shares must track 80/10/10
    totals: dict = {}
    for r in rows:
        totals[r.split] = totals.get(r.split, 0) + r.n_docs
    assert abs(totals.get("train", 0) / n_total - 0.8) < 0.1


def test_pq_code_compresses_and_reconstructs(spark, sf_dir):
    """PQ codes must live in the trained code space and the
    reconstruction error must be finite and nonzero (lossy by nature)."""
    from flink_cookbook_spark.pipeline.similarity import (
        pq_reconstruction_manifest,
    )

    rows = pq_reconstruction_manifest(spark, sf_dir).collect()
    assert rows
    assert all(r.ca >= 0 and r.cb >= 0 for r in rows)
    assert all(r.mse >= 0 for r in rows)
    assert any(r.mse > 0 for r in rows)


def test_funnel_always_emits_every_stage(spark, sf_dir):
    """All four stages must emit (zero drops included — the
    similarity_threshold_curve lesson), survivors must be monotonically
    non-increasing, and the final survivor count must equal the keeps."""
    from flink_cookbook_spark.pipeline.text import (
        FUNNEL_STAGES,
        corpus_filter_pipeline,
        filter_funnel_report,
    )

    rows = sorted(filter_funnel_report(spark, sf_dir).collect(),
                  key=lambda r: r.stage)
    assert [(r.stage, r.reason) for r in rows] == list(FUNNEL_STAGES)
    remaining = [r.n_remaining for r in rows]
    assert remaining == sorted(remaining, reverse=True)
    keeps = corpus_filter_pipeline(spark, sf_dir).where("keep").count()
    assert remaining[-1] == keeps


def test_temperature_flattens_the_mix(spark, sf_dir):
    """alpha < 1 must flatten: scaled shares sum to 1 and the boost is
    strictly decreasing in raw share (small sources get boosted up,
    big sources damped down)."""
    from flink_cookbook_spark.pipeline.sampling import (
        temperature_mixture_weights,
    )

    rows = temperature_mixture_weights(spark, sf_dir).collect()
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-3
    by_share = sorted(rows, key=lambda r: r.raw_share)
    boosts = [r.boost for r in by_share]
    assert boosts == sorted(boosts, reverse=True)


def test_contrastive_pairs_are_valid(spark, sf_dir):
    """Partners must differ from the anchor, cosines must be bounded,
    and the sampled corpus must yield at least one hard positive and
    hard negatives for every anchor (labels are diverse)."""
    from flink_cookbook_spark.pipeline.similarity import (
        contrastive_pair_mining,
    )

    rows = contrastive_pair_mining(spark, sf_dir).collect()
    assert rows
    assert all(r.hard_neg_id is not None for r in rows)
    assert any(r.hard_pos_id is not None for r in rows)
    for r in rows:
        for pid, pcos in ((r.hard_pos_id, r.hard_pos_cos),
                          (r.hard_neg_id, r.hard_neg_cos)):
            if pid is not None:
                assert pid != r.vec_id
                assert -1.000001 <= pcos <= 1.000001


def test_rate_profile_moment_ordering(spark, sf_dir):
    """p95 <= peak, mean <= peak, peak/mean >= 1, and mean >= 1 per
    observed minute. NOTE mean <= p95 is NOT asserted: it is not a
    theorem — a near-constant rate with a thin upper tail (almost all
    minutes at 1 event, a few at 2) puts the mean strictly above p95,
    which the sf0.01 fixture legitimately produces."""
    from flink_cookbook_spark.operators.timeseries import event_rate_profile

    rows = event_rate_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.mean_per_min <= r.peak_per_min + 1e-6
        assert r.p95_per_min <= r.peak_per_min + 1e-6
        assert r.peak_to_mean >= 1.0 - 1e-6
        assert r.mean_per_min >= 1.0 - 1e-6
        assert r.n_events >= r.n_minutes


def test_zipf_head_is_decreasing(spark, sf_dir):
    """Frequency is non-increasing in rank, so the fitted slope must be
    <= 0; r2 bounded; the head never exceeds ZIPF_TOP_N ranks."""
    from flink_cookbook_spark.pipeline.text import ZIPF_TOP_N, zipf_fit

    rows = zipf_fit(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.zipf_slope <= 1e-6
        assert -1e-6 <= r.fit_r2 <= 1.0 + 1e-6
        assert 0 < r.top_token_share < 1
        assert 0 < r.n_ranks <= ZIPF_TOP_N
        assert r.vocab_size >= r.n_ranks


def test_new_prepared_survive_empty_tables(spark, tmp_path):
    """Zero-row inputs must not crash the round-8-prepared operators;
    the funnel keeps its always-emit contract (4 stage rows, all zero)
    even on an empty corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.pipeline.text import filter_funnel_report

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([], type=pa.int64()),
                "ts": pa.array([], type=pa.timestamp("us")),
                "user_id": pa.array([], type=pa.int64()),
                "event_type": pa.array([], type=pa.string()),
                "value": pa.array([], type=pa.float64()),
                "props": pa.array([], type=pa.string()),
            }
        ),
        tmp_path / "events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([], type=pa.int64()),
                "text": pa.array([], type=pa.string()),
                "lang": pa.array([], type=pa.string()),
                "source": pa.array([], type=pa.string()),
                "n_chars": pa.array([], type=pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], type=pa.int64()),
                "embedding": pa.array([], type=pa.list_(pa.float32())),
                "label": pa.array([], type=pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    clear()
    for name in (
        "temperature_mixture_weights",
        "contrastive_pair_mining",
        "event_rate_profile",
        "zipf_fit",
    ):
        fn = _r8_specs()[name].fn
        assert fn(spark, str(tmp_path)).count() == 0, name
    rows = filter_funnel_report(spark, str(tmp_path)).collect()
    assert len(rows) == 4
    assert all(r.n_dropped == 0 and r.n_remaining == 0 for r in rows)
    clear()


def test_watermark_sweep_is_monotone(spark, sf_dir):
    """Every candidate delay must emit; drops must be non-increasing and
    completeness non-decreasing in the delay; delay 0 must drop exactly
    the out-of-order events (lateness > 0)."""
    from flink_cookbook_spark.streaming.twins import (
        WATERMARK_CANDIDATES,
        watermark_completeness_sweep,
    )

    rows = sorted(watermark_completeness_sweep(spark, sf_dir).collect(),
                  key=lambda r: r.watermark_delay_s)
    assert [r.watermark_delay_s for r in rows] == list(WATERMARK_CANDIDATES)
    drops = [r.n_dropped for r in rows]
    assert drops == sorted(drops, reverse=True)
    comps = [r.completeness for r in rows]
    assert comps == sorted(comps)
    assert all(0.0 <= c <= 1.0 + 1e-6 for c in comps)


def test_class_balance_shares_and_effective_classes(spark, sf_dir):
    """Shares sum to 1, the majority class has vs_majority == 1, and the
    effective class count lies in [1, n_labels]."""
    from flink_cookbook_spark.pipeline.sampling import class_balance_report

    rows = class_balance_report(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    assert any(abs(r.vs_majority - 1.0) < 1e-5 for r in rows)
    eff = {r.effective_classes for r in rows}
    assert len(eff) == 1  # window-computed constant, same on every row
    assert 1.0 - 1e-6 <= eff.pop() <= len(rows) + 1e-6


def test_kaplan_meier_curve_shape(spark, sf_dir):
    """Survival starts at 1 - d1/n1, is strictly within (0, 1], and is
    non-increasing; risk sets shrink as t grows."""
    from flink_cookbook_spark.operators.stats import kaplan_meier_survival

    rows = sorted(kaplan_meier_survival(spark, sf_dir).collect(),
                  key=lambda r: r.t_hours)
    assert rows
    first = rows[0]
    assert abs(first.survival - (1.0 - first.n_events / first.n_at_risk)) < 1e-4
    surv = [r.survival for r in rows]
    assert surv == sorted(surv, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in surv)
    risks = [r.n_at_risk for r in rows]
    assert risks == sorted(risks, reverse=True)
    assert all(r.n_events <= r.n_at_risk for r in rows)


def test_gini_bounds_and_top_decile(spark, sf_dir):
    """Gini lies in [0, 1); the top decile's share is at least its
    population share (the decile holds the largest revenues)."""
    from flink_cookbook_spark.operators.tpch import revenue_concentration_gini

    rows = revenue_concentration_gini(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.gini < 1.0
        ntop = (r.n_customers + 9) // 10
        assert r.top_decile_share >= ntop / r.n_customers - 1e-6
        assert r.top_decile_share <= 1.0 + 1e-6


def test_periodogram_one_dominant_per_type(spark, sf_dir):
    """Each event type gets all candidate periods, power in [0, 1], and
    at least one dominant row (ties can mark several, rounded compare)."""
    from flink_cookbook_spark.operators.forecasting import (
        PERIODOGRAM_PERIODS,
        periodogram_peaks,
    )

    rows = periodogram_peaks(spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        assert sorted(x.period_minutes for x in rs) == sorted(PERIODOGRAM_PERIODS)
        assert all(0.0 <= x.power_norm <= 1.0 + 1e-6 for x in rs)
        doms = [x for x in rs if x.is_dominant]
        assert doms, t
        top = max(x.power_norm for x in rs)
        assert all(x.power_norm == top for x in doms)


def test_changepoint_gain_is_the_max(spark, sf_dir):
    """The reported split must achieve the maximal gain over a manual
    recompute of every candidate split from the daily series."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.drift import best_split_changepoint
    from pyspark.sql import functions as F

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.col("ts").cast("double") / 86400).alias("day"),
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.cnt))
    best = {}
    for t, pts in series.items():
        pts.sort()
        cnts = [c for _, c in pts]
        n, tot = len(cnts), sum(cnts)
        gains = []
        run = 0
        for k in range(1, n):
            run += cnts[k - 1]
            m1, m2 = run / k, (tot - run) / (n - k)
            gains.append(k * (n - k) / n * (m1 - m2) ** 2)
        best[t] = max(gains)
    for r in best_split_changepoint(spark, sf_dir).collect():
        assert r.sse_reduction >= 0.0
        assert r.n_days_before >= 1 and r.n_days_after >= 1
        assert abs(r.sse_reduction - best[r.event_type]) < 1e-3


def test_knn_consistency_bounds(spark, sf_dir):
    """Per-label consistency lies in [0, 1] and the per-label vector
    counts sum to the capped sample size."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.similarity import (
        KNN_MAX_VECTORS,
        knn_label_consistency,
    )

    rows = knn_label_consistency(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.min_consistency <= r.mean_consistency <= 1.0
    n = load(spark, sf_dir, "embeddings").count()
    mod = max(1, n // KNN_MAX_VECTORS)
    assert sum(r.n_vectors for r in rows) <= max(n, 2 * KNN_MAX_VECTORS)
    assert len({r.label for r in rows}) == len(rows)


def test_token_entropy_bounds(spark, sf_dir):
    """Normalized entropy lies in [0, 1]; per-source doc counts sum to
    the corpus size."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.text import token_entropy_profile

    rows = token_entropy_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.min_norm_entropy <= r.mean_norm_entropy <= 1.0 + 1e-6
        assert r.mean_entropy_bits >= 0.0
        assert 0 <= r.n_low_entropy <= r.n_docs
    assert sum(r.n_docs for r in rows) == load(spark, sf_dir, "documents").count()


def test_hhi_is_consistent_with_share_bounds(spark, sf_dir):
    """HHI lies in [1/n_sources, 1]; effective sources ≈ 1/HHI and never
    exceeds the actual source count; top share is the max share."""
    from flink_cookbook_spark.pipeline.sampling import source_concentration_hhi

    rows = source_concentration_hhi(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1.0 / r.n_sources - 1e-6 <= r.hhi <= 1.0 + 1e-6
        assert r.effective_sources <= r.n_sources + 1e-3
        assert abs(r.effective_sources - 1.0 / r.hhi) < 0.01
        assert r.top_share >= 1.0 / r.n_sources - 1e-6
        assert r.top_source is not None


def test_trigram_motifs_top_n(spark, sf_dir):
    """At most TOP_N motifs, support non-increasing, shares in (0, 1],
    and each trigram is three '>'-joined known event types."""
    from flink_cookbook_spark.operators.timeseries import (
        TRIGRAM_TOP_N,
        event_trigram_motifs,
    )

    rows = event_trigram_motifs(spark, sf_dir).collect()
    assert 0 < len(rows) <= TRIGRAM_TOP_N
    types = {"click", "view", "purchase", "signup", "error"}
    sups = sorted((r.support for r in rows), reverse=True)
    assert sorted((r.support for r in rows), reverse=True) == sups
    for r in rows:
        parts = r.trigram.split(">")
        assert len(parts) == 3 and set(parts) <= types
        assert 0.0 < r.share <= 1.0


def test_backlog_conserves_orders(spark, sf_dir):
    """The backlog starts and ends at 0 (every order eventually closes),
    never goes negative, and total opens == total closes == order
    count."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.tpch import order_backlog_profile

    rows = sorted(order_backlog_profile(spark, sf_dir).collect(),
                  key=lambda r: r.day)
    assert rows
    n_orders = load(spark, sf_dir, "orders").count()
    assert sum(r.n_opened for r in rows) == n_orders
    assert sum(r.n_closed for r in rows) == n_orders
    assert all(r.backlog >= 0 for r in rows)
    assert rows[-1].backlog == 0


def test_quality_sweep_monotone_and_total(spark, sf_dir):
    """All thresholds emit; kept counts are non-increasing in the
    cutoff; threshold 0.0 keeps everything."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.text import (
        QUALITY_THRESHOLDS,
        quality_threshold_sweep,
    )

    rows = sorted(quality_threshold_sweep(spark, sf_dir).collect(),
                  key=lambda r: r.threshold)
    assert [r.threshold for r in rows] == sorted(QUALITY_THRESHOLDS)
    kept = [r.n_docs_kept for r in rows]
    assert kept == sorted(kept, reverse=True)
    toks = [r.n_tokens_kept for r in rows]
    assert toks == sorted(toks, reverse=True)
    assert rows[0].n_docs_kept == load(spark, sf_dir, "documents").count()
    assert abs(rows[0].doc_share - 1.0) < 1e-5
    assert abs(rows[0].token_share - 1.0) < 1e-5


def test_join_size_estimator_exactness(spark, sf_dir):
    """The 'exact_pairs' figure must equal the true materialized join
    cardinality, and the skew factor must tie the two columns."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.relational import join_size_estimator
    from pyspark.sql import functions as F

    row = join_size_estimator(spark, sf_dir).collect()[0]
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    purch = ev.where(F.col("event_type") == "purchase").select("user_id")
    assert row.exact_pairs == clicks.join(purch, "user_id").count()
    assert row.n_left == clicks.count() and row.n_right == purch.count()
    est = row.n_left * row.n_right / max(row.ndv_left, row.ndv_right)
    assert abs(row.est_independent - est) < 0.51
    assert abs(row.skew_factor - row.exact_pairs / est) < 1e-3


def test_markov_stationary_is_fixed_point(spark, sf_dir):
    """π must be a probability vector and (approximately) invariant
    under one more application of the transition matrix."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.timeseries import (
        markov_stationary_distribution,
    )
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    rows = markov_stationary_distribution(spark, sf_dir).collect()
    pi = {r.state: r.stationary_p for r in rows}
    assert abs(sum(pi.values()) - 1.0) < 1e-3
    assert all(p >= 0.0 for p in pi.values())
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.select(
            F.lag("event_type", 1).over(w).alias("f"),
            F.col("event_type").alias("t"),
        )
        .where(F.col("f").isNotNull())
        .groupBy("f", "t")
        .count()
        .collect()
    )
    from collections import defaultdict
    out = defaultdict(int)
    for r in pairs:
        out[r.f] += r["count"]
    nxt = defaultdict(float)
    for r in pairs:
        nxt[r.t] += pi.get(r.f, 0.0) * r["count"] / out[r.f]
    tot = sum(nxt.values())
    for s, p in pi.items():
        assert abs(nxt[s] / tot - p) < 5e-3, (s, p, nxt[s] / tot)


def test_negative_sampling_table_is_a_cdf(spark, sf_dir):
    """Probabilities sum to 1, cum_hi is the running total ending at
    1.0, ranks are 1..n in frequency order, and the 0.75 tempering
    flattens: low-frequency tokens gain share vs their raw frequency."""
    from flink_cookbook_spark.pipeline.sampling import (
        NEG_TABLE_N,
        negative_sampling_table,
    )

    rows = sorted(negative_sampling_table(spark, sf_dir).collect(),
                  key=lambda r: r.rank)
    assert 0 < len(rows) <= NEG_TABLE_N
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    occ = [r.n_occurrences for r in rows]
    assert occ == sorted(occ, reverse=True)
    assert abs(sum(r.sample_p for r in rows) - 1.0) < 1e-3
    assert abs(rows[-1].cum_hi - 1.0) < 1e-3
    run = 0.0
    for r in rows:
        run += r.sample_p
        assert abs(r.cum_hi - run) < 1e-3
    total_occ = sum(occ)
    head, tail = rows[0], rows[-1]
    assert head.sample_p <= head.n_occurrences / total_occ + 1e-6
    assert tail.sample_p >= tail.n_occurrences / total_occ - 1e-6


def test_packing_report_bounds(spark, sf_dir):
    """Lower bound never exceeds the naive count; utilization and
    compaction are consistent; every candidate length emits."""
    from flink_cookbook_spark.pipeline.curation import (
        PACKING_LENGTHS,
        packing_efficiency_report,
    )

    rows = sorted(packing_efficiency_report(spark, sf_dir).collect(),
                  key=lambda r: r.max_len)
    assert [r.max_len for r in rows] == sorted(PACKING_LENGTHS)
    for r in rows:
        assert 1 <= r.packed_lower_bound <= r.naive_seqs
        assert 0.0 < r.naive_utilization <= 1.0 + 1e-6
        assert r.max_compaction >= 1.0 - 1e-6
        assert r.total_tokens <= r.naive_seqs * r.max_len


def test_heatmap_covers_week_and_normalizes(spark, sf_dir):
    """Cells stay in the 7 x 24 grid, per-dow shares sum to 1, and each
    dow flags at least one peak hour."""
    from flink_cookbook_spark.operators.timeseries import weekday_hour_heatmap

    rows = weekday_hour_heatmap(spark, sf_dir).collect()
    assert rows
    by_dow: dict = {}
    for r in rows:
        assert 0 <= r.dow <= 6 and 0 <= r.hour <= 23
        by_dow.setdefault(r.dow, []).append(r)
    for d, rs in by_dow.items():
        assert abs(sum(x.dow_share for x in rs) - 1.0) < 1e-3
        peaks = [x for x in rs if x.is_peak_hour]
        assert peaks, d
        top = max(x.n_events for x in rs)
        assert all(x.n_events == top for x in peaks)


def test_wav_codec_roundtrip_and_rejection():
    """encode_wav -> decode_wav is lossless on the statistics, and the
    decoder rejects non-RIFF payloads and unsupported PCM layouts."""
    import pytest as _pytest

    from flink_cookbook_spark.pipeline.multimodal import decode_wav, encode_wav

    samples = [0, 1000, -1000, 500, -500, 0, 250]
    d = decode_wav(encode_wav(8000, samples))
    assert d["n_samples"] == len(samples)
    assert d["sample_rate"] == 8000
    assert d["peak_amp"] == 1000
    assert d["zero_crossings"] == sum(
        1 for i in range(1, len(samples))
        if (samples[i - 1] < 0) != (samples[i] < 0)
    )
    assert abs(d["rms"] - (sum(s * s for s in samples) / len(samples)) ** 0.5) < 1e-9
    with _pytest.raises(NotImplementedError):
        decode_wav(b"ID3\x03mp3-ish payload")
    # stereo layout must be rejected, not silently mis-decoded
    import struct
    stereo = bytearray(encode_wav(8000, samples))
    struct.pack_into("<H", stereo, 22, 2)
    with _pytest.raises(ValueError):
        decode_wav(bytes(stereo))


def test_audio_features_match_direct_decode(spark, sf_dir):
    """Every audio doc emits exactly one row and the distributed result
    equals a driver-side decode of the same deterministic fixture."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.multimodal import (
        WAV_EVERY, WAV_RATE, audio_features, decode_wav, encode_wav,
        wav_n_samples, wav_sample,
    )

    rows = {r.doc_id: r for r in audio_features(spark, sf_dir).collect()}
    doc_ids = [
        r.doc_id
        for r in load(spark, sf_dir, "documents").select("doc_id").collect()
        if r.doc_id % WAV_EVERY == 0
    ]
    assert sorted(rows) == sorted(doc_ids)
    probe = doc_ids[len(doc_ids) // 2]
    ref = decode_wav(
        encode_wav(
            WAV_RATE,
            [wav_sample(probe, i) for i in range(wav_n_samples(probe))],
        )
    )
    got = rows[probe]
    assert got.n_samples == ref["n_samples"]
    assert got.peak_amp == ref["peak_amp"]
    assert got.zero_crossings == ref["zero_crossings"]
    assert abs(got.rms - ref["rms"]) < 1e-3


def test_moments_sketch_matches_numpy(spark, sf_dir):
    """The merged-partials skewness/kurtosis must equal a single-pass
    numpy computation over the raw values (population definitions)."""
    import numpy as np

    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.relational import moments_sketch_rollup

    rows = {r.event_type: r for r in
            moments_sketch_rollup(spark, sf_dir).collect()}
    assert rows
    ev = load(spark, sf_dir, "events").select("event_type", "value").collect()
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.value)
    for t, vals in by_type.items():
        x = np.asarray(vals, dtype=float)
        mu, sd = x.mean(), x.std()
        skew = ((x - mu) ** 3).mean() / sd**3
        kurt = ((x - mu) ** 4).mean() / sd**4 - 3.0
        got = rows[t]
        assert got.n == len(vals)
        assert got.n_partials >= 1
        assert abs(got.mean - mu) < 1e-3
        assert abs(got.std - sd) < 1e-3
        assert abs(got.skewness - skew) < 1e-3, t
        assert abs(got.kurtosis_excess - kurt) < 1e-3, t


def test_wav_codec_roundtrip_property():
    """Property: for ANY int16 sample list and supported rate, encode →
    decode recovers every statistic the decoder reports (hypothesis)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flink_cookbook_spark.pipeline.multimodal import decode_wav, encode_wav

    @settings(max_examples=50, deadline=None)
    @given(
        samples=st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=1, max_size=256,
        ),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def check(samples, rate):
        d = decode_wav(encode_wav(rate, samples))
        n = len(samples)
        assert d["n_samples"] == n
        assert d["sample_rate"] == rate
        assert d["duration_s"] == n / rate
        assert d["peak_amp"] == max(abs(s) for s in samples)
        assert abs(d["mean_amp"] - sum(abs(s) for s in samples) / n) < 1e-9
        assert abs(d["rms"] - (sum(s * s for s in samples) / n) ** 0.5) < 1e-9
        assert d["zero_crossings"] == sum(
            1 for i in range(1, n)
            if (samples[i - 1] < 0) != (samples[i] < 0)
        )

    check()


def test_bmp_codec_roundtrip_property():
    """Property: for ANY grayscale grid, encode_bmp → decode_real
    recovers the pixel statistics (incl. bottom-up row order via the
    first-row feature) for arbitrary widths exercising row padding."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flink_cookbook_spark.pipeline.multimodal import decode_real, encode_bmp

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=9),
        h=st.integers(min_value=1, max_value=9),
        data=st.data(),
    )
    def check(w, h, data):
        px = [
            [data.draw(st.integers(min_value=0, max_value=255))
             for _ in range(w)]
            for _ in range(h)
        ]
        d = decode_real(encode_bmp(w, h, px))
        flat = [v for row in px for v in row]
        assert d["n_frames"] == h
        assert d["max_byte"] == max(flat)
        assert abs(d["mean_byte"] - sum(flat) / len(flat)) < 1e-9
        # top-left pixel proves the bottom-up storage was undone
        assert abs(d["feature"][2] - px[0][0] / 255.0) < 1e-12

    check()


def test_lsh_recall_consistency(spark, sf_dir):
    """Hits are bounded by both truth and candidates; recall/precision
    are consistent ratios in [0, 1]; the analytic s-curve constant is
    1-(1-0.5^r)^b for the shipped band config. The audit agrees with the
    queries it audits: its hits are minhash_lsh_pairs' rows, its truth
    is ngram_jaccard_pairs' rows, and the shipped config's row of
    minhash_band_sensitivity counts the same candidates and hits."""
    from flink_cookbook_spark.pipeline.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        lsh_recall_estimate,
        minhash_band_sensitivity,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    r = lsh_recall_estimate(spark, sf_dir).collect()[0]
    assert r.n_hits == minhash_lsh_pairs(spark, sf_dir).count()
    assert r.n_true_pairs == ngram_jaccard_pairs(spark, sf_dir).count()
    (shipped,) = [
        b for b in minhash_band_sensitivity(spark, sf_dir).collect()
        if (b.bands, b.rows_per_band) == (LSH_BANDS, LSH_ROWS)
    ]
    assert shipped.n_candidate_pairs == r.n_candidates
    assert shipped.n_true_covered == r.n_hits
    assert 0 <= r.n_hits <= min(r.n_true_pairs, r.n_candidates)
    # the rounding NUDGE (+1e-6) legitimately reports exact 1.0 as 1.000001
    assert 0.0 <= r.recall <= 1.0 + 2e-6
    assert 0.0 <= r.candidate_precision <= 1.0 + 2e-6
    if r.n_true_pairs:
        assert abs(r.recall - r.n_hits / r.n_true_pairs) < 1e-4
    want = 1.0 - (1.0 - 0.5 ** LSH_ROWS) ** LSH_BANDS
    assert abs(r.s_curve_recall_at_threshold - want) < 1e-4


def test_series_family_reads_one_series(spark, sf_dir):
    """The series diagnostics read the same per-type mean series, so
    their series lengths agree per event type: the daily tests' day
    counts, the complete-day panel's block counts (Friedman and
    Cochran), and the hourly queries' hour counts."""
    from flink_cookbook_spark.registry import get_query

    def per_type(name, col):
        return {
            r.event_type: r[col]
            for r in get_query(name).fn(spark, sf_dir).collect()
        }

    def same(*series):
        first = series[0]
        assert first and all(s == first for s in series[1:]), series
        return first

    daily = same(
        per_type("ljung_box_test", "n_days"),
        per_type("mann_kendall_trend", "n_days"),
        per_type("seasonal_strength_profile", "n_days"),
        per_type("theil_sen_trend", "n_days"),
    )
    complete = same(
        per_type("friedman_test", "n_days"),
        per_type("cochran_q_test", "n_days"),
    )
    assert all(complete[t] <= daily[t] for t in complete)
    same(
        per_type("effective_sample_size", "n_obs"),
        per_type("western_electric_rules", "n_hours"),
        per_type("holt_winters_seasonal", "n_points"),
        per_type("holt_linear_forecast", "n_points"),
    )


def test_interarrival_quantiles_ordered(spark, sf_dir):
    """Gap quantiles are ordered p50 <= p90 <= p99, all non-negative,
    and the per-type gap counts sum to n_events - (type, day) groups."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.timeseries import interarrival_profile
    from pyspark.sql import functions as F

    rows = interarrival_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.p50_gap_s <= r.p90_gap_s <= r.p99_gap_s
        assert r.mean_gap_s >= 0.0 and r.cv >= 0.0
    ev = load(spark, sf_dir, "events")
    groups = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("ts").cast("double") / 86400).alias("day"),
        ).count().count()
    )
    assert sum(r.n_gaps for r in rows) == ev.count() - groups


def test_decile_lift_partitions_customers(spark, sf_dir):
    """Every customer lands in exactly one decile; shares sum to 1;
    lift increases with decile (value-ordered) and decile 10 has
    lift >= 1."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.tpch import decile_lift_table

    rows = sorted(decile_lift_table(spark, sf_dir).collect(),
                  key=lambda r: r.decile)
    assert {r.decile for r in rows} <= set(range(1, 11))
    n_cust = (
        load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    assert abs(sum(r.rev_share for r in rows) - 1.0) < 1e-3
    lifts = [r.lift for r in rows]
    assert lifts == sorted(lifts)
    assert rows[-1].decile == 10 and rows[-1].lift >= 1.0
    assert abs(rows[0].cum_share_from_top - 1.0) < 1e-3


def test_water_filling_exhausts_budget(spark, sf_dir):
    """The allocation must hand out (approximately) the whole budget,
    never exceed any source's availability, cap exactly the sources
    whose fill ratio is 1, and boost small sources (higher fill ratio
    than the biggest source unless capped)."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.sampling import (
        WF_BUDGET_FRACTION,
        water_filling_allocation,
    )
    from pyspark.sql import functions as F

    rows = water_filling_allocation(spark, sf_dir).collect()
    assert rows
    total_tokens = (
        load(spark, sf_dir, "documents")
        .agg(F.sum(F.size(F.split("text", " "))))
        .collect()[0][0]
    )
    budget = WF_BUDGET_FRACTION * total_tokens
    assert abs(sum(r.allocated_tokens for r in rows) - budget) < 1.0
    for r in rows:
        assert r.allocated_tokens <= r.available_tokens + 0.01
        if r.capped:
            assert abs(r.fill_ratio - 1.0) < 1e-3
        else:
            assert r.fill_ratio < 1.0 + 1e-6
    # sqrt tempering: the smallest source must reach a HIGHER fill ratio
    # than the largest uncapped source
    uncapped = [r for r in rows if not r.capped]
    if len(uncapped) >= 2:
        small = min(uncapped, key=lambda r: r.available_tokens)
        large = max(uncapped, key=lambda r: r.available_tokens)
        if small.available_tokens < large.available_tokens:
            assert small.fill_ratio > large.fill_ratio


def test_ensemble_consensus_ordering(spark, sf_dir):
    """Consensus counts are nested (3-of-3 <= 2-of-3 <= any single
    method's flags + the others), every count is bounded by n, and at
    least one method flags something somewhere on the fixture."""
    from flink_cookbook_spark.operators.drift import anomaly_ensemble_consensus

    rows = anomaly_ensemble_consensus(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_consensus3 <= r.n_consensus2 <= r.n
        for c in (r.n_flag_z, r.n_flag_mad, r.n_flag_iqr):
            assert 0 <= c <= r.n
        assert r.n_consensus2 <= r.n_flag_z + r.n_flag_mad + r.n_flag_iqr
    assert any(r.n_flag_z + r.n_flag_mad + r.n_flag_iqr > 0 for r in rows)


def test_ks_statistic_is_a_valid_distance(spark, sf_dir):
    """D must be a [0,1] sup-distance and the verdict must equal the
    D-vs-critical comparison the row itself reports."""
    from flink_cookbook_spark.operators.drift import ks_test_drift

    rows = ks_test_drift(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.ks_d <= 1.0 + 1e-9
        assert r.ks_crit_95 > 0
        assert r.drifted == (r.ks_d > r.ks_crit_95) or abs(
            r.ks_d - r.ks_crit_95
        ) < 2e-6  # rounding at the displayed dp may touch the boundary


def test_contingency_measures_are_bounded(spark, sf_dir):
    """chi2 >= 0, Cramer's V in [0,1], MI >= 0 (within display
    rounding) — the textbook bounds for any contingency table."""
    from flink_cookbook_spark.operators.stats import contingency_association

    [r] = contingency_association(spark, sf_dir).collect()
    assert r.chi2 >= 0
    assert -1e-6 <= r.cramers_v <= 1.0 + 1e-6
    assert r.mutual_info_nats >= -1e-6
    # MI <= ln(min(r, c)) always
    import math

    assert r.mutual_info_nats <= math.log(min(r.n_types, r.n_days)) + 1e-6


def test_correlation_matrix_is_valid(spark, sf_dir):
    """All |r| <= 1 and all six unordered pairs present exactly once
    (the fixture's measures are synthesized independently, so no pair
    is asserted to correlate — only validity bounds)."""
    from flink_cookbook_spark.operators.stats import (
        CORR_COLS,
        correlation_matrix,
    )

    rows = correlation_matrix(spark, sf_dir).collect()
    pairs = {(r.col_a, r.col_b) for r in rows}
    expected = {
        (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
    }
    assert pairs == expected
    for r in rows:
        assert abs(r.pearson_r) <= 1.0 + 1e-6
    assert all(r.n_rows > 0 for r in rows)


def test_crosscorr_windows_are_full_and_bounded(spark, sf_dir):
    """Only full 7-day windows emit, and every defined r is in [-1,1]."""
    from flink_cookbook_spark.operators.forecasting import (
        crosscorr_daily_series,
    )

    rows = crosscorr_daily_series(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.window_days == 7
        if r.xcorr_7d is not None:
            assert abs(r.xcorr_7d) <= 1.0 + 1e-6


def test_ab_lift_internally_consistent(spark, sf_dir):
    """Rates must equal conversions/users, lift must equal the rate
    difference, and arm sizes must partition the user base."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.experiments import ab_conversion_lift

    [r] = ab_conversion_lift(spark, sf_dir).collect()
    assert r.n_a + r.n_b == (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert abs(r.rate_a - r.c_a / r.n_a) < 2e-6
    assert abs(r.rate_b - r.c_b / r.n_b) < 2e-6
    assert abs(r.abs_lift - (r.rate_b - r.rate_a)) < 3e-6
    if r.z_score is not None:
        assert r.significant_95 == (abs(r.z_score) > 1.96) or abs(
            abs(r.z_score) - 1.96
        ) < 1e-3


def test_skew_report_is_exactly_derived(spark, sf_dir):
    """Totals must equal the table row count at every partition count,
    max >= avg, and CV must be 0 exactly when every partition is equal."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.skew import (
        SKEW_PARTITION_COUNTS,
        partition_skew_report,
    )

    rows = {r.n_partitions: r for r in partition_skew_report(spark, sf_dir).collect()}
    assert set(rows) == set(SKEW_PARTITION_COUNTS)
    n = load(spark, sf_dir, "lineitem").count()
    for r in rows.values():
        assert r.n_rows == n
        assert r.max_rows >= r.n_rows / r.n_partitions - 1e-9
        assert r.skew_ratio >= 1.0 - 1e-4
        assert r.cv >= 0
        assert r.nonempty_partitions <= r.n_partitions


def test_compaction_plan_covers_corpus_and_respects_target(spark, sf_dir):
    """Each cell's files must be enough to hold its bytes at the target
    size, and the doc totals must cover the corpus exactly."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.sources.formats import (
        TARGET_FILE_BYTES,
        file_compaction_plan,
    )

    rows = file_compaction_plan(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == load(spark, sf_dir, "documents").count()
    for r in rows:
        assert r.target_files >= 1
        assert r.target_files * TARGET_FILE_BYTES >= r.est_bytes
        # one fewer file would NOT fit (tightness), unless at the floor
        if r.target_files > 1:
            assert (r.target_files - 1) * TARGET_FILE_BYTES < r.est_bytes
        assert r.docs_per_file * r.target_files >= r.n_docs


def test_bloom_fpr_tracks_the_analytic_formula(spark, sf_dir):
    """More bits must not raise the expected FPR at fixed k, and the
    measured rate must be a valid probability that broadly tracks the
    formula (within a loose factor given small probe counts)."""
    from flink_cookbook_spark.operators.relational import bloom_fpr_calibration

    rows = {(r.m_bits, r.k_hashes): r for r in bloom_fpr_calibration(spark, sf_dir).collect()}
    assert len(rows) == 4
    for (m, k), r in rows.items():
        assert 0 <= r.fpr_actual <= 1
        assert 0 <= r.fpr_expected <= 1
        assert r.n_bits_set <= min(m, r.n_members * k)
        assert r.n_false_hits <= r.n_probes
    for k in (2, 4):
        assert rows[(4096, k)].fpr_expected <= rows[(1024, k)].fpr_expected + 1e-9


def test_fk_audit_covers_every_edge_cleanly(spark, sf_dir):
    """The shipped fixture is referentially intact: every edge must
    report zero orphans/NULLs and a match rate of 1."""
    from flink_cookbook_spark.operators.relational import (
        FK_EDGES,
        fk_integrity_audit,
    )

    rows = {r.edge: r for r in fk_integrity_audit(spark, sf_dir).collect()}
    assert set(rows) == {e[0] for e in FK_EDGES}
    for r in rows.values():
        assert r.n_rows > 0
        assert r.n_null_fk == 0
        assert r.n_orphans == 0
        assert abs(r.match_rate - 1.0) < 2e-6


def test_lexical_diversity_bounds(spark, sf_dir):
    """TTR and hapax share are (0,1]; Yule's K is non-negative within
    display rounding; token counts reconcile with the corpus."""
    from flink_cookbook_spark.pipeline.text import lexical_diversity_profile

    rows = lexical_diversity_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.ttr <= 1.0 + 1e-6
        assert 0 < r.hapax_share <= 1.0 + 1e-6
        assert r.yule_k >= -1e-4
        assert r.n_types <= r.n_tokens
        assert r.n_types > 0


def test_degree_distribution_sums_to_node_count(spark, sf_dir):
    """Histogram shares sum to 1, every slope value is the same
    constant, and slope <= 0 (frequency cannot rise with degree on a
    log-log OLS of a heavy-ish tail ... it CAN rise in principle, so
    only assert the constant-ness and finiteness)."""
    import math

    from flink_cookbook_spark.operators.graph import (
        copurchase_degree_distribution,
    )

    rows = copurchase_degree_distribution(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.part_share for r in rows) - 1.0) < 1e-3
    slopes = {r.powerlaw_slope for r in rows}
    assert len(slopes) == 1
    s = slopes.pop()
    if s is not None:
        assert math.isfinite(s)


def test_rank_fusion_is_a_valid_ranking(spark, sf_dir):
    """Each query must emit exactly RRF_TOP_K fused rows with distinct
    fused ranks 1..k; the RRF score must be consistent with the two
    input ranks; and the fused order must follow the score."""
    from flink_cookbook_spark.pipeline.similarity import (
        RRF_K,
        RRF_TOP_K,
        rank_fusion_topk,
    )

    rows = rank_fusion_topk(spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    for q, rs in by_q.items():
        assert sorted(r.fused_rank for r in rs) == list(range(1, RRF_TOP_K + 1))
        rs.sort(key=lambda r: r.fused_rank)
        scores = [r.rrf_score for r in rs]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            expect = 1.0 / (RRF_K + r.rank_cos) + 1.0 / (RRF_K + r.rank_l2)
            assert abs(r.rrf_score - expect) < 2e-6


def test_bootstrap_ci_brackets_the_sample_median(spark, sf_dir):
    """The bootstrap median band must be ordered (p05 <= p50 <= p95)
    and the full-sample median must fall inside the CI (it is the
    statistic being resampled)."""
    from flink_cookbook_spark.operators.stats import (
        BOOT_RESAMPLES,
        bootstrap_median_ci,
    )

    [r] = bootstrap_median_ci(spark, sf_dir).collect()
    assert r.n_resamples == BOOT_RESAMPLES
    assert r.boot_p05 <= r.boot_p50 <= r.boot_p95
    assert r.boot_p05 <= r.sample_median <= r.boot_p95
    assert r.ci_width >= 0
    assert r.n_sample > 0


def test_holt_winters_reduces_to_holt_when_unseasonal(spark, sf_dir):
    """Outputs exist per key with enough points, the seasonal state is
    finite, and the forecast decomposes exactly as l + b + s_next."""
    import math

    from flink_cookbook_spark.operators.forecasting import (
        HW_PERIOD,
        holt_winters_seasonal,
    )

    rows = holt_winters_seasonal(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_points > HW_PERIOD
        for v in (r.level, r.trend, r.seasonal_next, r.forecast_next):
            assert v is not None and math.isfinite(v)
        assert abs(r.forecast_next - (r.level + r.trend + r.seasonal_next)) < 3e-4


def test_theil_sen_matches_numpy_reference(spark, sf_dir):
    """The discrete Theil-Sen slope must equal a direct numpy replay of
    'lower median of pairwise slopes' on the same daily series."""
    import numpy as np

    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.forecasting import theil_sen_trend
    from pyspark.sql import functions as F

    got = {r.event_type: r for r in theil_sen_trend(spark, sf_dir).collect()}
    assert got
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("ts").cast("double") / 86400).cast("long").alias("d"),
        )
        .agg(F.avg("value").alias("v"))
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.d, r.v))
    for et, pts in series.items():
        pts.sort()
        slopes = sorted(
            (
                (v2 - v1) / (d2 - d1)
                for i, (d1, v1) in enumerate(pts)
                for (d2, v2) in pts[i + 1:]
            )
        )
        lower_med = slopes[(len(slopes) + 1) // 2 - 1]
        assert abs(got[et].slope_per_day - lower_med) < 2e-6, et
        assert got[et].n_pairs == len(slopes)


def test_benford_emits_all_digits_and_valid_shares(spark, sf_dir):
    """All nine digits emit (zeros included), shares sum to 1 on both
    axes, and chi2 is a single non-negative constant."""
    from flink_cookbook_spark.operators.stats import benford_law_check

    rows = benford_law_check(spark, sf_dir).collect()
    assert sorted(r.digit for r in rows) == list(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.benford_share for r in rows) - 1.0) < 1e-3
    chis = {r.chi2 for r in rows}
    assert len(chis) == 1 and chis.pop() >= 0


def test_runs_test_counts_reconcile(spark, sf_dir):
    """Above+below must equal the observation count and the run count
    must be between 1 and n_obs."""
    from flink_cookbook_spark.operators.stats import runs_test_randomness

    rows = runs_test_randomness(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_above + r.n_below == r.n_obs
        assert 1 <= r.n_runs <= r.n_obs
        assert r.expected_runs >= 1


def test_coverage_curve_is_monotone(spark, sf_dir):
    """Coverage must be non-decreasing in N and within (0, 1]."""
    from flink_cookbook_spark.pipeline.text import (
        COVERAGE_NS,
        vocab_coverage_curve,
    )

    rows = sorted(vocab_coverage_curve(spark, sf_dir).collect(),
                  key=lambda r: r.n_top)
    assert [r.n_top for r in rows] == sorted(COVERAGE_NS)
    shares = [r.coverage_share for r in rows]
    assert shares == sorted(shares)
    for r in rows:
        assert 0 < r.coverage_share <= 1.0 + 1e-6
        assert r.covered_tokens <= r.total_tokens


def test_token_savings_reconcile_with_exact_dedup(spark, sf_dir):
    """Kept tokens never exceed total; savings in [0, 1); doc counts
    reconcile with the corpus."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.dedup import dedup_token_savings

    rows = dedup_token_savings(spark, sf_dir).collect()
    assert rows
    assert sum(r.n_docs for r in rows) == load(spark, sf_dir, "documents").count()
    for r in rows:
        assert r.n_unique_docs <= r.n_docs
        assert r.tokens_kept <= r.tokens_total
        assert 0 <= r.savings_share < 1


def test_perplexity_is_bounded_by_vocab(spark, sf_dir):
    """Laplace-smoothed perplexity over V outcomes is within [1, V+eps]
    only if transitions were uniform-ish; assert the hard bounds:
    perplexity >= 1 and avg_logp <= 0."""
    from flink_cookbook_spark.operators.timeseries import transition_perplexity

    rows = transition_perplexity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_eval > 0
        assert r.avg_logp <= 1e-6
        assert r.perplexity >= 1.0 - 1e-4


def test_backtest_scores_all_methods_on_same_set(spark, sf_dir):
    """Each key must carry all three methods with identical n_evals and
    exactly one winner (ties permitted only via exact mae equality)."""
    from flink_cookbook_spark.operators.forecasting import forecast_backtest

    rows = forecast_backtest(spark, sf_dir).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.event_type, []).append(r)
    assert by_key
    for et, rs in by_key.items():
        assert sorted(r.method for r in rs) == ["drift", "naive", "seasonal_naive"]
        assert len({r.n_evals for r in rs}) == 1
        winners = [r for r in rs if r.is_best]
        assert winners, et
        best_mae = min(r.mae for r in rs)
        for w in winners:
            assert abs(w.mae - best_mae) < 2e-4


def test_mwu_u_is_in_valid_range(spark, sf_dir):
    """0 <= U <= n_a * n_b, and the expectation is exactly n_a*n_b/2."""
    from flink_cookbook_spark.operators.stats import mann_whitney_u

    rows = mann_whitney_u(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1e-6 <= r.u_stat <= r.n_a * r.n_b + 1e-6
        assert abs(r.u_expected - r.n_a * r.n_b / 2.0) < 0.51


def test_revenue_hierarchy_shares_sum_to_one(spark, sf_dir):
    """Within each region the nation shares sum to 1; the region global
    shares (one distinct value per region) sum to 1 across regions."""
    from flink_cookbook_spark.operators.tpch import revenue_share_hierarchy

    rows = revenue_share_hierarchy(spark, sf_dir).collect()
    assert rows
    by_region: dict = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r)
    for region, rs in by_region.items():
        assert abs(sum(x.share_of_region for x in rs) - 1.0) < 1e-3, region
        assert len({x.region_share_of_global for x in rs}) == 1
    glob = sum({rs[0].region_share_of_global for rs in
                (by_region[k] for k in by_region)})
    assert abs(glob - 1.0) < 1e-3


def test_elasticity_fits_are_well_formed(spark, sf_dir):
    """r2 in [0,1]; level counts within the discount grid; slope defined
    whenever at least two levels exist."""
    from flink_cookbook_spark.operators.tpch import discount_elasticity

    rows = discount_elasticity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_levels <= 11
        if r.r2 is not None:
            assert -1e-6 <= r.r2 <= 1.0 + 1e-6
        if r.n_levels >= 2:
            assert r.elasticity is not None


def test_anova_decomposition_is_consistent(spark, sf_dir):
    """SSB/N + SSW/N must equal the total sum of squares per
    observation computed directly, eta-squared in [0,1], F >= 0.
    (Round 12: the SS columns are per-observation — intensive — so the
    cross-engine hash survives extensive-sum double noise at scale.)"""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.stats import anova_oneway
    from pyspark.sql import functions as F

    [r] = anova_oneway(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    [t] = ev.agg(
        ((F.sum(F.col("value") * F.col("value"))
          - F.sum("value") * F.sum("value") / F.count("*"))
         / F.count("*")).alias("sst_per_obs")
    ).collect()
    got = r.ssb_per_obs + r.ssw_per_obs
    assert abs(got - t.sst_per_obs) < max(1e-4 * abs(t.sst_per_obs), 1e-2)
    assert -1e-6 <= r.eta_squared <= 1.0 + 1e-6
    assert r.f_stat is None or r.f_stat >= 0


def test_kmv_jaccard_tracks_exact(spark, sf_dir):
    """The sketch estimate must be a valid probability and within the
    k-bounded error band of the exact Jaccard (3 standard deviations
    of the binomial at k draws)."""
    from flink_cookbook_spark.operators.relational import (
        KMV_J_K,
        kmv_jaccard_overlap,
    )

    [r] = kmv_jaccard_overlap(spark, sf_dir).collect()
    # display rounding adds the +1e-6 tie nudge, so 1.0 prints 1.000001
    assert 0 <= r.kmv_jaccard <= 1 + 2e-6
    assert 0 <= r.exact_jaccard <= 1 + 2e-6
    pj = min(max(r.exact_jaccard, 0.0), 1.0)  # un-nudge into [0,1]
    sd = (pj * (1 - pj) / KMV_J_K) ** 0.5
    assert r.abs_error <= 3 * sd + 3.0 / KMV_J_K + 1e-6
    assert r.n_inter <= min(r.n_a, r.n_b)
    assert r.n_union >= max(r.n_a, r.n_b)


def test_entropy_rate_information_inequalities(spark, sf_dir):
    """0 <= H_rate <= H_marginal <= ln(V); gain = difference >= 0."""
    import math

    from flink_cookbook_spark.operators.timeseries import markov_entropy_rate

    [r] = markov_entropy_rate(spark, sf_dir).collect()
    assert -1e-6 <= r.h_rate_nats <= r.h_marginal_nats + 1e-6
    assert r.h_marginal_nats <= math.log(5) + 1e-4
    assert abs(
        r.predictability_gain_nats - (r.h_marginal_nats - r.h_rate_nats)
    ) < 3e-6
    assert r.n_bigrams > 0


def test_ltv_curve_is_monotone_per_cohort(spark, sf_dir):
    """Cumulative LTV never decreases with age within a cohort, and
    cohort sizes partition the user base."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.windows import cohort_ltv_curve

    rows = cohort_ltv_curve(spark, sf_dir).collect()
    assert rows
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_wk, []).append(r)
    for wk, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age_wk)
        ltvs = [r.cum_ltv_per_user for r in rs]
        assert ltvs == sorted(ltvs), wk
        assert all(r.age_wk >= 0 for r in rs)
        assert len({r.n_users for r in rs}) == 1
    n_cohort_users = sum(rs[0].n_users for rs in by_cohort.values())
    assert n_cohort_users <= (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )


def test_power_table_is_monotone_in_mde(spark, sf_dir):
    """Bigger effects need fewer samples: n_required must be strictly
    decreasing in the MDE, and every row carries the same baseline."""
    from flink_cookbook_spark.operators.experiments import ab_power_analysis

    rows = sorted(ab_power_analysis(spark, sf_dir).collect(),
                  key=lambda r: r.mde_abs)
    assert len(rows) == 3
    reqs = [r.n_required_per_arm for r in rows]
    assert reqs == sorted(reqs, reverse=True)
    assert len({r.p_base for r in rows}) == 1
    for r in rows:
        assert r.n_required_per_arm > 0
        assert r.powered == (r.n_available_per_arm >= r.n_required_per_arm)


def test_sprt_decision_is_consistent_with_llr_path(spark, sf_dir):
    """A reported crossing must match a direct replay of the LLR walk;
    'continue' means the walk never left the boundaries."""
    import math

    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.experiments import (
        POWER_CONVERT_VALUE,
        SPRT_ALPHA,
        SPRT_BETA,
        SPRT_P0,
        SPRT_P1,
        sprt_sequential_test,
    )
    from pyspark.sql import functions as F

    [r] = sprt_sequential_test(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("double")).alias("t"),
            F.max(((F.col("event_type") == "purchase")
                   & (F.col("value") > POWER_CONVERT_VALUE)).cast("int")
                  ).alias("x"),
        )
        .collect()
    )
    users.sort(key=lambda u: (u.t, u.user_id))
    l1 = math.log(SPRT_P1 / SPRT_P0)
    l0 = math.log((1 - SPRT_P1) / (1 - SPRT_P0))
    upper = math.log((1 - SPRT_BETA) / SPRT_ALPHA)
    lower = math.log(SPRT_BETA / (1 - SPRT_ALPHA))
    llr, crossed_at, decision = 0.0, None, "continue"
    for i, u in enumerate(users, 1):
        llr += u.x * l1 + (1 - u.x) * l0
        if crossed_at is None and (llr >= upper or llr <= lower):
            crossed_at = i
            decision = "accept_h1" if llr >= upper else "accept_h0"
    assert r.n_total == len(users)
    assert r.decided_at_n == crossed_at
    assert r.decision == decision
    assert abs(r.llr_final - llr) < 1e-3


def test_chapman_estimate_is_at_least_the_union(spark, sf_dir):
    """The estimator must be >= the observed union of the two windows
    (it only ADDS unseen mass) and the recapture overlap is bounded by
    both window sizes."""
    from flink_cookbook_spark.operators.stats import capture_recapture_estimate

    [r] = capture_recapture_estimate(spark, sf_dir).collect()
    union_observed = r.n1 + r.n2 - r.m_recaptured
    assert r.m_recaptured <= min(r.n1, r.n2)
    assert r.chapman_estimate >= union_observed - 1e-6
    assert r.estimate_over_truth > 0


def test_fdr_rejections_form_a_prefix_of_sorted_pvalues(spark, sf_dir):
    """BH rejections must be exactly the p-values at or below the
    largest p meeting its critical value — i.e. a prefix of the sorted
    p-value list — and every p is a valid probability."""
    from flink_cookbook_spark.operators.stats import fdr_segment_scan

    rows = sorted(fdr_segment_scan(spark, sf_dir).collect(),
                  key=lambda r: (r.p_value, r.event_type, r.dow))
    assert rows
    for r in rows:
        assert -1e-6 <= r.p_value <= 1.0 + 2e-6
        assert r.bh_critical > 0
    flags = [r.rejected for r in rows]
    # once a False appears, no True may follow (prefix property)
    if False in flags:
        first_false = flags.index(False)
        assert not any(flags[first_false:])


def test_rate_limit_replay_matches_python(spark, sf_dir):
    """The folded bucket must equal a direct Python replay of the same
    recurrence on every user-day, and a burst of >RL_BURST events in
    quick succession must throttle."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.timeseries import (
        RL_BURST,
        RL_REFILL_S,
        rate_limit_simulation,
    )
    from pyspark.sql import functions as F

    got = {(r.user_id, r.day): r for r in rate_limit_simulation(spark, sf_dir).collect()}
    assert got
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id",
                F.floor(F.col("ts").cast("double") / 86400).cast("long").alias("day"),
                F.col("ts").cast("double").alias("t"))
        .collect()
    )
    series: dict = {}
    for r in ev:
        series.setdefault((r.user_id, r.day), []).append(r.t)
    assert set(series) == set(got)
    for key, ts in series.items():
        ts.sort()
        tok, last, thr = RL_BURST - 1.0, ts[0], 0
        for t in ts[1:]:
            tok = min(RL_BURST, tok + (t - last) / RL_REFILL_S)
            if tok >= 1.0:
                tok -= 1.0
            else:
                thr += 1
            last = t
        assert got[key].n_requests == len(ts), key
        assert got[key].n_throttled == thr, key


def test_kappa_never_exceeds_raw_agreement(spark, sf_dir):
    """kappa <= observed agreement always (chance correction can only
    subtract), and both agreements are valid probabilities."""
    from flink_cookbook_spark.pipeline.text import lang_id_agreement_kappa

    [r] = lang_id_agreement_kappa(spark, sf_dir).collect()
    assert 0 <= r.observed_agreement <= 1 + 2e-6
    assert 0 <= r.chance_agreement <= 1 + 2e-6
    if r.cohens_kappa is not None:
        assert r.cohens_kappa <= r.observed_agreement + 1e-6
        assert -1.0 - 1e-6 <= r.cohens_kappa <= 1.0 + 1e-6


def test_return_levels_grow_with_period(spark, sf_dir):
    """The 365-day return level must exceed the 30-day level (strictly,
    when beta > 0), and both must exceed the Gumbel location mu."""
    from flink_cookbook_spark.operators.stats import (
        extreme_value_return_levels,
    )

    rows = extreme_value_return_levels(spark, sf_dir).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.event_type, {})[r.return_period_days] = r
    assert by_key
    for et, d in by_key.items():
        assert set(d) == {30, 365}, et
        if d[30].gumbel_beta and d[30].gumbel_beta > 0:
            assert d[365].return_level > d[30].return_level
            assert d[30].return_level > d[30].gumbel_mu


def test_wasserstein_dominates_ks(spark, sf_dir):
    """For binned distributions on a shared axis, W1 (sum of CDF gaps)
    is >= the single largest gap (KS D) per key; both non-negative."""
    from flink_cookbook_spark.operators.drift import ks_test_drift, wasserstein_drift

    ks = {r.event_type: r for r in ks_test_drift(spark, sf_dir).collect()}
    w1 = {r.event_type: r for r in wasserstein_drift(spark, sf_dir).collect()}
    assert set(ks) == set(w1)
    for et in ks:
        assert w1[et].wasserstein_1 >= -1e-6
        assert w1[et].wasserstein_1 >= ks[et].ks_d - 1e-3, et


def test_logistic_training_improves_over_chance(spark, sf_dir):
    """Five gradient steps from zero must produce a ranking no worse
    than chance (AUC >= 0.5 within noise is NOT guaranteed in theory,
    but the activity feature genuinely predicts conversion on this
    generator, so require AUC > 0.5) and finite coefficients."""
    import math

    from flink_cookbook_spark.operators.mleval import logistic_churn_baseline

    [r] = logistic_churn_baseline(spark, sf_dir).collect()
    assert r.n_users > 0 and 0 < r.n_pos < r.n_users
    for wv in (r.w_intercept, r.w_log_events, r.w_mean_value):
        assert math.isfinite(wv)
    assert r.auc is not None and r.auc > 0.5


def test_smd_table_reports_every_feature(spark, sf_dir):
    """All three features emit; the imbalance flag matches the |smd|
    rule; parity arms on a uniform user grid should rarely flag, but
    only the flag-consistency is asserted."""
    from flink_cookbook_spark.operators.experiments import (
        SMD_FLAG,
        covariate_balance_smd,
    )

    rows = covariate_balance_smd(spark, sf_dir).collect()
    assert sorted(r.feature for r in rows) == [
        "active_days", "mean_value", "n_events",
    ]
    for r in rows:
        if r.smd is not None:
            assert r.imbalanced == (abs(r.smd) > SMD_FLAG) or abs(
                abs(r.smd) - SMD_FLAG
            ) < 2e-4


def test_assortativity_is_a_valid_correlation(spark, sf_dir):
    """|r| <= 1 and the directed edge count is exactly twice the
    undirected one (symmetrized scoring)."""
    from flink_cookbook_spark.operators.graph import graph_assortativity

    [r] = graph_assortativity(spark, sf_dir).collect()
    assert r.n_nodes > 0 and r.n_edges > 0
    if r.assortativity is not None:
        assert abs(r.assortativity) <= 1.0 + 1e-6


def test_concurrency_peaks_are_feasible(spark, sf_dir):
    """Each day's peak is at least 1 and never exceeds the number of
    users; the sweep's global invariant (total starts == total ends)
    forces every day's running count to stay non-negative."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.windows import (
        concurrent_sessions_profile,
    )

    rows = concurrent_sessions_profile(spark, sf_dir).collect()
    assert rows
    n_users = load(spark, sf_dir, "events").select("user_id").distinct().count()
    for r in rows:
        assert 1 <= r.peak_concurrent <= n_users
        assert 0 <= r.peak_hour_utc <= 23


def test_burn_rate_matches_share(spark, sf_dir):
    """burn == (1 - share) / (1 - target) and the alarm flag matches."""
    from flink_cookbook_spark.operators.drift import SLO_TARGET, slo_burn_rate

    rows = slo_burn_rate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.within_slo_share <= 1 + 2e-6
        expect = (1.0 - r.within_slo_share) / (1.0 - SLO_TARGET)
        assert abs(r.burn_rate - expect) < 5e-4
        assert r.n_within_slo <= r.n_converted


def test_nb_fit_recovers_moments(spark, sf_dir):
    """Where overdispersed, the NB parameters must reproduce the
    observed moments: mean = r(1-p)/p and var = mean/p."""
    from flink_cookbook_spark.operators.stats import negative_binomial_fit

    rows = negative_binomial_fit(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.overdispersed == (r.var_count > r.mean_count) or abs(
            r.var_count - r.mean_count
        ) < 2e-4
        if r.nb_r is not None:
            assert r.nb_r > 0 and 0 < r.nb_p <= 1 + 1e-6
            mean_back = r.nb_r * (1 - r.nb_p) / r.nb_p
            assert abs(mean_back - r.mean_count) < max(2e-3 * r.mean_count, 2e-3)
            assert abs(r.mean_count / r.nb_p - r.var_count) < max(
                2e-3 * r.var_count, 2e-3
            )


def test_sliding_kmv_tracks_exact_within_sketch_error(spark, sf_dir):
    """Every windowed estimate must be positive and within the coarse
    KMV error envelope (~3/sqrt(K) relative) of the exact distinct,
    and full windows only (no partial head days)."""
    from flink_cookbook_spark.operators.relational import (
        KMV_W_K,
        sliding_kmv_distinct,
    )

    rows = sliding_kmv_distinct(spark, sf_dir).collect()
    assert rows
    envelope = 4.0 / (KMV_W_K ** 0.5)
    for r in rows:
        assert r.n_exact > 0 and r.kmv_estimate > 0
        # exact when the whole window fits in one sketch
        if r.n_exact <= KMV_W_K:
            assert abs(r.kmv_estimate - r.n_exact) <= max(
                1.0, 0.05 * r.n_exact
            )
        else:
            assert r.rel_error <= envelope, (r, envelope)


def test_cdc_chunks_are_stable_under_insertion(spark, sf_dir):
    """The content-defined property: chunk fingerprints of a document
    far from an edit are unchanged when a token is prepended, while
    fixed-stride chunking (doc_chunking) would shift every window.
    Verified directly on the boundary rule in Python."""
    from flink_cookbook_spark.pipeline.dedup import _portable_hash  # noqa: F401
    import hashlib

    from flink_cookbook_spark.pipeline.dedup import CDC_MOD

    def hash60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def chunks(tokens):
        out, cur = [], []
        for i, t in enumerate(tokens):
            cur.append(t)
            tri = "|".join(tokens[max(0, i - 2): i + 1])
            if hash60(tri) % CDC_MOD == 0:
                out.append(tuple(cur))
                cur = []
        if cur:
            out.append(tuple(cur))
        return out

    base = [f"w{i * 7 % 23}" for i in range(200)]
    edited = ["zzz"] + base
    c1, c2 = set(chunks(base)), set(chunks(edited))
    # all chunks beyond the first boundary survive the edit
    shared = c1 & c2
    assert len(shared) >= len(c1) - 2


def test_column_matching_finds_the_fk_pairs(spark, sf_dir):
    """The known join keys must score as same-domain candidates; a
    cross-domain pair (orderkey vs partkey) must not."""
    from flink_cookbook_spark.operators.relational import (
        column_similarity_matching,
    )

    rows = {
        (r.col_a, r.col_b): r
        for r in column_similarity_matching(spark, sf_dir).collect()
    }
    assert rows[("orders.o_orderkey", "lineitem.l_orderkey")].same_domain_candidate
    assert rows[("orders.o_custkey", "customer.c_custkey")].same_domain_candidate
    assert not rows[("orders.o_orderkey", "lineitem.l_partkey")].same_domain_candidate
    for r in rows.values():
        assert -1e-6 <= r.est_jaccard <= 1 + 2e-6


def test_ucb_replay_accounting_is_consistent(spark, sf_dir):
    """Plays sum to matched steps; matched <= total steps; per-arm mean
    rewards are valid probabilities; every arm row emits."""
    from flink_cookbook_spark.operators.experiments import (
        BANDIT_ARMS,
        ucb_bandit_replay,
    )

    rows = ucb_bandit_replay(spark, sf_dir).collect()
    assert sorted(r.arm for r in rows) == sorted(BANDIT_ARMS)
    total_plays = sum(r.n_plays for r in rows)
    assert len({r.n_matched for r in rows}) == 1
    assert total_plays == rows[0].n_matched <= rows[0].n_steps
    for r in rows:
        if r.mean_reward is not None:
            assert -1e-6 <= r.mean_reward <= 1 + 2e-6
            assert r.ucb_score >= r.mean_reward - 1e-6


def test_simpson_check_has_aggregate_row(spark, sf_dir):
    """The __all__ row exists, never reverses itself, and segment rows
    cover the observed first-event segments."""
    from flink_cookbook_spark.operators.experiments import (
        simpson_reversal_check,
    )

    rows = {r.segment: r for r in simpson_reversal_check(spark, sf_dir).collect()}
    assert "__all__" in rows
    assert not rows["__all__"].reverses_aggregate
    for seg, r in rows.items():
        assert r.n_high_activity + r.n_low_activity > 0


def test_dp_table_scales_inversely_with_epsilon(spark, sf_dir):
    """Laplace scale must be exactly 1/eps and relative error must fall
    as epsilon rises for every statistic."""
    from flink_cookbook_spark.pipeline.curation import dp_noise_calibration

    rows = dp_noise_calibration(spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        assert abs(r.laplace_scale - 1.0 / r.epsilon) < 0.02
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.epsilon)
        errs = [r.expected_rel_error for r in rs]
        assert errs == sorted(errs, reverse=True), et


def test_k_anonymity_shares_reconcile(spark, sf_dir):
    """Class sizes sum to the corpus; the sub-k share equals the direct
    recomputation; min class size is the true minimum."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.pipeline.curation import (
        K_ANON,
        k_anonymity_report,
    )

    rows = k_anonymity_report(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r.class_size for r in rows) == n_docs
    sub_k = sum(r.class_size for r in rows if r.class_size < K_ANON)
    assert abs(rows[0].sub_k_doc_share - sub_k / n_docs) < 2e-6
    assert rows[0].min_class_size == min(r.class_size for r in rows)
    for r in rows:
        assert r.k_anonymous == (r.class_size >= K_ANON)


def test_shapley_efficiency_axiom(spark, sf_dir):
    """Efficiency: the Shapley values must sum to v(full coalition) -
    v(empty) computed directly from the coalition table; every channel
    row must emit."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.timeseries import (
        SHAPLEY_CHANNELS,
        shapley_attribution,
    )
    from pyspark.sql import functions as F

    rows = shapley_attribution(spark, sf_dir).collect()
    assert sorted(r.channel for r in rows) == sorted(SHAPLEY_CHANNELS)
    # recompute v(full) and v(empty) directly
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    first_p = ev.where("event_type = 'purchase'").groupBy("user_id").agg(
        F.min(sec).alias("t_conv")
    )
    touches = ev.join(first_p, "user_id", "left").where(
        F.col("event_type").isin(*SHAPLEY_CHANNELS)
        & (F.col("t_conv").isNull() | (sec < F.col("t_conv")))
    )
    per_user = touches.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("event_type") == ch, 1 << i).otherwise(0)).alias(f"b{i}")
            for i, ch in enumerate(SHAPLEY_CHANNELS)
        ],
        F.max(F.col("t_conv").isNotNull().cast("int")).alias("conv"),
    )
    mask = sum(F.col(f"b{i}") for i in range(len(SHAPLEY_CHANNELS)))
    co = {
        r.mask: r.v
        for r in per_user.groupBy(mask.alias("mask"))
        .agg(F.avg("conv").alias("v"))
        .collect()
    }
    full = (1 << len(SHAPLEY_CHANNELS)) - 1
    expected_total = co.get(full, 0.0) - co.get(0, 0.0)
    got_total = sum(r.shapley_value for r in rows)
    assert abs(got_total - expected_total) < 1e-4


def test_burrows_delta_is_a_metricish_distance(spark, sf_dir):
    """Delta >= 0 for all pairs; all source pairs present exactly once;
    symmetric by construction (only a < b emitted)."""
    from flink_cookbook_spark.pipeline.text import burrows_delta

    rows = burrows_delta(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r.burrows_delta >= -1e-6
        assert r.src_a < r.src_b
        assert (r.src_a, r.src_b) not in seen
        seen.add((r.src_a, r.src_b))
    n_sources = len({s for pair in seen for s in pair})
    assert len(seen) == n_sources * (n_sources - 1) // 2


def test_laspeyres_base_year_is_unity(spark, sf_dir):
    """The base year's own index is exactly 1 and every index is
    positive with a non-trivial common basket."""
    from flink_cookbook_spark.operators.tpch import (
        LASPEYRES_BASE_YEAR,
        laspeyres_price_index,
    )

    rows = {r.ship_year: r for r in laspeyres_price_index(spark, sf_dir).collect()}
    assert LASPEYRES_BASE_YEAR in rows
    assert abs(rows[LASPEYRES_BASE_YEAR].laspeyres_index - 1.0) < 2e-6
    for r in rows.values():
        assert r.laspeyres_index > 0
        assert r.n_common_parts > 0


def test_hurst_is_in_unit_interval(spark, sf_dir):
    """H estimates land in (0, 1) for any real series and the regime
    label matches the estimate's band."""
    from flink_cookbook_spark.operators.forecasting import hurst_exponent

    rows = hurst_exponent(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.hurst_h is not None:
            assert -0.2 < r.hurst_h < 1.2
            if r.hurst_h > 0.55:
                assert r.regime == "persistent"
            elif r.hurst_h < 0.45:
                assert r.regime == "mean_reverting"
            else:
                assert r.regime == "memoryless"


def test_western_electric_counts_are_bounded(spark, sf_dir):
    """Violation counts cannot exceed the hour count and the in-control
    share reconciles with them."""
    from flink_cookbook_spark.operators.drift import western_electric_rules

    rows = western_electric_rules(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.rule1_beyond_3sigma <= r.n_hours
        assert 0 <= r.rule4_nine_one_side <= r.n_hours
        assert 0 <= r.in_control_share <= 1 + 2e-6
        # share >= 1 - (r1 + r4)/n (violations may overlap)
        assert r.in_control_share >= 1 - (
            r.rule1_beyond_3sigma + r.rule4_nine_one_side
        ) / r.n_hours - 1e-4


def test_var_cvar_ordering(spark, sf_dir):
    """CVaR <= VaR always (the tail mean cannot beat its own
    threshold) and the tail count matches the level roughly."""
    from flink_cookbook_spark.operators.tpch import value_at_risk

    [r] = value_at_risk(spark, sf_dir).collect()
    assert r.cvar_daily_change <= r.var_daily_change + 1e-6
    assert 1 <= r.n_tail <= max(1, int(0.10 * r.n_days) + 1)


def test_kendall_tau_bounds_and_reconciliation(spark, sf_dir):
    """|tau| <= 1 and concordant + discordant <= n_pairs (ties absorb
    the remainder)."""
    from flink_cookbook_spark.operators.forecasting import kendall_tau_daily

    [r] = kendall_tau_daily(spark, sf_dir).collect()
    assert abs(r.kendall_tau) <= 1 + 2e-6
    assert r.concordant + r.discordant <= r.n_pairs


def test_conformal_coverage_is_near_target(spark, sf_dir):
    """The split-conformal guarantee: empirical coverage should land
    near 1 - alpha (binomial noise bounds at the eval size) and never
    collapse; q_alpha must be a calibration score (non-negative)."""
    from flink_cookbook_spark.operators.forecasting import (
        CONFORMAL_ALPHA,
        conformal_prediction_interval,
    )

    rows = conformal_prediction_interval(spark, sf_dir).collect()
    assert rows
    target = 1.0 - CONFORMAL_ALPHA
    for r in rows:
        assert r.q_alpha >= 0
        assert r.n_cal > 0 and r.n_eval > 0
        # 4 sigma binomial band around the target (exchangeability is
        # imperfect on a seasonal series, so the band is generous)
        sd = (target * (1 - target) / r.n_eval) ** 0.5
        assert abs(r.empirical_coverage - target) <= 4 * sd + 0.08, r


def test_chao1_never_below_observed(spark, sf_dir):
    """The richness estimate is >= the observed vocabulary and the
    unseen share is in [0, 1)."""
    from flink_cookbook_spark.pipeline.text import chao1_vocabulary_richness

    rows = chao1_vocabulary_richness(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.chao1_estimate >= r.v_obs - 1e-6
        assert 0 <= r.unseen_share < 1
        assert r.f1 + r.f2 <= r.v_obs


def test_ess_never_exceeds_n(spark, sf_dir):
    """With the positive-rho convention, n_eff <= n always and the
    ratio is in (0, 1]."""
    from flink_cookbook_spark.operators.forecasting import (
        effective_sample_size,
    )

    rows = effective_sample_size(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_effective <= r.n_obs + 1e-6
        assert 0 < r.ess_ratio <= 1 + 2e-6
        assert r.rho_sum_pos >= -1e-6
