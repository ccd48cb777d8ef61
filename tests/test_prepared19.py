"""Semantic property tests for the queries tagged ``prepared-r10``.

The driver-identical oracle comparison for every registered query runs
in tests/test_oracle.py; this module keeps the cohort's semantic
property tests."""

from __future__ import annotations

import math


def test_welch_df_and_flag_are_consistent(spark, sf_dir):
    from flink_cookbook_spark.operators.experiments import (
        WELCH_CRIT,
        welch_t_test,
    )

    rows = welch_t_test(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.t_stat is None:
            continue
        # Welch df is bounded by the two-sample extremes
        assert min(r.n_a, r.n_b) - 1 <= r.df_welch <= r.n_a + r.n_b - 2 + 1e-6
        assert r.significant == (abs(r.t_stat) > WELCH_CRIT)


def test_pacf_lag1_equals_acf_and_bounded(spark, sf_dir):
    from flink_cookbook_spark.operators.forecasting import pacf_durbin_levinson

    rows = {r.lag: r for r in pacf_durbin_levinson(spark, sf_dir).collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    # phi_11 == r_1 is the Durbin-Levinson base case, exactly
    assert abs(rows[1].pacf - rows[1].acf) < 1e-9
    for r in rows.values():
        assert abs(r.acf) <= 1.0 + 1e-6
        assert abs(r.pacf) <= 1.0 + 1e-6


def test_nelson_aalen_dominates_km_and_is_monotone(spark, sf_dir):
    """H(t) must be non-decreasing, and exp(-H) >= KM survival at every
    shared event time (-ln(1-x) >= x termwise), with equality only as
    d/n -> 0."""
    from flink_cookbook_spark.operators.stats import (
        kaplan_meier_survival,
        nelson_aalen_hazard,
    )

    na = {
        r.t_hours: r for r in nelson_aalen_hazard(spark, sf_dir).collect()
    }
    km = {r.t_hours: r for r in kaplan_meier_survival(spark, sf_dir).collect()}
    assert na and set(na) == set(km)
    prev = 0.0
    for t in sorted(na):
        r = na[t]
        assert r.cum_hazard >= prev - 1e-9
        prev = r.cum_hazard
        assert r.var_hazard >= 0
        assert math.exp(-r.cum_hazard) >= km[t].survival - 1e-4, t


def test_ewma_first_point_and_bounds(spark, sf_dir):
    """z_1 must equal lambda*x_1 + (1-lambda)*mu0 exactly (the closed
    form at t=1), and every z must sit inside the convex hull of the
    observed daily means and the anchor."""
    from flink_cookbook_spark.operators.drift import (
        EWMA_LAMBDA,
        ewma_control_chart,
    )

    rows = ewma_control_chart(spark, sf_dir).collect()
    assert rows
    by_et: dict = {}
    for r in rows:
        by_et.setdefault(r.event_type, []).append(r)
    for et, rs in by_et.items():
        rs.sort(key=lambda r: r.t)
        xs = [r.x for r in rs]
        # recover mu0 from the t=1 identity
        r1 = rs[0]
        mu0 = (r1.ewma - EWMA_LAMBDA * r1.x) / (1 - EWMA_LAMBDA)
        lo = min(min(xs), mu0) - 1e-3
        hi = max(max(xs), mu0) + 1e-3
        for r in rs:
            assert lo <= r.ewma <= hi, (et, r.t)
            assert r.lcl <= r.ucl
            assert r.out_of_control == (r.ewma > r.ucl or r.ewma < r.lcl)


def test_matryoshka_grid_complete_and_bounded(spark, sf_dir):
    from flink_cookbook_spark.pipeline.similarity import (
        MAT_DIMS,
        MAT_K,
        MAT_QUERIES,
        matryoshka_recall,
    )

    rows = matryoshka_recall(spark, sf_dir).collect()
    assert len(rows) == len(MAT_DIMS) * MAT_QUERIES
    for r in rows:
        assert 0 <= r.n_overlap <= MAT_K
        assert 0.0 <= r.recall_at_k <= 1.0 + 1e-9
    # the full-dim list is its own truth: a degenerate sanity anchor —
    # at least one prefix dim should recover something at any SF
    assert any(r.n_overlap > 0 for r in rows)


def test_stump_has_one_best_and_nonneg_gains(spark, sf_dir):
    from flink_cookbook_spark.operators.mleval import decision_stump_split

    rows = decision_stump_split(spark, sf_dir).collect()
    assert rows
    best = [r for r in rows if r.is_best]
    assert len(best) == 1
    top = max(r.info_gain for r in rows)
    assert abs(best[0].info_gain - top) < 1e-9
    for r in rows:
        # information gain is non-negative up to display rounding
        assert r.info_gain >= -1e-4
        assert r.n_left > 0 and r.n_right > 0
    # each feature's splits partition the same population
    totals = {(r.feature): r.n_left + r.n_right for r in rows}
    assert len(set(totals.values())) == 1


def test_precision_recall_identities(spark, sf_dir):
    from flink_cookbook_spark.pipeline.retrieval import (
        TOP_K,
        retrieval_precision_recall_at_k,
    )

    rows = retrieval_precision_recall_at_k(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_rel_topk <= min(TOP_K, max(r.n_rel_total, 1))
        # the display nudge (+1e-6 before rounding) can carry an exact
        # 1.0 to 1.000001 — the driver hash is unaffected (both sides
        # nudge identically); the bound here allows it
        assert 0.0 <= r.precision_at_k <= 1.0 + 2e-6
        assert 0.0 <= r.recall_at_k <= 1.0 + 2e-6
        p, rr = r.n_rel_topk / TOP_K, r.n_rel_topk / max(r.n_rel_total, 1)
        if p + rr > 0:
            assert abs(r.f1_at_k - 2 * p * rr / (p + rr)) < 1e-4


def test_page_hinkley_stat_nonneg_and_flag_consistent(spark, sf_dir):
    from flink_cookbook_spark.operators.drift import (
        PH_LAMBDA,
        page_hinkley_drift,
    )

    rows = page_hinkley_drift(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # PH excursion m_t - min m is non-negative by construction
        assert r.ph_stat >= -1e-6
        assert r.alarm == (r.ph_stat > PH_LAMBDA)


def test_theil_additivity_and_nonneg(spark, sf_dir):
    """The decomposition identity T = B + W must hold exactly (up to
    display rounding), and every component is non-negative up to the
    same rounding."""
    from flink_cookbook_spark.pipeline.text import theil_decomposition

    rows = theil_decomposition(spark, sf_dir).collect()
    assert rows
    r = rows[0]
    assert abs(r.theil_total - (r.theil_between + r.theil_within)) < 5e-6
    assert r.theil_total >= -1e-5
    assert r.theil_within >= -1e-5
    for row in rows:
        assert row.theil_within_group >= -1e-5
    assert abs(sum(row.token_share for row in rows) - 1.0) < 1e-4


def test_kruskal_wallis_rank_identities(spark, sf_dir):
    """Weighted mean of the group mean ranks must equal the global mean
    rank (N+1)/2; H >= 0; tie-corrected H >= H."""
    from flink_cookbook_spark.operators.stats import kruskal_wallis_binned

    rows = kruskal_wallis_binned(spark, sf_dir).collect()
    assert rows
    n = sum(r.n_obs for r in rows)
    grand = sum(r.n_obs * r.mean_rank for r in rows) / n
    assert abs(grand - (n + 1) / 2.0) < 1e-2
    r0 = rows[0]
    assert r0.h_stat >= -1e-6
    assert r0.h_corrected >= r0.h_stat - 1e-6
    assert r0.df == len(rows) - 1


def test_ks_separation_bounded_and_threshold(spark, sf_dir):
    from flink_cookbook_spark.operators.mleval import (
        KSSEP_BINS,
        score_ks_separation,
    )

    [r] = score_ks_separation(spark, sf_dir).collect()
    assert 0.0 <= r.ks_stat <= 1.0 + 2e-6
    assert 0 <= r.ks_bin < KSSEP_BINS
    assert 0 < r.n_pos < r.n_total


def test_mmd_kernel_bounds_and_self_null(spark, sf_dir):
    """Kernel means live in (0, 1]; the linear MMD estimate of two
    halves of the SAME generator should be small (well under the
    within-group kernel mass), and |mmd| <= 2 trivially."""
    from flink_cookbook_spark.pipeline.similarity import mmd_linear_drift

    [r] = mmd_linear_drift(spark, sf_dir).collect()
    assert r.n_quadruples > 0
    for v in (r.mean_k_within_a, r.mean_k_within_b, r.mean_k_cross):
        assert 0.0 < v <= 1.0 + 2e-6
    assert abs(r.mmd_linear) <= 2.0


def test_mann_kendall_bounds_and_flag(spark, sf_dir):
    """|S| is bounded by the number of pairs; variance positive; the
    trend label must agree with the rounded Z against the critical
    value."""
    from flink_cookbook_spark.operators.forecasting import (
        MK_Z_CRIT,
        mann_kendall_trend,
    )

    rows = mann_kendall_trend(spark, sf_dir).collect()
    assert rows
    for r in rows:
        n_pairs = r.n_days * (r.n_days - 1) // 2
        assert abs(r.s_stat) <= n_pairs
        assert r.var_s > 0
        expect = (
            "increasing" if r.z_stat > MK_Z_CRIT
            else "decreasing" if r.z_stat < -MK_Z_CRIT
            else "no_trend"
        )
        assert r.trend == expect


def test_perplexity_bounds(spark, sf_dir):
    """Cross-entropy of a proper (sub-unit) smoothed LM is positive, so
    perplexity > 1; OOV share lives in [0, 1]; perplexity must equal
    2^H for the emitted (rounded) H."""
    from flink_cookbook_spark.pipeline.text import unigram_perplexity_split

    rows = unigram_perplexity_split(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.perplexity > 1.0
        assert 0.0 <= r.oov_share <= 1.0
        assert r.n_oov <= r.n_tokens
        assert abs(r.perplexity - 2.0 ** r.cross_entropy_bits) < max(
            1e-3, r.perplexity * 1e-5
        )


def test_js_divergence_bounds_and_pair_count(spark, sf_dir):
    """JS divergence in bits is bounded [0, 1]; shared masses are
    probabilities; pairs are emitted once with source_a < source_b."""
    from flink_cookbook_spark.pipeline.text import (
        jensen_shannon_source_divergence,
    )

    rows = jensen_shannon_source_divergence(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.source_a < r.source_b
        assert (r.source_a, r.source_b) not in seen
        seen.add((r.source_a, r.source_b))
        assert -1e-6 <= r.js_divergence_bits <= 1.0 + 1e-6
        assert 0.0 < r.shared_mass_a <= 1.0 + 2e-6
        assert 0.0 < r.shared_mass_b <= 1.0 + 2e-6


def test_levene_identities(spark, sf_dir):
    """W >= 0; df1 = k - 1 with k the emitted group count; df2 = N - k
    with N the summed group sizes; the constant columns are constant."""
    from flink_cookbook_spark.operators.stats import levene_variance_test

    rows = levene_variance_test(spark, sf_dir).collect()
    assert rows
    k = len(rows)
    n = sum(r.n_g for r in rows)
    for r in rows:
        assert r.w_stat >= -1e-6
        assert r.df1 == k - 1
        assert r.df2 == n - k
        assert r.mean_abs_dev >= 0
    assert len({r.w_stat for r in rows}) == 1


def test_friedman_rank_identities(spark, sf_dir):
    """Complete blocks: every treatment sees the same n_days; the mean
    of the per-treatment mean ranks is (k+1)/2; Q >= 0 (it is a sum of
    squared centred rank sums); df = k-1."""
    from flink_cookbook_spark.operators.stats import friedman_test

    rows = friedman_test(spark, sf_dir).collect()
    assert rows
    k = len(rows)
    assert len({r.n_days for r in rows}) == 1
    grand = sum(r.mean_rank for r in rows) / k
    assert abs(grand - (k + 1) / 2.0) < 1e-3
    r0 = rows[0]
    assert r0.q_stat >= -1e-4
    assert r0.df == k - 1


def test_readability_components_positive(spark, sf_dir):
    from flink_cookbook_spark.pipeline.text import readability_scores

    rows = readability_scores(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_docs > 0
        assert r.avg_words > 0
        assert r.avg_syllables_per_word > 0
        # FRE and FK grade move in opposite directions with s/w — both
        # are finite, and grade is bounded below by its constant term
        assert r.avg_fk_grade > -15.59


def test_spearman_bounds_and_symmetric_grid(spark, sf_dir):
    """rho in [-1, 1]; every (pair, lag) cell appears once; lag-0
    overlap must be the largest (shifting can only shrink it)."""
    from flink_cookbook_spark.operators.forecasting import (
        SPEARMAN_MAX_LAG,
        spearman_lead_lag,
    )

    rows = spearman_lead_lag(spark, sf_dir).collect()
    assert rows
    cells = {}
    for r in rows:
        assert r.type_a < r.type_b
        assert 0 <= r.lag <= SPEARMAN_MAX_LAG
        assert -1.0 - 2e-6 <= r.spearman_rho <= 1.0 + 2e-6
        cells[(r.type_a, r.type_b, r.lag)] = r.n_days
    assert len(cells) == len(rows)
    for (a, b, lag), n in cells.items():
        if lag > 0:
            assert n <= cells[(a, b, 0)]


def test_adf_flag_and_rho_identity(spark, sf_dir):
    from flink_cookbook_spark.operators.forecasting import (
        ADF_CRIT,
        adf_unit_root_proxy,
    )

    rows = adf_unit_root_proxy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.rho - (r.beta + 1.0)) < 2e-6
        assert r.unit_root_plausible == (r.tau_stat > ADF_CRIT)
        assert r.n_obs > 2


def test_mutual_information_identities(spark, sf_dir):
    """MI >= 0; cell contributions must sum to the constant mi_bits;
    normalized MI in [0, 1]; joint probabilities sum to 1."""
    from flink_cookbook_spark.operators.stats import mutual_information_profile

    rows = mutual_information_profile(spark, sf_dir).collect()
    assert rows
    r0 = rows[0]
    assert r0.mi_bits >= -1e-6
    assert -1e-6 <= r0.normalized_mi <= 1.0 + 1e-6
    assert abs(sum(r.p_joint for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.mi_contribution_bits for r in rows) - r0.mi_bits) < 1e-3
    assert len({(r.event_type, r.dow) for r in rows}) == len(rows)


def test_odds_ratio_identities(spark, sf_dir):
    """CI must bracket the point estimate; significance = CI excludes
    1; the 2x2 cells partition the type's events."""
    from flink_cookbook_spark.operators.stats import odds_ratio_table

    rows = odds_ratio_table(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.or_ci_lo <= r.odds_ratio <= r.or_ci_hi
        assert r.significant == (r.or_ci_lo > 1.0 or r.or_ci_hi < 1.0)
        assert r.relative_risk > 0
        assert min(r.a, r.b, r.c, r.d) >= 0
        assert r.a + r.b + r.c + r.d > 0


def test_cochran_q_identities(spark, sf_dir):
    """Q >= 0; df = k-1; every treatment sees the same complete-block
    count; column successes bounded by block count."""
    from flink_cookbook_spark.operators.stats import cochran_q_test

    rows = cochran_q_test(spark, sf_dir).collect()
    assert rows
    k = len(rows)
    assert len({r.n_days for r in rows}) == 1
    for r in rows:
        assert 0 <= r.days_above_median <= r.n_days
        assert r.q_stat >= -1e-6
        assert r.df == k - 1


def test_seasonal_strengths_bounded(spark, sf_dir):
    from flink_cookbook_spark.operators.forecasting import (
        seasonal_strength_profile,
    )

    rows = seasonal_strength_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.seasonal_strength <= 1.0 + 2e-6
        assert 0.0 <= r.trend_strength <= 1.0 + 2e-6
        assert r.var_daily > 0
        assert r.n_days > 7


def test_ljung_box_identities(spark, sf_dir):
    """Q >= 0 (sum of squares); every r_k bounded by 1; flag reads the
    rounded Q against the chi-square critical value."""
    from flink_cookbook_spark.operators.forecasting import (
        LB_CRIT,
        LB_LAGS,
        ljung_box_test,
    )

    rows = ljung_box_test(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.q_stat >= -1e-6
        assert r.df == LB_LAGS
        for k in range(1, LB_LAGS + 1):
            assert abs(getattr(r, f"r{k}")) <= 1.0 + 1e-5
        assert r.whiteness_rejected == (r.q_stat > LB_CRIT)
        assert r.n_days > LB_LAGS + 2


def test_granger_grid_and_f_nonneg(spark, sf_dir):
    """Every ordered pair appears once; F >= 0 (adding a regressor
    cannot increase SSE); flag reads the rounded F."""
    from flink_cookbook_spark.operators.forecasting import (
        GRANGER_CRIT,
        granger_causality_proxy,
    )

    rows = granger_causality_proxy(spark, sf_dir).collect()
    assert rows
    types = {r.type_a for r in rows} | {r.type_b for r in rows}
    assert len(rows) == len(types) * (len(types) - 1)
    for r in rows:
        assert r.type_a != r.type_b
        assert r.f_stat >= -1e-4
        assert r.granger_causal == (r.f_stat > GRANGER_CRIT)
        assert r.n_obs > 3


def test_poisson_rate_identities(spark, sf_dir):
    """CI must bracket the rate ratio; observed rates reproduce from
    counts and exposures; significance reads the rounded z."""
    from flink_cookbook_spark.operators.stats import poisson_rate_ratio_test

    rows = poisson_rate_ratio_test(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.rr_ci_lo <= r.rate_ratio <= r.rr_ci_hi
        assert r.significant == (abs(r.z_stat) > 1.96)
        assert abs(r.rate_weekend - r.n_we / r.days_we) < 1e-3
        assert abs(r.rate_weekday - r.n_wd / r.days_wd) < 1e-3
        # weekend days are 2/7 of the calendar: exposure sanity
        assert 0 < r.days_we < r.days_wd


def test_mcnemar_cells_and_flag(spark, sf_dir):
    from flink_cookbook_spark.operators.stats import MCNEMAR_CRIT, mcnemar_test

    rows = mcnemar_test(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.b + r.c <= r.n_pairs
        assert r.chi2_stat >= -1e-6
        assert r.asymmetric_flips == (r.chi2_stat > MCNEMAR_CRIT)


def test_isotonic_monotone_and_mass_preserving(spark, sf_dir):
    """The fitted rates must be non-decreasing in the score bin, sit in
    [0,1], and preserve the weighted total (the PAV invariant)."""
    from flink_cookbook_spark.operators.mleval import (
        isotonic_calibration_binned,
    )

    rows = sorted(
        isotonic_calibration_binned(spark, sf_dir).collect(),
        key=lambda r: r.bin,
    )
    assert rows
    prev = -1.0
    for r in rows:
        assert r.isotonic_rate >= prev - 1e-9, r.bin
        prev = r.isotonic_rate
        assert -1e-6 <= r.isotonic_rate <= 1.0 + 2e-6
        assert abs(r.empirical_rate - r.s / r.n) < 1e-4
    total_emp = sum(r.s for r in rows)
    total_iso = sum(r.n * r.isotonic_rate for r in rows)
    assert abs(total_iso - total_emp) < max(1.0, 1e-3 * total_emp)


def test_hill_curve_shapes(spark, sf_dir):
    """One row per depth; H > 0; alpha = 1/H; thresholds decrease as k
    deepens (order statistics are sorted)."""
    from flink_cookbook_spark.operators.stats import HILL_KS, hill_tail_index

    rows = {r.k: r for r in hill_tail_index(spark, sf_dir).collect()}
    assert sorted(rows) == sorted(HILL_KS)
    for k, r in rows.items():
        assert r.hill_h > 0
        assert abs(r.tail_alpha - 1.0 / r.hill_h) < max(
            1e-3, r.tail_alpha * 1e-3
        )
    ks = sorted(rows)
    for k1, k2 in zip(ks, ks[1:]):
        assert rows[k2].threshold <= rows[k1].threshold + 1e-9


def test_hubness_mass_conservation(spark, sf_dir):
    """Total k-occurrence mass must equal the number of emitted top-k
    slots (HUB_QUERIES * HUB_K when the corpus is large enough);
    antihub share consistent with appearing count."""
    from flink_cookbook_spark.pipeline.similarity import (
        HUB_K,
        HUB_QUERIES,
        hubness_score,
    )

    rows = hubness_score(spark, sf_dir).collect()
    assert rows
    r0 = rows[0]
    total = sum(r.k_occurrence for r in rows)
    assert total == HUB_QUERIES * HUB_K
    assert len(rows) == r0.n_appearing
    assert abs(
        r0.antihub_share - (r0.n_corpus - r0.n_appearing) / r0.n_corpus
    ) < 1e-4
    for r in rows:
        assert 1 <= r.k_occurrence <= HUB_QUERIES


def test_ngram_coverage_bounds(spark, sf_dir):
    """Coverages are probabilities; occurrence coverage >= distinct
    coverage is NOT an identity (frequent bigrams pull it up), but
    both must be positive on the repetitive synthetic corpus."""
    from flink_cookbook_spark.pipeline.text import ngram_coverage_overlap

    rows = ngram_coverage_overlap(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.occurrence_coverage <= 1.0 + 2e-6
        assert 0.0 < r.distinct_coverage <= 1.0 + 2e-6
        assert 0 < r.n_distinct_bigrams <= r.n_bigrams


def test_boilerplate_clusters_are_plural(spark, sf_dir):
    from flink_cookbook_spark.pipeline.dedup import boilerplate_prefix_clusters

    rows = boilerplate_prefix_clusters(spark, sf_dir).collect()
    # the synthetic corpus draws from a small template pool, so some
    # prefix collisions must exist at every SF
    assert rows
    assert len({r.prefix_hash for r in rows}) == len(rows)
    for r in rows:
        assert r.n_docs > 1
        assert 1 <= r.n_sources <= r.n_docs


def test_jl_distortion_concentrates(spark, sf_dir):
    """Every ratio is positive; the mean ratio must concentrate near 1
    (unbiasedness of the +-1 projection) within a loose JL-style
    band for 8 output dims."""
    from flink_cookbook_spark.pipeline.similarity import (
        random_projection_distortion,
    )

    rows = random_projection_distortion(spark, sf_dir).collect()
    assert rows
    r0 = rows[0]
    assert 0.5 < r0.mean_ratio < 1.5
    assert r0.max_abs_dev >= 0
    for r in rows:
        assert r.true_d2 > 0
        assert r.distortion_ratio > 0
        assert abs(r.distortion_ratio - 1) <= r0.max_abs_dev + 1e-4


def test_abc_xyz_grid_identities(spark, sf_dir):
    """Revenue shares sum to 1; class labels come from the legal
    alphabets; A-class cells cannot be outnumbered by their revenue
    rank (A holds the top revenue percentile, so its per-part mean
    revenue share must exceed C's)."""
    from flink_cookbook_spark.operators.tpch import abc_xyz_classification

    rows = abc_xyz_classification(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.class_abc in {"A", "B", "C"}
        assert r.class_xyz in {"X", "Y", "Z"}
        assert r.n_parts > 0
        assert r.avg_demand_cv >= -1e-6
    by_abc: dict = {}
    for r in rows:
        a = by_abc.setdefault(r.class_abc, [0, 0.0])
        a[0] += r.n_parts
        a[1] += r.revenue_share
    if "A" in by_abc and "C" in by_abc:
        per_a = by_abc["A"][1] / by_abc["A"][0]
        per_c = by_abc["C"][1] / by_abc["C"][0]
        assert per_a > per_c


def test_lead_time_percentiles_ordered(spark, sf_dir):
    from flink_cookbook_spark.operators.tpch import ship_lead_time_profile

    rows = ship_lead_time_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50 <= r.p90 <= r.p99
        assert 0.0 <= r.late_share <= 1.0 + 2e-6
        assert r.n_lines > 0
        assert r.mean_lead_days >= 0


def test_supplier_concentration_identities(spark, sf_dir):
    """HHI of an n-supplier split lives in [1/n, 1]; the single-source
    bucket (n=1) must have HHI exactly 1; bucket part counts sum to the
    catalog size implied by the constant share."""
    from flink_cookbook_spark.operators.tpch import (
        supplier_concentration_by_part,
    )

    rows = supplier_concentration_by_part(spark, sf_dir).collect()
    assert rows
    total = sum(r.n_parts for r in rows)
    for r in rows:
        assert 1.0 / r.n_suppliers - 1e-6 <= r.avg_hhi <= 1.0 + 2e-6
        if r.n_suppliers == 1:
            assert abs(r.avg_hhi - 1.0) < 2e-6
            assert abs(r.single_source_share - r.n_parts / total) < 1e-4


def test_unit_price_dispersion_flags(spark, sf_dir):
    from flink_cookbook_spark.operators.tpch import (
        UPD_CV_FLAG,
        unit_price_dispersion,
    )

    rows = unit_price_dispersion(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.mean_unit_price > 0
        assert r.price_cv >= -1e-9
        assert r.dispersed == (r.price_cv > UPD_CV_FLAG)


# --------------------------------------------------------------------------
# constructed-fixture axiom tests (independent of the DuckDB oracle,
# which shares the formula — these pin the formula itself)
# --------------------------------------------------------------------------

_MONTH = 1704067200  # 2024-01-01 UTC


def _write_events(spark, base, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows,
        "event_id long, tsec long, user_id long, event_type string,"
        " value double",
    ).select(
        "event_id",
        F.timestamp_seconds("tsec").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.write.parquet(f"{base}/events.parquet")


def test_mann_kendall_closed_form_on_constructed_series(
    spark, tmp_path_factory
):
    """A strictly linear daily series must give S = n(n-1)/2, Sen's
    slope EXACTLY the construction slope, and trend 'increasing'; a
    constant series must give S = 0, slope 0, 'no_trend' (its
    variance degenerates under full tie correction and the z branch
    must return 0, not NaN)."""
    from flink_cookbook_spark.operators.forecasting import mann_kendall_trend

    base = str(tmp_path_factory.mktemp("mk_fx") / "lin")
    rows = []
    eid = 0
    n_days = 30
    for d in range(n_days):
        t = _MONTH + d * 86400 + 3600
        rows.append((eid, t, d, "rising", 5.0 + 0.5 * d)); eid += 1
        rows.append((eid, t, d, "flat", 7.0)); eid += 1
    _write_events(spark, base, rows)
    got = {r.event_type: r for r in mann_kendall_trend(spark, base).collect()}
    r = got["rising"]
    assert r.n_days == n_days
    assert r.s_stat == n_days * (n_days - 1) // 2
    assert abs(r.sen_slope_per_day - 0.5) < 1e-5
    assert r.trend == "increasing"
    f = got["flat"]
    assert f.s_stat == 0
    assert abs(f.sen_slope_per_day) < 1e-5
    assert f.trend == "no_trend"
    assert f.z_stat == 0.0


def test_friedman_closed_form_on_constant_ordering(spark, tmp_path_factory):
    """Three treatments with the SAME ordering every day: ranks are
    (1,2,3) in every block, so Q = 12/(n*k*(k+1)) * n^2*(1+4+9)
    - 3n(k+1) = 20 for n = 10 — checked against the hand computation,
    plus exact mean ranks."""
    from flink_cookbook_spark.operators.stats import friedman_test

    base = str(tmp_path_factory.mktemp("fr_fx") / "const")
    rows = []
    eid = 0
    for d in range(10):
        t = _MONTH + d * 86400 + 3600
        for j, (et, v) in enumerate(
            [("low", 1.0), ("mid", 2.0), ("high", 3.0)]
        ):
            rows.append((eid, t + j, d, et, v)); eid += 1
    _write_events(spark, base, rows)
    got = {r.event_type: r for r in friedman_test(spark, base).collect()}
    # the +1e-6 display nudge rides on the 6-dp columns
    assert abs(got["low"].mean_rank - 1.0) < 2e-6
    assert abs(got["mid"].mean_rank - 2.0) < 2e-6
    assert abs(got["high"].mean_rank - 3.0) < 2e-6
    r = got["low"]
    assert r.n_days == 10
    assert abs(r.q_stat - 20.0) < 1e-3
    assert r.df == 2


def test_isotonic_matches_sequential_pav(spark, sf_dir):
    """The minimax-formula isotonic fit must equal the classic
    sequential pool-adjacent-violators algorithm run IN THE TEST on
    the operator's own (n, empirical_rate) bins — an independent
    implementation of the same optimization, no SQL involved."""
    from flink_cookbook_spark.operators.mleval import (
        isotonic_calibration_binned,
    )

    rows = sorted(
        isotonic_calibration_binned(spark, sf_dir).collect(),
        key=lambda r: r.bin,
    )
    assert rows
    # sequential weighted PAV over (weight, mean) blocks
    blocks = [[r.n, r.s / r.n] for r in rows]
    stack: list = []
    for w, m in blocks:
        stack.append([w, m])
        while len(stack) > 1 and stack[-2][1] > stack[-1][1] - 1e-15:
            w2, m2 = stack.pop()
            w1, m1 = stack.pop()
            stack.append([w1 + w2, (w1 * m1 + w2 * m2) / (w1 + w2)])
    fitted = []
    for w, m in stack:
        # expand back to per-bin values (blocks preserve bin order)
        n_bins = 0
        acc = 0
        while acc < w:
            acc += blocks[len(fitted) + n_bins][0]
            n_bins += 1
        fitted.extend([m] * n_bins)
    assert len(fitted) == len(rows)
    for r, m in zip(rows, fitted):
        assert abs(r.isotonic_rate - m) < 5e-6, r.bin


def test_granger_directionality_on_constructed_pair(
    spark, tmp_path_factory
):
    """Construct b(t) = a(t-1) + tiny deterministic wiggle from an
    aperiodic base series: the a -> b direction must show a (vastly)
    larger F than b -> a, and only a -> b may clear the causal flag —
    the directionality property that IS the point of the test."""
    from flink_cookbook_spark.operators.forecasting import (
        granger_causality_proxy,
    )

    base_vals = [
        5.0, 9.2, 6.1, 10.5, 7.3, 11.8, 4.4, 8.9, 12.6, 6.7,
        10.1, 5.5, 9.8, 13.2, 7.9, 11.3, 6.2, 10.9, 8.4, 12.1,
        5.8, 9.5, 13.7, 7.1, 11.6, 6.9, 10.3, 8.8, 12.9, 7.6,
    ]
    base = str(tmp_path_factory.mktemp("gr_fx") / "pair")
    rows = []
    eid = 0
    for d, v in enumerate(base_vals):
        t = _MONTH + d * 86400 + 3600
        rows.append((eid, t, d, "a", v)); eid += 1
        if d >= 1:
            wiggle = 0.001 * ((d % 3) - 1)
            rows.append((eid, t + 1, d, "b", base_vals[d - 1] + wiggle))
            eid += 1
    _write_events(spark, base, rows)
    got = {
        (r.type_a, r.type_b): r
        for r in granger_causality_proxy(spark, base).collect()
    }
    fwd, rev = got[("a", "b")], got[("b", "a")]
    assert fwd.f_stat > 100 * max(rev.f_stat, 1e-9)
    assert fwd.granger_causal
    assert not rev.granger_causal


def test_page_hinkley_alarms_after_constructed_shift(
    spark, tmp_path_factory
):
    """A flat series that jumps +20 on day 20 must not alarm before
    the shift and MUST alarm within a few post-shift days (each
    post-shift day adds ~(20 - running-mean drift - delta) to the
    excursion, crossing lambda = 10 almost immediately)."""
    from flink_cookbook_spark.operators.drift import page_hinkley_drift

    base = str(tmp_path_factory.mktemp("ph_fx") / "shift")
    rows = []
    eid = 0
    shift_day = 20
    for d in range(30):
        t = _MONTH + d * 86400 + 3600
        v = 10.0 if d < shift_day else 30.0
        rows.append((eid, t, d, "metric", v)); eid += 1
    _write_events(spark, base, rows)
    out = sorted(
        page_hinkley_drift(spark, base).collect(),
        key=lambda r: r.day_start,
    )
    assert len(out) == 30
    shift_ts = _MONTH + shift_day * 86400
    for r in out:
        if r.day_start < shift_ts:
            assert not r.alarm, r.day_start
    alarmed = [r for r in out if r.alarm]
    assert alarmed
    first = min(r.day_start for r in alarmed)
    assert shift_ts <= first <= shift_ts + 2 * 86400
