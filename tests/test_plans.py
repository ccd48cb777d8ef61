"""Physical-plan shape assertions: scale hygiene pinned by tests.

These fail if a future change silently degrades a plan (filter stops
pushing down, a dimension join stops broadcasting, a top-k becomes a
global sort) — the regressions that only hurt at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.plans.explain import (
    count_exchanges,
    has_broadcast_join,
    has_cartesian,
    is_take_ordered,
    pushed_filters,
    read_schema_columns,
    uses_whole_stage_codegen,
)


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    from flink_cookbook_spark.operators.tpch import q6_forecast_revenue

    df = q6_forecast_revenue(spark, sf_dir)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters
    assert any("l_discount" in f for f in filters), filters
    assert any("l_quantity" in f for f in filters), filters


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must scan only those columns (lineitem has 11)."""
    li = load(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    assert read_schema_columns(df) == {"l_orderkey", "l_quantity"}


def test_q1_scans_only_needed_columns(spark, sf_dir):
    from flink_cookbook_spark.operators.tpch import q1_pricing_summary

    cols = read_schema_columns(q1_pricing_summary(spark, sf_dir))
    assert cols == {
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate",
    }


def test_dimension_joins_broadcast(spark, sf_dir):
    from flink_cookbook_spark.operators.tpch import q5_local_supplier_volume

    assert has_broadcast_join(q5_local_supplier_volume(spark, sf_dir))


def test_global_topk_is_take_ordered(spark, sf_dir):
    from flink_cookbook_spark.operators.relational import top_orders_global

    df = top_orders_global(spark, sf_dir)
    assert is_take_ordered(df)


def test_no_cartesian_in_joins(spark, sf_dir):
    from flink_cookbook_spark.operators.relational import join_interval
    from flink_cookbook_spark.pipeline.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    for df in (
        join_interval(spark, sf_dir),
        ngram_jaccard_pairs(spark, sf_dir),
        minhash_lsh_pairs(spark, sf_dir),
    ):
        assert not has_cartesian(df)


def test_window_agg_single_shuffle(spark, sf_dir):
    """The 5-min window aggregate is one hash exchange (partial agg
    map-side, final agg post-shuffle)."""
    from flink_cookbook_spark.operators.metrics import five_min_window_agg

    assert count_exchanges(five_min_window_agg(spark, sf_dir)) == 1


def test_asof_join_single_shuffle_per_side(spark, sf_dir):
    """As-of joins must never expand into a range join / per-key cross
    product. Two shapes are pinned:

    - derived-baseline sweeps (latest/next_baseline_join): baselines come
      from the SAME windowed relation, so the whole query is window
      passes over one scan — no Union, and no exchange beyond the memo
      build's own two (round-14 rewrite).
    - the generic two-relation union sweep (asof_tolerance_join): one
      union, one key exchange, window sweep."""
    from flink_cookbook_spark.operators.metrics import (
        asof_tolerance_join,
        latest_baseline_join,
    )
    from flink_cookbook_spark.plans.explain import formatted_plan

    # warm the windowed memo first: a cold cached relation reports
    # unknown partitioning at planning time, which adds an
    # ENSURE_REQUIREMENTS exchange the executed plan elides
    latest_baseline_join(spark, sf_dir).count()
    df = latest_baseline_join(spark, sf_dir)
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "Union" not in plan, "derived-baseline sweep regrew its union"
    # every exchange in the plan must sit INSIDE the memo-build lineage
    # (the InMemoryRelation subtree); the sweep above the cache scan adds
    # none — the tree section before the first InMemoryRelation is pure
    # Window/Sort/Project/Filter
    sweep_section = plan.split("InMemoryRelation", 1)[0]
    assert "Exchange" not in sweep_section, sweep_section

    tol = asof_tolerance_join(spark, sf_dir)
    assert not has_cartesian(tol)
    assert count_exchanges(tol) <= 5


def test_codegen_in_scalar_paths(spark, sf_dir):
    from flink_cookbook_spark.functions.scalars import math_funcs, string_funcs

    assert uses_whole_stage_codegen(string_funcs(spark, sf_dir))
    assert uses_whole_stage_codegen(math_funcs(spark, sf_dir))


def test_events_scan_prunes_for_window_agg(spark, sf_dir):
    """The flagship path reads only (ts, user_id, value) from events."""
    from flink_cookbook_spark.operators.metrics import zscore_flags

    cols = read_schema_columns(zscore_flags(spark, sf_dir))
    assert cols == {"ts", "user_id", "value"}

def test_late_data_drop_watermark_window_is_partitioned(spark, sf_dir):
    """The running-max watermark must be tracked per ingest partition —
    an unpartitioned ordered window moves ALL events through one task at
    scale (the per-source-split tracking real watermarks use)."""
    from flink_cookbook_spark.streaming.twins import late_data_drop
    from flink_cookbook_spark.plans.explain import formatted_plan

    plan = formatted_plan(late_data_drop(spark, sf_dir))
    assert "SinglePartition" not in plan, "watermark window lost its partitioning"


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    """The partition-key filter must become a PartitionFilters entry on
    the scan (directory pruning), not a post-scan Filter over all data."""
    from flink_cookbook_spark.sources.formats import partitioned_scan_pruning
    from flink_cookbook_spark.plans.explain import formatted_plan

    plan = formatted_plan(partitioned_scan_pruning(spark, sf_dir))
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderpriority" in m.group(1), m.group(0) if m else plan


def test_corpus_filter_single_shuffle(spark, sf_dir):
    """The composed corpus filter is one map + one keyed exchange (the
    dedup window's hash partition on md5(text)) — no joins, no explode."""
    from flink_cookbook_spark.pipeline.text import corpus_filter_pipeline

    df = corpus_filter_pipeline(spark, sf_dir)
    assert not has_cartesian(df)
    assert count_exchanges(df) == 1


def test_doc_length_histogram_single_shuffle(spark, sf_dir):
    from flink_cookbook_spark.pipeline.text import doc_length_histogram

    assert count_exchanges(doc_length_histogram(spark, sf_dir)) == 1


def test_salted_join_no_cartesian_and_result_matches_plain(spark, sf_dir):
    """salted_join stays an equi-join (on (key, salt)) and its aggregate
    equals the plain join's — salt-invariance, checked end-to-end."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.skew import salted_join, salted_join_agg

    df = salted_join_agg(spark, sf_dir)
    assert not has_cartesian(df)
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    salted = salted_join(li, part, "p_partkey", n_salts=4).groupBy("p_brand").count()
    plain = li.join(part, "p_partkey").groupBy("p_brand").count()
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_rollup_reads_base_from_cache(spark, sf_dir):
    """Coarser rollup levels must re-aggregate the persisted 15-min
    partials, not re-scan raw events (3 InMemory reads, 1 real scan)."""
    from flink_cookbook_spark.operators.metrics import multi_resolution_rollup

    plan = multi_resolution_rollup(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 3, plan


def test_changelog_compaction_rank_limited(spark, sf_dir):
    """Keep-latest must plan as a rank-limited window (WindowGroupLimit
    pushes k=1 ahead of the sort) over ONE key exchange — not a full
    per-key history sort."""
    from flink_cookbook_spark.operators.relational import changelog_compaction

    df = changelog_compaction(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert count_exchanges(df) == 1


def test_bucketed_join_agg_single_exchange(spark, sf_dir):
    """The registered bucketed join must not shuffle for the join itself —
    the only exchange is the final small aggregate on o_orderstatus."""
    from flink_cookbook_spark.sources.formats import bucketed_join_agg

    df = bucketed_join_agg(spark, sf_dir)
    assert not has_cartesian(df)
    assert count_exchanges(df) <= 1


def test_decontamination_broadcasts_benchmark(spark, sf_dir):
    """The benchmark gram index must broadcast: the corpus side of the
    contamination join stays map-only (no corpus shuffle before the
    per-doc rollup)."""
    from flink_cookbook_spark.pipeline.curation import benchmark_decontamination

    df = benchmark_decontamination(spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)
    # the per-doc rollup is a two-dimension distinct count (Expand +
    # partial/final agg): two exchanges on doc_id keys, none on the
    # pre-join corpus
    assert count_exchanges(df) <= 2


def test_domain_quota_is_rank_limited(spark, sf_dir):
    """Quota sampling must plan as WindowGroupLimit (bounded top-k per
    key), never a full per-source sort."""
    from flink_cookbook_spark.pipeline.curation import domain_quota_cap

    df = domain_quota_cap(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert count_exchanges(df) == 1


def test_pii_redaction_no_shuffle(spark, sf_dir):
    """Redaction is row-local regexp work: zero exchanges, codegen'd."""
    from flink_cookbook_spark.pipeline.curation import pii_redaction

    df = pii_redaction(spark, sf_dir)
    assert count_exchanges(df) == 0
    assert uses_whole_stage_codegen(df)


def test_sequence_packing_single_exchange(spark, sf_dir):
    """Per-shard packing is one window cumsum: exactly one exchange on
    source, no global sort."""
    from flink_cookbook_spark.pipeline.curation import sequence_packing

    df = sequence_packing(spark, sf_dir)
    assert count_exchanges(df) == 1


def test_rising_streaks_single_exchange(spark, sf_dir):
    """Both window stages (lag marks + islands cumsum) and the final
    streak rollup must share ONE exchange on user_id."""
    from flink_cookbook_spark.operators.windows import rising_streak_patterns

    df = rising_streak_patterns(spark, sf_dir)
    assert count_exchanges(df) == 1


def test_cohort_retention_single_scan(spark, sf_dir):
    """First-touch must come from a window MIN over the one distinct
    (user, day) scan — never a second events scan joined back."""
    from flink_cookbook_spark.operators.windows import cohort_retention

    df = cohort_retention(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_funnel_single_exchange(spark, sf_dir):
    """All three funnel-stage conditional-MIN window passes and the final
    per-user rollup must share ONE hash exchange on user_id."""
    from flink_cookbook_spark.operators.timeseries import funnel_conversion

    df = funnel_conversion(spark, sf_dir)
    assert count_exchanges(df) == 1
    assert not has_cartesian(df)


def test_scd2_single_exchange(spark, sf_dir):
    """lag-mark, change filter, and lead/version windows: one exchange."""
    from flink_cookbook_spark.operators.timeseries import scd2_dimension

    df = scd2_dimension(spark, sf_dir)
    assert count_exchanges(df) == 1


def test_quantization_map_only(spark, sf_dir):
    """int8 quantization + error report is a pass-through stage:
    ZERO exchanges — the only shape that scales to a full-corpus run."""
    from flink_cookbook_spark.pipeline.similarity import embedding_quantization

    df = embedding_quantization(spark, sf_dir)
    assert count_exchanges(df) == 0


def test_equidepth_no_global_sort(spark, sf_dir):
    """Equi-depth bucketing must use broadcast percentile cutpoints,
    never a global ntile sort of the corpus."""
    from flink_cookbook_spark.pipeline.text import doc_length_equidepth

    df = doc_length_equidepth(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    # the 1-row cutpoint side rides the broadcast-of-a-scalar pattern
    # (BroadcastNestedLoopJoin over an IdentityBroadcastMode exchange)
    assert "BroadcastExchange" in plan


def test_shingle_df_cap_precedes_self_join(spark, sf_dir):
    """The hot-shingle df cap must be applied INSIDE the shingle index —
    a Window count partitioned by shingle feeding a <= SHINGLE_DF_CAP
    filter — so no self-join can ever see an uncapped shingle; and the
    whole index (dedup + df count + cap) must ride ONE hash exchange.

    Clear the memo cache first: if an earlier test persisted the shingle
    index, Spark substitutes the cached relation into this fresh plan and
    the assertion would measure cache-read shape, not the build shape."""
    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.pipeline.dedup import SHINGLE_DF_CAP, _shingles_plan

    clear()

    df = _shingles_plan(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert f"<= {SHINGLE_DF_CAP})" in plan, plan
    assert plan.index("Window") > plan.index("Filter"), "cap filter must sit above the window"
    assert count_exchanges(df) == 1


def test_count_exchanges_stops_at_cached_relation(spark, sf_dir):
    """A query over a memoized relation counts only its own shuffles: the
    shingle index's build exchange ran when the memo was materialized,
    so a bare select over it reads 0, and a round-robin repartition of
    it reads exactly its own 1."""
    from flink_cookbook_spark.pipeline.dedup import _shingles

    memo = _shingles(spark, sf_dir)
    assert count_exchanges(memo.select("doc_id")) == 0
    assert count_exchanges(memo.repartition(4)) == 1


def test_winsorize_broadcasts_cutpoints(spark, sf_dir):
    """Percentile cutpoints (5 groups x 2 doubles) must broadcast; the
    fact side must not shuffle for the join."""
    from flink_cookbook_spark.pipeline.curation import winsorized_stats

    df = winsorized_stats(spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_doc_chunking_map_only(spark, sf_dir):
    """Chunk fan-out is tokenize + explode + slice: zero exchanges."""
    from flink_cookbook_spark.pipeline.text import doc_chunking

    df = doc_chunking(spark, sf_dir)
    assert count_exchanges(df) == 0
    assert uses_whole_stage_codegen(df)


def test_kmeans_final_assignment_map_only(spark, sf_dir):
    """Lloyd assignment ships centroids as one broadcast row; the final
    per-vector (cluster, dist) pass must cost ZERO shuffles — the
    property that lets assignment run as a pure map at any corpus size."""
    from flink_cookbook_spark.pipeline.similarity import kmeans_embeddings

    df = kmeans_embeddings(spark, sf_dir)
    assert count_exchanges(df) == 0
    assert "BroadcastExchange" in df._jdf.queryExecution().executedPlan().toString()


def test_pagerank_no_cartesian_and_broadcast_vertex_count(spark, sf_dir):
    """Each PageRank round is equi-join + hash agg; the vertex count is a
    broadcast 1-row aggregate, and nothing may plan as a real cartesian
    (the 1-row crossJoin lowers to BroadcastNestedLoopJoin, which is the
    broadcast-of-a-scalar pattern, not a cartesian product)."""
    from flink_cookbook_spark.operators.graph import supplier_pagerank
    from flink_cookbook_spark.plans.explain import formatted_plan

    df = supplier_pagerank(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan


def test_range_join_bucketed_is_equi_not_nested_loop(spark, sf_dir):
    """The keyless interval join must plan as an EQUI join on the bucket
    (broadcast hash), never BroadcastNestedLoopJoin/cartesian — the whole
    point of the bucketed rewrite."""
    from flink_cookbook_spark.operators.relational import range_join_bucketed
    from flink_cookbook_spark.plans.explain import formatted_plan

    df = range_join_bucketed(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df)


def test_reservoir_sample_is_rank_limited(spark, sf_dir):
    """Fixed-k per-source sampling must run as WindowGroupLimit (partial
    per-partition top-k before the exchange), one exchange total."""
    from flink_cookbook_spark.pipeline.sampling import reservoir_sample_per_source

    df = reservoir_sample_per_source(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert count_exchanges(df) == 1


def test_round5_exchange_budgets(spark, sf_dir):
    """Pin the exchange counts the PERF.md round-5 plan audit claims —
    a regression here is a silently degraded plan, the failure class
    that only hurts at 100 TB."""
    from flink_cookbook_spark.operators.relational import incremental_agg_merge
    from flink_cookbook_spark.operators.timeseries import (
        psi_value_drift,
        seasonal_decompose,
    )
    from flink_cookbook_spark.pipeline.text import source_kl_divergence

    assert count_exchanges(incremental_agg_merge(spark, sf_dir)) <= 2
    assert count_exchanges(psi_value_drift(spark, sf_dir)) <= 2
    assert count_exchanges(seasonal_decompose(spark, sf_dir)) <= 2
    assert count_exchanges(source_kl_divergence(spark, sf_dir)) <= 2


def test_bloom_prefilter_no_shuffle_join(spark, sf_dir):
    """The Bloom prefilter's whole point: the fact side joins only
    against broadcast sides (the 1-row bitset and the tiny build key
    set) — a SortMergeJoin on lineitem would defeat the runtime-filter
    pattern."""
    from flink_cookbook_spark.operators.relational import bloom_prefilter_join
    from flink_cookbook_spark.plans.explain import formatted_plan

    df = bloom_prefilter_join(spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert has_broadcast_join(df)
    # two exchanges, neither over the fact table: the ~2k-row bitset
    # position aggregate (build side) and the final 3-group rollup on
    # l_returnflag (post-filter partial agg)
    assert count_exchanges(df) <= 2


def test_sorted_neighborhood_no_cartesian_single_exchange(spark, sf_dir):
    """SNM is blocking-based: one hash exchange on the block prefix for
    the window sort; never an all-pairs join."""
    from flink_cookbook_spark.pipeline.dedup import sorted_neighborhood_pairs

    df = sorted_neighborhood_pairs(spark, sf_dir)
    assert not has_cartesian(df)
    # one exchange per window branch (Spark runs the union's two
    # branches over the same shuffled input; allow AQE to reuse)
    assert count_exchanges(df) <= 2


def test_pareto_frontier_two_phase(spark, sf_dir):
    """The skyline is two-phase: per-price-band running max (the
    full-table window MUST be hash-partitioned on band, never a
    single-partition global sort) + a broadcast join of the tiny
    prefix-of-band-maxima table. The naive dominance anti-join
    (all-pairs/cartesian) must never appear."""
    from flink_cookbook_spark.operators.windows import pareto_frontier
    from flink_cookbook_spark.plans.explain import formatted_plan

    df = pareto_frontier(spark, sf_dir)
    plan = formatted_plan(df)
    assert not has_cartesian(df)
    assert has_broadcast_join(df)  # prefix maxima ship broadcast
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the data-sized window is partitioned by band
    assert "hashpartitioning(band" in plan, plan


def test_temporal_join_is_sweep_not_range_join(spark, sf_dir):
    """Point-in-time join must run as the single-shuffle as-of sweep:
    no nested-loop/cartesian interval join, bounded exchanges (change
    -point window + sweep window share the user_id partitioning)."""
    from flink_cookbook_spark.operators.timeseries import temporal_dimension_join

    df = temporal_dimension_join(spark, sf_dir)
    assert not has_cartesian(df)
    assert count_exchanges(df) <= 2


def test_zorder_profile_bounded_exchanges(spark, sf_dir):
    """Z-key assignment is map-only over a broadcast 1-row bounds agg;
    the profile is one 16-group aggregate. Only small-side exchanges
    (bounds + final rollup) may appear."""
    from flink_cookbook_spark.sources.formats import zorder_layout_profile

    df = zorder_layout_profile(spark, sf_dir)
    assert count_exchanges(df) <= 4


def _broadcast_hint_subtrees(df):
    """Extract the analyzed-plan subtree lines under each
    ``ResolvedHint (strategy=broadcast)`` node (indentation-based)."""
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()

    def indent(s):
        i = 0
        while i < len(s) and s[i] in ": +-":
            i += 1
        return i

    subtrees = []
    for i, ln in enumerate(lines):
        if "ResolvedHint (strategy=broadcast)" not in ln:
            continue
        d = indent(ln)
        sub = []
        for nxt in lines[i + 1:]:
            if indent(nxt) <= d:
                break
            sub.append(nxt)
        subtrees.append(sub)
    return subtrees


#: fact/corpus tables whose cardinality scales with the data volume — a
#: grouped aggregate keyed on a column OF one of these (vocab counts,
#: per-part counts) is unbounded and must never be force-broadcast.
_FACT_TABLES = ("documents", "events", "lineitem", "orders", "embeddings")

#: queries whose grouped-aggregate broadcast key domain is bounded BY
#: CONSTRUCTION — each entry must carry its justification; anything not
#: listed that force-broadcasts a grouped fact aggregate fails the test.
_BOUNDED_BY_CONSTRUCTION = {
    # sketch cells: depth x width is a compile-time constant
    "count_min_heavy_hitters",
    # key domain = event_type x hour-of-day (x24), data-independent
    "hourly_seasonal_profile",
    # key domain = event_type (enum-small), percentile cutpoints only
    "winsorized_stats",
    # benchmark gram set drawn from doc_id < DECON_MAX_DOC_ID — a fixed-
    # size slice, bounded regardless of corpus growth
    "benchmark_decontamination",
    "decontamination_spans",
    "training_data_manifest",
}


def _hint_is_bounded(sub):
    """A forced broadcast side is scale-safe unless it contains a GROUPED
    aggregate (or Deduplicate) over a fact-table scan: its key domain
    (vocabulary, part keys, ...) then grows with the data and the hint
    bypasses Spark's size check. Global (1-row) aggregates, limits,
    samples, and filtered dim scans stay safe."""
    import re

    grouped = any(
        re.search(r"Aggregate \[[^\]]*\], \[", ln) or "Deduplicate [" in ln
        for ln in sub
    )
    if not grouped:
        return True
    return not any(
        any(f"{t}.parquet" in ln for t in _FACT_TABLES) for ln in sub
    )


def test_no_forced_broadcast_of_unbounded_aggregate(spark, sf_dir):
    """Round-5 verdict ask #3: a forced ``F.broadcast`` whose side is a
    corpus-derived grouped aggregate (vocabulary counts, per-part counts)
    OOMs executors at 100 TB — the hint bypasses Spark's size check. Scan
    every registered query whose source calls F.broadcast and assert each
    hinted subtree is bounded (1-row agg, limit/sample, dim scan, or a
    justified bounded-key-domain aggregate). `collocation_pmi`,
    `part_affinity`, `bigram_logprob_score`, `tf_idf` and `q17` carried
    this defect through round 5; this pins the fix registry-wide."""
    import inspect

    import __spark_entry__  # noqa: F401

    from flink_cookbook_spark.registry import all_specs

    offenders = []
    for name, spec in sorted(all_specs().items()):
        if name in _BOUNDED_BY_CONSTRUCTION:
            continue
        try:
            src = inspect.getsource(spec.fn)
        except (OSError, TypeError):
            continue
        if "F.broadcast(" not in src:
            continue
        df = spec.fn(spark, sf_dir)
        for sub in _broadcast_hint_subtrees(df):
            if not _hint_is_bounded(sub):
                offenders.append(f"{name}: forced broadcast of unbounded side:\n  "
                                 + "\n  ".join(ln.strip()[:120] for ln in sub[:6]))
    assert not offenders, "\n".join(offenders)


def test_duplicate_paragraph_filter_shape(spark, sf_dir):
    """Segment fan-out is map-only before the count aggregate; the
    segment-frequency join must NOT be a forced broadcast (segment
    vocabulary scales with the corpus) and must never plan a cartesian."""
    from flink_cookbook_spark.pipeline.dedup import duplicate_paragraph_filter

    df = duplicate_paragraph_filter(spark, sf_dir)
    assert not has_cartesian(df)
    assert not _broadcast_hint_subtrees(df)  # no forced hints at all


def test_bitmap_rollup_is_two_level_merge(spark, sf_dir):
    """Daily exact distincts must re-aggregate the hourly bitmap
    partials: exchanges stay constant (partial -> merge -> final), and
    no plan node re-reads raw events for the daily level."""
    from flink_cookbook_spark.operators.relational import bitmap_distinct_rollup

    df = bitmap_distinct_rollup(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1  # one raw scan feeds both levels
    assert count_exchanges(df) <= 3


def test_holt_single_exchange(spark, sf_dir):
    """Holt's per-key fold rides ONE keyed exchange beyond the hourly
    pre-aggregation: hourly partials hash to event_type, the series
    collect + fold are in-partition."""
    from flink_cookbook_spark.operators.timeseries import holt_linear_forecast

    df = holt_linear_forecast(spark, sf_dir)
    assert count_exchanges(df) <= 2
    assert not has_cartesian(df)


def test_two_stage_skew_agg_spreads_hot_keys(spark, sf_dir):
    """Stage 1 must aggregate on (key, salt) BEFORE any per-key merge:
    the plan contains two aggregate levels and the first one's grouping
    includes the salt (no single reducer sees a whole hot key)."""
    from flink_cookbook_spark.operators.skew import two_stage_skew_agg

    df = two_stage_skew_agg(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "salt" in plan
    assert plan.count("Aggregate") >= 2


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """Joining the hive-partitioned layout on its partition key against a
    filtered build side must inject a dynamicpruning subquery into the
    fact scan (DPP) — at 100 TB this is what keeps a star-join from
    scanning every partition when the filter arrives via the dim table."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.sources.formats import _materialized

    back = _materialized(
        spark, sf_dir, "orders_part", "parquet",
        lambda: load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        ),
        partition_by=["o_orderpriority"],
    )
    dim = (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority").distinct()
        .where(F.col("o_orderpriority") < "2")
    )
    j = back.join(dim, "o_orderpriority").groupBy("o_orderpriority").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_sessionize_dynamic_gap_single_exchange(spark, sf_dir):
    """Dynamic-gap sessionization must keep the fixed-gap shape: one
    keyed exchange on user_id reused by both window stages and the
    session rollup — the per-event gap must not add a join or shuffle."""
    from flink_cookbook_spark.operators.windows import sessionize_dynamic_gap

    df = sessionize_dynamic_gap(spark, sf_dir)
    assert count_exchanges(df) == 1
    assert not has_cartesian(df)


def test_cell_pair_join_is_grid_parallel(spark, sf_dir):
    """The SemDeDup within-cell pair self-join must shuffle on
    (cid, block) at the PINNED grid width — never on the bare cell id.
    Cell-id cardinality (N_CENTROIDS = 8) is below cluster parallelism,
    and AQE coalesces the join's tiny INPUT into one partition while the
    pair OUTPUT is quadratic in cell size: the round-7 sf1 probe caught
    the un-gridded shape serializing ~10^8 cosine folds through a single
    task (>15 min at 20k vectors; 122 s gridded). REPARTITION_BY_NUM is
    the load-bearing detail — a user-specified width is exempt from AQE
    input-size coalescing."""
    from flink_cookbook_spark.pipeline._cache import clear
    from flink_cookbook_spark.pipeline.similarity import PAIR_BLOCKS, semantic_cluster_dups

    df = semantic_cluster_dups(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    width = PAIR_BLOCKS * PAIR_BLOCKS
    assert f"gb#" in plan and f", {width}), REPARTITION_BY_NUM" in plan, plan
    clear()


def test_lateral_topn_decorrelates_to_window(spark, sf_dir):
    """The correlated LATERAL (ORDER BY .. LIMIT per outer row) must be
    decorrelated by Catalyst into the ranked-window shape — rank
    computation + WindowGroupLimit pushdown — NEVER a per-outer-row
    nested-loop re-execution. One keyed exchange; dims broadcast."""
    from flink_cookbook_spark.operators.relational import lateral_topn_per_nation

    df = lateral_topn_per_nation(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert not has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert count_exchanges(df) == 1


def test_ntile_is_single_exchange_per_segment(spark, sf_dir):
    """ntile banding must be one hash exchange on the segment key + one
    window — a global-order ntile (empty partitionBy) would serialize
    the corpus through a single sorted partition."""
    from flink_cookbook_spark.operators.windows import ntile_segment_quartiles

    df = ntile_segment_quartiles(spark, sf_dir)
    assert count_exchanges(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the window's partition spec must be non-empty (keyed by segment)
    assert "SinglePartition" not in plan, plan


def test_prepared_cohort_no_plain_cartesian(spark, sf_dir):
    """Scale hygiene for the queries tagged ``prepared-r8``: no plan may
    contain a plain CartesianProduct (both sides unbounded, quadratic at
    100 TB). BroadcastNestedLoop is tolerated ONLY where the build side
    is bounded by construction — the capped md5 samples and
    1-row/constant-list broadcasts."""
    from flink_cookbook_spark.plans.explain import formatted_plan
    from flink_cookbook_spark.registry import all_specs

    offenders = []
    for name, spec in sorted(all_specs().items()):
        if "prepared-r8" not in spec.tags:
            continue
        plan = formatted_plan(spec.fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_skew_report_scans_lineitem_once(spark, sf_dir):
    """partition_skew_report's docstring claims ONE scan serves every
    candidate partition count (the divisor-derivation design) — pin it:
    exactly one parquet scan of lineitem in the plan."""
    from flink_cookbook_spark.operators.skew import partition_skew_report
    from flink_cookbook_spark.plans.explain import formatted_plan

    import re

    plan = formatted_plan(partition_skew_report(spark, sf_dir))
    # formatted mode lists each node twice (tree + details): count the
    # uniquely-numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_ks_window_runs_over_bins_not_rows(spark, sf_dir):
    """ks_test_drift bins values BEFORE the ECDF window, so the window
    input must be the bin-grain aggregate (an Aggregate below the
    Window), never the raw scan — the bounded-sort-state design claim."""
    from flink_cookbook_spark.operators.drift import ks_test_drift
    from flink_cookbook_spark.plans.explain import formatted_plan

    plan = formatted_plan(ks_test_drift(spark, sf_dir))
    # order of appearance in the formatted tree: the scan feeds a
    # HashAggregate before any Window node appears
    import re

    first_agg = plan.find("HashAggregate")
    first_window = plan.find("Window")
    assert first_agg != -1 and first_window != -1
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_theil_sen_pairs_join_is_on_the_daily_grain(spark, sf_dir):
    """theil_sen_trend must reduce to the daily grain BEFORE the
    pairwise self-join (quadratic only in days, never in raw rows):
    both join inputs must sit above aggregates, and the raw events
    parquet is scanned exactly twice (once per self-join side), never
    joined raw-to-raw."""
    from flink_cookbook_spark.operators.forecasting import theil_sen_trend
    from flink_cookbook_spark.plans.explain import formatted_plan

    plan = formatted_plan(theil_sen_trend(spark, sf_dir))
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin")
    import re

    assert joins >= 1
    # every scan of events feeds an aggregate before any join: the plan
    # must contain at least as many aggregates as scans
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    n_aggs = len(re.findall(r"\(\d+\) HashAggregate", plan))
    assert n_aggs >= n_scans, (n_aggs, n_scans)


def test_rfm_segments_no_global_ranking_window(spark, sf_dir):
    """Round-9 de-weak (r8 verdict #3): quartile scores must come from
    broadcast discrete percentile cutpoints, never a global ntile — the
    plan must contain NO Window node at all (the old form had three
    unpartitioned ntile windows = a single-partition sort at customer
    cardinality), and the cutpoint join must be a broadcast."""
    from flink_cookbook_spark.operators.relational import rfm_segments
    from flink_cookbook_spark.plans.explain import formatted_plan

    df = rfm_segments(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan, "rfm_segments regained a ranking window"
    assert "ntile(" not in plan
    # the only joins are the 1-row anchor / 1-row cutpoint-array
    # broadcasts (IdentityBroadcastMode NLJ — the decile_lift_table
    # shape); a real cartesian would be CartesianProduct
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_count_min_topk_is_take_ordered(spark, sf_dir):
    """Round-9 tightening (r8 verdict #7): the heavy-hitter probe set
    must come from orderBy().limit() — TakeOrderedAndProject, a
    per-partition heap merge — not a global row_number filter. The only
    Window left runs over the CMS_TOP-row limited result."""
    from flink_cookbook_spark.operators.relational import (
        count_min_heavy_hitters,
    )
    from flink_cookbook_spark.plans.explain import formatted_plan

    plan = formatted_plan(count_min_heavy_hitters(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_hill_corpus_touch_is_take_ordered(spark, sf_dir):
    """The deferred Hill estimator's ONLY corpus touch must be
    TakeOrderedAndProject (per-partition heaps) — and nothing in the
    plan may fall back to a single-partition exchange: the bounded
    201-row tail set reaches the windows without a global sort."""
    from flink_cookbook_spark.operators.stats import hill_tail_index
    from flink_cookbook_spark.plans.explain import formatted_plan

    plan = formatted_plan(hill_tail_index(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_spearman_rank_windows_stay_partitioned(spark, sf_dir):
    """Every midrank window in the deferred Spearman lead-lag screen is
    partitioned per (pair, lag) — a lost partitioning would serialize
    the whole aligned table through one task."""
    from flink_cookbook_spark.operators.forecasting import spearman_lead_lag
    from flink_cookbook_spark.plans.explain import formatted_plan

    plan = formatted_plan(spearman_lead_lag(spark, sf_dir))
    assert "SinglePartition" not in plan


def test_mann_kendall_is_windowless_and_partitioned(spark, sf_dir):
    """The deferred Mann-Kendall test must stay pure join+aggregate —
    no ranking window anywhere (Sen's slope is an exact percentile
    AGGREGATE over bounded pairs), and no single-partition exchange."""
    from flink_cookbook_spark.operators.forecasting import mann_kendall_trend
    from flink_cookbook_spark.plans.explain import formatted_plan

    plan = formatted_plan(mann_kendall_trend(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_ljung_box_lag_windows_stay_partitioned(spark, sf_dir):
    from flink_cookbook_spark.operators.forecasting import ljung_box_test
    from flink_cookbook_spark.plans.explain import formatted_plan

    plan = formatted_plan(ljung_box_test(spark, sf_dir))
    assert "SinglePartition" not in plan


def test_exact_quantiles_has_no_value_buffering_aggregate(spark, sf_dir):
    """exact_quantiles must be the distributed two-pass order statistic:
    no Percentile aggregate anywhere (its state buffers every raw value
    and killed the 30x-probe JVM — PERF.md round-10), rank targets
    broadcast, and a bounded number of exchanges (distinct-value count,
    cumulative window, tiny per-group totals)."""
    from flink_cookbook_spark.functions.collections import exact_quantiles
    from flink_cookbook_spark.plans.explain import count_exchanges

    df = exact_quantiles(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Percentile" not in plan, "value-buffering exact percentile is back"
    assert "BroadcastExchange" in plan, "rank targets must broadcast"
    assert count_exchanges(df) <= 3, plan
