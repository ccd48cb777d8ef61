"""Deterministic sampling & domain-mixture operators for training-data
pipelines.

Subsampling is how a 100 TB corpus becomes a training mix: each source
(domain) gets a keep-rate, and membership must be a PURE FUNCTION of the
row — never `rand()` — so that re-runs, retries, and incremental
backfills select the identical subset (and so an engine-independent
oracle can verify the selection). The coin is the md5-derived 60-bit
integer already used by the dedup family (portable across Spark and
DuckDB), mapped to a uniform in [0, 1).

Scale shape: both operators are a single map over the corpus followed by
(at most) one map-side-combinable aggregate — no joins, no shuffle for
the sampler itself (the filter is row-local), one hash exchange for the
mixture summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd

#: coin resolution: md5-60bit % 1e6 / 1e6 — uniform enough for rate
#: comparisons at 6 decimal places, and exactly reproducible in SQL.
COIN_MOD = 1_000_000

#: keep-rate ladder by source index: src{i} keeps (i % 4 + 1) * 25%.
#: A production mix table would be a broadcast dim; a pure expression
#: keeps the oracle literal.
RATE_SQL = "((CAST(substr(source, 4) AS INTEGER) % 4) + 1) * 0.25"


def _coin(col) -> F.Column:
    """Uniform [0,1) from md5 — first 15 hex digits as int, mod 1e6."""
    h = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return (h % COIN_MOD).cast("double") / COIN_MOD


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic Bernoulli sampling of ``documents``:
    keep doc iff md5-coin('sample:' || doc_id) < rate(source). Returns
    the kept rows with their coin and rate, so the oracle verifies the
    exact membership — not just the sample size."""
    docs = load(spark, sf_dir, "documents")
    rate = F.expr(RATE_SQL)
    coin = _coin(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    return (
        docs.select(
            "doc_id",
            "source",
            rnd(rate, 2).alias("keep_rate"),
            rnd(coin, 6).alias("coin"),
        )
        .where(F.col("coin") < F.col("keep_rate"))
    )


register(
    "stratified_sample",
    oracle=f"""
WITH coined AS (
  SELECT doc_id, source,
         round({RATE_SQL} + 1e-6, 2) AS keep_rate,
         round((CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                % {COIN_MOD}) * 1.0 / {COIN_MOD} + 1e-6, 6) AS coin
  FROM documents
)
SELECT doc_id, source, keep_rate, coin
FROM coined WHERE coin < keep_rate
""",
    tags=("sampling", "llm-pipeline"),
)(stratified_sample)


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture profile: per-source document and token counts and
    each source's normalized token share — the weights a data-mixing
    stage feeds the sampler. Token counting stays array-side (no
    explode); the share denominator is a scalar subquery (broadcast)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("source", F.size(F.split("text", " ")).alias("n_tokens"))
    per_source = toks.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    total = per_source.agg(F.sum("total_tokens").alias("grand")).select("grand")
    return (
        per_source.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            rnd(F.col("total_tokens").cast("double") / F.col("grand"), 6).alias("token_share"),
        )
    )


register(
    "source_mixture_weights",
    oracle="""
WITH per_source AS (
  SELECT source, count(*) AS n_docs,
         sum(len(string_split(text, ' '))) AS total_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, CAST(total_tokens AS BIGINT) AS total_tokens,
       round(CAST(total_tokens AS DOUBLE)
             / (SELECT sum(total_tokens) FROM per_source) + 1e-6, 6) AS token_share
FROM per_source
""",
    tags=("sampling", "llm-pipeline", "mixture"),
)(source_mixture_weights)


RESERVOIR_K = 5  # kept docs per source


def reservoir_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k "reservoir" per source: the K docs with the
    smallest md5-coin per group — the debug/eyeball sample every corpus
    job wants ("show me 5 docs from each source") made reproducible
    across re-runs and engines.

    Hash-ordered top-k per key IS distributed reservoir sampling with a
    deterministic coin: rank by a pure hash, keep k. One exchange on
    source, and Spark executes the rank-filter as WindowGroupLimit —
    per-partition partial top-k before the shuffle, so the exchange
    carries at most k rows per source per map partition, never the
    corpus.
    """
    docs = load(spark, sf_dir, "documents")
    coin = _coin(F.concat(F.lit("reservoir:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(F.col("coin").asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source", "n_chars", coin.alias("coin"))
        .withColumn("pick", F.row_number().over(w))
        .where(F.col("pick") <= RESERVOIR_K)
        .select(
            "source",
            F.col("pick").alias("pick"),
            "doc_id",
            "n_chars",
            rnd("coin", 6).alias("coin"),
        )
    )


register(
    "reservoir_sample_per_source",
    oracle=f"""
WITH coined AS (
  SELECT doc_id, source, n_chars,
         (CAST(('0x' || substr(md5('reservoir:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          % {COIN_MOD}) / {COIN_MOD}.0 AS coin
  FROM documents
)
SELECT source,
       CAST(pick AS INTEGER) AS pick,
       doc_id,
       n_chars,
       round(coin + 1e-6, 6) AS coin
FROM (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY coin ASC, doc_id ASC) AS pick
  FROM coined
)
WHERE pick <= {RESERVOIR_K}
""",
    tags=("sampling", "llm-pipeline", "reservoir"),
)(reservoir_sample_per_source)


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filtering (the CCNet-style alternative to hard
    drops): each document's keep-probability IS its quality signal —
    here the distinct-token ratio, so repetitive/boilerplate docs get
    proportionally downsampled instead of binarily rejected — and
    membership is the same deterministic md5 coin as
    ``stratified_sample`` (re-runs and backfills select identical sets;
    the oracle verifies exact membership).

    Map-only: per-row token arrays + one hash comparison; no shuffle,
    no joins, trivially 100 TB-safe.
    """
    docs = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    p_keep = F.size(F.array_distinct(ts)).cast("double") / F.size(ts)
    coin = _coin(F.concat(F.lit("qsample:"), F.col("doc_id").cast("string")))
    return (
        docs.select(
            "doc_id",
            "source",
            rnd(p_keep, 6).alias("keep_prob"),
            rnd(coin, 6).alias("coin"),
        )
        .where(F.col("coin") < F.col("keep_prob"))
    )


register(
    "quality_weighted_sample",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         round(len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) + 1e-6, 6) AS keep_prob,
         round((CAST('0x' || substr(md5('qsample:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                % {COIN_MOD}) * 1.0 / {COIN_MOD} + 1e-6, 6) AS coin
  FROM documents
)
SELECT doc_id, source, keep_prob, coin
FROM scored WHERE coin < keep_prob
""",
    tags=("sampling", "llm-pipeline", "quality"),
)(quality_weighted_sample)


#: docs kept per source by the weighted without-replacement sampler.
WSR_K = 10


def weighted_sample_without_replacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling WITHOUT replacement: exactly
    ``WSR_K`` documents per source, selected with probability
    proportional to document length, deterministically.

    The exponential-race formulation: each doc draws an md5 coin
    u in (0, 1] and gets key = -ln(u) / weight (an Exp(weight) variate);
    the K smallest keys per source are the sample. This is the standard
    distributed one-pass weighted reservoir — keys are computed map-side
    and the per-source top-K is a WindowGroupLimit (never a global
    sort), so a 100 TB corpus pays one bounded exchange on source.
    Unlike ``quality_weighted_sample`` (independent Bernoulli coins,
    random sample SIZE), this guarantees the exact per-source quota.

    Keys are rounded to 6 dp on BOTH engines before ranking, with
    doc_id as the tie-break, so the selected set can never depend on a
    last-ulp ln()/division difference between Spark and DuckDB.
    """
    docs = load(spark, sf_dir, "documents")
    # (h % M + 1)/M lies in (0, 1] — never ln(0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsr:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = (h % COIN_MOD + 1).cast("double") / COIN_MOD
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        rnd(-F.log(u) / F.col("n_chars"), 6).alias("race_key"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("race_key").asc(), F.col("doc_id").asc()
    )
    return (
        keyed.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= WSR_K)
    )


register(
    "weighted_sample_without_replacement",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         round(-ln(((CAST('0x' || substr(md5('wsr:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % {COIN_MOD}) + 1) * 1.0 / {COIN_MOD}) / n_chars + 1e-6, 6)
           AS race_key
  FROM documents
)
SELECT doc_id, source, n_chars, race_key,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY race_key ASC, doc_id ASC) AS INTEGER) AS rank
FROM keyed
QUALIFY rank <= {WSR_K}
""",
    tags=("sampling", "llm-pipeline", "weighted", "without-replacement"),
)(weighted_sample_without_replacement)


# --------------------------------------------------------------------------
# stratified train/val/test split manifest
# --------------------------------------------------------------------------

#: md5-coin decile boundaries: 0-7 train, 8 val, 9 test.
SPLIT_TRAIN_UPTO = 8
SPLIT_VAL_UPTO = 9


_SPLIT_ORACLE = f"""
WITH coined AS (
  SELECT lang, source,
         CASE
           WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10 < {SPLIT_TRAIN_UPTO} THEN 'train'
           WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10 < {SPLIT_VAL_UPTO} THEN 'val'
           ELSE 'test' END AS split
  FROM documents
),
agg AS (
  SELECT lang, source, split, count(*) AS n_docs
  FROM coined GROUP BY 1, 2, 3
)
SELECT lang, source, split, n_docs,
       round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang, source)
             + 1e-6, 6) AS stratum_share
FROM agg
"""


@register(
    "stratified_split_manifest",
    oracle=_SPLIT_ORACLE,
    tags=("prepared-r8",),
)
def stratified_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED train/val/test split manifest: every
    document lands in exactly one split via an md5 decile coin (stable
    under reshuffles, re-runs, and engine changes — never rand()), and
    the manifest reports per (lang, source) stratum how many documents
    each split holds and its share WITHIN the stratum — the ledger that
    makes an 80/10/10 split auditable per stratum rather than only in
    aggregate. One hash aggregate + a window over the tiny
    strata x splits result."""
    docs = load(spark, sf_dir, "documents")
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1, 15,
            ), 16, 10,
        ).cast("long")
        % 10
    )
    split = (
        F.when(coin < SPLIT_TRAIN_UPTO, "train")
        .when(coin < SPLIT_VAL_UPTO, "val")
        .otherwise("test")
    )
    agg = docs.groupBy("lang", "source", split.alias("split")).agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("lang", "source")
    return agg.select(
        "lang", "source", "split", "n_docs",
        rnd(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("stratum_share"),
    )


# --------------------------------------------------------------------------
# temperature-scaled source mixture weights
# --------------------------------------------------------------------------

#: sampling temperature: q_i = p_i^alpha / sum(p^alpha). alpha=1 keeps the
#: natural mix; alpha->0 flattens toward uniform (the multilingual-training
#: upweighting of small sources).
TEMPERATURE_ALPHA = 0.7


_TEMPERATURE_ORACLE = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
shared AS (
  SELECT source, n_docs, n_tokens,
         n_tokens * 1.0 / sum(n_tokens) OVER () AS p,
         pow(n_tokens * 1.0 / sum(n_tokens) OVER (), {TEMPERATURE_ALPHA}) AS pa
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       round(p + 1e-6, 6) AS raw_share,
       round(pa / sum(pa) OVER () + 1e-6, 6) AS temp_share,
       round((pa / sum(pa) OVER ()) / p + 1e-6, 4) AS boost
FROM shared
"""


@register(
    "temperature_mixture_weights",
    oracle=_TEMPERATURE_ORACLE,
    tags=("prepared-r8",),
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED data-mixing weights: each source's natural
    token share p is re-weighted to q = p^alpha / sum(p^alpha), the
    standard recipe for boosting under-represented sources without
    discarding the big ones (alpha = 0.7 here). Emits per source the raw
    and scaled shares plus the boost factor q/p — the numbers a mixing
    config is written from (the prescriptive sibling of the descriptive
    ``source_mixture_weights``). One hash aggregate to sources-cardinality,
    then window math over that tiny result."""
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(w)
    shared = per_src.select(
        "source", "n_docs", "n_tokens", p.alias("p"),
        F.pow(p, F.lit(TEMPERATURE_ALPHA)).alias("pa"),
    )
    q = F.col("pa") / F.sum("pa").over(w)
    return shared.select(
        "source",
        "n_docs",
        "n_tokens",
        rnd("p", 6).alias("raw_share"),
        rnd(q, 6).alias("temp_share"),
        rnd(q / F.col("p"), 4).alias("boost"),
    )


# --------------------------------------------------------------------------
# class balance report (labeled embedding corpus)
# --------------------------------------------------------------------------

_CLASS_BALANCE_ORACLE = """
WITH per_label AS (
  SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label
),
shared AS (
  SELECT label, n_vectors,
         n_vectors * 1.0 / sum(n_vectors) OVER () AS p,
         max(n_vectors) OVER () AS n_max
  FROM per_label
)
SELECT label, n_vectors,
       round(p + 1e-6, 6) AS share,
       round(n_vectors * 1.0 / n_max + 1e-6, 6) AS vs_majority,
       round(exp(sum(-p * ln(p)) OVER ()) + 1e-6, 4) AS effective_classes
FROM shared
"""


@register(
    "class_balance_report",
    oracle=_CLASS_BALANCE_ORACLE,
    tags=("prepared-r8",),
)
def class_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS BALANCE audit of the labeled embedding corpus: per label
    its share, the imbalance ratio vs the majority class, and (repeated
    on every row, window-computed) the EFFECTIVE number of classes
    exp(entropy) — 1.0 = collapsed, n_labels = perfectly balanced — the
    one number a stratified sampler or loss re-weighting is configured
    from. One hash aggregate to label-cardinality, then window math over
    that tiny result."""
    emb = load(spark, sf_dir, "embeddings")
    per_label = emb.groupBy("label").agg(F.count("*").alias("n_vectors"))
    w = Window.partitionBy()
    share = F.col("n_vectors") / F.sum("n_vectors").over(w)
    shared = per_label.select(
        "label", "n_vectors", share.alias("p"),
        F.max("n_vectors").over(w).alias("n_max"),
    )
    eff = F.exp(F.sum(-F.col("p") * F.log("p")).over(w))
    return shared.select(
        "label",
        "n_vectors",
        rnd("p", 6).alias("share"),
        rnd(F.col("n_vectors") / F.col("n_max").cast("double"), 6).alias(
            "vs_majority"
        ),
        rnd(eff, 4).alias("effective_classes"),
    )


# --------------------------------------------------------------------------
# source concentration (HHI) per language
# --------------------------------------------------------------------------

_HHI_ORACLE = """
WITH per_src AS (
  SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2
),
shared AS (
  SELECT lang, source, c,
         c * 1.0 / sum(c) OVER (PARTITION BY lang) AS p,
         row_number() OVER (PARTITION BY lang
           ORDER BY c DESC, source ASC) AS rk
  FROM per_src
)
SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
       count(*) AS n_sources,
       round(sum(p * p) + 1e-6, 6) AS hhi,
       round(1.0 / sum(p * p) + 1e-6, 4) AS effective_sources,
       max(CASE WHEN rk = 1 THEN source END) AS top_source,
       round(max(CASE WHEN rk = 1 THEN p END) + 1e-6, 6) AS top_share
FROM shared GROUP BY lang
"""


@register(
    "source_concentration_hhi",
    oracle=_HHI_ORACLE,
    tags=("prepared-r8",),
)
def source_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language source concentration: Herfindahl-Hirschman index
    over source shares, its reciprocal (effective source count), and
    the top source with its share — the market-concentration sibling of
    ``class_balance_report``'s entropy view, and the number a corpus
    diversity requirement ("no language dominated by one crawl") is
    written against.  Two stacked hash aggs + one bounded per-language
    window (languages are a small domain)."""
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("lang")
    w_top = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("source").asc()
    )
    shared = per_src.select(
        "lang", "source", "c",
        (F.col("c") / F.sum("c").over(wl)).alias("p"),
        F.row_number().over(w_top).alias("rk"),
    )
    hhi = F.sum(F.col("p") * F.col("p"))
    return shared.groupBy("lang").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_sources"),
        rnd(hhi, 6).alias("hhi"),
        rnd(1.0 / hhi, 4).alias("effective_sources"),
        F.max(F.when(F.col("rk") == 1, F.col("source"))).alias("top_source"),
        rnd(F.max(F.when(F.col("rk") == 1, F.col("p"))), 6).alias("top_share"),
    )


# --------------------------------------------------------------------------
# negative-sampling table (word2vec unigram^0.75)
# --------------------------------------------------------------------------

#: vocabulary cap and temperature of the sampling table.
NEG_TABLE_N = 200
NEG_TABLE_ALPHA = 0.75


_NEG_TABLE_ORACLE = f"""
WITH counts AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
agg AS (SELECT tok, count(*) AS c FROM counts GROUP BY tok),
ranked AS (
  SELECT tok, c,
         row_number() OVER (ORDER BY c DESC, tok ASC) AS rk
  FROM agg
),
top AS (
  SELECT tok, c, CAST(rk AS BIGINT) AS rank,
         pow(CAST(c AS DOUBLE), {NEG_TABLE_ALPHA}) AS wt
  FROM ranked WHERE rk <= {NEG_TABLE_N}
),
probs AS (
  SELECT rank, tok, c, wt / sum(wt) OVER () AS p
  FROM top
)
SELECT rank, tok AS token, c AS n_occurrences,
       round(p + 1e-6, 6) AS sample_p,
       round(sum(p) OVER (ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-6, 6)
         AS cum_hi
FROM probs
"""


@register(
    "negative_sampling_table",
    oracle=_NEG_TABLE_ORACLE,
    tags=("prepared-r8",),
)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table: the top-N vocabulary by
    corpus frequency with unigram^0.75-tempered sampling probabilities
    and their cumulative bands — the [cum_lo, cum_hi) lookup a sampler
    inverts a uniform draw against, and the token-level sibling of
    ``temperature_mixture_weights``.  One token-count agg, a TOP-N
    (orderBy+limit → TakeOrdered, never a global sort), then windows
    over the N-row result only."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(
        NEG_TABLE_N
    )
    w_ord = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    wall = Window.partitionBy()
    weighted = top.select(
        "tok", "c",
        F.pow(F.col("c").cast("double"), NEG_TABLE_ALPHA).alias("wt"),
        F.row_number().over(w_ord).cast("long").alias("rank"),
    )
    probs = weighted.select(
        "rank", "tok", "c",
        (F.col("wt") / F.sum("wt").over(wall)).alias("p"),
    )
    w_cum = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return probs.select(
        "rank",
        F.col("tok").alias("token"),
        F.col("c").alias("n_occurrences"),
        rnd("p", 6).alias("sample_p"),
        rnd(F.sum("p").over(w_cum), 6).alias("cum_hi"),
    )


# --------------------------------------------------------------------------
# water-filling token-budget allocation across sources
# --------------------------------------------------------------------------

#: fraction of the corpus token total handed out as the budget, and the
#: number of unrolled cap-and-redistribute rounds.
WF_BUDGET_FRACTION = 0.5
WF_ROUNDS = 4


def _water_filling_oracle() -> str:
    rounds = []
    prev = "r0"
    for k in range(1, WF_ROUNDS + 1):
        cur = f"r{k}"
        rounds.append(f"""
{cur} AS (
  SELECT source, c, w,
         CASE WHEN capped THEN alloc
              WHEN ((b - coalesce(sum(CASE WHEN capped THEN alloc END)
                                  OVER (), 0.0)) * w)
                   / sum(CASE WHEN NOT capped THEN w END) OVER () >= c
              THEN c ELSE NULL END AS alloc,
         capped OR (NOT capped AND
           ((b - coalesce(sum(CASE WHEN capped THEN alloc END)
                          OVER (), 0.0)) * w)
           / sum(CASE WHEN NOT capped THEN w END) OVER () >= c) AS capped,
         b
  FROM {prev}
)""")
        prev = cur
    return f"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ci
  FROM documents GROUP BY source
),
r0 AS (
  SELECT source, CAST(ci AS DOUBLE) AS c, sqrt(CAST(ci AS DOUBLE)) AS w,
         CAST(NULL AS DOUBLE) AS alloc, FALSE AS capped,
         {WF_BUDGET_FRACTION} * sum(CAST(ci AS DOUBLE)) OVER () AS b
  FROM per_src
),
{", ".join(rounds)},
fin AS (
  SELECT source, c, capped,
         coalesce(alloc,
           ((b - coalesce(sum(CASE WHEN capped THEN alloc END)
                          OVER (), 0.0)) * w)
           / sum(CASE WHEN NOT capped THEN w END) OVER ()) AS alloc
  FROM {prev}
)
SELECT source, CAST(c AS BIGINT) AS available_tokens,
       round(alloc + 1e-6, 2) AS allocated_tokens,
       capped,
       round(alloc / c + 1e-6, 6) AS fill_ratio
FROM fin
"""


@register(
    "water_filling_allocation",
    oracle=_water_filling_oracle(),
    tags=("prepared-r8",),
)
def water_filling_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling allocation of a token budget across sources: each
    source wants budget·wᵢ/Σw (sqrt-tempered weights, so small sources
    are boosted), but no source can give more than it HAS — capped
    sources take their full availability and the surplus re-spreads
    over the rest, for WF_ROUNDS unrolled rounds.  This is the
    feasibility-aware step after ``temperature_mixture_weights``: that
    query prescribes the ideal mix, this one fits it to the corpus.

    Weights use sqrt(c) rather than pow(c, α): sqrt is IEEE-exact on
    both engines while pow differs in the last ulp across libms, and a
    1-ulp weight difference can flip a cap decision (the decile-boundary
    lesson).  Every iteration is a window pass over the |sources| rows
    of the per-source aggregate — the unrolled state is bounded by the
    source domain, never by corpus size."""
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("ci")
    )
    wall = Window.partitionBy()
    st = per_src.select(
        "source",
        F.col("ci").cast("double").alias("c"),
        F.sqrt(F.col("ci").cast("double")).alias("w"),
        F.lit(None).cast("double").alias("alloc"),
        F.lit(False).alias("capped"),
        (F.lit(WF_BUDGET_FRACTION) * F.sum(F.col("ci").cast("double")).over(wall)).alias("b"),
    )
    for _ in range(WF_ROUNDS):
        r = F.col("b") - F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("alloc"))).over(wall), F.lit(0.0)
        )
        sumw = F.sum(F.when(~F.col("capped"), F.col("w"))).over(wall)
        tent = (r * F.col("w")) / sumw
        now_capped = (~F.col("capped")) & (tent >= F.col("c"))
        st = st.select(
            "source", "c", "w",
            F.when(F.col("capped"), F.col("alloc"))
            .when(now_capped, F.col("c"))
            .otherwise(F.lit(None).cast("double"))
            .alias("alloc"),
            (F.col("capped") | now_capped).alias("capped"),
            "b",
        )
    r = F.col("b") - F.coalesce(
        F.sum(F.when(F.col("capped"), F.col("alloc"))).over(wall), F.lit(0.0)
    )
    sumw = F.sum(F.when(~F.col("capped"), F.col("w"))).over(wall)
    final_alloc = F.coalesce(F.col("alloc"), (r * F.col("w")) / sumw)
    return st.select(
        "source",
        F.col("c").cast("long").alias("available_tokens"),
        rnd(final_alloc, 2).alias("allocated_tokens"),
        F.col("capped"),
        rnd(final_alloc / F.col("c"), 6).alias("fill_ratio"),
    )
