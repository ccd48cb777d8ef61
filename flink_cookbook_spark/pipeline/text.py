"""Text-analysis operators for LLM-training-data pipelines.

Token counting, language statistics and a marker-based language-ID
heuristic, quality scoring (length / token-shape / stopword ratios),
document fingerprinting, token frequencies, and TF-IDF — all pure
DataFrame expressions over the ``documents`` fixture table, each with a
DuckDB oracle.

Scale notes (100 TB): token-level operators explode to one row per
token — at corpus scale that is the dominant shuffle, so everything
that can stay per-document (quality score, fingerprint, token counts via
array functions) does, and only frequency/TF-IDF computations explode.
The explode -> groupBy pattern is map-side combinable; df (document
frequency) and other vocabulary-cardinality joins are UNHINTED — the
whitespace vocabulary of web text is 1e8-1e9 distinct strings, so a
forced broadcast would OOM at scale; AQE broadcasts when genuinely small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import NUDGE, register, rnd

#: stopword markers per language for the ID heuristic (fixture vocab).
STOPWORDS = ("the", "a")


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics without exploding: counts, distinct
    counts, and mean token length via array higher-order functions."""
    docs = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    return docs.select(
        "doc_id",
        "lang",
        F.size(ts).alias("n_tokens"),
        F.size(F.array_distinct(ts)).alias("n_distinct_tokens"),
        rnd(
            F.aggregate(
                F.transform(ts, lambda t: F.length(t)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size(ts),
            4,
        ).alias("mean_token_len"),
        F.col("n_chars"),
    )


register(
    "token_stats",
    oracle="""
WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS ts FROM documents)
SELECT doc_id, lang,
       CAST(len(ts) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(ts)) AS INTEGER) AS n_distinct_tokens,
       round(CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE) / len(ts) + 1e-6, 4)
         AS mean_token_len,
       n_chars
FROM t
""",
    tags=("text", "llm-pipeline"),
)(token_stats)


def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language profile: document counts and size stats per
    declared language and source."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        rnd(F.avg("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


register(
    "lang_stats",
    oracle="""
SELECT lang, source,
       count(*) AS n_docs,
       round(avg(n_chars) + 1e-6, 4) AS avg_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents GROUP BY lang, source
""",
    tags=("text", "llm-pipeline"),
)(lang_stats)


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: stopword ratio, repetition ratio
    (1 - distinct/total), mean token length, and a composite score —
    the standard cheap filters before expensive pipeline stages."""
    docs = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    n = F.size(ts)
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.size(F.expr(f"filter(split(text, ' '), t -> t IN ({stop_in}))"))
    stop_ratio = n_stop.cast("double") / n
    rep_ratio = 1.0 - F.size(F.array_distinct(ts)).cast("double") / n
    score = (
        F.when(n < 10, 0.0).otherwise(1.0)
        * (1.0 - rep_ratio)
        * F.when(stop_ratio > 0.5, 0.5).otherwise(1.0)
    )
    return docs.select(
        "doc_id",
        F.col("n_chars"),
        n.alias("n_tokens"),
        rnd(stop_ratio, 4).alias("stopword_ratio"),
        rnd(rep_ratio, 4).alias("repetition_ratio"),
        rnd(score, 4).alias("quality"),
    )


register(
    "quality_score",
    oracle=f"""
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ts FROM documents),
m AS (
  SELECT doc_id, n_chars,
         len(ts) AS n,
         CAST(len(list_filter(ts, x -> x IN ({", ".join(repr(s) for s in STOPWORDS)}))) AS DOUBLE)
           / len(ts) AS stop_ratio,
         1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS rep_ratio
  FROM t
)
SELECT doc_id, n_chars,
       CAST(n AS INTEGER) AS n_tokens,
       round(stop_ratio + 1e-6, 4) AS stopword_ratio,
       round(rep_ratio + 1e-6, 4) AS repetition_ratio,
       round((CASE WHEN n < 10 THEN 0.0 ELSE 1.0 END)
             * (1.0 - rep_ratio)
             * (CASE WHEN stop_ratio > 0.5 THEN 0.5 ELSE 1.0 END) + 1e-6, 4) AS quality
FROM m
""",
    tags=("text", "llm-pipeline"),
)(quality_score)


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: predict 'en' when stopword density
    clears a threshold, else 'other'; report agreement with the declared
    label. (A real n-gram model is the same shape: per-language marker
    score columns + argmax.)"""
    docs = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    ratio = (
        F.size(F.expr(f"filter(split(text, ' '), t -> t IN ({stop_in}))")).cast("double")
        / F.size(ts)
    )
    predicted = F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        rnd(ratio, 4).alias("marker_ratio"),
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("agrees"),
    )


register(
    "lang_id_heuristic",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
m AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(ts, x -> x IN ({", ".join(repr(s) for s in STOPWORDS)}))) AS DOUBLE)
           / len(ts) AS ratio
  FROM t
)
SELECT doc_id, lang AS declared_lang,
       round(ratio + 1e-6, 4) AS marker_ratio,
       CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'other' END AS predicted_lang,
       (CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'other' END) = lang AS agrees
FROM m
""",
    tags=("text", "llm-pipeline"),
)(lang_id_heuristic)


def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequencies, top-20 (tie-broken by token)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(20)
    )


register(
    "top_tokens",
    oracle="""
SELECT token, count(*) AS n_occurrences
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY n_occurrences DESC, token ASC LIMIT 20
""",
    tags=("text", "llm-pipeline"),
)(top_tokens)


def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (document, token) for the first 50 documents:
    tf = count in doc / doc length; idf = ln(N / df). The df join is
    UNHINTED: at web scale the token vocabulary is 1e8-1e9 distinct
    strings, too big to force-broadcast — a shuffled join on `token`
    is corpus-independent, and AQE still broadcasts when small."""
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count("*").alias("n_tok"))
        .withColumn("doc_len", F.sum("n_tok").over(Window.partitionBy("doc_id")))
    )
    df_tbl = toks.distinct().groupBy("token").agg(F.count("*").alias("df"))
    return (
        tf.where(F.col("doc_id") < 50)
        .join(df_tbl, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            rnd(F.col("n_tok").cast("double") / F.col("doc_len"), 6).alias("tf"),
            rnd(F.log(F.col("n").cast("double") / F.col("df")), 6).alias("idf"),
            rnd(
                (F.col("n_tok").cast("double") / F.col("doc_len"))
                * F.log(F.col("n").cast("double") / F.col("df")),
                6,
            ).alias("tf_idf"),
        )
    )


register(
    "tf_idf",
    oracle="""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (
  SELECT doc_id, token, count(*) AS n_tok,
         sum(count(*)) OVER (PARTITION BY doc_id) AS doc_len
  FROM toks GROUP BY doc_id, token
),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
SELECT tf.doc_id, tf.token,
       round(CAST(n_tok AS DOUBLE) / doc_len + 1e-6, 6) AS tf,
       round(ln(CAST(n.n AS DOUBLE) / df.df) + 1e-6, 6) AS idf,
       round((CAST(n_tok AS DOUBLE) / doc_len) * ln(CAST(n.n AS DOUBLE) / df.df) + 1e-6, 6)
         AS tf_idf
FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
WHERE tf.doc_id < 50
""",
    tags=("text", "llm-pipeline", "bench"),
)(tf_idf)


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: content md5 plus a coarse structural
    signature (length band x token count) for fast pre-clustering."""
    docs = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.concat_ws(
            ":",
            (F.col("n_chars") / 100).cast("int").cast("string"),
            F.size(ts).cast("string"),
        ).alias("structural_sig"),
    )


register(
    "doc_fingerprint",
    oracle="""
SELECT doc_id,
       md5(text) AS content_md5,
       CAST(CAST(n_chars // 100 AS INTEGER) AS VARCHAR) || ':' ||
         CAST(len(string_split(text, ' ')) AS VARCHAR) AS structural_sig
FROM documents
""",
    tags=("text", "llm-pipeline"),
)(doc_fingerprint)


#: BPE-ish pre-tokenizer (both engines' regex dialects agree on this
#: subset: no lookaround, leftmost-first alternation): contractions,
#: letter runs, 1-3 digit groups (cl100k-style number chunking), then
#: punctuation/symbol runs. Estimates subword token counts ~chars/4
#: without shipping a vocabulary — the standard cheap budget heuristic
#: for LLM-training-data sizing.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s']+"


def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both ways the brief's pipeline needs: whitespace
    tokens (word budget) and a BPE-ish regex pre-tokenization (subword
    budget proxy) — plus chars-per-BPE-token, the compression-ratio
    quality signal (garbage text compresses badly). Pure JVM-side
    regexp_extract_all; no Python, no explode."""
    docs = load(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        rnd(
            F.col("n_chars").cast("double")
            / F.greatest(F.size(bpe), F.lit(1)).cast("double"),
            4,
        ).alias("chars_per_bpe_token"),
    )


register(
    "bpe_token_count",
    oracle=r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text,
         '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s'']+'))
         AS INTEGER) AS n_bpe_tokens,
       round(CAST(n_chars AS DOUBLE)
             / greatest(len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s'']+')), 1)
             + 1e-6, 4) AS chars_per_bpe_token
FROM documents
""",
    tags=("text", "llm-pipeline", "tokenization"),
)(bpe_token_count)


def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training corpus filter: exact-dup removal +
    length bounds + quality score + language ID, folded into one pass
    with a per-document keep/drop verdict and the FIRST failing reason
    (the order a production pipeline applies them: cheap dedup first,
    then cheap heuristics, so expensive downstream stages see only
    survivors).

    Scale shape: one window function over the content fingerprint (hash
    shuffle on md5(text) — the same shuffle exact dedup needs anyway)
    plus per-row array expressions; no joins, no explodes, one shuffle
    total. At 100 TB this is the shape you want: the entire filter is a
    single map + one keyed exchange.
    """
    docs = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    n = F.size(ts)
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.size(F.expr(f"filter(split(text, ' '), t -> t IN ({stop_in}))"))
    stop_ratio = n_stop.cast("double") / n
    rep_ratio = 1.0 - F.size(F.array_distinct(ts)).cast("double") / n
    quality = (
        F.when(n < 10, 0.0).otherwise(1.0)
        * (1.0 - rep_ratio)
        * F.when(stop_ratio > 0.5, 0.5).otherwise(1.0)
    )
    dup_rank = F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    )
    staged = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        rnd(quality, 4).alias("quality"),
        rnd(stop_ratio, 4).alias("marker_ratio"),
        dup_rank.alias("dup_rank"),
    )
    reason = (
        F.when(F.col("dup_rank") > 1, "duplicate")
        .when(F.col("n_tokens") < 10, "too_short")
        .when(F.col("quality") < 0.5, "low_quality")
        .when(F.col("marker_ratio") < 0.05, "non_en")
        .otherwise("keep")
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        "quality",
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )


_CORPUS_FILTER_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS ts,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS dup_rank
  FROM documents
),
m AS (
  SELECT doc_id, dup_rank,
         len(ts) AS n,
         CAST(len(list_filter(ts, x -> x IN ({", ".join(repr(s) for s in STOPWORDS)}))) AS DOUBLE)
           / len(ts) AS stop_ratio,
         1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS rep_ratio
  FROM t
),
staged AS (
  SELECT doc_id,
         CAST(n AS INTEGER) AS n_tokens,
         round((CASE WHEN n < 10 THEN 0.0 ELSE 1.0 END)
               * (1.0 - rep_ratio)
               * (CASE WHEN stop_ratio > 0.5 THEN 0.5 ELSE 1.0 END) + 1e-6, 4) AS quality,
         round(stop_ratio + 1e-6, 4) AS marker_ratio,
         dup_rank
  FROM m
)
SELECT doc_id, n_tokens, quality,
       CASE WHEN dup_rank > 1 THEN 'duplicate'
            WHEN n_tokens < 10 THEN 'too_short'
            WHEN quality < 0.5 THEN 'low_quality'
            WHEN marker_ratio < 0.05 THEN 'non_en'
            ELSE 'keep' END AS reason,
       (CASE WHEN dup_rank > 1 THEN 'duplicate'
             WHEN n_tokens < 10 THEN 'too_short'
             WHEN quality < 0.5 THEN 'low_quality'
             WHEN marker_ratio < 0.05 THEN 'non_en'
             ELSE 'keep' END) = 'keep' AS keep
FROM staged
"""

register(
    "corpus_filter_pipeline",
    oracle=_CORPUS_FILTER_ORACLE,
    tags=("text", "llm-pipeline", "filter", "bench"),
)(corpus_filter_pipeline)


#: histogram bounds chosen to bracket the fixture corpus (n_chars
#: 44..577 at sf0.1) with headroom; out-of-range values land in the
#: ANSI width_bucket overflow buckets (0 / n+1) identically on both
#: engines.
HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 800.0, 16


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width document-length histogram via ANSI width_bucket — the
    one-shuffle profile every corpus intake job runs first. Group count
    is bounded by the bucket count, so the aggregate is map-side
    combinable and the final exchange moves at most n_buckets+2 rows."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.expr(
        f"width_bucket(CAST(n_chars AS DOUBLE), {HIST_LO}, {HIST_HI}, {HIST_BUCKETS})"
    ).cast("int")
    width = (HIST_HI - HIST_LO) / HIST_BUCKETS
    return (
        docs.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .withColumn("bucket_lo", rnd(HIST_LO + (F.col("bucket") - 1) * F.lit(width), 2))
        .withColumn("bucket_hi", rnd(HIST_LO + F.col("bucket") * F.lit(width), 2))
    )


register(
    "doc_length_histogram",
    # DuckDB has no width_bucket — the CASE is the ANSI definition
    # (0 below range, n_buckets+1 at/above hi, else 1-based equal-width).
    oracle=f"""
SELECT CAST(CASE WHEN CAST(n_chars AS DOUBLE) < {HIST_LO} THEN 0
            WHEN CAST(n_chars AS DOUBLE) >= {HIST_HI} THEN {HIST_BUCKETS} + 1
            ELSE floor((CAST(n_chars AS DOUBLE) - {HIST_LO})
                       / {(HIST_HI - HIST_LO) / HIST_BUCKETS}) + 1 END AS INTEGER) AS bucket,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       round({HIST_LO} + (bucket - 1) * {(HIST_HI - HIST_LO) / HIST_BUCKETS} + 1e-6, 2) AS bucket_lo,
       round({HIST_LO} + bucket * {(HIST_HI - HIST_LO) / HIST_BUCKETS} + 1e-6, 2) AS bucket_hi
FROM documents
GROUP BY 1
""",
    tags=("text", "llm-pipeline", "histogram"),
)(doc_length_histogram)


def _bigram_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per adjacent-token bigram, (doc_id, bigram) — the shared
    fact stream behind ``bigram_logprob_score``, ``collocation_pmi`` and
    ``vocab_growth`` (single memoized build; previously three copies
    shared the memo key, a drift hazard).

    Documents with fewer than two tokens contribute no bigrams — the
    ``size(ts) >= 2`` guard matches the oracles' ``len(tokens) >= 2``
    filter (a 1-token doc must not emit a spurious single-token
    'bigram' via null-skipping concat).

    Tokenizes ONCE into a column: split() inlined in the transform
    lambda re-tokenizes the document per bigram element (the ~10x trap
    fixed in pipeline/curation._grams).
    """
    from flink_cookbook_spark.pipeline._cache import memo_persist

    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        bi = (
            docs.select("doc_id", F.split("text", " ").alias("ts"))
            .where(F.size("ts") >= 2)
            .select(
                "doc_id",
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
                ).alias("bigrams"),
            )
        )
        return bi.select("doc_id", F.explode("bigrams").alias("bigram"))

    return memo_persist(spark, "bigram_tokens", sf_dir, build)


def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    bigram MLE model — the cheap statistical-LM fluency score (a
    perplexity filter without a neural model): for each adjacent token
    pair, ln P(w2 | w1) = ln c(w1,w2) - ln c(w1,*), averaged per doc.
    Low scores flag boilerplate-free but incoherent text; high scores
    flag repetitive/templated text — both ends get inspected before
    training.

    Scale shape: bigram extraction stays array-side (transform over
    sequence — no explode until counting); the two count tables join
    UNHINTED (the bigram vocabulary at web scale is larger than the
    unigram one — a forced broadcast would OOM; AQE broadcasts when
    genuinely small); the only corpus-sized shuffles are the two
    map-side-combinable count aggregates and the final per-doc average —
    the same explode -> groupBy shape as tf_idf.
    """
    # three consumers (bigram counts, start counts, the scoring join) —
    # materialized once per session like the shingle/minhash indexes
    exploded = _bigram_exploded(spark, sf_dir)
    big_counts = exploded.groupBy("bigram").agg(F.count("*").alias("c_bigram"))
    start_counts = (
        exploded.select(F.split_part("bigram", F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c_start"))
    )
    scored = (
        exploded.join(big_counts, "bigram")
        .withColumn("w1", F.split_part("bigram", F.lit(" "), F.lit(1)))
        .join(start_counts, "w1")
        .withColumn("lp", F.log(F.col("c_bigram").cast("double") / F.col("c_start")))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        rnd(F.avg("lp")).alias("mean_logprob"),
        rnd(F.min("lp")).alias("min_logprob"),
    )


register(
    "bigram_logprob_score",
    # split_part(bigram, ' ', 1) is w1 on both engines; DuckDB ln == Spark log.
    oracle="""
WITH bi AS (
  SELECT doc_id,
         list_transform(range(1, len(string_split(text, ' '))),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])
           AS bigrams
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
exploded AS (SELECT doc_id, unnest(bigrams) AS bigram FROM bi),
big_counts AS (SELECT bigram, count(*) AS c_bigram FROM exploded GROUP BY bigram),
start_counts AS (
  SELECT split_part(bigram, ' ', 1) AS w1, count(*) AS c_start
  FROM exploded GROUP BY 1
),
scored AS (
  SELECT e.doc_id, ln(CAST(b.c_bigram AS DOUBLE) / s.c_start) AS lp
  FROM exploded e
  JOIN big_counts b USING (bigram)
  JOIN start_counts s ON split_part(e.bigram, ' ', 1) = s.w1
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(lp) + 1e-6, 4) AS mean_logprob,
       round(min(lp) + 1e-6, 4) AS min_logprob
FROM scored GROUP BY doc_id
""",
    tags=("text", "llm-pipeline", "language-model"),
)(bigram_logprob_score)


_DECILES = [round(0.1 * k, 1) for k in range(1, 10)]


def doc_length_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucketed) length histogram: bucket = number
    of decile cutpoints strictly below the value.

    Deliberately NOT a global ntile() — that would sort the whole corpus
    into one partition. Instead: one exact-percentile aggregate computes
    9 cutpoints (tiny), which broadcast to a map-only bucket assignment,
    then a bounded-cardinality hash aggregate. Shuffle volume is 9
    doubles + 10 result rows regardless of corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    cuts = docs.agg(
        F.expr(
            "percentile(CAST(n_chars AS DOUBLE), array("
            + ", ".join(str(d) for d in _DECILES)
            + "))"
        ).alias("cuts")
    )
    assigned = docs.crossJoin(F.broadcast(cuts)).select(
        "n_chars",
        F.aggregate(
            "cuts",
            F.lit(0),
            lambda acc, c: acc
            + F.when(F.col("n_chars").cast("double") > c, 1).otherwise(0),
        ).alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


register(
    "doc_length_equidepth",
    oracle=f"""
WITH cuts AS (
  SELECT quantile_cont(CAST(n_chars AS DOUBLE),
                       [{", ".join(str(d) for d in _DECILES)}]) AS c
  FROM documents
),
assigned AS (
  SELECT d.n_chars,
         CAST(len(list_filter(cuts.c, x -> x < CAST(d.n_chars AS DOUBLE)))
              AS INTEGER) AS bucket
  FROM documents d CROSS JOIN cuts
)
SELECT bucket,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM assigned GROUP BY 1
""",
    tags=("text", "llm-pipeline", "histogram"),
)(doc_length_equidepth)


_PROFILE_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the events table: row count plus
    per-column null and exact distinct counts (the Deequ/"analyzer"
    intake report run before any pipeline is pointed at new data).

    One aggregate: Spark plans the multi-column count_distinct set via
    a single Expand + two-stage hash aggregate — map-side partials make
    the shuffled volume proportional to the distinct-value counts, not
    the row count.
    """
    ev = load(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append((F.count("*") - F.count(c)).alias(f"{c}_nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}_distinct"))
    return ev.agg(*aggs)


register(
    "table_profile",
    oracle="SELECT count(*) AS n_rows, "
    + ", ".join(
        f"count(*) - count({c}) AS {c}_nulls, "
        f"count(DISTINCT {c}) AS {c}_distinct"
        for c in _PROFILE_COLS
    )
    + " FROM events",
    tags=("profiling", "llm-pipeline"),
)(table_profile)


# --- chunking + mixture drift -------------------------------------------

CHUNK_TOKENS = 64  # tokens per training chunk
CHUNK_STRIDE = 48  # chunk start stride (16-token overlap)


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking: each document becomes ceil-strided
    64-token windows with 16-token overlap — the context-window splitter
    that feeds sequence packing (``sequence_packing``) in a training-data
    pipeline. Chunk identity is the md5 of the joined token slice, so
    downstream chunk-level dedup composes directly.

    Map-only: tokenize once, explode the stride grid (bounded by each
    doc's own token count / stride), slice per start — zero shuffles, and
    at 100 TB the fan-out is rows x (len/stride), streamed through
    whole-stage codegen with nothing driver-side.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ts"))
    starts = toks.select(
        "doc_id",
        "ts",
        F.explode(
            F.sequence(F.lit(0), F.size("ts") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("ts", F.col("start") + 1, CHUNK_TOKENS)
    return starts.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


register(
    "doc_chunking",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
s AS (SELECT doc_id, ts, unnest(range(0, len(ts), {CHUNK_STRIDE})) AS start FROM t)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(len(ts[start + 1 : start + {CHUNK_TOKENS}]) AS INTEGER) AS n_tokens,
       md5(array_to_string(ts[start + 1 : start + {CHUNK_TOKENS}], ' ')) AS chunk_hash
FROM s
""",
    tags=("text", "llm-pipeline", "chunking"),
)(doc_chunking)


KL_BUCKET_CHARS = 50  # doc-length histogram bucket width for KL
KL_BUCKET_CAP = 10


def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the doc-length distribution vs the
    corpus — the mixture-drift monitor for multi-source training data
    (is src7 suddenly shipping only short docs?). KL(P_source || Q_corpus)
    over capped 50-char length buckets; Q covers every bucket P occupies
    (corpus includes the source), so the log is always finite.

    One hash aggregate to (source, bucket) counts — tiny from then on:
    the window normalizations and the KL sum run over at most
    sources x buckets rows regardless of corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    c = (
        docs.select(
            "source",
            F.least(
                F.floor(F.col("n_chars") / KL_BUCKET_CHARS),
                F.lit(KL_BUCKET_CAP),
            ).alias("b"),
        )
        .groupBy("source", "b")
        .agg(F.count("*").alias("cnt"))
    )
    src_w = Window.partitionBy("source")
    bkt_w = Window.partitionBy("b")
    all_w = Window.partitionBy()
    terms = c.select(
        "source",
        (F.col("cnt") / F.sum("cnt").over(src_w)).alias("p"),
        (F.sum("cnt").over(bkt_w) / F.sum("cnt").over(all_w)).alias("q"),
        F.sum("cnt").over(src_w).alias("n_docs"),
    )
    return terms.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"),
        rnd(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias("kl"),
    )


register(
    "source_kl_divergence",
    oracle=f"""
WITH c AS (
  SELECT source, least(n_chars // {KL_BUCKET_CHARS}, {KL_BUCKET_CAP}) AS b,
         count(*) AS cnt
  FROM documents GROUP BY 1, 2
),
terms AS (
  SELECT source,
         cnt / sum(cnt) OVER (PARTITION BY source) AS p,
         sum(cnt) OVER (PARTITION BY b) / sum(cnt) OVER () AS q,
         sum(cnt) OVER (PARTITION BY source) AS n_docs
  FROM c
)
SELECT source,
       CAST(max(n_docs) AS BIGINT) AS n_docs,
       round(sum(p * ln(p / q)) + 1e-6, 6) AS kl
FROM terms
GROUP BY source
""",
    tags=("text", "llm-pipeline", "mixture", "drift"),
)(source_kl_divergence)


PMI_MIN_COUNT = 3  # drop bigrams rarer than this before scoring


def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations by pointwise mutual information: bigrams whose
    joint probability beats the independence assumption of their unigrams
    — the classic phrase-mining pass (multi-word entities, boilerplate
    idioms) that feeds tokenizer vocab decisions and boilerplate lists.

    PMI = ln( (c_xy / N_bi) / ((c_x / N_uni) * (c_y / N_uni) ) ), floored
    to bigrams seen >= PMI_MIN_COUNT times. Reuses the memoized exploded
    bigram stream (shared with ``bigram_logprob_score``). The unigram
    joins are deliberately UNHINTED: at web scale the whitespace
    vocabulary is 1e8-1e9 distinct strings (URLs, numbers, typos) — a
    forced broadcast would OOM every executor — while the probe side is
    already post-aggregate (surviving bigrams), so a shuffled hash join
    is corpus-independent; AQE still picks broadcast when the vocab is
    genuinely small. Only the two 1-row totals are broadcast.
    """
    exploded = _bigram_exploded(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c_uni"))
    )
    n_uni = uni.agg(F.sum("c_uni").alias("n_uni"))
    bc = (
        exploded.groupBy("bigram")
        .agg(F.count("*").alias("c_bigram"))
        .where(F.col("c_bigram") >= PMI_MIN_COUNT)
        .withColumn("w1", F.split_part("bigram", F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part("bigram", F.lit(" "), F.lit(2)))
    )
    n_bi = exploded.agg(F.count("*").alias("n_bi"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c_uni").alias("c_w1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c_uni").alias("c_w2"))
    pmi = F.log(
        (F.col("c_bigram") / F.col("n_bi"))
        / ((F.col("c_w1") / F.col("n_uni")) * (F.col("c_w2") / F.col("n_uni")))
    )
    return (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        # + 0.0 normalizes IEEE negative zero (DuckDB round() preserves
        # the sign of zero; Spark's doesn't — hash-relevant)
        .select("w1", "w2", "c_bigram", (rnd(pmi, 4) + F.lit(0.0)).alias("pmi"))
    )


register(
    "collocation_pmi",
    oracle=f"""
WITH bi AS (
  SELECT doc_id,
         list_transform(range(1, len(string_split(text, ' '))),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])
           AS bigrams
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
exploded AS (SELECT doc_id, unnest(bigrams) AS bigram FROM bi),
uni AS (
  SELECT tok, count(*) AS c_uni
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
totals AS (
  SELECT (SELECT sum(c_uni) FROM uni) AS n_uni,
         (SELECT count(*) FROM exploded) AS n_bi
),
bc AS (
  SELECT bigram, count(*) AS c_bigram,
         split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2
  FROM exploded GROUP BY bigram
  HAVING count(*) >= {PMI_MIN_COUNT}
)
SELECT b.w1, b.w2, b.c_bigram,
       round(ln((b.c_bigram * 1.0 / t.n_bi)
                / ((u1.c_uni * 1.0 / t.n_uni) * (u2.c_uni * 1.0 / t.n_uni))) + 1e-6, 4) + 0.0 AS pmi
FROM bc b
JOIN uni u1 ON b.w1 = u1.tok
JOIN uni u2 ON b.w2 = u2.tok
CROSS JOIN totals t
""",
    tags=("text", "llm-pipeline", "collocation", "pmi", "bench"),
)(collocation_pmi)


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: subword (BPE-ish) tokens per
    whitespace word, with corpus-share context — THE metric for deciding
    whether a tokenizer under-serves a language (high fertility = more
    sequence length burned per word = worse effective context and higher
    training cost for that language).

    Rolls the per-document ``bpe_token_count`` signals up by ``lang``:
    one map pass (both token counts are array-side, no explode) + one
    combinable hash aggregate over languages.
    """
    docs = load(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
    per_doc = docs.select(
        "lang",
        F.size(F.split("text", " ")).alias("n_ws"),
        F.size(bpe).alias("n_bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws").alias("total_words"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        rnd(F.sum("n_bpe") / F.sum("n_ws"), 4).alias("fertility"),
    )


_BPE_SQL = BPE_ISH_PATTERN.replace("'", "''")  # SQL string-literal escaping

register(
    "tokenizer_fertility",
    oracle=rf"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
       CAST(sum(len(regexp_extract_all(text, '{_BPE_SQL}'))) AS BIGINT) AS total_bpe_tokens,
       round(sum(len(regexp_extract_all(text, '{_BPE_SQL}'))) * 1.0
             / sum(len(string_split(text, ' '))) + 1e-6, 4) AS fertility
FROM documents
GROUP BY lang
""",
    tags=("text", "llm-pipeline", "tokenizer"),
)(tokenizer_fertility)


# --------------------------------------------------------------------------
# vocabulary growth (Heaps'-law curve)
# --------------------------------------------------------------------------

#: documents per growth checkpoint bucket.
VOCAB_BUCKET_DOCS = 50


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve over the corpus in document
    order: cumulative distinct bigram types and cumulative bigram tokens
    at every ``VOCAB_BUCKET_DOCS``-document checkpoint.

    The corpus-health diagnostic behind tokenizer sizing and dedup QA: a
    curve that flattens early signals a boilerplate-heavy (or heavily
    duplicated) corpus; type growth that tracks Heaps' V ~ k*N^beta is
    healthy. Bigram types are used because the fixture's unigram
    vocabulary saturates in the first bucket.

    Scale shape: 'first occurrence' is a map-side-combinable MIN per
    type (one hash aggregate over the memoized bigram stream shared
    with ``bigram_logprob_score``/``collocation_pmi``); checkpoint
    counts are a second tiny aggregate; the cumulative window runs over
    n_docs/bucket rows, never over the corpus.
    """
    exploded = _bigram_exploded(spark, sf_dir)
    bucket = lambda c: F.floor(F.col(c) / VOCAB_BUCKET_DOCS).cast("long")  # noqa: E731
    firsts = exploded.groupBy("bigram").agg(F.min("doc_id").alias("first_doc"))
    new_types = firsts.groupBy(bucket("first_doc").alias("bucket")).agg(
        F.count("*").alias("new_types")
    )
    counts = exploded.groupBy(bucket("doc_id").alias("bucket")).agg(
        F.count("*").alias("n_bigrams")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        counts.join(new_types, "bucket", "left")
        .select(
            "bucket",
            F.sum(F.coalesce("new_types", F.lit(0))).over(w).alias("vocab_size"),
            F.sum("n_bigrams").over(w).alias("cum_bigrams"),
        )
    )


register(
    "vocab_growth",
    oracle=f"""
WITH bi AS (
  SELECT doc_id,
         list_transform(range(1, len(string_split(text, ' '))),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])
           AS bigrams
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
exploded AS (SELECT doc_id, unnest(bigrams) AS bigram FROM bi),
firsts AS (SELECT bigram, min(doc_id) AS first_doc FROM exploded GROUP BY bigram),
new_types AS (
  SELECT CAST(floor(first_doc / {VOCAB_BUCKET_DOCS}) AS BIGINT) AS bucket,
         count(*) AS new_types
  FROM firsts GROUP BY 1
),
counts AS (
  SELECT CAST(floor(doc_id / {VOCAB_BUCKET_DOCS}) AS BIGINT) AS bucket,
         count(*) AS n_bigrams
  FROM exploded GROUP BY 1
)
SELECT c.bucket,
       CAST(sum(coalesce(n.new_types, 0)) OVER w AS BIGINT) AS vocab_size,
       CAST(sum(c.n_bigrams) OVER w AS BIGINT) AS cum_bigrams
FROM counts c LEFT JOIN new_types n USING (bucket)
WINDOW w AS (ORDER BY c.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    tags=("text", "llm-pipeline", "vocabulary"),
)(vocab_growth)


# --------------------------------------------------------------------------
# within-document repetition signals (Gopher/MassiveText "rep" rules)
# --------------------------------------------------------------------------


def repeated_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document n-gram repetition signals — the Gopher quality
    rules "fraction of duplicate n-grams" and "fraction covered by the
    most frequent n-gram": per document, the duplicate-bigram and
    duplicate-trigram fractions (1 - distinct/total) plus the share of
    bigram slots taken by the doc's single most repeated bigram.
    Template spam and keyword-stuffed pages spike all three while
    per-token stats look normal.

    Scale shape: trigram dup-frac stays entirely array-side
    (array_distinct in codegen — zero shuffle for that signal); the
    bigram signals ride the shared memoized bigram stream through ONE
    combinable two-level aggregate (doc x bigram counts -> per-doc
    max/sum) — no window, no join, no Python.
    """
    exploded = _bigram_exploded(spark, sf_dir)
    bi_stats = (
        exploded.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("n_distinct_bigrams"),
            F.max("c").alias("top_bigram_count"),
        )
    )
    docs = load(spark, sf_dir, "documents")
    tri = (
        docs.select("doc_id", F.split("text", " ").alias("ts"))
        .where(F.size("ts") >= 3)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(ts) - 2), "
                "i -> concat(ts[i - 1], ' ', ts[i], ' ', ts[i + 1]))"
            ).alias("tg"),
        )
        .select(
            "doc_id",
            F.size("tg").alias("n_trigrams"),
            F.size(F.array_distinct("tg")).alias("n_distinct_trigrams"),
        )
    )
    return bi_stats.join(tri, "doc_id").select(
        "doc_id",
        "n_bigrams",
        rnd(F.lit(1.0) - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 4).alias(
            "dup_bigram_frac"
        ),
        rnd(
            F.lit(1.0) - F.col("n_distinct_trigrams") / F.col("n_trigrams"), 4
        ).alias("dup_trigram_frac"),
        rnd(F.col("top_bigram_count") / F.col("n_bigrams"), 4).alias(
            "top_bigram_share"
        ),
    )


register(
    "repeated_ngram_ratio",
    oracle="""
WITH bi AS (
  SELECT doc_id,
         list_transform(range(1, len(string_split(text, ' '))),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])
           AS bigrams
  FROM documents WHERE len(string_split(text, ' ')) >= 2
),
bc AS (
  SELECT doc_id, bigram, count(*) AS c
  FROM (SELECT doc_id, unnest(bigrams) AS bigram FROM bi)
  GROUP BY doc_id, bigram
),
bi_stats AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_bigrams,
         count(*) AS n_distinct_bigrams,
         max(c) AS top_bigram_count
  FROM bc GROUP BY doc_id
),
tri AS (
  SELECT doc_id,
         len(tg) AS n_trigrams,
         len(list_distinct(tg)) AS n_distinct_trigrams
  FROM (
    SELECT doc_id,
           list_transform(range(1, len(string_split(text, ' ')) - 1),
                          i -> string_split(text, ' ')[i] || ' ' ||
                               string_split(text, ' ')[i + 1] || ' ' ||
                               string_split(text, ' ')[i + 2]) AS tg
    FROM documents WHERE len(string_split(text, ' ')) >= 3
  )
)
SELECT b.doc_id,
       b.n_bigrams,
       round(1.0 - b.n_distinct_bigrams * 1.0 / b.n_bigrams + 1e-6, 4) AS dup_bigram_frac,
       round(1.0 - t.n_distinct_trigrams * 1.0 / t.n_trigrams + 1e-6, 4) AS dup_trigram_frac,
       round(b.top_bigram_count * 1.0 / b.n_bigrams + 1e-6, 4) AS top_bigram_share
FROM bi_stats b JOIN tri t USING (doc_id)
""",
    tags=("text", "llm-pipeline", "quality", "repetition"),
)(repeated_ngram_ratio)


# --------------------------------------------------------------------------
# tokenizer-training prep: BPE first-merge candidates
# --------------------------------------------------------------------------

BPE_TOP_PAIRS = 32


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge candidates: corpus-wide frequencies of
    adjacent CHARACTER pairs inside tokens — exactly the statistic the
    first iteration of BPE tokenizer training maximizes (the most
    frequent pair becomes the first merge rule). Top BPE_TOP_PAIRS
    pairs, count-desc, pair-asc tie-break. The character-level
    counterpart of ``collocation_pmi`` (word-level) and the feeder for
    ``bpe_token_count``'s tokenizer.

    Scale shape: pair extraction is a zero-join map (token explode +
    array-side substring transform); counting is one map-side-combinable
    hash aggregate over a bounded key domain (alphabet², not corpus);
    the top-k is a TakeOrderedAndProject over that tiny aggregate.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(BPE_TOP_PAIRS)
    )


register(
    "bpe_merge_candidates",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(tok)), i -> substring(tok, i, 2))) AS pair
  FROM toks WHERE length(tok) >= 2
)
SELECT pair, count(*) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC
LIMIT {BPE_TOP_PAIRS}
""",
    tags=("text", "llm-pipeline", "tokenizer", "bpe"),
)(bpe_merge_candidates)


# --------------------------------------------------------------------------
# language-ID confusion matrix
# --------------------------------------------------------------------------

def _lang_confusion_oracle() -> str:
    stop_in = ", ".join(repr(s) for s in STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
m AS (
  SELECT lang AS declared_lang,
         CASE WHEN CAST(len(list_filter(ts, x -> x IN ({stop_in}))) AS DOUBLE)
                   / len(ts) >= 0.05
              THEN 'en' ELSE 'other' END AS predicted_lang
  FROM t
),
agg AS (
  SELECT declared_lang, predicted_lang, count(*) AS n_docs
  FROM m GROUP BY 1, 2
)
SELECT declared_lang, predicted_lang, n_docs,
       round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY declared_lang)
             + 1e-6, 6) AS share_of_declared
FROM agg
"""


@register(
    "lang_confusion_matrix",
    oracle=_lang_confusion_oracle(),
    tags=("prepared-r8",),
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-predicted language CONFUSION MATRIX over the marker
    language-ID heuristic (``lang_id_heuristic``): per (declared,
    predicted) cell the document count and its share of the declared
    class — the row-normalized matrix quality teams read before trusting
    a classifier to gate a corpus. Composes the per-doc classifier with
    one tiny aggregate + window."""
    per_doc = lang_id_heuristic(spark, sf_dir)
    agg = per_doc.groupBy("declared_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("declared_lang")
    return agg.select(
        "declared_lang", "predicted_lang", "n_docs",
        rnd(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share_of_declared"),
    )


# --------------------------------------------------------------------------
# out-of-vocabulary rate per source
# --------------------------------------------------------------------------

#: vocabulary = the top-N corpus tokens by frequency (ties: token asc).
OOV_VOCAB_TOP = 500


_OOV_ORACLE = f"""
WITH tokens AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS n,
           row_number() OVER (ORDER BY count(*) DESC, token) AS rk
    FROM tokens GROUP BY token)
  WHERE rk <= {OOV_VOCAB_TOP}
)
SELECT t.source,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.token IS NULL THEN 1.0 ELSE 0.0 END) / count(*)
             + 1e-6, 6) AS oov_share
FROM tokens t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.source
"""


@register("oov_rate", oracle=_OOV_ORACLE, tags=("prepared-r8",))
def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-VOCABULARY rate per source: build the corpus top-N token
    vocabulary (frequency-ranked, deterministic tie-break), then report
    per source what share of token OCCURRENCES falls outside it — the
    coverage number that decides whether a tokenizer's vocab suits a
    new source before training on it. The vocabulary join is
    deliberately UNHINTED (top-N of a corpus-derived aggregate — the
    repo's forced-broadcast policy): AQE broadcasts it at fixture scale
    and keeps the shuffled join at high SF."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    # top-N via orderBy().limit() — Spark plans TakeOrderedAndProject
    # (per-partition top-N + k-row driver merge), never a
    # single-partition ranking window over the whole vocabulary
    vocab = (
        tokens.groupBy("token").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(OOV_VOCAB_TOP)
        .select("token")
    )
    joined = tokens.join(
        vocab.withColumn("in_vocab", F.lit(1)), "token", "left"
    )
    return joined.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        rnd(
            F.sum(F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0))
            / F.count("*"),
            6,
        ).alias("oov_share"),
    )


# --------------------------------------------------------------------------
# curation filter funnel report
# --------------------------------------------------------------------------

#: the pipeline's rule order (cheap dedup first), mirrored from
#: ``corpus_filter_pipeline``'s first-failing-reason CASE.
FUNNEL_STAGES = (
    (1, "duplicate"),
    (2, "too_short"),
    (3, "low_quality"),
    (4, "non_en"),
)


def _funnel_oracle() -> str:
    inner = _CORPUS_FILTER_ORACLE
    values = ", ".join(f"({i}, '{r}')" for i, r in FUNNEL_STAGES)
    return f"""
WITH v AS ({inner}),
counts AS (
  SELECT reason, count(*) AS n FROM v WHERE reason != 'keep' GROUP BY reason
),
total AS (SELECT count(*) AS n_total FROM v),
stages AS (SELECT * FROM (VALUES {values}) s(stage, reason))
SELECT CAST(s.stage AS INTEGER) AS stage, s.reason,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_dropped,
       CAST(t.n_total - sum(coalesce(c.n, 0)) OVER (ORDER BY s.stage)
            AS BIGINT) AS n_remaining
FROM stages s LEFT JOIN counts c USING (reason) CROSS JOIN total t
"""


@register(
    "filter_funnel_report",
    oracle=_funnel_oracle(),
    tags=("prepared-r8",),
)
def filter_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURATION FUNNEL: per filter stage, how many documents the rule
    drops and how many survive after it — the stage-attribution view of
    ``corpus_filter_pipeline``'s per-doc verdicts (a pipeline owner reads
    this table, not 500k verdicts, to see which rule is doing the work).
    Every stage ALWAYS emits (the threshold list is exploded from a
    literal and left-joined to the drop counts — the
    ``similarity_threshold_curve`` lesson), so a rule that drops nothing
    shows a 0, never a missing row. Composes the registered one-shuffle
    filter with two tiny aggregates over a 4-row result."""
    verdicts = corpus_filter_pipeline(spark, sf_dir)
    counts = (
        verdicts.where(F.col("reason") != "keep")
        .groupBy("reason")
        .agg(F.count("*").alias("n_dropped_u"))
    )
    stages = verdicts.agg(F.count("*").alias("n_total")).select(
        "n_total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("stage"), F.lit(r).alias("reason")
                    )
                    for i, r in FUNNEL_STAGES
                ]
            )
        ).alias("s"),
    ).select("n_total", "s.stage", "s.reason")
    w = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, 0)
    joined = stages.join(counts, "reason", "left").select(
        "stage",
        "reason",
        F.coalesce(F.col("n_dropped_u"), F.lit(0).cast("long")).alias("n_dropped"),
        "n_total",
    )
    return joined.select(
        "stage",
        "reason",
        "n_dropped",
        (F.col("n_total") - F.sum("n_dropped").over(w)).alias("n_remaining"),
    )


# --------------------------------------------------------------------------
# Zipf rank-frequency fit per source (corpus health)
# --------------------------------------------------------------------------

#: ranks entering the log-log fit (the Zipf head; the tail is Heaps'-law
#: territory covered by ``vocab_growth``).
ZIPF_TOP_N = 100


_ZIPF_ORACLE = f"""
WITH counts AS (
  SELECT source, t.tok, count(*) AS cnt
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  GROUP BY source, t.tok
),
totals AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS total_tokens,
         count(*) AS vocab_size
  FROM counts GROUP BY source
),
head AS (
  SELECT source, cnt,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, tok ASC) AS rk
  FROM counts QUALIFY rk <= {ZIPF_TOP_N}
),
fit AS (
  SELECT source, count(*) AS n_ranks,
         round(regr_slope(ln(cnt), ln(rk)) + 1e-6, 6) AS zipf_slope,
         round(regr_r2(ln(cnt), ln(rk)) + 1e-6, 6) AS fit_r2,
         max(CASE WHEN rk = 1 THEN cnt END) AS top_cnt
  FROM head GROUP BY source
)
SELECT f.source, t.vocab_size, f.n_ranks, f.zipf_slope, f.fit_r2,
       round(f.top_cnt * 1.0 / t.total_tokens + 1e-6, 6) AS top_token_share
FROM fit f JOIN totals t ON f.source = t.source
"""


@register("zipf_fit", oracle=_ZIPF_ORACLE, tags=("prepared-r8",))
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF'S-LAW FIT per source: the log-log slope of the token
    rank-frequency head (natural text sits near -1; template/boilerplate
    corpora flatten, spam steepens) plus fit r^2 and the top-token share
    — a one-row-per-source corpus-health fingerprint. Token counts are
    one hash aggregate; ranking is a top-N-per-group window the
    optimizer runs as WindowGroupLimit (never a full vocab sort); the
    regression consumes sources x ZIPF_TOP_N rows via the single-pass
    regr_* moment aggregates (the ``per_key_linear_trend`` pattern)."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    totals = counts.groupBy("source").agg(
        F.sum("cnt").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("tok").asc()
    )
    head = counts.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= ZIPF_TOP_N
    )
    fit = head.groupBy("source").agg(
        F.count("*").alias("n_ranks"),
        rnd(F.regr_slope(F.log("cnt"), F.log("rk")), 6).alias("zipf_slope"),
        rnd(F.regr_r2(F.log("cnt"), F.log("rk")), 6).alias("fit_r2"),
        F.max(F.when(F.col("rk") == 1, F.col("cnt"))).alias("top_cnt"),
    )
    return fit.join(totals, "source").select(
        "source", "vocab_size", "n_ranks", "zipf_slope", "fit_r2",
        rnd(F.col("top_cnt") / F.col("total_tokens"), 6).alias("top_token_share"),
    )


# --------------------------------------------------------------------------
# within-document token entropy profile
# --------------------------------------------------------------------------

_TOKEN_ENTROPY_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
cnt AS (
  SELECT doc_id, source, tok, count(*) AS c
  FROM toks GROUP BY 1, 2, 3
),
with_n AS (
  SELECT doc_id, source, c,
         sum(c) OVER (PARTITION BY doc_id) AS n
  FROM cnt
),
per_doc AS (
  SELECT doc_id, source, max(n) AS n_tokens,
         sum(-(c * 1.0 / n) * log2(c * 1.0 / n)) AS h
  FROM with_n GROUP BY 1, 2
),
scored AS (
  SELECT source, h,
         CASE WHEN n_tokens > 1 THEN h / log2(n_tokens) ELSE 0.0 END AS hn
  FROM per_doc
)
SELECT source, count(*) AS n_docs,
       round(avg(h) + 1e-6, 4) AS mean_entropy_bits,
       round(avg(hn) + 1e-6, 4) AS mean_norm_entropy,
       round(min(hn) + 1e-6, 4) AS min_norm_entropy,
       CAST(sum(CASE WHEN hn < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_entropy
FROM scored GROUP BY source
"""


@register(
    "token_entropy_profile",
    oracle=_TOKEN_ENTROPY_ORACLE,
    tags=("prepared-r8",),
)
def token_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-entropy profile: Shannon entropy of each
    document's within-doc token distribution, normalized by log2(n) so
    1.0 = maximally diverse and 0.0 = one token repeated — the
    information-theoretic upgrade of ``quality_score``'s repetition
    ratio (which cannot distinguish "one token 99×" from "99 distinct
    tokens twice each").  Flags docs under 0.5 normalized entropy.

    Shape: explode → (doc, token) counts → per-doc window total → per-doc
    entropy agg → per-source agg.  Cost is linear in corpus tokens; the
    widest exchange keys on doc_id, never on the vocabulary."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.explode(F.split("text", " ")).alias("tok"),
    )
    cnt = toks.groupBy("doc_id", "source", "tok").agg(
        F.count("*").alias("c")
    )
    wd = Window.partitionBy("doc_id")
    with_n = cnt.select(
        "doc_id", "source", "c", F.sum("c").over(wd).alias("n")
    )
    p = F.col("c") / F.col("n")
    per_doc = with_n.groupBy("doc_id", "source").agg(
        F.max("n").alias("n_tokens"),
        F.sum(-p * F.log2(p)).alias("h"),
    )
    h_norm = F.when(
        F.col("n_tokens") > 1, F.col("h") / F.log2(F.col("n_tokens"))
    ).otherwise(0.0)
    scored = per_doc.select("source", "h", h_norm.alias("hn"))
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        rnd(F.avg("h"), 4).alias("mean_entropy_bits"),
        rnd(F.avg("hn"), 4).alias("mean_norm_entropy"),
        rnd(F.min("hn"), 4).alias("min_norm_entropy"),
        F.sum((F.col("hn") < 0.5).cast("long")).alias("n_low_entropy"),
    )


# --------------------------------------------------------------------------
# quality-threshold sweep (filter calibration decision table)
# --------------------------------------------------------------------------

#: candidate quality cutoffs swept by the calibration report.
QUALITY_THRESHOLDS = (0.0, 0.25, 0.5, 0.75, 0.9)

_QUALITY_SWEEP_ORACLE = f"""
WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
m AS (
  SELECT len(ts) AS n,
         CAST(len(list_filter(ts, x -> x IN
           ({", ".join(repr(s) for s in STOPWORDS)}))) AS DOUBLE)
           / len(ts) AS stop_ratio,
         1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS rep_ratio
  FROM t
),
scored AS (
  SELECT (CASE WHEN n < 10 THEN 0.0 ELSE 1.0 END)
           * (1.0 - rep_ratio)
           * (CASE WHEN stop_ratio > 0.5 THEN 0.5 ELSE 1.0 END) AS q,
         CAST(n AS BIGINT) AS n_tokens
  FROM m
),
thr AS (SELECT unnest([{", ".join(str(t) for t in QUALITY_THRESHOLDS)}]) AS threshold)
SELECT threshold,
       CAST(sum(CASE WHEN q >= threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(sum(CASE WHEN q >= threshold THEN n_tokens ELSE 0 END) AS BIGINT)
         AS n_tokens_kept,
       round(avg(CASE WHEN q >= threshold THEN 1.0 ELSE 0.0 END) + 1e-6, 6)
         AS doc_share,
       round(sum(CASE WHEN q >= threshold THEN n_tokens ELSE 0 END) * 1.0
             / sum(n_tokens) + 1e-6, 6) AS token_share
FROM scored CROSS JOIN thr GROUP BY threshold
"""


@register(
    "quality_threshold_sweep",
    oracle=_QUALITY_SWEEP_ORACLE,
    tags=("prepared-r8",),
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision table for the quality filter: for each candidate cutoff,
    how many documents and tokens survive ``quality_score``'s composite
    score ≥ cutoff — the same always-emit sweep pattern as
    ``watermark_completeness_sweep``, applied to the curation knob that
    governs corpus yield.  Every threshold always emits (conditional
    aggregation over a 5-row broadcast), so the report cannot go vacuous
    when a cutoff retains nothing.  One linear scan + one 5-key agg."""
    docs = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    n = F.size(ts)
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.size(F.expr(f"filter(split(text, ' '), t -> t IN ({stop_in}))"))
    stop_ratio = n_stop.cast("double") / n
    rep_ratio = 1.0 - F.size(F.array_distinct(ts)).cast("double") / n
    score = (
        F.when(n < 10, 0.0).otherwise(1.0)
        * (1.0 - rep_ratio)
        * F.when(stop_ratio > 0.5, 0.5).otherwise(1.0)
    )
    scored = docs.select(score.alias("q"), n.cast("long").alias("n_tokens"))
    thr = spark.createDataFrame(
        [(t,) for t in QUALITY_THRESHOLDS], "threshold double"
    )
    keep = F.col("q") >= F.col("threshold")
    return (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.sum(keep.cast("long")).alias("n_docs_kept"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0)).alias(
                "n_tokens_kept"
            ),
            rnd(F.avg(keep.cast("double")), 6).alias("doc_share"),
            rnd(
                F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
                / F.sum("n_tokens"),
                6,
            ).alias("token_share"),
        )
    )


# --------------------------------------------------------------------------
# lexical diversity profile (TTR, hapax share, Yule's K)
# --------------------------------------------------------------------------

_LEXDIV_ORACLE = """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
),
counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         sum(CAST(c AS DOUBLE) * c) AS sum_c2
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       round(n_types / CAST(n_tokens AS DOUBLE) + 1e-6, 6) AS ttr,
       round(n_hapax / CAST(n_types AS DOUBLE) + 1e-6, 6) AS hapax_share,
       round(1e4 * (sum_c2 - n_tokens)
             / (CAST(n_tokens AS DOUBLE) * n_tokens) + 1e-6, 4) AS yule_k
FROM per_doc
"""


@register(
    "lexical_diversity_profile",
    oracle=_LEXDIV_ORACLE,
    tags=("prepared-r8",),
)
def lexical_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL DIVERSITY per document: type-token ratio, hapax share
    (tokens occurring once), and Yule's K — the length-robust
    repetitiousness statistic ``10^4 * (sum_c(c^2 * V_c) - N) / N^2``
    over the within-doc frequency spectrum. Low-K/high-TTR documents
    read as varied prose; high-K documents are boilerplate/template —
    a quality signal orthogonal to the corpus-level repetition filters
    (``repeated_ngram_ratio`` counts adjacent repeats; K sees global
    reuse).

    Scale shape: explode to (doc, token) counts, then one per-doc
    aggregate — two combinable hash aggregates keyed by doc, no
    corpus-wide state. The empty token from the fixture's trailing
    space is filtered identically on both engines."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("tok"),
    ).where(F.col("tok") != "")
    counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        F.sum(F.col("c").cast("double") * F.col("c")).alias("sum_c2"),
    )
    n = F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        rnd(F.col("n_types") / n, 6).alias("ttr"),
        rnd(F.col("n_hapax") / F.col("n_types"), 6).alias("hapax_share"),
        rnd(1e4 * (F.col("sum_c2") - n) / (n * n), 4).alias("yule_k"),
    )


# --------------------------------------------------------------------------
# vocabulary coverage curve (top-N token mass)
# --------------------------------------------------------------------------

#: top-N sizes swept by the coverage curve.
COVERAGE_NS = (10, 100, 1000)


_COVERAGE_ORACLE = f"""
WITH toks AS (
  SELECT t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
),
counts AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
),
total AS (
  SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
         count(*) AS vocab_size
  FROM counts
),
head AS (
  SELECT c FROM counts ORDER BY c DESC, tok LIMIT {max(COVERAGE_NS)}
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC) AS rn FROM head
),
cov AS (
  SELECT t.n_top, CAST(sum(r.c) AS BIGINT) AS covered_tokens
  FROM ranked r
  JOIN (VALUES {", ".join(f"({n})" for n in COVERAGE_NS)}) t(n_top)
    ON r.rn <= t.n_top
  GROUP BY t.n_top
)
SELECT cov.n_top, cov.covered_tokens, tt.total_tokens, tt.vocab_size,
       round(cov.covered_tokens / CAST(tt.total_tokens AS DOUBLE) + 1e-6, 6)
         AS coverage_share
FROM cov CROSS JOIN total tt
"""


@register(
    "vocab_coverage_curve",
    oracle=_COVERAGE_ORACLE,
    tags=("prepared-r8",),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE: share of the corpus's total token
    occurrences covered by the top-N most frequent tokens, for N in
    ``COVERAGE_NS`` — the tokenizer-budget decision table (where the
    curve flattens is where growing the vocab stops paying; the
    complement of ``oov_rate``'s fixed-vocab view and ``zipf_fit``'s
    parametric fit). All N rows always emit.

    Scale shape: token counts are a combinable hash agg; the top-N
    head is a TakeOrdered (orderBy+limit — never a full sort) over the
    bounded max(N); ranks and the sweep run over that constant-size
    head with the 1-row total broadcast onto it."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(
        F.sum("c").alias("total_tokens"), F.count("*").alias("vocab_size")
    )
    head = counts.orderBy(F.col("c").desc(), F.col("tok")).limit(
        max(COVERAGE_NS)
    )
    wr = Window.orderBy(F.col("c").desc(), F.col("tok"))
    ranked = head.select("c", F.row_number().over(wr).alias("rn"))
    fanned = ranked.select(
        "c",
        "rn",
        F.explode(
            F.array(*[F.lit(n) for n in COVERAGE_NS])
        ).alias("n_top"),
    ).where(F.col("rn") <= F.col("n_top"))
    cov = fanned.groupBy("n_top").agg(
        F.sum("c").alias("covered_tokens")
    )
    return cov.crossJoin(F.broadcast(total)).select(
        "n_top",
        "covered_tokens",
        "total_tokens",
        "vocab_size",
        rnd(
            F.col("covered_tokens") / F.col("total_tokens").cast("double"), 6
        ).alias("coverage_share"),
    )


# --------------------------------------------------------------------------
# Cohen's kappa for the language-ID heuristic
# --------------------------------------------------------------------------

def _kappa_oracle() -> str:
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH per_doc AS (
  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS a,
         CASE WHEN len(list_filter(string_split(text, ' '),
                                   t -> t IN ({stop_in})))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.05
              THEN 'en' ELSE 'other' END AS b
  FROM documents
),
agg AS (
  SELECT count(*) AS n_docs,
         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         CAST(sum(CASE WHEN a = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a_en,
         CAST(sum(CASE WHEN b = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS b_en
  FROM per_doc
)
SELECT n_docs, n_agree,
       round(n_agree / CAST(n_docs AS DOUBLE) + 1e-6, 6)
         AS observed_agreement,
       round((a_en / CAST(n_docs AS DOUBLE)) * (b_en / CAST(n_docs AS DOUBLE))
             + (1.0 - a_en / CAST(n_docs AS DOUBLE))
               * (1.0 - b_en / CAST(n_docs AS DOUBLE)) + 1e-6, 6)
         AS chance_agreement,
       round(CASE WHEN (a_en / CAST(n_docs AS DOUBLE))
                       * (b_en / CAST(n_docs AS DOUBLE))
                       + (1.0 - a_en / CAST(n_docs AS DOUBLE))
                         * (1.0 - b_en / CAST(n_docs AS DOUBLE)) < 1.0
                  THEN (n_agree / CAST(n_docs AS DOUBLE)
                        - ((a_en / CAST(n_docs AS DOUBLE))
                           * (b_en / CAST(n_docs AS DOUBLE))
                           + (1.0 - a_en / CAST(n_docs AS DOUBLE))
                             * (1.0 - b_en / CAST(n_docs AS DOUBLE))))
                       / (1.0 - ((a_en / CAST(n_docs AS DOUBLE))
                                 * (b_en / CAST(n_docs AS DOUBLE))
                                 + (1.0 - a_en / CAST(n_docs AS DOUBLE))
                                   * (1.0 - b_en / CAST(n_docs AS DOUBLE))))
             END + 1e-6, 6) AS cohens_kappa
FROM agg
"""


@register(
    "lang_id_agreement_kappa",
    oracle=_kappa_oracle(),
    tags=("prepared-r8",),
)
def lang_id_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between the declared language (collapsed to the
    classifier's {en, other} label space) and the marker-token
    language-ID prediction — the chance-corrected scalar the
    ``lang_confusion_matrix`` table rolls up to. Raw agreement flatters
    a classifier when one class dominates; kappa subtracts exactly the
    agreement the marginals would produce by luck.

    Scale shape: composes the per-doc classifier (zero-shuffle
    codegen) with one 1-row aggregate — marginal products come from
    the same pass via conditional sums."""
    per_doc = lang_id_heuristic(spark, sf_dir).select(
        F.when(F.col("declared_lang") == "en", "en")
        .otherwise("other")
        .alias("a"),
        F.col("predicted_lang").alias("b"),
    )
    agg = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("a") == F.col("b")).cast("long")).alias("n_agree"),
        F.sum((F.col("a") == "en").cast("long")).alias("a_en"),
        F.sum((F.col("b") == "en").cast("long")).alias("b_en"),
    )
    n = F.col("n_docs").cast("double")
    po = F.col("n_agree") / n
    pe = (F.col("a_en") / n) * (F.col("b_en") / n) + (
        1.0 - F.col("a_en") / n
    ) * (1.0 - F.col("b_en") / n)
    kappa = F.when(pe < 1.0, (po - pe) / (1.0 - pe))
    return agg.select(
        "n_docs",
        "n_agree",
        rnd(po, 6).alias("observed_agreement"),
        rnd(pe, 6).alias("chance_agreement"),
        rnd(kappa, 6).alias("cohens_kappa"),
    )


# --------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources
# --------------------------------------------------------------------------

#: most-frequent-token vocabulary size for the style fingerprint.
DELTA_TOP_N = 30


_DELTA_ORACLE = f"""
WITH toks AS (
  SELECT source, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
),
top AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ORDER BY c DESC, tok LIMIT {DELTA_TOP_N}
  )
),
src_tot AS (
  SELECT source, count(*) AS tot FROM toks GROUP BY source
),
src_tok AS (
  SELECT s.source, s.tok, count(*) AS c
  FROM toks s JOIN top ON s.tok = top.tok
  GROUP BY 1, 2
),
spine AS (
  SELECT st.source, st.tot, top.tok FROM src_tot st CROSS JOIN top
),
freqs AS (
  SELECT sp.source, sp.tok,
         COALESCE(sk.c, 0) / CAST(sp.tot AS DOUBLE) AS f
  FROM spine sp LEFT JOIN src_tok sk
    ON sp.source = sk.source AND sp.tok = sk.tok
),
z AS (
  SELECT source, tok,
         CASE WHEN stddev_samp(f) OVER (PARTITION BY tok) > 0
              THEN (f - avg(f) OVER (PARTITION BY tok))
                   / stddev_samp(f) OVER (PARTITION BY tok)
              ELSE 0.0 END AS z
  FROM freqs
)
SELECT a.source AS src_a, b.source AS src_b,
       round(avg(abs(a.z - b.z)) + 1e-6, 6) AS burrows_delta
FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
GROUP BY 1, 2
"""


@register("burrows_delta", oracle=_DELTA_ORACLE, tags=("prepared-r8",))
def burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS' DELTA between corpus sources: take the corpus's top-N
    most frequent tokens, compute each source's relative frequency per
    token, z-score each token's frequencies ACROSS sources, and score
    every source pair by the mean absolute z difference — the standard
    stylometric distance (authorship forensics), repurposed as a
    source-style drift monitor: a source whose Delta to every sibling
    jumps has changed its generator/template. Emits all source pairs.

    Scale shape: token counts are one combinable agg; the top-N head
    is a TakeOrdered; per-source frequencies and cross-source z-scores
    run over the bounded sources x N table; the pair scoring is a
    bounded self-join on token."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(DELTA_TOP_N)
        .select("tok")
    )
    src_tot = toks.groupBy("source").agg(F.count("*").alias("tot"))
    src_tok = (
        toks.join(top, "tok")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    # every (source, top-token) cell must exist (zero counts included)
    spine = src_tot.select("source", "tot").crossJoin(F.broadcast(top))
    freqs = spine.join(src_tok, ["source", "tok"], "left").select(
        "source",
        "tok",
        (F.coalesce("c", F.lit(0)) / F.col("tot").cast("double")).alias("f"),
    )
    wz = Window.partitionBy("tok")
    z = freqs.select(
        "source",
        "tok",
        F.when(
            F.stddev_samp("f").over(wz) > 0,
            (F.col("f") - F.avg("f").over(wz)) / F.stddev_samp("f").over(wz),
        ).otherwise(0.0).alias("z"),
    )
    a = z.select(F.col("source").alias("src_a"), "tok", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("src_b"), "tok", F.col("z").alias("zb"))
    return (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(rnd(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias(
            "burrows_delta"
        ))
    )


# --------------------------------------------------------------------------
# Chao1 unseen-vocabulary richness
# --------------------------------------------------------------------------

_CHAO1_ORACLE = """
WITH toks AS (
  SELECT source, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
),
counts AS (
  SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2
),
spec AS (
  SELECT source, count(*) AS v_obs,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM counts GROUP BY source
)
SELECT source, v_obs, f1, f2,
       round(v_obs + CASE WHEN f2 > 0
                          THEN CAST(f1 AS DOUBLE) * f1 / (2.0 * f2)
                          ELSE CAST(f1 AS DOUBLE) * (f1 - 1.0) / 2.0 END
             + 1e-6, 2) AS chao1_estimate,
       round(1.0 - v_obs / (v_obs + CASE WHEN f2 > 0
                          THEN CAST(f1 AS DOUBLE) * f1 / (2.0 * f2)
                          ELSE CAST(f1 AS DOUBLE) * (f1 - 1.0) / 2.0 END)
             + 1e-6, 6) AS unseen_share
FROM spec
"""


@register(
    "chao1_vocabulary_richness",
    oracle=_CHAO1_ORACLE,
    tags=("prepared-r8",),
)
def chao1_vocabulary_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAO1 RICHNESS per source: estimate the TRUE vocabulary size —
    including tokens never observed — from the frequency spectrum's
    rare end (``V + f1^2 / (2 f2)``; the bias-corrected
    ``V + f1(f1-1)/2`` form when no doubletons exist), plus the
    implied unseen share. The unseen-mass counterpart of
    ``vocab_coverage_curve`` (how much of what we HAVE is covered) and
    the corpus-side sibling of ``capture_recapture_estimate``: both
    infer what sampling has not yet shown. A source with a high unseen
    share needs more data before its token statistics stabilize.

    Scale shape: two stacked combinable hash aggs ((source, token)
    counts, then the per-source spectrum reduce)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    spec = counts.groupBy("source").agg(
        F.count("*").alias("v_obs"),
        F.sum((F.col("c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    chao = F.col("v_obs") + F.when(
        F.col("f2") > 0, f1 * f1 / (2.0 * f2)
    ).otherwise(f1 * (f1 - 1.0) / 2.0)
    return spec.select(
        "source",
        "v_obs",
        "f1",
        "f2",
        rnd(chao, 2).alias("chao1_estimate"),
        rnd(1.0 - F.col("v_obs") / chao, 6).alias("unseen_share"),
    )


# --------------------------------------------------------------------------
# Theil inequality index with between/within decomposition
# --------------------------------------------------------------------------

_THEIL_ORACLE = f"""
WITH per AS (
  SELECT source, count(*) AS n_g, sum(x) AS s_g, sum(x * ln(x)) AS sxlx_g
  FROM (
    SELECT source,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS x
    FROM documents
  ) WHERE x > 0
  GROUP BY source
),
tot AS (
  SELECT sum(n_g) AS n, sum(s_g) AS s, sum(sxlx_g) AS sxlx FROM per
),
j AS (
  SELECT p.*, t.n, t.s, t.sxlx,
         t.s / t.n AS mu, p.s_g / p.n_g AS mu_g,
         (p.sxlx_g - ln(p.s_g / p.n_g) * p.s_g) / (p.n_g * (p.s_g / p.n_g))
           AS t_g,
         p.s_g / t.s AS share_g,
         ln((p.s_g / p.n_g) / (t.s / t.n)) * (p.s_g / t.s) AS between_c,
         (t.sxlx - ln(t.s / t.n) * t.s) / (t.n * (t.s / t.n)) AS total_t
  FROM per p CROSS JOIN tot t
)
SELECT source,
       CAST(n_g AS BIGINT) AS n_docs,
       round(mu_g + {NUDGE}, 4) AS mean_tokens,
       round(t_g + {NUDGE}, 6) AS theil_within_group,
       round(share_g + {NUDGE}, 6) AS token_share,
       round(between_c + {NUDGE}, 6) AS between_contrib,
       round(total_t + {NUDGE}, 6) AS theil_total,
       round(sum(between_c) OVER () + {NUDGE}, 6) AS theil_between,
       round(sum(share_g * t_g) OVER () + {NUDGE}, 6) AS theil_within
FROM j
"""


@register("theil_decomposition", oracle=_THEIL_ORACLE, tags=("prepared-r10",))
def theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-T INEQUALITY of document token counts, DECOMPOSED by
    source: T = (1/N) sum (x/mu) ln(x/mu) splits EXACTLY into
    between-group + within-group components — the property Gini lacks
    (``revenue_concentration_gini`` compresses to one number; Theil
    says how much inequality lives BETWEEN sources vs INSIDE them,
    which is the actionable split for corpus balancing). The exact
    additivity T = B + W is itself a pytest invariant.

    Scale shape: ONE combinable per-source aggregate carrying
    (n, sum x, sum x*ln x) — sufficient statistics for every component
    — then pure algebra over the source-bounded rows. Per-source rows
    emit group stats + contribution; the global T/B/W ride along as
    constant columns."""
    docs = load(spark, sf_dir, "documents")
    x = F.size(F.split("text", " ")).cast("double")
    per = (
        docs.select("source", x.alias("x"))
        .where(F.col("x") > 0)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_g"),
            F.sum("x").alias("s_g"),
            F.sum(F.col("x") * F.log("x")).alias("sxlx_g"),
        )
    )
    tot = per.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("sxlx_g").alias("sxlx"),
    )
    j = per.crossJoin(F.broadcast(tot))
    mu = F.col("s") / F.col("n")
    mu_g = F.col("s_g") / F.col("n_g")
    # T_g = (1/(n_g*mu_g)) * (sxlx_g - ln(mu_g)*s_g)
    t_g = (F.col("sxlx_g") - F.log(mu_g) * F.col("s_g")) / (
        F.col("n_g") * mu_g
    )
    share_g = F.col("s_g") / F.col("s")  # = (n_g/N)(mu_g/mu)
    between = F.log(mu_g / mu) * share_g  # summed over groups -> B
    total_t = (F.col("sxlx") - F.log(mu) * F.col("s")) / (F.col("n") * mu)
    wall = Window.partitionBy()
    out = j.select(
        "source",
        F.col("n_g").alias("n_docs"),
        rnd(mu_g, 4).alias("mean_tokens"),
        rnd(t_g, 6).alias("theil_within_group"),
        rnd(share_g, 6).alias("token_share"),
        rnd(between, 6).alias("between_contrib"),
        rnd(total_t, 6).alias("theil_total"),
        rnd(F.sum(between).over(wall), 6).alias("theil_between"),
        rnd(F.sum(share_g * t_g).over(wall), 6).alias("theil_within"),
    )
    return out


# --------------------------------------------------------------------------
# held-out unigram perplexity (train/eval split LM evaluation)
# --------------------------------------------------------------------------

PPL_TRAIN_MOD = 10  #: deterministic split modulus over doc_id
PPL_TRAIN_LT = 8  #: doc_id % MOD < LT -> train (80/20 split)
LN2 = 0.6931471805599453  #: math.log(2) as a shared Python-float literal


_PPL_ORACLE = f"""
WITH train_tok AS (
  SELECT unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id % {PPL_TRAIN_MOD} < {PPL_TRAIN_LT}
),
counts AS (SELECT token, count(*) AS c FROM train_tok GROUP BY 1),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_train, count(*) AS v_train FROM counts
),
ev AS (
  SELECT source, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id % {PPL_TRAIN_MOD} >= {PPL_TRAIN_LT}
),
j AS (
  SELECT e.source, c.c, t.n_train, t.v_train
  FROM ev e LEFT JOIN counts c ON e.token = c.token CROSS JOIN tot t
),
agg AS (
  SELECT source, count(*) AS n_tokens,
         CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
         avg(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)
                / CAST(n_train + v_train + 1 AS DOUBLE))) AS mean_lp
  FROM j GROUP BY 1
)
SELECT source, n_tokens, n_oov,
       round(CAST(n_oov AS DOUBLE) / n_tokens + {NUDGE}, 6) AS oov_share,
       round(-mean_lp / {LN2} + {NUDGE}, 6) AS cross_entropy_bits,
       round(pow(2.0, round(-mean_lp / {LN2} + {NUDGE}, 6)) + {NUDGE}, 4)
         AS perplexity
FROM agg
"""


@register(
    "unigram_perplexity_split",
    oracle=_PPL_ORACLE,
    tags=("prepared-r10",),
)
def unigram_perplexity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT UNIGRAM PERPLEXITY per source: train an add-one-
    smoothed unigram LM on the deterministic 80% doc_id split, then
    score the held-out 20% — cross-entropy (bits/token), perplexity,
    and OOV share per source. This is the classic cheap corpus-quality
    / domain-shift probe a training-data pipeline runs before paying
    for a real LM pass: a source whose held-out perplexity under the
    corpus LM is an outlier is distributionally unlike the rest.
    Perplexity is exponentiated from the ROUNDED cross-entropy so both
    engines pow() identical doubles.

    Scale shape: token explode -> one combinable count aggregate
    (vocab-bounded), a 1-row totals broadcast, an eval-side
    vocab-bounded left join, then one per-source aggregate. No windows,
    no driver loops; everything map-side combinable."""
    docs = load(spark, sf_dir, "documents")
    train_tok = docs.where(
        F.col("doc_id") % PPL_TRAIN_MOD < PPL_TRAIN_LT
    ).select(F.explode(F.split("text", " ")).alias("token"))
    counts = train_tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum("c").alias("n_train"), F.count("*").alias("v_train")
    )
    ev = docs.where(F.col("doc_id") % PPL_TRAIN_MOD >= PPL_TRAIN_LT).select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    j = ev.join(counts, "token", "left").crossJoin(F.broadcast(tot))
    denom = (F.col("n_train") + F.col("v_train") + 1).cast("double")
    logp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double") / denom
    )
    agg = j.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.avg(logp).alias("mean_lp"),
    )
    h = rnd(-F.col("mean_lp") / F.lit(LN2), 6)
    return agg.select(
        "source",
        "n_tokens",
        "n_oov",
        rnd(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_share"),
        h.alias("cross_entropy_bits"),
        rnd(F.pow(F.lit(2.0), h), 4).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# pairwise Jensen-Shannon divergence between source unigram mixes
# --------------------------------------------------------------------------

INV_LN2 = 1.4426950408889634  #: 1/ln(2) as a shared Python-float literal


_JS_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2
),
totals AS (SELECT source, count(*) AS n FROM tok GROUP BY 1),
probs AS (
  SELECT c.source, c.token, CAST(c.c AS DOUBLE) / t.n AS p
  FROM counts c JOIN totals t ON c.source = t.source
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.p AS pa, b.p AS pb
  FROM probs a JOIN probs b
    ON a.token = b.token AND a.source < b.source
),
agg AS (
  SELECT source_a, source_b, count(*) AS shared_vocab,
         sum(pa) AS sa, sum(pb) AS sb,
         sum(pa * ln(2.0 * pa / (pa + pb))
             + pb * ln(2.0 * pb / (pa + pb))) AS common_nats
  FROM pairs GROUP BY 1, 2
)
SELECT source_a, source_b, shared_vocab,
       round(sa + {NUDGE}, 6) AS shared_mass_a,
       round(sb + {NUDGE}, 6) AS shared_mass_b,
       round(0.5 * common_nats * {INV_LN2}
             + 0.5 * ((1 - sa) + (1 - sb)) + {NUDGE}, 6)
         AS js_divergence_bits
FROM agg
"""


@register(
    "jensen_shannon_source_divergence",
    oracle=_JS_ORACLE,
    tags=("prepared-r10",),
)
def jensen_shannon_source_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PAIRWISE JENSEN-SHANNON DIVERGENCE (bits) between every source
    pair's unigram distribution — the symmetric, bounded [0,1]
    distance behind data-mixture design (KL is asymmetric and infinite
    on disjoint support; JS is neither). Decomposed so only SHARED
    tokens need the join: an exclusive token contributes exactly
    p/2 bits, so JS = 0.5*sum_shared[p*log2(2p/(p+q)) +
    q*log2(2q/(p+q))] + (1-shared_mass_a)/2 + (1-shared_mass_b)/2.
    log2 is expressed as ln * INV_LN2 with the SAME literal on both
    engines.

    Scale shape: per-source token counts (combinable), a broadcast
    totals join, then a self-equi-join ON TOKEN (each token expands to
    at most sources^2 pairs — vocab x pairs rows, never corpus-
    cardinality), one pair-bounded aggregate."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    totals = tok.groupBy("source").agg(F.count("*").alias("n"))
    probs = counts.join(F.broadcast(totals), "source").select(
        "source",
        "token",
        (F.col("c").cast("double") / F.col("n")).alias("p"),
    )
    a = probs.select(
        F.col("source").alias("source_a"),
        "token",
        F.col("p").alias("pa"),
    )
    b = probs.select(
        F.col("source").alias("source_b"),
        "token",
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, "token").where(F.col("source_a") < F.col("source_b"))
    term = F.col("pa") * F.log(
        F.lit(2.0) * F.col("pa") / (F.col("pa") + F.col("pb"))
    ) + F.col("pb") * F.log(
        F.lit(2.0) * F.col("pb") / (F.col("pa") + F.col("pb"))
    )
    agg = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").alias("shared_vocab"),
        F.sum("pa").alias("sa"),
        F.sum("pb").alias("sb"),
        F.sum(term).alias("common_nats"),
    )
    js = (
        0.5 * F.col("common_nats") * F.lit(INV_LN2)
        + 0.5 * ((1 - F.col("sa")) + (1 - F.col("sb")))
    )
    return agg.select(
        "source_a",
        "source_b",
        "shared_vocab",
        rnd("sa", 6).alias("shared_mass_a"),
        rnd("sb", 6).alias("shared_mass_b"),
        rnd(js, 6).alias("js_divergence_bits"),
    )


# --------------------------------------------------------------------------
# readability scores (Flesch / Flesch-Kincaid heuristics)
# --------------------------------------------------------------------------

VOWEL_RE = "[aeiouy]+"  #: vowel-group syllable heuristic
SENT_RE = "[.!?]+"  #: sentence-terminator runs


_READ_ORACLE = f"""
WITH per AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
         CAST(len(regexp_extract_all(lower(text), '{VOWEL_RE}'))
              AS DOUBLE) AS s,
         greatest(1.0,
           CAST(len(regexp_extract_all(text, '[.!?]+')) AS DOUBLE)) AS st
  FROM documents
)
SELECT source, count(*) AS n_docs,
       round(avg(w) + {NUDGE}, 4) AS avg_words,
       round(avg(s / w) + {NUDGE}, 6) AS avg_syllables_per_word,
       round(avg(206.835 - 1.015 * w / st - 84.6 * s / w) + {NUDGE}, 4)
         AS avg_flesch_reading_ease,
       round(avg(0.39 * w / st + 11.8 * s / w - 15.59) + {NUDGE}, 4)
         AS avg_fk_grade
FROM per
WHERE w > 0
GROUP BY source
"""


@register("readability_scores", oracle=_READ_ORACLE, tags=("prepared-r10",))
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READABILITY PROFILE per source: Flesch reading ease and
    Flesch-Kincaid grade from the classic word/sentence/syllable
    counts, with syllables approximated by VOWEL-GROUP runs (the
    standard dictionary-free heuristic) and sentence count floored at
    1 (the synthetic corpus has no terminators — the formula then
    degrades gracefully to the words-per-doc axis). Complements
    `quality_score` (structural ratios) with the formula every corpus
    datacard quotes.

    Scale shape: three regexp counts per document — map-only,
    whole-stage codegen, zero joins — then one per-source aggregate."""
    docs = load(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("double")
    syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(VOWEL_RE), 0)
    ).cast("double")
    sents = F.greatest(
        F.lit(1.0),
        F.size(F.regexp_extract_all("text", F.lit(SENT_RE), 0)).cast(
            "double"
        ),
    )
    per = docs.select(
        "source",
        words.alias("w"),
        syll.alias("s"),
        sents.alias("st"),
    ).where(F.col("w") > 0)
    scored = per.select(
        "source",
        "w",
        "s",
        "st",
        (
            F.lit(206.835)
            - F.lit(1.015) * F.col("w") / F.col("st")
            - F.lit(84.6) * F.col("s") / F.col("w")
        ).alias("flesch"),
        (
            F.lit(0.39) * F.col("w") / F.col("st")
            + F.lit(11.8) * F.col("s") / F.col("w")
            - F.lit(15.59)
        ).alias("fk"),
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        rnd(F.avg("w"), 4).alias("avg_words"),
        rnd(F.avg(F.col("s") / F.col("w")), 6).alias(
            "avg_syllables_per_word"
        ),
        rnd(F.avg("flesch"), 4).alias("avg_flesch_reading_ease"),
        rnd(F.avg("fk"), 4).alias("avg_fk_grade"),
    )


# --------------------------------------------------------------------------
# eval-split bigram coverage by the train split
# --------------------------------------------------------------------------

_NGCOV_ORACLE = f"""
WITH bi AS (
  SELECT doc_id, source,
         unnest(CASE WHEN len(string_split(text, ' ')) >= 2
                THEN list_transform(
                       range(1, len(string_split(text, ' '))),
                       i -> string_split(text, ' ')[i] || ' '
                            || string_split(text, ' ')[i + 1])
                ELSE [] END) AS bigram
  FROM documents
),
train_bi AS (
  SELECT DISTINCT bigram, 1 AS seen
  FROM bi WHERE doc_id % {PPL_TRAIN_MOD} < {PPL_TRAIN_LT}
),
ev AS (
  SELECT source, bigram FROM bi
  WHERE doc_id % {PPL_TRAIN_MOD} >= {PPL_TRAIN_LT}
),
j AS (
  SELECT e.source, e.bigram, t.seen
  FROM ev e LEFT JOIN train_bi t ON e.bigram = t.bigram
),
occ AS (
  SELECT source, count(*) AS n_bigrams,
         round(sum(CASE WHEN seen IS NOT NULL THEN 1.0 ELSE 0.0 END)
               / count(*) + {NUDGE}, 6) AS occurrence_coverage
  FROM j GROUP BY 1
),
dist AS (
  SELECT source, count(*) AS n_distinct_bigrams,
         round(sum(CASE WHEN seen IS NOT NULL THEN 1.0 ELSE 0.0 END)
               / count(*) + {NUDGE}, 6) AS distinct_coverage
  FROM (SELECT DISTINCT source, bigram, seen FROM j) GROUP BY 1
)
SELECT o.source, o.n_bigrams, o.occurrence_coverage,
       d.n_distinct_bigrams, d.distinct_coverage
FROM occ o JOIN dist d ON o.source = d.source
"""


@register(
    "ngram_coverage_overlap",
    oracle=_NGCOV_ORACLE,
    tags=("prepared-r10",),
)
def ngram_coverage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM COVERAGE of the held-out split by the train split, per
    source: what share of eval bigram OCCURRENCES (and of DISTINCT
    eval bigrams) was seen in training — the order-2 companion of
    `unigram_perplexity_split` (unigram OOV misses compositional
    novelty; a source can share every word yet pair them in unseen
    ways). Bigrams are built positionally on BOTH engines (explicit
    index transform over the token array — 1-based, guarded for
    single-token docs) so tokenization parity is exact.

    Scale shape: bigram explode -> one distinct train set (equi-join
    key), eval-side left join, one per-source aggregate. The join key
    is the bigram string — vocab^2-bounded in principle, corpus-
    bounded in practice, and an EQUI-join either way."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    train_bi = (
        docs.where(F.col("doc_id") % PPL_TRAIN_MOD < PPL_TRAIN_LT)
        .select(F.explode(bigrams).alias("bigram"))
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    ev = docs.where(F.col("doc_id") % PPL_TRAIN_MOD >= PPL_TRAIN_LT).select(
        "source", F.explode(bigrams).alias("bigram")
    )
    j = ev.join(train_bi, "bigram", "left")
    occ = j.groupBy("source").agg(
        F.count("*").alias("n_bigrams"),
        rnd(
            F.sum(F.when(F.col("seen").isNotNull(), 1.0).otherwise(0.0))
            / F.count("*"),
            6,
        ).alias("occurrence_coverage"),
    )
    dist = (
        j.select("source", "bigram", "seen")
        .distinct()
        .groupBy("source")
        .agg(
            F.count("*").alias("n_distinct_bigrams"),
            rnd(
                F.sum(
                    F.when(F.col("seen").isNotNull(), 1.0).otherwise(0.0)
                )
                / F.count("*"),
                6,
            ).alias("distinct_coverage"),
        )
    )
    return occ.join(dist, "source")
