"""Retrieval scoring + ranking-quality evaluation over the corpus.

The RAG-side gap in the LLM-pipeline surface: everything upstream
(dedup, quality, chunking, embeddings) feeds a retrieval index, and the
two operators a retrieval stack needs first are (a) a lexical scorer —
BM25, the default first-stage ranker everywhere — and (b) the ranking
metrics that decide whether any retriever change shipped (NDCG@k, MRR).

Scale design (100 TB corpus):
- The query set is BOUNDED and derived deterministically (the top
  ``N_QUERIES`` mid-document-frequency tokens): it is broadcast; the
  corpus side is an inverted-postings equi-join on ``token`` — never a
  corpus x queries cross join.
- Corpus statistics (N, avgdl) are 1-row aggregates broadcast via the
  crossJoin(1-row) pattern used across the repo.
- Per-query ranking windows partition on the query token over ONLY its
  postings (bounded by that token's document frequency), never a
  global sort.
- Ranking determinism across engines: scores are rounded through
  ``registry.rnd`` BEFORE ordering, ties broken by doc_id — so a
  last-ulp libm divergence in ln() cannot flip a rank on either side
  (the same tie-stable posture as the repo's float-parity rules).

Reference scope note: the reference engine (flinkarima) has no
retrieval surface — this family belongs to the north-star LLM-pipeline
mandate, like pipeline/dedup.py and pipeline/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import NUDGE, register, rnd

#: BM25 hyperparameters (the textbook defaults).
BM25_K1 = 1.2
BM25_B = 0.75
#: bounded deterministic query set: top-N by document frequency among
#: tokens present in [DF_MIN_SHARE, DF_MAX_SHARE] of documents (too
#: rare = noise, too common = pure stopword). The upper bound is 0.9
#: rather than the classic 0.5 because the fixture corpus draws from a
#: ~31-token vocabulary where nearly every token sits near df ~ 0.8 —
#: a 0.5 cap would leave a 1-token query set and a vacuous eval.
N_QUERIES = 12
DF_MIN_SHARE = 0.05
DF_MAX_SHARE = 0.9
#: ranking depth for the score list and the eval metrics.
TOP_K = 10
#: binary-relevance bar for MRR: the doc mentions the query token at
#: least twice (tf >= 2), so rank-1 hits are not trivially guaranteed.
REL_TF = 2


def _postings(spark: SparkSession, sf_dir: str):
    """(doc_id, token, tf) postings + per-doc length + corpus stats."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = toks.groupBy().agg(
        F.countDistinct("doc_id").alias("n_docs"),
        (F.count("*") / F.countDistinct("doc_id")).alias("avgdl"),
    )
    return tf, dl, stats


def _queries(tf: DataFrame, stats: DataFrame) -> DataFrame:
    """The deterministic bounded query set: top-``N_QUERIES`` tokens by
    document frequency within the mid-frequency band, ties by token."""
    df_tbl = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    banded = df_tbl.crossJoin(F.broadcast(stats)).where(
        (F.col("df") >= F.col("n_docs") * DF_MIN_SHARE)
        & (F.col("df") <= F.col("n_docs") * DF_MAX_SHARE)
    )
    w = Window.orderBy(F.desc("df"), F.asc("token"))
    # the banded vocabulary is CORPUS-SIZE-INDEPENDENT: df >= 5% of N
    # docs means at most avgdl/0.05 = 20*avgdl tokens can qualify
    # (their df sum is bounded by total token count N*avgdl), so the
    # global top-N window runs over a few thousand rows at any SF
    return (
        banded.withColumn("qrank", F.row_number().over(w))
        .where(F.col("qrank") <= N_QUERIES)
        .select("token", "df", "n_docs")
    )


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 score for every (query token, posting) pair, rank-stable."""
    tf, dl, stats = _postings(spark, sf_dir)
    q = _queries(tf, stats)
    scored = (
        tf.join(F.broadcast(q), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "token",
            "doc_id",
            "tf",
            # idf = ln(1 + (N - df + .5)/(df + .5)); constant per token
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("raw"),
        )
        .select(
            "token",
            "doc_id",
            "tf",
            rnd("raw", 6).alias("score"),
        )
    )
    wq = Window.partitionBy("token").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return scored.withColumn("rank", F.row_number().over(wq))


_BM25_CTES = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT count(DISTINCT doc_id) AS n_docs,
         CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl
  FROM toks
),
dftbl AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
queries AS (
  SELECT token, df, n_docs FROM (
    SELECT token, df, n_docs,
           row_number() OVER (ORDER BY df DESC, token ASC) AS qrank
    FROM dftbl CROSS JOIN stats
    WHERE df >= n_docs * {DF_MIN_SHARE} AND df <= n_docs * {DF_MAX_SHARE}
  ) WHERE qrank <= {N_QUERIES}
),
scored AS (
  SELECT q.token, tf.doc_id, tf.tf,
         round(
           ln(1 + (q.n_docs - q.df + 0.5) / (q.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1))
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
           + {NUDGE}, 6) AS score
  FROM tf JOIN queries q ON tf.token = q.token
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN (SELECT avgdl FROM stats) s
),
ranked AS (
  SELECT token, doc_id, tf, score,
         row_number() OVER (
           PARTITION BY token ORDER BY score DESC, doc_id ASC
         ) AS rank
  FROM scored
)
"""


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TOP_K`` BM25 results per deterministic query token.

    The first-stage lexical ranker of every retrieval stack, run over
    the inverted postings (equi-join on token, window bounded by each
    token's document frequency)."""
    return (
        _scored(spark, sf_dir)
        .where(F.col("rank") <= TOP_K)
        .select("token", "rank", "doc_id", "score")
    )


register(
    "bm25_scores",
    oracle=_BM25_CTES
    + f"""
SELECT token, rank, doc_id, score FROM ranked WHERE rank <= {TOP_K}
""",
    tags=("retrieval", "llm-pipeline"),
)(bm25_scores)


def retrieval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics per query over the BM25 top-``TOP_K``:
    graded NDCG@k (gain = 2^min(tf,3)-1, the standard graded-gain
    formula), MRR against the binary tf>=``REL_TF`` bar, and the
    relevant-in-top-k count. The ideal DCG ranks ALL candidate postings
    of the query by grade (desc, doc_id asc) — not just the retrieved
    ten — so ndcg < 1 whenever BM25's length normalization demotes a
    high-tf doc."""
    scored = _scored(spark, sf_dir)
    grade = F.least(F.col("tf"), F.lit(3))
    gains = scored.select(
        "token",
        "rank",
        "tf",
        ((F.pow(F.lit(2.0), grade) - 1)).alias("gain"),
    )
    dcg = (
        gains.where(F.col("rank") <= TOP_K)
        .groupBy("token")
        .agg(
            F.sum(
                F.col("gain") / F.log2(F.col("rank") + 1)
            ).alias("dcg_raw"),
            F.sum(
                F.when(F.col("tf") >= REL_TF, 1).otherwise(0)
            ).alias("n_rel_topk"),
            F.min(
                F.when(F.col("tf") >= REL_TF, F.col("rank"))
            ).alias("first_rel_rank"),
        )
    )
    wi = Window.partitionBy("token").orderBy(
        F.desc("gain"), F.asc("doc_id")
    )
    idcg = (
        scored.select(
            "token",
            "doc_id",
            ((F.pow(F.lit(2.0), F.least(F.col("tf"), F.lit(3)))) - 1).alias(
                "gain"
            ),
        )
        .withColumn("irank", F.row_number().over(wi))
        .where(F.col("irank") <= TOP_K)
        .groupBy("token")
        .agg(F.sum(F.col("gain") / F.log2(F.col("irank") + 1)).alias("idcg_raw"))
    )
    return (
        dcg.join(idcg, "token")
        .select(
            "token",
            "n_rel_topk",
            rnd(
                F.coalesce(1.0 / F.col("first_rel_rank"), F.lit(0.0)), 6
            ).alias("rr"),
            rnd("dcg_raw", 6).alias("dcg"),
            rnd("idcg_raw", 6).alias("idcg"),
            rnd(F.col("dcg_raw") / F.col("idcg_raw"), 6).alias("ndcg"),
        )
    )


register(
    "retrieval_ndcg_mrr",
    oracle=_BM25_CTES
    + f"""
, gains AS (
  SELECT token, doc_id, rank, tf,
         pow(2.0, least(tf, 3)) - 1 AS gain
  FROM ranked
),
dcg AS (
  SELECT token,
         sum(gain / log2(rank + 1)) AS dcg_raw,
         CAST(sum(CASE WHEN tf >= {REL_TF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_topk,
         min(CASE WHEN tf >= {REL_TF} THEN rank END) AS first_rel_rank
  FROM gains WHERE rank <= {TOP_K} GROUP BY token
),
ideal AS (
  SELECT token, gain,
         row_number() OVER (
           PARTITION BY token ORDER BY gain DESC, doc_id ASC
         ) AS irank
  FROM gains
),
idcg AS (
  SELECT token, sum(gain / log2(irank + 1)) AS idcg_raw
  FROM ideal WHERE irank <= {TOP_K} GROUP BY token
)
SELECT dcg.token,
       n_rel_topk,
       round(coalesce(1.0 / first_rel_rank, 0.0) + {NUDGE}, 6) AS rr,
       round(dcg_raw + {NUDGE}, 6) AS dcg,
       round(idcg_raw + {NUDGE}, 6) AS idcg,
       round(dcg_raw / idcg_raw + {NUDGE}, 6) AS ndcg
FROM dcg JOIN idcg ON dcg.token = idcg.token
""",
    tags=("retrieval", "llm-pipeline"),
)(retrieval_ndcg_mrr)


# --------------------------------------------------------------------------
# precision / recall / F1 at k for the BM25 ranking
# --------------------------------------------------------------------------

def _pr_oracle() -> str:
    return (
        _BM25_CTES
        + f"""
, per AS (
  SELECT token,
         CAST(sum(CASE WHEN tf >= {REL_TF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_total,
         CAST(sum(CASE WHEN rank <= {TOP_K} AND tf >= {REL_TF}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_topk
  FROM ranked GROUP BY token
),
calc AS (
  SELECT *,
         CAST(n_rel_topk AS DOUBLE) / {TOP_K} AS p,
         CAST(n_rel_topk AS DOUBLE) / greatest(n_rel_total, 1) AS r
  FROM per
)
SELECT token, n_rel_total, n_rel_topk,
       round(p + {NUDGE}, 6) AS precision_at_k,
       round(r + {NUDGE}, 6) AS recall_at_k,
       round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
                  ELSE 0.0 END + {NUDGE}, 6) AS f1_at_k
FROM calc
"""
    )


@register(
    "retrieval_precision_recall_at_k",
    oracle=_pr_oracle(),
    tags=("prepared-r10",),
)
def retrieval_precision_recall_at_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """P@k / R@k / F1 for the BM25 ranking against the same binary
    relevance bar as MRR (tf >= REL_TF) — the set-based IR metrics
    next to ``retrieval_ndcg_mrr``'s rank-weighted ones: precision says
    how clean the page is, recall how much of the relevant pool it
    found, and the denominator of recall is the query's FULL relevant
    count over all postings, not just the retrieved ones.

    Scale shape: rides the shared BM25 scored-postings derivation
    (broadcast bounded query set, inverted-postings equi-join,
    per-token windows over that token's postings only); the metric
    aggregation is one grouped pass over the scored postings."""
    scored = _scored(spark, sf_dir)
    rel = (F.col("tf") >= REL_TF).cast("int")
    per = scored.groupBy("token").agg(
        F.sum(rel).cast("long").alias("n_rel_total"),
        F.sum(F.when(F.col("rank") <= TOP_K, rel).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_rel_topk"),
    )
    p = F.col("n_rel_topk").cast("double") / TOP_K
    r = F.col("n_rel_topk").cast("double") / F.greatest(
        F.col("n_rel_total"), F.lit(1)
    ).cast("double")
    f1 = F.when(p + r > 0, 2.0 * p * r / (p + r)).otherwise(F.lit(0.0))
    return per.select(
        "token",
        "n_rel_total",
        "n_rel_topk",
        rnd(p, 6).alias("precision_at_k"),
        rnd(r, 6).alias("recall_at_k"),
        rnd(f1, 6).alias("f1_at_k"),
    )
