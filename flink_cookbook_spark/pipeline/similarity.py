"""Embedding similarity search over the ``embeddings`` fixture table.

Brute-force cosine top-k as the exactness baseline, plus a random-
hyperplane (Rademacher) LSH bucketing as the scale path. All vector math
runs JVM-side on ``array<double>`` via ``zip_with``/``aggregate`` —
no Python in the hot path; hyperplanes are deterministic md5-derived
sign vectors materialized as literals so the DuckDB oracle reproduces
them bit-for-bit.

One vector-quantizer core serves the IVF, IMI/PQ and k-means queries
(the inverted multi-index paper's framing: every index is nearest
centroid plus Lloyd):
- ``_sqdist`` / ``_dot`` / ``_norm``: the sequential folds, the order
  DuckDB uses, so distances are bit-identical before rounding;
- ``_centroid_row``: every centroid set enters a plan as one broadcast
  row of ``array<struct<cid, cemb>>`` columns;
- ``_nearest`` / ``_nearest_n``: argmin and top-n over (dist, cid)
  structs, ties to the lowest cid; ``_assign`` is the map-only
  nearest-centroid pass built on ``_nearest``;
- ``_md5_sample`` / ``_train_sample`` / ``_lloyd``: the engine-portable
  md5-coin sample and the numpy Lloyd trainer the coarse quantizers run
  on it. The distributed k-means (``_kmeans_model``) keeps its own
  update, whose empty clusters drop.

Scale notes (100 TB / billions of vectors):
- brute force is query-count x corpus-size: fine for small query sets
  (the broadcast-queries pattern below — corpus stays partitioned, the
  k queries are broadcast), wrong for all-pairs.
- the LSH path buckets vectors by projection signs: candidate generation
  becomes an equi-join on bucket id (one shuffle), and exact cosine runs
  only within buckets. More planes -> smaller buckets -> higher precision
  / lower recall; production tunes planes and uses multiple tables.
- an IVF variant (k-means centroids + nearest-centroid partition
  pruning) composes the same way: assign -> equi-join on centroid id.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import NUDGE, register, rnd

N_QUERIES = 5  # queries are vec_id < N_QUERIES
TOP_K = 5
LSH_PLANES = 8
DIM = 64


def _dot(a, b) -> F.Column:
    """Sequential left-to-right fold — same order DuckDB uses, so results
    are bit-identical before rounding."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _sqdist(v, c) -> F.Column:
    """Squared L2 distance, the same sequential fold as ``_dot``."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def _md5_sample(df: DataFrame, salt: str, cap: int) -> tuple[int, DataFrame]:
    """(row count, capped deterministic sample of ``df``): the rows whose
    md5 coin over ``salt || vec_id`` is divisible by ``max(1, n // cap)``,
    so the sample holds ~``cap`` rows at any corpus size. md5, not
    F.hash: an engine-portable coin, so each DuckDB oracle reproduces the
    exact sample (F.hash is Spark-private murmur3 and could not)."""
    n = df.count()
    coin = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col("vec_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return n, df.where(coin % max(1, n // cap) == 0)


def _emb_double(df: DataFrame) -> DataFrame:
    return df.withColumn("emb", F.col("embedding").cast("array<double>"))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id < 5), the
    5 nearest corpus vectors by cosine similarity. The query side is tiny
    and broadcast; the corpus side never moves."""
    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"),
        _norm(F.col("emb")).alias("qn"),
    )
    # candidate norms once per corpus row, not once per (query, cand)
    # pair — same expression hoisted above the join, identical floats
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("emb").alias("cemb"),
        _norm(F.col("emb")).alias("cn"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine_raw",
            _dot(F.col("qemb"), F.col("cemb")) / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_raw").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "rk", "cand_id", rnd("cosine_raw", 6).alias("cosine"))
    )


register(
    "cosine_topk",
    oracle=f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
           AS cosine_raw
  FROM emb q JOIN emb c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_raw DESC, cand_id ASC) AS rk
  FROM scored
)
SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id, round(cosine_raw + 1e-6, 6) AS cosine
FROM ranked WHERE rk <= {TOP_K}
""",
    tags=("similarity", "llm-pipeline", "bench"),
)(cosine_topk)


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector diagnostics: dimensionality, L2 norm, component mean —
    the sanity sweep before any similarity work."""
    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id",
        "label",
        F.size("emb").alias("dim"),
        rnd(_norm(F.col("emb")), 6).alias("l2_norm"),
        rnd(
            F.aggregate(F.col("emb"), F.lit(0.0), lambda acc, x: acc + x)
            / F.size("emb"),
            6,
        ).alias("mean_component"),
    )


register(
    "embedding_stats",
    oracle="""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id, label,
       CAST(len(e) AS INTEGER) AS dim,
       round(sqrt(list_dot_product(e, e)) + 1e-6, 6) AS l2_norm,
       round(list_sum(e) / len(e) + 1e-6, 6) AS mean_component
FROM emb
""",
    tags=("similarity", "llm-pipeline"),
)(embedding_stats)


def _hyperplanes() -> list[list[int]]:
    """Deterministic Rademacher (+1/-1) hyperplanes from md5 — computed
    once at plan-build time, embedded as literals on both engines."""
    planes = []
    for p in range(LSH_PLANES):
        signs = []
        for j in range(DIM):
            digest = hashlib.md5(f"plane{p}:dim{j}".encode()).hexdigest()
            signs.append(1 if int(digest[0], 16) % 2 == 0 else -1)
        planes.append(signs)
    return planes


def lsh_bucket_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: bucket id = sign bits of 8 Rademacher
    projections. Vectors with high cosine similarity collide with high
    probability (P(bit match) = 1 - angle/pi per plane)."""
    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    return emb.select("vec_id", "label", _lsh_bucket().alias("bucket"))


def _lsh_bucket() -> F.Column:
    """The int bucket id of the ``emb`` column: bit p is set when the
    projection on hyperplane p is >= 0."""
    bucket = None
    for p, signs in enumerate(_hyperplanes()):
        proj = _dot(F.col("emb"), F.array(*[F.lit(float(s)) for s in signs]))
        bit = F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def _lsh_bucket_sql() -> str:
    planes = _hyperplanes()
    terms = []
    for p, signs in enumerate(planes):
        arr = "[" + ", ".join(f"{float(s)}" for s in signs) + "]::DOUBLE[]"
        terms.append(
            f"CASE WHEN list_dot_product(e, {arr}) >= 0 THEN {1 << p} ELSE 0 END"
        )
    return " + ".join(terms)


register(
    "lsh_bucket_assignment",
    oracle=f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id, label, CAST({_lsh_bucket_sql()} AS INTEGER) AS bucket
FROM emb
""",
    tags=("similarity", "llm-pipeline", "lsh"),
)(lsh_bucket_assignment)


def lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket occupancy profile: how balanced is the LSH partitioning —
    the quantity that decides candidate-join cost at scale."""
    buckets = lsh_bucket_assignment(spark, sf_dir)
    return buckets.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
    )


register(
    "lsh_bucket_profile",
    oracle=f"""
WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
buckets AS (
  SELECT vec_id, label, CAST({_lsh_bucket_sql()} AS INTEGER) AS bucket FROM emb
)
SELECT bucket, count(*) AS n_vectors, count(DISTINCT label) AS n_labels
FROM buckets GROUP BY bucket
""",
    tags=("similarity", "llm-pipeline", "lsh"),
)(lsh_bucket_profile)


N_CENTROIDS = 8
KMEANS_ITERS = 4
#: target vectors per k-means/IVF cell: the cell count is ADAPTIVE,
#: k = clamp(n // TARGET_CELL, N_CENTROIDS, MAX_CELLS), computed
#: identically in Python and in-SQL (a scalar subquery over the same
#: source), so cell population stays ~TARGET_CELL as the corpus grows
#: and the within-cell pair stage scales LINEARLY in n instead of
#: quadratically. At every shipped fixture SF (n <= 5000) the clamp
#: floors at N_CENTROIDS = 8 — adaptive k changes NO fixture hash; the
#: 30x probe is where it bites (60k vectors -> 234 cells). MAX_CELLS
#: bounds the driver-held centroid matrix / broadcast row (4096 x 64
#: doubles = 2 MB); beyond ~MAX_CELLS * TARGET_CELL (~1M) vectors the
#: next tier is a two-level (IVF-in-IVF) quantizer, out of scope here.
TARGET_CELL = 256
MAX_CELLS = 4096


def _adaptive_k(n: int, base: int = N_CENTROIDS) -> int:
    """Cell count for an n-vector corpus (see ``TARGET_CELL``)."""
    return min(max(base, n // TARGET_CELL), MAX_CELLS)


def _adaptive_k_sql(source: str, base: int = N_CENTROIDS) -> str:
    """The same clamp as a DuckDB scalar subquery over CTE ``source``."""
    return (
        f"(SELECT least(greatest({base}, count(*) // {TARGET_CELL}),"
        f" {MAX_CELLS}) FROM {source})"
    )
#: hard cap on vectors used to train the coarse quantizer. The trainer
#: collects a deterministic hash-sample of AT MOST ~this many vectors to
#: the driver (<= 512 x 64 doubles = 256 KB here — the same driver-sized
#: footprint as any broadcast dim table) and runs Lloyd in numpy. This is
#: the production IVF recipe (faiss trains coarse quantizers on a capped
#: uniform sample, ~256*k vectors): centroid quality needs a
#: representative sample, not the corpus, so training cost is CONSTANT in
#: corpus size while assignment/search stay fully distributed.
MAX_TRAIN_VECTORS = 512
#: cells probed per query. nprobe=1 searches only the query's own cell
#: and misses true neighbors that fall just across a Voronoi boundary;
#: probing the 3 nearest of the (adaptive-k, fixture: 8) cells is the
#: standard recall/cost dial
#: (recall pinned >= 0.64 in tests/test_pipeline.py at both fixture SFs).
NPROBE = 3


def _centroid_row(spark: SparkSession, **sets) -> DataFrame:
    """ONE broadcast row holding each centroid set, a list of
    (cid, centroid) pairs, as an ``array<struct<cid, cemb>>`` column named
    by its keyword. Centroids enter a plan as DATA, not literal
    expressions, so the plan is structurally identical every iteration and
    Catalyst analysis/codegen cost is paid once."""
    return spark.createDataFrame(
        [tuple([(int(cid), [float(v) for v in c]) for cid, c in cs] for cs in sets.values())],
        ", ".join(f"{name} array<struct<cid: int, cemb: array<double>>>" for name in sets),
    )


def _by_dist(v, cents) -> F.Column:
    """(dist, cid) struct per centroid of the array column ``cents``;
    struct ordering sends distance ties to the lowest cid."""
    return F.transform(
        cents, lambda c: F.struct(_sqdist(v, c.cemb).alias("dist"), c.cid.alias("cid"))
    )


def _nearest(v, cents) -> F.Column:
    """The (dist, cid) struct of the centroid nearest to ``v``."""
    return F.array_min(_by_dist(v, cents))


def _nearest_n(v, cents, n: int) -> F.Column:
    """The cids of the ``n`` centroids nearest to ``v``, nearest first;
    its first element is ``_nearest``'s cid."""
    return F.transform(F.slice(F.array_sort(_by_dist(v, cents)), 1, n), lambda x: x.cid)


def _assign(emb: DataFrame, pairs) -> DataFrame:
    """Nearest-centroid assignment as a MAP-ONLY pass over ``emb``
    (vec_id, emb): the centroid pairs cross-join in as one broadcast row
    and the argmin is ``_nearest``, so assignment costs zero shuffles (the
    earlier crossJoin + groupBy(vec_id) argmin paid a full shuffle per
    k-means iteration). Returns (vec_id, emb, cid, sqdist); keeping emb
    lets callers reuse the assignment as (vector, cell) pairs."""
    best = _nearest(F.col("emb"), F.col("cents"))
    return emb.crossJoin(F.broadcast(_centroid_row(emb.sparkSession, cents=pairs))).select(
        "vec_id",
        "emb",
        best.getField("cid").alias("cid"),
        best.getField("dist").alias("sqdist"),
    )


def _lloyd(X: np.ndarray, k: int) -> list[list[float]]:
    """KMEANS_ITERS Lloyd rounds in numpy over the rows of ``X``, seeded
    with its first ``k`` rows. Distance ties go to the lowest cid
    (argmin takes the first index, the (dist, cid) order of
    ``_nearest``) and an empty cluster keeps its centroid (the oracles'
    coalesce carry). No RNG anywhere."""
    C = X[:k].copy()
    for _ in range(KMEANS_ITERS):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cid = d2.argmin(axis=1)  # first (lowest) index on ties
        for c in range(k):
            members = X[cid == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return [[float(v) for v in row] for row in C]


def _train_sample(spark: SparkSession, sf_dir: str, salt: str) -> tuple[int, np.ndarray]:
    """(corpus size, training matrix): the ``_md5_sample`` of the corpus,
    capped at ~MAX_TRAIN_VECTORS, collected in vec_id order.

    Two distributed jobs — the count that sizes the sampling rate and a
    bounded collect — and the driver never holds more than the capped
    sample (the footprint of a broadcast dim table), at any corpus size.
    Coarse quantizers train on this sample in numpy (``_lloyd``) instead
    of running each Lloyd pass as a cluster job over a few hundred KB;
    faiss and friends train the same way."""
    emb = _emb_double(load(spark, sf_dir, "embeddings")).select("vec_id", "emb")
    n, sample = _md5_sample(emb, salt, MAX_TRAIN_VECTORS)
    rows = sorted(sample.collect(), key=lambda r: r.vec_id)
    return n, np.array([r.emb for r in rows], dtype=np.float64)


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The IVF coarse quantizer: ``_lloyd`` with the adaptive cell count
    on the ``ivfsample:`` training sample (the sample ``_ivf_oracle``
    replays). An empty corpus has no centroids, and every downstream join
    is empty."""
    n, X = _train_sample(spark, sf_dir, "ivfsample:")
    return _lloyd(X, min(_adaptive_k(n), len(X))) if len(X) else []


def _ivf_index(spark: SparkSession, sf_dir: str):
    """The IVF index: (trained centroids, full-corpus cell assignment).

    Both halves are memoized per (session, sf_dir) — a production ANN
    service trains the coarse quantizer and materializes the inverted
    lists ONCE, then serves every query batch from them. ``cells`` is
    persisted, so the two consumers inside one query plan (query side and
    candidate side) and every later query read the materialized
    assignment instead of re-scanning parquet + re-assigning.
    """
    from flink_cookbook_spark.pipeline._cache import memo_persist, memo_value

    centroids = memo_value(
        spark, "ivf_centroids", sf_dir, lambda: _ivf_centroids(spark, sf_dir)
    )
    emb = _emb_double(load(spark, sf_dir, "embeddings")).select("vec_id", "emb")
    cells = memo_persist(
        spark,
        "ivf_cells",
        sf_dir,
        lambda: _assign(emb, enumerate(centroids)).drop("sqdist"),
    )
    return centroids, cells


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: k-means coarse quantizer, then
    exact cosine only within each query's NPROBE nearest centroid cells.
    The 100 TB shape: centroid assignment is a map-only pass, candidate
    search is an equi-join on cell id — corpus never cross-joins, and
    probing more cells multiplies only the broadcast query side, never
    the corpus scan. Hash-checked since round 6 against a full unrolled
    DuckDB replay (``_ivf_oracle``: sample -> Lloyd -> assignment ->
    probes -> top-k); recall vs brute force additionally pinned in
    tests/test_pipeline.py."""
    centroids, cells = _ivf_index(spark, sf_dir)
    queries = cells.where(F.col("vec_id") < N_QUERIES).select("vec_id", "emb")
    cdf = _centroid_row(spark, cents=enumerate(centroids))
    probes = queries.crossJoin(F.broadcast(cdf)).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"),
        _norm(F.col("emb")).alias("qn"),
        F.explode(_nearest_n(F.col("emb"), F.col("cents"), NPROBE)).alias("cid"),
    )
    # candidate norms once per corpus row (hoisted above the join, same
    # floats); candidates pay only the dot fold per probe hit
    cand = cells.select(
        F.col("vec_id").alias("cand_id"), F.col("emb").alias("cemb"), "cid",
        _norm(F.col("emb")).alias("cn"),
    )
    # a candidate owns ONE cell and a query's probe cells are distinct,
    # so each (query, candidate) pair joins at most once — no dedup step.
    scored = (
        cand.join(F.broadcast(probes), "cid")
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine_raw",
            _dot(F.col("qemb"), F.col("cemb")) / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_raw").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "rk", "cand_id", rnd("cosine_raw", 6).alias("cosine"))
    )


def _ivf_oracle() -> str:
    """Full IVF replay as unrolled CTEs: the md5-coin training sample
    (modulus derived in-SQL from the corpus count, exactly like
    ``_train_sample``), seeds = first k sample vectors by vec_id,
    KMEANS_ITERS Lloyd rounds WITH numpy's empty-cluster carry
    (coalesce keeps the old centroid), full-corpus nearest-centroid
    assignment, NPROBE probe cells per query, and the within-cell
    cosine top-k. Upgrades ivf_topk from rows-only+recall-pytest to a
    value-hash-checked query; cross-engine float drift (numpy pairwise
    summation vs sequential SQL sums) only matters at exact ties, which
    the (dist, cid) / (cosine, cand_id) tie-breaks make irrelevant."""
    dims, k = DIM, N_CENTROIDS

    def assign(i: int, src: str) -> str:
        return f"""
d{i} AS (
  SELECT e.vec_id, e.v, c.cid,
         list_sum(list_transform(range(1, {dims + 1}),
                  i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))) AS sqd
  FROM {src} e CROSS JOIN c{i} c
),
a{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk
    FROM d{i})
  WHERE rk = 1
)"""

    def update(i: int) -> str:
        return f"""
c{i + 1} AS (
  SELECT c.cid, coalesce(u.c, c.c) AS c
  FROM c{i} c LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS c
    FROM (SELECT cid, g.i AS i, avg(v[g.i]) AS m
          FROM a{i} CROSS JOIN generate_series(1, {dims}) AS g(i)
          GROUP BY cid, g.i)
    GROUP BY cid
  ) u ON c.cid = u.cid
)"""

    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        f"""s AS (
  SELECT vec_id, v FROM e
  WHERE CAST('0x' || substr(md5('ivfsample:' || CAST(vec_id AS VARCHAR)), 1, 15)
             AS BIGINT)
        % (SELECT greatest(1, count(*) // {MAX_TRAIN_VECTORS}) FROM e) = 0
),
c0 AS (
  SELECT cid, v AS c FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
    FROM s)
  WHERE cid < {_adaptive_k_sql("e")}
)""",
    ]
    for i in range(KMEANS_ITERS):
        parts.append("," + assign(i, "s"))
        parts.append("," + update(i))
    fin = KMEANS_ITERS
    parts.append("," + assign(fin, "e"))  # full-corpus assignment
    parts.append(f""",
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_sum(list_transform(range(1, {dims + 1}),
                                       i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i]))),
                                       c.cid) AS prk
    FROM (SELECT vec_id, v FROM a{fin} WHERE vec_id < {N_QUERIES}) q
    CROSS JOIN c{fin} c)
  WHERE prk <= {NPROBE}
),
scored AS (
  SELECT p.query_id, cand.vec_id AS cand_id,
         list_dot_product(q.v, cand.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(cand.v, cand.v)))
           AS cosine_raw
  FROM probes p
  JOIN a{fin} cand ON cand.cid = p.cid AND cand.vec_id != p.query_id
  JOIN e q ON q.vec_id = p.query_id
)
SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id,
       round(cosine_raw + 1e-6, 6) AS cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_raw DESC, cand_id ASC) AS rk
      FROM scored)
WHERE rk <= {TOP_K}""")
    return "\n".join(parts)


register(
    "ivf_topk",
    oracle=_ivf_oracle(),
    tags=("similarity", "llm-pipeline", "ivf", "ann", "bench"),
)(ivf_topk)


#: exact-cosine confirm threshold for the LSH-blocked dup-pair query.
#: A config knob, not a constant of the algorithm: production near-dup
#: removal runs the SAME query at 0.9+; the registered value sits inside
#: the fixture corpus's actual cosine range (isotropic gaussian vectors
#: top out ~0.5 same-bucket) so the confirm branch is verified against
#: REAL rows at sf0.01 — at 0.95 the r2 green was a vacuous 0 == 0 match.
EMB_DUP_CONFIRM_COS = 0.35


def embedding_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-accelerated: candidates
    share an LSH bucket; exact cosine >= EMB_DUP_CONFIRM_COS confirms.
    The bucket equi-join replaces the all-pairs cross product (the
    100 TB shape)."""
    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    withb = emb.select("vec_id", F.col("emb"), _lsh_bucket().alias("bucket"))
    # norms once per vector BEFORE the bucket join; the pair stage pays
    # only the dot fold (identical floats — same expression, hoisted)
    a = withb.select(
        F.col("vec_id").alias("vec1"), F.col("emb").alias("e1"),
        _norm(F.col("emb")).alias("n1"), F.col("bucket").alias("b1"),
    )
    b = withb.select(
        F.col("vec_id").alias("vec2"), F.col("emb").alias("e2"),
        _norm(F.col("emb")).alias("n2"), F.col("bucket").alias("b2"),
    )
    cos = _dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    return (
        a.join(b, (F.col("b1") == F.col("b2")) & (F.col("vec1") < F.col("vec2")))
        .withColumn("cosine_raw", cos)
        .where(F.col("cosine_raw") >= EMB_DUP_CONFIRM_COS)
        .select("vec1", "vec2", rnd("cosine_raw", 6).alias("cosine"))
    )


register(
    "embedding_cosine_dup_pairs",
    oracle=f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
buckets AS (
  SELECT vec_id, e, CAST({_lsh_bucket_sql()} AS INTEGER) AS bucket FROM emb
)
SELECT a.vec_id AS vec1, b.vec_id AS vec2,
       round(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
             + 1e-6, 6) AS cosine
FROM buckets a JOIN buckets b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
      >= {EMB_DUP_CONFIRM_COS}
""",
    tags=("similarity", "llm-pipeline", "near-dup", "lsh"),
)(embedding_cosine_dup_pairs)


def _int8_scale(v: str) -> F.Column:
    """Per-vector symmetric int8 scale of array column ``v``."""
    return F.greatest(F.array_max(F.transform(v, F.abs)), F.lit(1e-12)) / F.lit(127.0)


def _int8_sq_err(v: str) -> F.Column:
    """Per-component squared reconstruction error of ``v``'s int8 code,
    at the scale held in column ``q_scale``. Internal name q_scale, NOT
    the output name "scale": references to a column from inside a HOF
    lambda resolve against the select list's LATERAL aliases before
    input columns (unlike plain expressions), so an output alias
    `rnd(scale).alias("scale")` would silently feed the ROUNDED scale
    back into the quantizer."""
    return F.transform(
        v,
        lambda x: F.pow(
            x
            - F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.floor(x / F.col("q_scale") + F.lit(0.5))),
            )
            * F.col("q_scale"),
            F.lit(2.0),
        ),
    )


def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization with per-vector scale —
    the storage-compression step of a production vector index (4x
    smaller than float32) — plus its reconstruction-error report
    (MSE and max absolute error per vector).

    Map-only: every expression is a JVM-side array HOF over the scan;
    zero shuffles, so it runs at 100 TB as a pass-through stage. The
    quantizer uses ``floor(x/scale + 0.5)`` (not round()) so Spark and
    DuckDB take the identical half-up path on exact ties.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    scaled = emb.withColumn("q_scale", _int8_scale("e"))
    sq_err = _int8_sq_err("e")
    return scaled.select(
        "vec_id",
        rnd(F.col("q_scale"), 8).alias("scale"),
        rnd(
            F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x)
            / F.size("e"),
            8,
        ).alias("mse"),
        rnd(F.sqrt(F.array_max(sq_err)), 6).alias("max_abs_err"),
    )


register(
    "embedding_quantization",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
         greatest(list_max(list_transform(e, x -> abs(x))), 1e-12) / 127.0
           AS scale
  FROM v
),
err AS (
  SELECT vec_id, scale,
         list_transform(
           e,
           x -> pow(x - greatest(-127.0,
                                 least(127.0, floor(x / scale + 0.5))) * scale,
                    2.0)
         ) AS sq
  FROM s
)
SELECT vec_id,
       round(scale + 1e-6, 8) AS scale,
       round(list_sum(sq) / len(sq) + 1e-6, 8) AS mse,
       round(sqrt(list_max(sq)) + 1e-6, 6) AS max_abs_err
FROM err
""",
    tags=("similarity", "llm-pipeline", "quantization"),
)(embedding_quantization)


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, one row per (label, dimension) —
    the class-prototype computation under semantic dedup (SemDeDup
    clusters), nearest-class-mean classification, and drift monitoring.

    posexplode + a single hash aggregate on (label, dim): map-side
    partial means make the shuffle volume labels x dims regardless of
    corpus size — the 100 TB shape for elementwise vector means.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    return emb.groupBy("label", (F.col("pos") + 1).alias("dim_idx")).agg(
        F.count("*").alias("n_vectors"),
        rnd(F.avg("val"), 6).alias("centroid"),
    )


register(
    "label_centroids",
    oracle=f"""
SELECT label,
       CAST(g.i AS INTEGER) AS dim_idx,
       count(*) AS n_vectors,
       round(avg(CAST(embedding[g.i] AS DOUBLE)) + 1e-6, 6) AS centroid
FROM embeddings CROSS JOIN generate_series(1, {DIM}) AS g(i)
GROUP BY 1, 2
""",
    tags=("similarity", "llm-pipeline", "centroids"),
)(label_centroids)


# --- distributed k-means (semantic clustering), hash-checkable ----------

KM_K = 8  # clusters; seeds = embeddings of vec_id 0..KM_K-1
KM_ITERS = 2  # fixed Lloyd update rounds (unrolled in the oracle SQL)


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding corpus — the semantic
    clustering primitive (SemDeDup-style cluster-then-dedup, corpus topic
    maps, IVF coarse quantizers trained IN-cluster when the sample-based
    path of ``_ivf_centroids`` isn't enough).

    Every heavy step is distributed and shuffle-minimal:
    - assignment is the ``_assign`` map-only broadcast pass (zero
      shuffles; centroids travel as one broadcast row, with explicit
      cids that stay stable when a cluster empties and drops);
    - the centroid update is posexplode + one hash aggregate on
      (cid, dim) — map-side partial means make shuffle volume k x dims
      regardless of corpus size (the ``label_centroids`` shape);
    - the driver only ever holds the k x dim centroid matrix (a few KB),
      exactly what it must broadcast next round — never corpus rows.

    Determinism: seeds are the first KM_K vectors by vec_id, iteration
    count is fixed (KM_ITERS Lloyd rounds, then a final assignment), ties
    argmin to the lowest cid, empty clusters drop on BOTH sides. That
    makes the whole algorithm SQL-expressible by unrolling — the oracle
    below replays each round as CTEs — so an *iterative* operator gets a
    full value-hash check, not a rows-only pass.
    """
    emb, pairs = _kmeans_model(spark, sf_dir)
    return _assign(emb, pairs).select(
        "vec_id",
        F.col("cid").alias("cluster"),
        rnd(F.sqrt("sqdist"), 4).alias("dist"),
    )


def _kmeans_model(spark: SparkSession, sf_dir: str):
    """(persisted corpus projection, trained centroid pairs) — memoized:
    the Lloyd training runs once per session and both consumers
    (``kmeans_embeddings``, ``semantic_cluster_dups``) reuse it.

    The projected corpus is persisted because every Lloyd round makes
    KM_ITERS + 1 assignment passes plus update aggregates over the SAME
    (vec_id, emb) projection — at 100 TB this is the materialized
    feature table every iteration reads, not a re-scan of raw storage.
    """
    from flink_cookbook_spark.pipeline._cache import memo_persist, memo_value

    emb = memo_persist(
        spark,
        "kmeans_emb",
        sf_dir,
        lambda: _emb_double(load(spark, sf_dir, "embeddings")).select("vec_id", "emb"),
    )

    def train() -> list[tuple[int, list[float]]]:
        # adaptive cell count (floors at KM_K on every shipped fixture;
        # grows as n // TARGET_CELL past ~2k vectors — see TARGET_CELL)
        k = _adaptive_k(emb.count(), KM_K)
        seeds = emb.where(F.col("vec_id") < k).collect()  # k rows, bounded
        pairs = [(int(r.vec_id), list(r.emb)) for r in sorted(seeds, key=lambda r: r.vec_id)]
        for _ in range(KM_ITERS):
            assigned = _assign(emb, pairs)
            rows = (
                assigned.select("cid", F.posexplode("emb").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()  # k x dim partial means — bounded, not corpus data
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cid.setdefault(r.cid, {})[r.pos] = r.m
            pairs = [
                (cid, [by_cid[cid][p] for p in range(DIM)]) for cid in sorted(by_cid)
            ]
        return pairs

    return emb, memo_value(spark, "kmeans_model", sf_dir, train)


def _kmeans_oracle() -> str:
    """Unrolled Lloyd rounds as DuckDB CTEs: assignment = windowed argmin
    over the vector x centroid cross product, update = per-dim AVG."""
    dims = DIM

    def assign(i: int) -> str:
        return f"""
d{i} AS (
  SELECT e.vec_id, e.v, c.cid,
         list_sum(list_transform(range(1, {dims + 1}),
                  i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))) AS sqd
  FROM e CROSS JOIN c{i} c
),
a{i} AS (
  SELECT vec_id, v, cid, sqd FROM (
    SELECT vec_id, v, cid, sqd,
           row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk
    FROM d{i})
  WHERE rk = 1
)"""

    def update(i: int) -> str:
        return f"""
c{i + 1} AS (
  SELECT cid, list(m ORDER BY i) AS c
  FROM (SELECT cid, g.i AS i, avg(v[g.i]) AS m
        FROM a{i} CROSS JOIN generate_series(1, {dims}) AS g(i)
        GROUP BY cid, g.i)
  GROUP BY cid
)"""

    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM e"
        f" WHERE vec_id < {_adaptive_k_sql('e', KM_K)})",
    ]
    for i in range(KM_ITERS):
        parts.append("," + assign(i))
        parts.append("," + update(i))
    parts.append("," + assign(KM_ITERS))
    parts.append(
        f"""
SELECT vec_id, cid AS cluster, round(sqrt(sqd) + 1e-6, 4) AS dist
FROM a{KM_ITERS}"""
    )
    return "\n".join(parts)


def _kmeans_cte_prefix() -> str:
    """The unrolled-Lloyd CTE chain ending at the final assignment
    ``a{KM_ITERS}`` (vec_id, v, cid, sqd) — shared by the k-means oracle
    and the SemDeDup within-cluster dedup oracle."""
    full = _kmeans_oracle()
    return full[: full.rindex("\nSELECT ")]


register(
    "kmeans_embeddings",
    oracle=_kmeans_oracle(),
    tags=("similarity", "llm-pipeline", "kmeans", "clustering", "iterative", "bench"),
)(kmeans_embeddings)


#: block-grid parallelism for within-cell pair self-joins. The pair
#: stage's natural join key is the cell id, whose cardinality
#: (adaptive, floored at N_CENTROIDS = 8 on the fixtures) can sit far
#: below cluster parallelism — worse, AQE
#: coalesces the join's tiny INPUT (a few MB of vectors) into ONE
#: partition while the pair OUTPUT is quadratic in cell size. Found
#: empirically by the round-7 sf1 probe (`probe.py time`): at 20k vectors
#: the manifest's pair stage collapsed to a single task computing
#: ~10^8 array-fold cosines (>15 min; 122 s gridded; 31 s after also
#: hoisting the per-vector norms out of the pair expression). Each side
#: is therefore bucketed by an engine-internal hash of its vec_id into
#: PAIR_BLOCKS blocks and joined through the PAIR_BLOCKS^2 block grid,
#: with the left side explicitly repartitioned to the grid width —
#: user-specified repartition exempts the exchange from AQE input-size
#: coalescing, so the quadratic work spreads over cells x grid tasks.
#: The emitted pair SET is unchanged: the oracles need no change.
PAIR_BLOCKS = 8


def _cell_pairs(assigned: DataFrame) -> DataFrame:
    """Within-cell candidate pairs (``vec1 < vec2``) of ``assigned``
    (vec_id, emb, cid), parallelized via the block grid (see
    ``PAIR_BLOCKS``). Output columns: vec1, e1, n1, vec2, e2, n2, cid.
    The L2 norms ship as the n1/n2 columns, computed ONCE PER VECTOR
    before the join — the quadratic pair stage then pays only the dot
    fold per pair, not two more norm folds (same expression, same
    floats, 3x fewer fold evaluations in the hot stage)."""
    spark = assigned.sparkSession
    blk = F.pmod(F.hash(F.col("vec_id")), F.lit(PAIR_BLOCKS))
    a = assigned.select(
        F.col("vec_id").alias("vec1"), F.col("emb").alias("e1"),
        _norm(F.col("emb")).alias("n1"),
        F.col("cid").alias("cid"), blk.alias("ba"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec2"), F.col("emb").alias("e2"),
        _norm(F.col("emb")).alias("n2"),
        F.col("cid").alias("cid2"), blk.alias("bb"),
    )
    grid = spark.createDataFrame(
        [(i, j) for i in range(PAIR_BLOCKS) for j in range(PAIR_BLOCKS)],
        "ga int, gb int",
    )
    ag = (
        a.join(F.broadcast(grid), F.col("ba") == F.col("ga"))
        .repartition(PAIR_BLOCKS * PAIR_BLOCKS, "cid", "gb")
    )
    return (
        ag.join(
            b,
            (F.col("cid") == F.col("cid2"))
            & (F.col("gb") == F.col("bb"))
            & (F.col("vec1") < F.col("vec2")),
        )
        .select("vec1", "e1", "n1", "vec2", "e2", "n2", "cid")
    )


SEMDEDUP_COS = 0.4  # within-cluster cosine threshold (SemDeDup epsilon).
# The fixture corpus is pure-random (no planted semantic duplicates: the
# max within-cluster cosine is ~0.6), so production epsilon (~0.95) would
# make the query vacuously empty; 0.4 sits at the ~99.9th percentile of
# the within-cluster similarity distribution, exercising the full
# cluster->pair->verify path with non-degenerate output at every SF.


def semantic_cluster_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic near-duplicate pairs found INSIDE k-means
    clusters — cluster the corpus with the trained Lloyd model, then
    compare only within-cluster pairs with exact cosine >= SEMDEDUP_COS.
    The cluster acts as the coarse blocking key (the paper's recipe), so
    candidate pairs are sum(cluster_size²), not corpus²; at 100 TB k
    scales ~sqrt(n) (and composes with the LSH bucket key of
    ``embedding_cosine_dup_pairs`` for a second blocking level), while
    the fixture uses the same KM_K=8 model the ``kmeans_embeddings``
    query trains — shared via the memoized model, trained once.

    The oracle replays Lloyd by unrolled CTEs and the same within-
    cluster pair join, so the full cluster->dedup composition is
    value-hash-checked.
    """
    emb, pairs = _kmeans_model(spark, sf_dir)
    assigned = _assign(emb, pairs).select("vec_id", "emb", "cid")
    cos = _dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    return (
        _cell_pairs(assigned)
        .withColumn("cosine_raw", cos)
        .where(F.col("cosine_raw") >= SEMDEDUP_COS)
        .select(
            "vec1",
            "vec2",
            F.col("cid").alias("cluster"),
            rnd("cosine_raw", 6).alias("cosine"),
        )
    )


register(
    "semantic_cluster_dups",
    oracle=_kmeans_cte_prefix()
    + f"""
SELECT a.vec_id AS vec1, b.vec_id AS vec2, a.cid AS cluster,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             + 1e-6, 6) AS cosine
FROM a{KM_ITERS} a JOIN a{KM_ITERS} b
  ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= {SEMDEDUP_COS}
""",
    tags=("similarity", "llm-pipeline", "near-dup", "semdedup", "kmeans"),
)(semantic_cluster_dups)


# --------------------------------------------------------------------------
# near-dup threshold calibration curve
# --------------------------------------------------------------------------

#: cosine thresholds swept by the calibration curve. The sweep spans the
#: fixture corpus's actual cosine range (max pair cosine at sf0.01 is
#: ~0.51), so the low thresholds emit REAL nonzero merge counts and the
#: high ones emit real zeros — both branches of the sweep math are
#: value-hash-checked, never a vacuous 0-row == 0-row match (round-6
#: verdict #1 / ADVICE #1).
SIM_CURVE_THRESHOLDS = (0.30, 0.50, 0.70, 0.90, 0.99)
#: hard cap on the calibration sample size: the md5-coin modulus is
#: derived as n // CAP (the IVF training-sample pattern,
#: ``_train_sample``), so the pair cross-join input is bounded by a
#: CONSTANT (~CAP vectors -> ~CAP²/2 pairs) at any corpus size — at
#: 100 TB the modulus grows with the corpus and the pair set does not.
SIM_CURVE_MAX_VECTORS = 512


def similarity_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup THRESHOLD CALIBRATION: before committing to a
    SemDeDup/near-dup cosine cutoff, sweep candidate thresholds over a
    deterministic capped sample and report how many pairs (and what
    share) each would merge — the elbow of this curve is where
    operators set the production threshold.

    Scale shape: the sample is an engine-portable md5-coin subset with
    modulus ``max(1, n // SIM_CURVE_MAX_VECTORS)`` — pair count is
    bounded by a constant (~CAP²/2), not by the corpus; per-pair cosine
    is the same codegen'd fold the brute-force path uses; the sweep is
    ONE conditional aggregation over the pair set (no threshold join),
    so every threshold always emits a row — zero counts included.
    """
    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    _, sample = _md5_sample(emb, "simcurve:", SIM_CURVE_MAX_VECTORS)
    sample = sample.select("vec_id", "emb")
    # norms once per sampled vector, not once per pair (same floats)
    a = sample.select(
        F.col("vec_id").alias("ida"), F.col("emb").alias("ea"),
        _norm(F.col("emb")).alias("na"),
    )
    b = sample.select(
        F.col("vec_id").alias("idb"), F.col("emb").alias("eb"),
        _norm(F.col("emb")).alias("nb"),
    )
    pairs = (
        a.crossJoin(b)
        .where(F.col("ida") < F.col("idb"))
        .select(
            (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("cos")
        )
    )
    # n*(n-1)/2 from ONE scalar count of the sample — not a count of the
    # quadratic pair set (which would execute the cross join twice)
    n_sample = sample.count()
    n_pairs = n_sample * (n_sample - 1) // 2
    # conditional aggregation: a single global agg row carries one
    # combinable count per threshold (coalesce covers the empty-pair
    # case, where a global agg still yields one all-null row), then an
    # explode fans it into the 5-row curve — a threshold that merges
    # nothing reports 0, it never disappears from the output.
    counts = pairs.agg(
        *[
            F.coalesce(
                F.sum((F.col("cos") >= F.lit(t)).cast("long")), F.lit(0)
            ).alias(f"c{i}")
            for i, t in enumerate(SIM_CURVE_THRESHOLDS)
        ]
    )
    swept = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"c{i}").alias("m")
                    )
                    for i, t in enumerate(SIM_CURVE_THRESHOLDS)
                ]
            )
        ).alias("s")
    )
    return swept.select(
        rnd(F.col("s.t"), 2).alias("threshold"),
        F.col("s.m").alias("n_pairs_merged"),
        F.lit(n_pairs).cast("long").alias("n_sample_pairs"),
        rnd(
            F.col("s.m") / F.greatest(F.lit(n_pairs).cast("long"), F.lit(1)), 6
        ).alias("merge_share"),
    )


register(
    "similarity_threshold_curve",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sample AS (
  SELECT vec_id, e FROM e
  WHERE CAST('0x' || substr(md5('simcurve:' || CAST(vec_id AS VARCHAR)), 1, 15)
             AS BIGINT)
        % (SELECT greatest(1, count(*) // {SIM_CURVE_MAX_VECTORS}) FROM e) = 0
),
pairs AS (
  SELECT list_dot_product(a.e, b.e)
           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
           AS cos
  FROM sample a JOIN sample b ON a.vec_id < b.vec_id
),
total AS (
  SELECT CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_sample_pairs
  FROM sample
),
th AS (SELECT unnest([{", ".join(str(t) for t in SIM_CURVE_THRESHOLDS)}]) AS threshold)
SELECT round(th.threshold + 1e-6, 2) AS threshold,
       CAST(count(p.cos) AS BIGINT) AS n_pairs_merged,
       t.n_sample_pairs,
       round(count(p.cos) * 1.0 / greatest(t.n_sample_pairs, 1) + 1e-6, 6)
         AS merge_share
FROM th
CROSS JOIN total t
LEFT JOIN pairs p ON p.cos >= th.threshold
GROUP BY th.threshold, t.n_sample_pairs
""",
    tags=("similarity", "llm-pipeline", "calibration"),
)(similarity_threshold_curve)


def embedding_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-side END-TO-END index manifest — the vector analogue of
    ``training_data_manifest``: SemDeDup near-duplicate removal (keep
    the lowest vec_id of each within-cluster dup pair), then for every
    SURVIVOR the shippable index record: k-means cell, int8
    quantization scale, and reconstruction MSE — the three fields a
    production vector store persists per vector. One lazy plan:
    cluster assignment is the map-only broadcast pass, the drop set is
    a broadcastable post-aggregate anti-join side, quantization is
    zero-shuffle array math; the composed DuckDB oracle replays
    Lloyd + pair-dedup + quantization end to end.
    """
    emb, pairs = _kmeans_model(spark, sf_dir)
    assigned = _assign(emb, pairs).select("vec_id", "emb", "cid")
    cos = _dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    drops = (
        _cell_pairs(assigned)
        .where(cos >= SEMDEDUP_COS)
        .select(F.col("vec2").alias("vec_id"))
        .distinct()
    )
    survivors = assigned.join(drops, "vec_id", "left_anti")
    scaled = survivors.withColumn("q_scale", _int8_scale("emb"))
    sq_err = _int8_sq_err("emb")
    return scaled.select(
        "vec_id",
        F.col("cid").alias("cluster"),
        rnd(F.col("q_scale"), 8).alias("scale"),
        rnd(
            F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x) / F.size("emb"),
            8,
        ).alias("mse"),
    )


register(
    "embedding_index_manifest",
    oracle=_kmeans_cte_prefix()
    + f""",
drops AS (
  SELECT DISTINCT b.vec_id
  FROM a{KM_ITERS} a JOIN a{KM_ITERS} b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {SEMDEDUP_COS}
),
survivors AS (
  SELECT vec_id, v, cid FROM a{KM_ITERS}
  WHERE vec_id NOT IN (SELECT vec_id FROM drops)
),
scaled AS (
  SELECT vec_id, v, cid,
         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS scale
  FROM survivors
)
SELECT vec_id, cid AS cluster,
       round(scale + 1e-6, 8) AS scale,
       round(list_sum(list_transform(v,
               x -> pow(x - greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale, 2)))
             / len(v) + 1e-6, 8) AS mse
FROM scaled
""",
    tags=("similarity", "llm-pipeline", "end-to-end", "manifest"),
)(embedding_index_manifest)


# --------------------------------------------------------------------------
# inverted multi-index (IMI): two-level product-space quantizer
# --------------------------------------------------------------------------

#: dimensionality of each product half (the 64-dim vector splits into
#: two 32-dim subspaces, each quantized independently).
IMI_SUBDIM = DIM // 2
#: nearest half-cells probed per half; the probed cell set is the
#: IMI_NPROBE x IMI_NPROBE grid of half-cell combinations.
IMI_NPROBE = 2


def _imi_k(n: int) -> int:
    """Half-space cell count: ceil(sqrt(n / TARGET_CELL)) clamped to
    [2, 64], so the k'^2 PRODUCT cells hold ~TARGET_CELL vectors each
    while ASSIGNMENT pays only 2k' distance evaluations per vector —
    the re-linearization flat IVF cannot offer (its assignment is
    O(n x k) = O(n^2 / TARGET_CELL); see PERF.md round-7 asymptotics).
    Mirrored in-SQL by ``_imi_oracle`` (integer m keeps ceil/sqrt
    engine-portable: both engines take the IEEE sqrt of the same
    integer-valued double)."""
    import math

    m = max(n // TARGET_CELL, 1)
    return min(max(2, math.ceil(math.sqrt(m))), 64)


def _imi_centroids(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[float]], list[list[float]]]:
    """Train both half-space quantizers with ``_lloyd`` on ONE
    ``imisample:`` training sample (the sample ``_imi_oracle`` replays).
    Returns (half-A centroids, half-B centroids), each k' x IMI_SUBDIM —
    driver state is two tiny matrices."""
    n, X = _train_sample(spark, sf_dir, "imisample:")
    if not len(X):
        return [], []
    k = min(_imi_k(n), len(X))
    return _lloyd(X[:, :IMI_SUBDIM], k), _lloyd(X[:, IMI_SUBDIM:], k)


def _half(i: int) -> F.Column:
    """Product half ``i`` (0 or 1) of the ``emb`` column. A function, not
    a module constant: a Column needs a live SparkContext."""
    return F.slice(F.col("emb"), i * IMI_SUBDIM + 1, IMI_SUBDIM)


def _imi_cells(spark: SparkSession, sf_dir: str):
    """(trained half-centroids, full-corpus (vec_id, emb, ca, cb, cn))
    — memoized like the flat-IVF index; assignment is one map-only pass
    computing BOTH half argmins from one broadcast row (2k' distance
    folds per vector), plus the hoisted L2 norm for the scoring stage."""
    from flink_cookbook_spark.pipeline._cache import memo_persist, memo_value

    cents = memo_value(
        spark, "imi_centroids", sf_dir, lambda: _imi_centroids(spark, sf_dir)
    )
    ca, cb = cents
    emb = _emb_double(load(spark, sf_dir, "embeddings")).select("vec_id", "emb")

    def build():
        cdf = _centroid_row(spark, ca_cents=enumerate(ca), cb_cents=enumerate(cb))
        return emb.crossJoin(F.broadcast(cdf)).select(
            "vec_id",
            "emb",
            _nearest(_half(0), F.col("ca_cents")).getField("cid").alias("ca"),
            _nearest(_half(1), F.col("cb_cents")).getField("cid").alias("cb"),
            _norm(F.col("emb")).alias("cn"),
        )

    cells = memo_persist(spark, "imi_cells", sf_dir, build)
    return cents, cells


def imi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level ANN via the INVERTED MULTI-INDEX (Babenko & Lempitsky,
    CVPR 2012 — public literature): the vector splits into two halves,
    each quantized independently by a k'-cell coarse quantizer, and a
    vector's cell is the PAIR (ca, cb) — k'^2 effective cells at only
    2k' assignment distance evaluations per vector. This is the
    documented next tier past flat IVF (PERF.md round-7 asymptotics):
    flat assignment is O(n x k) = O(n^2 / TARGET_CELL), IMI assignment
    is O(n x sqrt(n / TARGET_CELL)) with the same ~TARGET_CELL expected
    cell population. Queries probe the IMI_NPROBE x IMI_NPROBE grid of
    nearest half-cells; exact cosine (hoisted norms) ranks within the
    probed cells. A candidate owns exactly one (ca, cb) pair and probed
    combos are distinct, so no dedup step is needed. At the shipped
    fixture SFs k' = 2, so the 2x2 probe grid covers ALL cells and the
    result provably equals brute force; the multi-index actually prunes
    from ~1300 vectors up (k' >= 3), where the synthetic-corpus pytest
    checks recall and the cross-engine hash."""
    (ca, cb), cells = _imi_cells(spark, sf_dir)
    queries = cells.where(F.col("vec_id") < N_QUERIES).select("vec_id", "emb")
    cdf = _centroid_row(spark, ca_cents=enumerate(ca), cb_cents=enumerate(cb))
    probes = (
        queries.crossJoin(F.broadcast(cdf))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            _norm(F.col("emb")).alias("qn"),
            F.explode(_nearest_n(_half(0), F.col("ca_cents"), IMI_NPROBE)).alias("ca"),
            _nearest_n(_half(1), F.col("cb_cents"), IMI_NPROBE).alias("pbs"),
        )
        .select(
            "query_id", "qemb", "qn", "ca", F.explode("pbs").alias("cb")
        )
    )
    cand = cells.select(
        F.col("vec_id").alias("cand_id"), F.col("emb").alias("cemb"), "ca", "cb", "cn"
    )
    scored = (
        cand.join(F.broadcast(probes), ["ca", "cb"])
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine_raw",
            _dot(F.col("qemb"), F.col("cemb")) / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_raw").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "rk", "cand_id", rnd("cosine_raw", 6).alias("cosine"))
    )


def _imi_oracle() -> str:
    """Full IMI replay as unrolled CTEs: TWO independent half-space
    Lloyd chains (suffix x/y) over the same md5 'imisample' coin —
    sample modulus AND half-cell count k' both derived in-SQL from the
    corpus count exactly as the Python trainer derives them — then
    full-corpus (ca, cb) product-cell assignment, the
    IMI_NPROBE x IMI_NPROBE probe grid per query, and the within-cell
    cosine top-k over FULL vectors. Same determinism contract as
    ``_ivf_oracle``: seeds = first k' sample vectors by vec_id,
    (dist, cid) tie-breaks, empty-cluster coalesce carry."""
    sd, fin = IMI_SUBDIM, KMEANS_ITERS
    kexpr = (
        f"(SELECT least(greatest(2, CAST(ceil(sqrt(greatest(count(*) // "
        f"{TARGET_CELL}, 1))) AS BIGINT)), 64) FROM e)"
    )

    def chain(t: str, lo: int) -> list[str]:
        parts = [f""",
h{t} AS (SELECT vec_id, v[{lo}:{lo + sd - 1}] AS v FROM e),
s{t} AS (
  SELECT vec_id, v FROM h{t}
  WHERE CAST('0x' || substr(md5('imisample:' || CAST(vec_id AS VARCHAR)), 1, 15)
             AS BIGINT)
        % (SELECT greatest(1, count(*) // {MAX_TRAIN_VECTORS}) FROM e) = 0
),
c{t}0 AS (
  SELECT cid, v AS c FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
    FROM s{t})
  WHERE cid < {kexpr}
)"""]

        def assign(i: int, src: str) -> str:
            return f""",
d{t}{i} AS (
  SELECT e.vec_id, e.v, c.cid,
         list_sum(list_transform(range(1, {sd + 1}),
                  i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))) AS sqd
  FROM {src} e CROSS JOIN c{t}{i} c
),
a{t}{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk
    FROM d{t}{i})
  WHERE rk = 1
)"""

        def update(i: int) -> str:
            return f""",
c{t}{i + 1} AS (
  SELECT c.cid, coalesce(u.c, c.c) AS c
  FROM c{t}{i} c LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS c
    FROM (SELECT cid, g.i AS i, avg(v[g.i]) AS m
          FROM a{t}{i} CROSS JOIN generate_series(1, {sd}) AS g(i)
          GROUP BY cid, g.i)
    GROUP BY cid
  ) u ON c.cid = u.cid
)"""

        for i in range(fin):
            parts.append(assign(i, f"s{t}"))
            parts.append(update(i))
        parts.append(assign(fin, f"h{t}"))  # full half-corpus assignment
        parts.append(f""",
p{t} AS (
  SELECT q.vec_id, c.cid,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY list_sum(list_transform(range(1, {sd + 1}),
                                     i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i]))),
                                     c.cid) AS prk
  FROM (SELECT vec_id, v FROM h{t} WHERE vec_id < {N_QUERIES}) q
  CROSS JOIN c{t}{fin} c
)""")
        return parts

    parts = ["WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"]
    parts += chain("x", 1)
    parts += chain("y", IMI_SUBDIM + 1)
    parts.append(f""",
cells AS (
  SELECT x.vec_id, x.cid AS ca, y.cid AS cb
  FROM a{'x'}{fin} x JOIN a{'y'}{fin} y USING (vec_id)
),
grid AS (
  SELECT x.vec_id, x.cid AS ca, y.cid AS cb
  FROM px x JOIN py y USING (vec_id)
  WHERE x.prk <= {IMI_NPROBE} AND y.prk <= {IMI_NPROBE}
),
scored AS (
  SELECT g.vec_id AS query_id, cl.vec_id AS cand_id,
         list_dot_product(q.v, c2.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c2.v, c2.v)))
           AS cosine_raw
  FROM grid g
  JOIN cells cl ON cl.ca = g.ca AND cl.cb = g.cb AND cl.vec_id != g.vec_id
  JOIN e q ON q.vec_id = g.vec_id
  JOIN e c2 ON c2.vec_id = cl.vec_id
)
SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id,
       round(cosine_raw + 1e-6, 6) AS cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_raw DESC, cand_id ASC) AS rk
      FROM scored)
WHERE rk <= {TOP_K}""")
    return "\n".join(parts)


register(
    "imi_topk",
    oracle=_imi_oracle(),
    tags=("similarity", "llm-pipeline", "imi", "ann", "two-level"),
)(imi_topk)


# --------------------------------------------------------------------------
# product-quantization reconstruction manifest (vector compression)
# --------------------------------------------------------------------------

def _pq_oracle() -> str:
    """Reuses the IMI oracle's unrolled double-Lloyd chains verbatim
    (everything through the ``cells`` CTE; the probe CTEs ride along
    unused — DuckDB permits unreferenced CTEs), then reconstructs each
    vector as half-centroid concatenation and replays the MSE."""
    full = _imi_oracle()
    prefix = full[: full.index(",\ngrid AS")]
    fin = KMEANS_ITERS
    return (
        prefix
        + f""",
recon AS (
  SELECT cl.vec_id, cl.ca, cl.cb, cx.c || cy.c AS rv
  FROM cells cl
  JOIN cx{fin} cx ON cx.cid = cl.ca
  JOIN cy{fin} cy ON cy.cid = cl.cb
)
SELECT r.vec_id, r.ca, r.cb,
       round(list_sum(list_transform(range(1, {DIM + 1}),
             i -> (e.v[i] - r.rv[i]) * (e.v[i] - r.rv[i]))) / {DIM} + 1e-6, 8)
         AS mse
FROM recon r JOIN e ON e.vec_id = r.vec_id
"""
    )


@register(
    "pq_reconstruction_manifest",
    oracle=_pq_oracle(),
    tags=("prepared-r8",),
)
def pq_reconstruction_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION compression manifest: each vector's PQ code
    is its pair of IMI half-cell ids (ca, cb) — log2(k'^2) bits instead
    of 64 floats — and the stored reconstruction is the concatenation of
    the two half-centroids. Emits per vector the code and the
    reconstruction MSE, i.e. the quality ledger a compressed vector
    store ships alongside its codes (the same role int8 scales play in
    ``embedding_index_manifest``, at a far higher compression ratio).

    Scale shape: reuses the memoized IMI index (training cost already
    paid; assignment map-only); reconstruction + MSE are zero-shuffle
    array math against the broadcast centroid row."""
    (ca, cb), cells = _imi_cells(spark, sf_dir)
    cdf = _centroid_row(spark, ca_cents=enumerate(ca), cb_cents=enumerate(cb))
    rec_a = F.element_at(
        F.filter(F.col("ca_cents"), lambda c: c.cid == F.col("ca")), 1
    ).getField("cemb")
    rec_b = F.element_at(
        F.filter(F.col("cb_cents"), lambda c: c.cid == F.col("cb")), 1
    ).getField("cemb")
    mse = _sqdist(F.col("emb"), F.concat(rec_a, rec_b)) / F.lit(float(DIM))
    return (
        cells.crossJoin(F.broadcast(cdf))
        .select("vec_id", "ca", "cb", rnd(mse, 8).alias("mse"))
    )


# --------------------------------------------------------------------------
# embedding centroid drift (distribution shift in vector space)
# --------------------------------------------------------------------------

_CENTROID_DRIFT_ORACLE = f"""
WITH e AS (
  SELECT label, vec_id % 2 = 0 AS even,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
per_dim AS (
  SELECT label, g.i AS pos,
         avg(CASE WHEN even THEN v[g.i] END) AS ma,
         avg(CASE WHEN NOT even THEN v[g.i] END) AS mb
  FROM e CROSS JOIN generate_series(1, 64) AS g(i)
  GROUP BY 1, 2
),
counts AS (
  SELECT label,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
         CAST(sum(CASE WHEN vec_id % 2 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
  FROM embeddings GROUP BY label
),
drift AS (
  SELECT label,
         sqrt(sum((ma - mb) * (ma - mb))) AS l2_u,
         max(abs(ma - mb)) AS maxdim_u
  FROM per_dim GROUP BY label
)
SELECT d.label, c.n_even, c.n_odd,
       round(d.l2_u + 1e-6, 6) AS l2_shift,
       round(d.maxdim_u + 1e-6, 6) AS max_dim_shift
FROM drift d JOIN counts c ON d.label = c.label
"""


@register(
    "embedding_centroid_drift",
    oracle=_CENTROID_DRIFT_ORACLE,
    tags=("prepared-r8",),
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE DRIFT monitor: per label, the L2 shift between
    the class centroid computed on the even-id half of the corpus and
    the odd-id half — the vector-space analogue of ``psi_value_drift``
    (a healthy static corpus shows near-zero shift; a changed encoder
    or data mix moves centroids). One posexplode + ONE hash aggregate
    with conditional means per (label, dim) — map-side combinable,
    shuffle volume labels x dims regardless of corpus size (the
    ``label_centroids`` shape) — then a labels-sized rollup."""
    emb = load(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("even"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    per_dim = emb.groupBy("label", "pos").agg(
        F.avg(F.when(F.col("even"), F.col("val"))).alias("ma"),
        F.avg(F.when(~F.col("even"), F.col("val"))).alias("mb"),
    )
    counts = (
        load(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.sum((F.col("vec_id") % 2 == 0).cast("long")).alias("n_even"),
            F.sum((F.col("vec_id") % 2 != 0).cast("long")).alias("n_odd"),
        )
    )
    drift = per_dim.groupBy("label").agg(
        F.sqrt(F.sum(F.pow(F.col("ma") - F.col("mb"), F.lit(2.0)))).alias("l2_u"),
        F.max(F.abs(F.col("ma") - F.col("mb"))).alias("maxdim_u"),
    )
    return drift.join(counts, "label").select(
        "label", "n_even", "n_odd",
        rnd("l2_u", 6).alias("l2_shift"),
        rnd("maxdim_u", 6).alias("max_dim_shift"),
    )


# --------------------------------------------------------------------------
# contrastive pair mining (hard positives / hard negatives)
# --------------------------------------------------------------------------

#: sample cap: the pair join is sample^2, so the cap bounds it at ~65k
#: pairs no matter the corpus size (the MAX_TRAIN_VECTORS pattern).
CONTRAST_MAX_VECTORS = 256


_CONTRASTIVE_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT greatest(1, count(*) // {CONTRAST_MAX_VECTORS}) AS md FROM e),
s AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
  FROM e, m
  WHERE CAST('0x' || substr(md5('contrast:' || CAST(vec_id AS VARCHAR)), 1, 15)
             AS BIGINT) % m.md = 0
),
p AS (
  SELECT a.vec_id AS aid, a.label AS al, b.vec_id AS bid, b.label AS bl,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM s a JOIN s b ON a.vec_id != b.vec_id
),
neg AS (
  SELECT aid, bid, cos,
         row_number() OVER (PARTITION BY aid ORDER BY cos DESC, bid ASC) AS rk
  FROM p WHERE al != bl
),
pos AS (
  SELECT aid, bid, cos,
         row_number() OVER (PARTITION BY aid ORDER BY cos ASC, bid ASC) AS rk
  FROM p WHERE al = bl
)
SELECT s.vec_id, s.label,
       pos.bid AS hard_pos_id, round(pos.cos + 1e-6, 6) AS hard_pos_cos,
       neg.bid AS hard_neg_id, round(neg.cos + 1e-6, 6) AS hard_neg_cos
FROM s
LEFT JOIN (SELECT * FROM pos WHERE rk = 1) pos ON pos.aid = s.vec_id
LEFT JOIN (SELECT * FROM neg WHERE rk = 1) neg ON neg.aid = s.vec_id
"""


@register(
    "contrastive_pair_mining",
    oracle=_CONTRASTIVE_ORACLE,
    tags=("prepared-r8",),
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRASTIVE PAIR MINING over a capped md5 hash-sample of the
    labeled embedding corpus: per sampled anchor, the HARD POSITIVE
    (same label, LOWEST cosine — the pair a metric-learning loss gains
    most from pulling together) and the HARD NEGATIVE (different label,
    HIGHEST cosine — the pair it must push apart). Anchors whose label
    has no second sampled member emit NULL positives (both engines by
    NULL propagation). The pair join is sample x sample with the small
    side broadcast — bounded by CONTRAST_MAX_VECTORS^2 by construction,
    never corpus^2 (the ``similarity_threshold_curve`` fix, applied from
    birth); ranking is two bounded window passes with (cosine, vec_id)
    tie-breaks, and per-vector norms are hoisted above the join."""
    _, s = _md5_sample(
        _emb_double(load(spark, sf_dir, "embeddings")), "contrast:", CONTRAST_MAX_VECTORS
    )
    s = s.select("vec_id", "label", "emb", _norm(F.col("emb")).alias("nrm"))
    a = s.select(
        F.col("vec_id").alias("aid"), F.col("label").alias("al"),
        F.col("emb").alias("av"), F.col("nrm").alias("an"),
    )
    b = s.select(
        F.col("vec_id").alias("bid"), F.col("label").alias("bl"),
        F.col("emb").alias("bv"), F.col("nrm").alias("bn"),
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("aid") != F.col("bid"))
        .select(
            "aid", "al", "bid", "bl",
            (_dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))).alias("cos"),
        )
    )
    w_neg = Window.partitionBy("aid").orderBy(
        F.col("cos").desc(), F.col("bid").asc()
    )
    w_pos = Window.partitionBy("aid").orderBy(
        F.col("cos").asc(), F.col("bid").asc()
    )
    neg = (
        pairs.where(F.col("al") != F.col("bl"))
        .withColumn("rk", F.row_number().over(w_neg))
        .where(F.col("rk") == 1)
        .select("aid", F.col("bid").alias("hard_neg_id"),
                rnd("cos", 6).alias("hard_neg_cos"))
    )
    pos = (
        pairs.where(F.col("al") == F.col("bl"))
        .withColumn("rk", F.row_number().over(w_pos))
        .where(F.col("rk") == 1)
        .select("aid", F.col("bid").alias("hard_pos_id"),
                rnd("cos", 6).alias("hard_pos_cos"))
    )
    return (
        s.select(F.col("vec_id"), F.col("label"))
        .join(pos, F.col("vec_id") == pos.aid, "left").drop("aid")
        .join(neg, F.col("vec_id") == neg.aid, "left").drop("aid")
    )


# --------------------------------------------------------------------------
# kNN label consistency (embedding-space label agreement)
# --------------------------------------------------------------------------

#: sample cap and neighborhood size for the kNN label audit.
KNN_MAX_VECTORS = 300
KNN_K = 5


_KNN_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT greatest(1, count(*) // {KNN_MAX_VECTORS}) AS md FROM e),
s AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
  FROM e, m
  WHERE CAST('0x' || substr(md5('knn:' || CAST(vec_id AS VARCHAR)), 1, 15)
             AS BIGINT) % m.md = 0
),
p AS (
  SELECT a.vec_id AS aid, a.label AS al, b.vec_id AS bid, b.label AS bl,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM s a JOIN s b ON a.vec_id != b.vec_id
),
knn AS (
  SELECT aid, al, bl,
         row_number() OVER (PARTITION BY aid ORDER BY cos DESC, bid ASC) AS rk
  FROM p
),
per_vec AS (
  SELECT aid, al,
         avg(CASE WHEN al = bl THEN 1.0 ELSE 0.0 END) AS consistency
  FROM knn WHERE rk <= {KNN_K} GROUP BY aid, al
)
SELECT al AS label, count(*) AS n_vectors,
       round(avg(consistency) + 1e-6, 6) AS mean_consistency,
       round(min(consistency) + 1e-6, 6) AS min_consistency
FROM per_vec GROUP BY al
"""


@register("knn_label_consistency", oracle=_KNN_ORACLE, tags=("prepared-r8",))
def knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label kNN label-consistency audit: on a capped md5 sample of
    the embedding corpus, the fraction of each vector's K=5 cosine
    nearest neighbors that share its label, aggregated per label — the
    standard embedding-quality / label-noise metric run before trusting
    labels for stratified sampling or contrastive mining.

    Scale: the sample is CAPPED at KNN_MAX_VECTORS by construction
    (``mod = max(1, n // cap)``, the IVF-trainer pattern), so the
    broadcast-nested-loop pair space is ≤ cap² ≈ 90k rows at any corpus
    size, and the per-anchor top-K is one bounded window."""
    _, s = _md5_sample(load(spark, sf_dir, "embeddings"), "knn:", KNN_MAX_VECTORS)
    s = s.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    s = s.withColumn("nrm", _norm(F.col("v")))
    a = s.select(
        F.col("vec_id").alias("aid"), F.col("label").alias("al"),
        F.col("v").alias("av"), F.col("nrm").alias("an"),
    )
    b = s.select(
        F.col("vec_id").alias("bid"), F.col("label").alias("bl"),
        F.col("v").alias("bv"), F.col("nrm").alias("bn"),
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("aid") != F.col("bid"))
        .select(
            "aid", "al", "bid", "bl",
            (_dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("aid").orderBy(F.col("cos").desc(), F.col("bid").asc())
    knn = pairs.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= KNN_K
    )
    per_vec = knn.groupBy("aid", "al").agg(
        F.avg((F.col("al") == F.col("bl")).cast("double")).alias("consistency")
    )
    return per_vec.groupBy(F.col("al").alias("label")).agg(
        F.count("*").alias("n_vectors"),
        rnd(F.avg("consistency"), 6).alias("mean_consistency"),
        rnd(F.min("consistency"), 6).alias("min_consistency"),
    )


# --------------------------------------------------------------------------
# reciprocal-rank fusion of two vector rankings
# --------------------------------------------------------------------------

#: RRF smoothing constant (the standard k=60 from the original paper).
RRF_K = 60

#: fused results returned per query.
RRF_TOP_K = 5


def _rrf_oracle() -> str:
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
           AS cos_raw,
         list_sum(list_transform(range(1, len(q.e) + 1),
                  i -> (q.e[i] - c.e[i]) * (q.e[i] - c.e[i]))) AS l2sq
  FROM emb q JOIN emb c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
),
ranked AS (
  SELECT query_id, cand_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_raw DESC, cand_id ASC) AS INTEGER) AS rank_cos,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY l2sq ASC, cand_id ASC) AS INTEGER) AS rank_l2
  FROM scored
),
fused AS (
  SELECT query_id, cand_id, rank_cos, rank_l2,
         1.0 / ({RRF_K} + rank_cos) + 1.0 / ({RRF_K} + rank_l2) AS rrf_raw
  FROM ranked
)
SELECT query_id, cand_id, rank_cos, rank_l2,
       round(rrf_raw + 1e-6, 8) AS rrf_score,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_raw DESC, cand_id ASC) AS INTEGER) AS fused_rank
FROM fused
QUALIFY fused_rank <= {RRF_TOP_K}
"""


@register("rank_fusion_topk", oracle=_rrf_oracle(), tags=("prepared-r8",))
def rank_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL-RANK FUSION of two retrieval rankings per query
    vector: candidates are ranked independently by cosine similarity
    and by L2 distance, then fused with ``sum(1 / (60 + rank))`` and
    the top 5 fused results returned. RRF is the standard scorer-
    agnostic way a retrieval stack merges rankers with incomparable
    score scales (here: angle vs magnitude-sensitive distance — they
    genuinely disagree when vector norms vary).

    Scale shape: the bounded query set broadcasts (the ``cosine_topk``
    pattern); both ranks come from the same scored pair set in one
    window pass each; fusion is per-(query, candidate) arithmetic. At
    production scale the candidate set comes from the IVF/IMI index
    instead of the full corpus — the fusion stage is unchanged."""
    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        _norm(F.col("emb")).alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("cemb"),
        _norm(F.col("emb")).alias("cn"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (
                _dot(F.col("qemb"), F.col("cemb"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos_raw"),
            _sqdist(F.col("qemb"), F.col("cemb")).alias("l2sq"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("cand_id").asc()
    )
    w_l2 = Window.partitionBy("query_id").orderBy(
        F.col("l2sq").asc(), F.col("cand_id").asc()
    )
    ranked = scored.select(
        "query_id",
        "cand_id",
        F.row_number().over(w_cos).alias("rank_cos"),
        F.row_number().over(w_l2).alias("rank_l2"),
    )
    rrf = (
        1.0 / (RRF_K + F.col("rank_cos")) + 1.0 / (RRF_K + F.col("rank_l2"))
    )
    w_f = Window.partitionBy("query_id").orderBy(
        rrf.desc(), F.col("cand_id").asc()
    )
    return (
        ranked.select(
            "query_id",
            "cand_id",
            "rank_cos",
            "rank_l2",
            rnd(rrf, 8).alias("rrf_score"),
            F.row_number().over(w_f).alias("fused_rank"),
        )
        .where(F.col("fused_rank") <= RRF_TOP_K)
    )


# --------------------------------------------------------------------------
# matryoshka (prefix-dimension) recall vs the full-dimension ranking
# --------------------------------------------------------------------------

MAT_DIMS = (8, 16, 32)  #: prefix dimensionalities evaluated
MAT_FULL_DIM = 64  #: ground-truth dimensionality (the fixture's)
MAT_QUERIES = 8  #: deterministic query set: vec_id < MAT_QUERIES
MAT_K = 10  #: ranking depth for truth and test lists


_MAT_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, d.dim,
         list_dot_product(q.e[1:d.dim], c.e[1:d.dim])
           / (sqrt(list_dot_product(q.e[1:d.dim], q.e[1:d.dim]))
              * sqrt(list_dot_product(c.e[1:d.dim], c.e[1:d.dim])))
           AS cosine_raw
  FROM emb q
  JOIN emb c ON q.vec_id < {MAT_QUERIES} AND c.vec_id != q.vec_id
  CROSS JOIN (SELECT unnest([{", ".join(str(d) for d in list(MAT_DIMS) + [MAT_FULL_DIM])}]) AS dim) d
),
topk AS (
  SELECT dim, query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY dim, query_id
                ORDER BY cosine_raw DESC, cand_id ASC) AS rk
    FROM pairs
  ) WHERE rk <= {MAT_K}
),
truth AS (
  SELECT query_id, cand_id FROM topk WHERE dim = {MAT_FULL_DIM}
),
overlap AS (
  SELECT t.dim, t.query_id, count(*) AS n_overlap
  FROM topk t JOIN truth tr
    ON t.query_id = tr.query_id AND t.cand_id = tr.cand_id
  WHERE t.dim != {MAT_FULL_DIM}
  GROUP BY t.dim, t.query_id
),
grid AS (
  SELECT d.dim, q.vec_id AS query_id
  FROM (SELECT unnest([{", ".join(str(d) for d in MAT_DIMS)}]) AS dim) d
  CROSS JOIN (SELECT vec_id FROM emb WHERE vec_id < {MAT_QUERIES}) q
)
SELECT CAST(g.dim AS INTEGER) AS dim, g.query_id,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(COALESCE(o.n_overlap, 0) / CAST({MAT_K} AS DOUBLE) + {NUDGE}, 4)
         AS recall_at_k
FROM grid g LEFT JOIN overlap o
  ON g.dim = o.dim AND g.query_id = o.query_id
"""


@register("matryoshka_recall", oracle=_MAT_ORACLE, tags=("prepared-r10",))
def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA TRUNCATION RECALL: for each prefix dimensionality d,
    the recall@k of the top-k neighbor list computed on the FIRST d
    embedding components against the full-dimension top-k — the
    measurement behind every "can we store 8x fewer floats" truncation
    decision on matryoshka-trained embeddings. Emitted per (d, query)
    so the variance across queries is visible, not averaged away.

    Scale shape: the ``cosine_topk`` contract — the bounded query set
    is broadcast, the corpus side never moves, prefix dot products use
    the same sequential fold as DuckDB's list_dot_product so ranking
    ties cannot flip between engines; per-(d, query) top-k windows
    partition on (dim, query). Brute force by design: this is the
    small-query-set measurement tool, not the serving path (that is
    ``ivf_topk``)."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )
    dims = list(MAT_DIMS) + [MAT_FULL_DIM]

    queries = emb.where(F.col("vec_id") < MAT_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    pairs = (
        emb.select(F.col("vec_id").alias("cand_id"), F.col("emb").alias("cemb"))
        .crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.explode(F.array(*[F.lit(d) for d in dims])).alias("dim"),
            "qemb",
            "cemb",
        )
        .select(
            "query_id",
            "cand_id",
            "dim",
            F.slice("qemb", 1, F.col("dim")).alias("q"),
            F.slice("cemb", 1, F.col("dim")).alias("c"),
        )
        .select(
            "query_id",
            "cand_id",
            "dim",
            (
                _dot(F.col("q"), F.col("c"))
                / (_norm(F.col("q")) * _norm(F.col("c")))
            ).alias("cosine_raw"),
        )
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.col("cosine_raw").desc(), F.col("cand_id").asc()
    )
    topk = (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= MAT_K)
        .select("dim", "query_id", "cand_id")
    )
    truth = topk.where(F.col("dim") == MAT_FULL_DIM).select(
        "query_id", "cand_id"
    )
    test = topk.where(F.col("dim") != MAT_FULL_DIM)
    overlap = (
        test.join(truth, ["query_id", "cand_id"], "left_semi")
        .groupBy("dim", "query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    grid = queries.select("query_id").crossJoin(
        F.broadcast(spark.createDataFrame([(d,) for d in MAT_DIMS], "dim int"))
    )
    return (
        grid.join(overlap, ["dim", "query_id"], "left")
        .select(
            "dim",
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            rnd(
                F.coalesce("n_overlap", F.lit(0)).cast("double") / MAT_K, 4
            ).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# linear-time MMD drift between embedding halves
# --------------------------------------------------------------------------

MMD_SAMPLE = 256  #: per-group deterministic sample size (bounded)
MMD_BW2 = 8.0  #: RBF kernel bandwidth^2 (fixed literal, both engines)


def _mmd_oracle() -> str:
    def gcte(name: str, par: int) -> str:
        return f"""{name}_s AS (
  SELECT vec_id, embedding::DOUBLE[] AS e
  FROM embeddings WHERE vec_id % 2 = {par}
  ORDER BY vec_id LIMIT {MMD_SAMPLE}
),
{name} AS (
  SELECT e, list_dot_product(e, e) AS n2,
         CAST((row_number() OVER (ORDER BY vec_id) - 1) // 2 AS BIGINT) AS p,
         (row_number() OVER (ORDER BY vec_id) - 1) % 2 AS slot
  FROM {name}_s
)"""

    def kk(x: str, y: str) -> str:
        return (
            f"exp(-({x}.n2 + {y}.n2 - 2.0 * list_dot_product({x}.e, {y}.e))"
            f" / (2.0 * {MMD_BW2}))"
        )

    return f"""
WITH {gcte("ga", 0)},
{gcte("gb", 1)},
quad AS (
  SELECT a0.p,
         a0.e AS ea0, a0.n2 AS na0, a1.e AS ea1, a1.n2 AS na1,
         b0.e AS eb0, b0.n2 AS nb0, b1.e AS eb1, b1.n2 AS nb1
  FROM (SELECT * FROM ga WHERE slot = 0) a0
  JOIN (SELECT * FROM ga WHERE slot = 1) a1 ON a0.p = a1.p
  JOIN (SELECT * FROM gb WHERE slot = 0) b0 ON a0.p = b0.p
  JOIN (SELECT * FROM gb WHERE slot = 1) b1 ON a0.p = b1.p
),
kerns AS (
  SELECT p,
         exp(-(na0 + na1 - 2.0 * list_dot_product(ea0, ea1))
             / (2.0 * {MMD_BW2})) AS kaa,
         exp(-(nb0 + nb1 - 2.0 * list_dot_product(eb0, eb1))
             / (2.0 * {MMD_BW2})) AS kbb,
         exp(-(na0 + nb1 - 2.0 * list_dot_product(ea0, eb1))
             / (2.0 * {MMD_BW2})) AS kab,
         exp(-(na1 + nb0 - 2.0 * list_dot_product(ea1, eb0))
             / (2.0 * {MMD_BW2})) AS kba
  FROM quad
)
SELECT CAST(count(*) AS BIGINT) AS n_quadruples,
       round(avg(kaa + kbb - kab - kba) + {NUDGE}, 6) AS mmd_linear,
       round(avg(kaa) + {NUDGE}, 6) AS mean_k_within_a,
       round(avg(kbb) + {NUDGE}, 6) AS mean_k_within_b,
       round(avg(kab) + {NUDGE}, 6) AS mean_k_cross
FROM kerns
"""


@register("mmd_linear_drift", oracle=_mmd_oracle(), tags=("prepared-r10",))
def mmd_linear_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-TIME MMD between the even- and odd-id halves of the
    embedding corpus: the kernel two-sample test for DISTRIBUTION drift
    in embedding space (``embedding_centroid_drift`` sees the mean
    move; MMD with an RBF kernel sees shape changes the mean hides),
    using Gretton's linear-time estimator — h(i) = k(a,a') + k(b,b')
    - k(a,b') - k(a',b) averaged over disjoint quadruples — so the
    kernel never touches sample^2 pairs.

    Scale shape: each group reduces to a ``MMD_SAMPLE``-row
    deterministic prefix sample via orderBy().limit()
    (TakeOrderedAndProject — the IVF bounded-sample discipline);
    pairing, the quadruple join, and the average run over those
    bounded rows only. Squared distances expand to
    |x|^2+|y|^2-2x.y over the same sequential-fold dot product DuckDB
    uses, so kernel inputs are bit-identical."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )

    def group(par: int) -> DataFrame:
        g = (
            emb.where(F.col("vec_id") % 2 == par)
            .select("vec_id", "emb")
            .orderBy("vec_id")
            .limit(MMD_SAMPLE)
        )
        w = Window.orderBy("vec_id")  # bounded: MMD_SAMPLE rows
        return g.select(
            F.col("emb"),
            _dot(F.col("emb"), F.col("emb")).alias("n2"),
            F.row_number().over(w).alias("idx"),
        ).select(
            "emb",
            "n2",
            ((F.col("idx") - 1) / 2).cast("long").alias("p"),
            ((F.col("idx") - 1) % 2).alias("slot"),
        )

    a, b = group(0), group(1)

    def pick(df: DataFrame, slot: int, tag: str) -> DataFrame:
        return df.where(F.col("slot") == slot).select(
            "p",
            F.col("emb").alias(f"e_{tag}"),
            F.col("n2").alias(f"n2_{tag}"),
        )

    quad = (
        pick(a, 0, "a0")
        .join(pick(a, 1, "a1"), "p")
        .join(pick(b, 0, "b0"), "p")
        .join(pick(b, 1, "b1"), "p")
    )

    def k(x: str, y: str):
        d2 = (
            F.col(f"n2_{x}")
            + F.col(f"n2_{y}")
            - 2.0 * _dot(F.col(f"e_{x}"), F.col(f"e_{y}"))
        )
        return F.exp(-d2 / (2.0 * MMD_BW2))

    h = k("a0", "a1") + k("b0", "b1") - k("a0", "b1") - k("a1", "b0")
    return quad.agg(
        F.count("*").alias("n_quadruples"),
        rnd(F.avg(h), 6).alias("mmd_linear"),
        rnd(F.avg(k("a0", "a1")), 6).alias("mean_k_within_a"),
        rnd(F.avg(k("b0", "b1")), 6).alias("mean_k_within_b"),
        rnd(F.avg(k("a0", "b1")), 6).alias("mean_k_cross"),
    )


# --------------------------------------------------------------------------
# hubness of the ANN neighborhood graph
# --------------------------------------------------------------------------

HUB_QUERIES = 20  #: deterministic query set (vec_id < HUB_QUERIES)
HUB_K = 5  #: neighbors per query


_HUB_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e))
              * sqrt(list_dot_product(c.e, c.e))) AS cosine_raw
  FROM emb q JOIN emb c
    ON q.vec_id < {HUB_QUERIES} AND c.vec_id != q.vec_id
),
topk AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_raw DESC, cand_id ASC) AS rk
    FROM scored)
  WHERE rk <= {HUB_K}
),
occ AS (
  SELECT cand_id, count(*) AS k_occurrence FROM topk GROUP BY 1
),
ncorp AS (SELECT count(*) AS n_corpus FROM emb),
moments AS (
  SELECT count(*) AS n_appearing,
         CAST(sum(k_occurrence) AS DOUBLE) AS s1,
         sum(pow(k_occurrence, 2.0)) AS s2,
         sum(pow(k_occurrence, 3.0)) AS s3
  FROM occ
),
const AS (
  SELECT n.n_corpus, m.n_appearing,
         round((m.s3 / n.n_corpus
                - 3 * (m.s1 / n.n_corpus) * (m.s2 / n.n_corpus)
                + 2 * pow(m.s1 / n.n_corpus, 3.0))
               / pow(m.s2 / n.n_corpus
                     - pow(m.s1 / n.n_corpus, 2.0), 1.5)
               + {NUDGE}, 4) AS hubness_skewness,
         round((CAST(n.n_corpus AS DOUBLE) - m.n_appearing) / n.n_corpus
               + {NUDGE}, 6) AS antihub_share
  FROM moments m CROSS JOIN ncorp n
)
SELECT o.cand_id, o.k_occurrence, c.n_corpus, c.n_appearing,
       c.hubness_skewness, c.antihub_share
FROM occ o CROSS JOIN const c
"""


@register("hubness_score", oracle=_HUB_ORACLE, tags=("prepared-r10",))
def hubness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUBNESS of the cosine neighborhood graph: how often each corpus
    vector appears among the top-HUB_K neighbors of the deterministic
    HUB_QUERIES query set (its k-OCCURRENCE), plus the corpus-wide
    skewness of that distribution — the standard diagnostic for
    high-dimensional "hub" vectors that dominate ANN result lists and
    silently bias retrieval (high skew = a few vectors are everyone's
    neighbor; `lsh_recall_estimate` measures recall, hubness explains
    WHY it degrades). The skewness counts the (corpus - appearing)
    zero-occurrence vectors EXACTLY via moment algebra — zeros
    contribute nothing to the moment sums, so the full-corpus moments
    come from the bounded appearing set plus the corpus count.

    Scale shape: the scoring reuses the `cosine_topk` recipe — tiny
    broadcast query side, corpus side never moves, per-query
    WindowGroupLimit top-k; everything after runs on <=
    HUB_QUERIES x HUB_K rows."""
    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < HUB_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        _norm(F.col("emb")).alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("cemb"),
        _norm(F.col("emb")).alias("cn"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine_raw",
            _dot(F.col("qemb"), F.col("cemb"))
            / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_raw").desc(), F.col("cand_id").asc()
    )
    topk = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HUB_K)
        .select("query_id", "cand_id")
    )
    occ = topk.groupBy("cand_id").agg(F.count("*").alias("k_occurrence"))
    ncorp = emb.agg(F.count("*").alias("n_corpus"))
    moments = occ.agg(
        F.count("*").alias("n_appearing"),
        F.sum("k_occurrence").alias("s1"),
        F.sum(F.pow("k_occurrence", F.lit(2.0))).alias("s2"),
        F.sum(F.pow("k_occurrence", F.lit(3.0))).alias("s3"),
    )
    j = moments.crossJoin(F.broadcast(ncorp))
    nd = F.col("n_corpus").cast("double")
    m1 = F.col("s1") / nd
    m2 = F.col("s2") / nd
    m3 = F.col("s3") / nd
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, F.lit(1.5))
    const = j.select(
        "n_corpus",
        "n_appearing",
        rnd(skew, 4).alias("hubness_skewness"),
        rnd((nd - F.col("n_appearing")) / nd, 6).alias("antihub_share"),
    )
    return occ.crossJoin(F.broadcast(const)).select(
        "cand_id",
        "k_occurrence",
        "n_corpus",
        "n_appearing",
        "hubness_skewness",
        "antihub_share",
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection distortion audit
# --------------------------------------------------------------------------

JL_OUT_DIMS = 8  #: projected dimensionality
JL_IN_DIMS = 64  #: fixture embedding dimensionality


def _jl_signs() -> list[list[float]]:
    """The +-1 projection matrix, derived from md5 hex parity at
    BUILD time and embedded as float literals in BOTH engines' plans
    — a literal cannot differ between libms."""
    import hashlib

    rows = []
    for j in range(JL_OUT_DIMS):
        row = []
        for i in range(JL_IN_DIMS):
            h = hashlib.md5(f"jl_{j}_{i}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        rows.append(row)
    return rows


def _jl_oracle() -> str:
    sign_rows = ", ".join(
        "[%s]" % ", ".join(repr(v) for v in row) for row in _jl_signs()
    )
    proj_exprs = ", ".join(
        f"list_sum(list_transform(range(1, {JL_IN_DIMS + 1}), i -> e[i] * sg[{j + 1}][i]))"
        for j in range(JL_OUT_DIMS)
    )
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
signs AS (SELECT [{sign_rows}] AS sg),
projected AS (
  SELECT vec_id, e, [{proj_exprs}] AS proj
  FROM emb, signs
),
pairs AS (
  SELECT a.vec_id AS pair_id,
         list_sum(list_transform(range(1, {JL_IN_DIMS + 1}),
                  i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i])))
           AS true_d2_u,
         list_sum(list_transform(range(1, {JL_OUT_DIMS + 1}),
                  i -> (a.proj[i] - b.proj[i])
                       * (a.proj[i] - b.proj[i])))
           / {float(JL_OUT_DIMS)} AS jl_est_u
  FROM projected a JOIN projected b ON b.vec_id = a.vec_id + 1
),
scored AS (
  SELECT pair_id, true_d2_u, jl_est_u,
         jl_est_u / true_d2_u AS ratio_u
  FROM pairs
),
const AS (
  SELECT round(avg(ratio_u) + {NUDGE}, 6) AS mean_ratio,
         round(max(abs(ratio_u - 1)) + {NUDGE}, 6) AS max_abs_dev
  FROM scored
)
SELECT s.pair_id,
       round(s.true_d2_u + {NUDGE}, 4) AS true_d2,
       round(s.jl_est_u + {NUDGE}, 4) AS jl_estimate,
       round(s.ratio_u + {NUDGE}, 6) AS distortion_ratio,
       c.mean_ratio, c.max_abs_dev
FROM scored s CROSS JOIN const c
"""


@register(
    "random_projection_distortion",
    oracle=_jl_oracle(),
    tags=("prepared-r10",),
)
def random_projection_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS DISTORTION AUDIT: project every embedding
    through a fixed +-1 sign matrix (md5-derived, embedded as
    literals) down to JL_OUT_DIMS, then compare projected vs true
    squared distances over the deterministic consecutive-id pair set.
    For +-1 entries, E[(r_j . x)^2] = ||x||^2, so the mean of the
    JL_OUT_DIMS squared components estimates the true distance — the
    measured distortion ratio is the certificate behind using cheap
    projected distances as an ANN prefilter (`lsh_bucket_assignment`
    uses the SIGNS of these same projections; this op measures how
    much metric the magnitudes preserve). Projection is LINEAR, so
    projected differences are differences of projections — computed
    once per vector, never per pair.

    Scale shape: map-only projection per vector (8 sequential-fold
    dot products against literal arrays — zero shuffle), one
    consecutive-id equi-join for pairs, bounded constants."""
    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    projected = emb.select(
        "vec_id",
        "emb",
        F.array(
            *[_dot(F.col("emb"), F.array(*map(F.lit, row))) for row in _jl_signs()]
        ).alias("proj"),
    )
    a = projected.select(
        F.col("vec_id").alias("pair_id"),
        F.col("emb").alias("e1"),
        F.col("proj").alias("p1"),
    )
    b = projected.select(
        (F.col("vec_id") - 1).alias("pair_id"),
        F.col("emb").alias("e2"),
        F.col("proj").alias("p2"),
    )
    pairs = a.join(b, "pair_id").select(
        "pair_id",
        _sqdist(F.col("e1"), F.col("e2")).alias("true_d2_u"),
        (_sqdist(F.col("p1"), F.col("p2")) / F.lit(float(JL_OUT_DIMS))).alias("jl_est_u"),
    )
    scored = pairs.select(
        "pair_id",
        "true_d2_u",
        "jl_est_u",
        (F.col("jl_est_u") / F.col("true_d2_u")).alias("ratio_u"),
    )
    const = scored.agg(
        rnd(F.avg("ratio_u"), 6).alias("mean_ratio"),
        rnd(F.max(F.abs(F.col("ratio_u") - 1)), 6).alias("max_abs_dev"),
    )
    return scored.crossJoin(F.broadcast(const)).select(
        "pair_id",
        rnd("true_d2_u", 4).alias("true_d2"),
        rnd("jl_est_u", 4).alias("jl_estimate"),
        rnd("ratio_u", 6).alias("distortion_ratio"),
        "mean_ratio",
        "max_abs_dev",
    )
