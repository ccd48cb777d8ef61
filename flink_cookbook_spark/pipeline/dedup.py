"""Deduplication operators for LLM-training-data pipelines.

Exact dedup (hash groupBy), n-gram Jaccard near-dup (inverted shingle
index — no pairwise cross product), MinHash+LSH (shingle -> minhash ->
band -> bucket-join), and SimHash. All hashing is engine-portable
(md5-derived 60-bit integers) so every stage is DuckDB-oracle-checkable.

The near-duplicate family is one chain, each stage written once per
engine and composed by every query and oracle that needs it:

- shingles: ``_shingles`` (memoized, df-capped index) + ``_sizes`` /
  ``_SHINGLES_CTE`` (``shingles``, ``sizes``);
- signatures: ``_minhash_signatures_df`` / ``_SIGS_CTE``;
- bands + candidates: ``_lsh_candidates_df`` / ``_CAND_CTE``;
- verify: ``_exact_jaccard`` (candidate pair counter + the one Jaccard
  tail ``_jaccard``), ``_lsh_verified_pairs_df`` / ``_VERIFY_CTE``
  (``exact``, ``verified``);
- all-pairs truth: ``_shared_shingles`` (the inverted-index pair
  counter) + ``_jaccard`` / ``_OVERLAP_CTE`` + ``_TRUE_PAIRS_CTE``
  (``overlap``, ``true_pairs``);
- clusters: ``dedup_clusters``' label propagation / ``_CLUSTERS_CTE``
  (``edges``, ``reach``, ``clusters``).

SimHash has one builder per engine too (``_simhash_df`` /
``_simhash_sql``), parameterized by bit width.

Scale notes (100 TB):
- exact dedup is one hash aggregate on a fingerprint — the canonical
  map-side-combinable shape.
- the Jaccard inverted index joins on shingle; hot shingles (stopword
  runs, boilerplate) are THE quadratic risk at scale — a shingle present
  in d documents contributes d^2 join rows. The index therefore drops
  shingles with document frequency > SHINGLE_DF_CAP before any join
  (exactly like dropping stopwords): one window count over the single
  shingle exchange, mirrored in the DuckDB oracle so every downstream
  stage (Jaccard, MinHash, LSH, clusters) stays hash-consistent. The
  cap bounds the worst shingle's join fan-out at DF_CAP^2 regardless of
  corpus size; boilerplate-heavy web text at 100 TB hits the cap, the
  fixture corpora (max df 25 at sf0.1) do not, so fixture results are
  unchanged with the cap active.
- MinHash+LSH is the scale path: signature size k=16, 4 bands x 4 rows.
  Candidate generation joins on (band_id, band_key) — output is near-
  linear in the number of true near-dup pairs, not quadratic in corpus
  size. P(candidate | j) = 1-(1-j^4)^4: j=0.9 -> 0.986, j=0.1 -> 4e-4.
- fixture texts are whitespace-tokenized; production would normalize
  (case-fold, strip punctuation) in the same select.
- Jaccard outputs round at 4 decimals, not 6: jaccard is a ratio of
  small integers, and for 2-adic denominators (n/64, n/256...) the
  exact value terminates ON a 6-dp rounding tie even after the +1e-6
  nudge (0.0078125 + 1e-6 = .0078135 — Spark HALF_UP and DuckDB binary
  rounding then disagree). No small-denominator ratio can land within
  1e-6 of a 4-dp tie point, so 4 dp is hash-stable by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.pipeline._cache import memo_persist
from flink_cookbook_spark.registry import register, rnd

SHINGLE_K = 3
#: stop-shingle removal: drop shingles appearing in more than
#: max(SHINGLE_DF_CAP, SHINGLE_DF_FRAC x corpus docs) documents before
#: any self-join — capping the worst hot-shingle fan-out while staying
#: SCALE-RELATIVE. The floor (100) is far above the fixture max df (25
#: at sf0.1), so every driver-scale output is bit-identical to the old
#: absolute cap; the relative term is what survives growth: a FIXED
#: absolute cap is corpus-size-dependent — the 100x pair probe measured
#: it silently dropping ~95% of TRUE near-dup pairs (1.02M of ~24.7M),
#: because replicating the corpus 100x pushes every cross-document
#: shingle's df past 100 even though nothing about the documents is
#: boilerplate. df > 2% of the corpus is the boilerplate definition;
#: df that merely scales with the corpus is signal.
SHINGLE_DF_CAP = 100
SHINGLE_DF_FRAC = 0.02
JACCARD_THRESHOLD = 0.5
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # MINHASH_K / LSH_BANDS

#: Candidate-volume guard for the EXACT verification paths
#: (``ngram_jaccard_pairs``, ``prefix_filter_jaccard_pairs``,
#: ``containment_pairs``). The df-cap bounds the worst SINGLE shingle's
#: fan-out, but TOTAL candidate volume still scales with how duplicated
#: the corpus is — the 10x dup-saturated probe (PERF.md "candidate-
#: volume guard") verified ~250k-500k pairs and paid 122-205 s, while
#: MinHash+LSH produced the same near-dup answer in 8.6 s because its
#: band join prunes candidates BEFORE exact verification. Measured
#: operating points (candidates/doc from this counter): sf0.001 organic
#: 24, sf0.1 organic 226 (1.13M candidates, 1.9 s — comfortably exact),
#: 10x dup-saturated ~1.4k/doc (122 s exact vs 8.6 s MinHash — blown).
#: The crossover sits between those: past ~500 candidates/doc,
#: ``minhash_lsh_pairs`` must take over (recall P(candidate | j>=0.5)
#: ~ 0.986 with the 4x4 band scheme). The metric is an ``observe()``
#: counter on each query's candidate stage — zero extra passes,
#: readable after any action on the returned DataFrame.
EXACT_CANDIDATE_BUDGET_PER_DOC = 500.0

#: query name -> Observation attached by that query's LAST build in
#: this process (each build creates a fresh Observation; an Observation
#: yields metrics only for the first action on its DataFrame).
_CANDIDATE_OBS: dict[str, Observation] = {}


def _observe_candidates(df: DataFrame, query: str) -> DataFrame:
    """Attach the candidate-pair ``observe()`` counter to a candidate
    stage (one input row per candidate pair). Plan-only: CollectMetrics
    adds no exchange and changes no output values, so driver hashes and
    plan pins are unaffected."""
    obs = Observation()
    _CANDIDATE_OBS[query] = obs
    return df.observe(obs, F.count(F.lit(1)).alias("candidate_pairs"))


def last_candidate_volume(query: str) -> int:
    """Candidate pairs counted by the last executed build of ``query``
    (blocks until that DataFrame's first action completes).

    HANG MODE — call only after an action on the MOST RECENT build:
    each build replaces the Observation, and ``Observation.get`` blocks
    indefinitely waiting for the first action on ITS DataFrame. If a
    caller rebuilds the plan, acts on an OLDER DataFrame, then reads
    this, the newest Observation never receives metrics and this call
    never returns. There is no timeout by design (a timeout would turn
    a caller-ordering bug into a silently wrong candidate count)."""
    return int(_CANDIDATE_OBS[query].get["candidate_pairs"])


def exact_path_over_budget(query: str, n_docs: int) -> bool:
    """True when the exact-verification path exceeded its candidate
    budget and the MinHash+LSH path should take over (the operational
    check a pipeline runs after a dedup action; the threshold's
    derivation is the comment on ``EXACT_CANDIDATE_BUDGET_PER_DOC``)."""
    return last_candidate_volume(query) > EXACT_CANDIDATE_BUDGET_PER_DOC * n_docs


def _portable_hash(col) -> F.Column:
    """60-bit positive integer hash, identical in Spark and DuckDB:
    first 15 hex digits of md5. Spark: conv(substr(md5(x),1,15),16,10);
    DuckDB: CAST('0x' || substr(md5(x),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_SQL_HASH = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct text,
    keeping the minimum doc_id (the 'keeper') and the duplicate count."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


register(
    "exact_dedup",
    oracle="""
SELECT md5(text) AS fingerprint,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
    tags=("dedup", "llm-pipeline"),
)(exact_dedup)


def _shingle_df_cap(spark: SparkSession, sf_dir: str) -> int:
    """Effective stop-shingle df cap: max(floor, frac x corpus size).
    A driver-side scalar (one count per memoized index build) so the
    cap stays a LITERAL in the plan — the pinned Window-then-Filter
    one-exchange shape is unchanged."""
    import math

    n_docs = load(spark, sf_dir, "documents").count()
    return max(SHINGLE_DF_CAP, math.ceil(SHINGLE_DF_FRAC * n_docs))


def _shingles_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unmemoized shingle-index plan: distinct (doc_id, shingle) word
    3-grams, with ultra-frequent shingles (df > the scale-relative
    ``_shingle_df_cap``) dropped.

    The whole index is ONE hash exchange on ``shingle``: the explicit
    repartition satisfies both the (doc_id, shingle) dedup aggregate
    (co-location on shingle clusters every duplicate pair) and the df
    window, so dedup, df-count, and the cap filter all ride the same
    shuffle — a distinct-then-window shape costs a second exchange.
    (Trade-off: repartitioning raw exploded shingles forgoes map-side
    partial dedup, but within-document repeated 3-grams are rare, and
    the cap filter runs BEFORE any self-join consumes the index, so a
    hot boilerplate shingle can never fan out quadratically downstream
    — tests/test_plans.py pins the Window-then-Filter, one-exchange
    shape.)"""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ts")).where(
        F.size("ts") >= SHINGLE_K
    )
    raw = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts)-3),"
                " i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"
            )
        ).alias("shingle"),
    )
    df_w = Window.partitionBy("shingle")
    return (
        raw.repartition("shingle")
        .dropDuplicates(["doc_id", "shingle"])
        .withColumn("_df", F.count("*").over(df_w))
        .where(F.col("_df") <= _shingle_df_cap(spark, sf_dir))
        .drop("_df")
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Df-capped shingle index, materialized once per session via
    memo_persist — it is reused by every near-dup stage (Jaccard
    inverted index, MinHash signatures, LSH verify joins), and
    self-joins consume it twice per query; recomputing the
    explode+distinct at every use dominated the un-cached plan
    (12 scans in minhash_lsh_pairs alone)."""
    return memo_persist(
        spark, "shingles", sf_dir, lambda: _shingles_plan(spark, sf_dir)
    )


#: universal-hash family over the Mersenne prime 2^31-1: one md5 per
#: shingle, then k cheap affine mixes h_i = (a_i*h + b_i) mod p — the
#: textbook minhash construction; 16x fewer md5 evaluations than seeding
#: the cryptographic hash per permutation. a_i/b_i are fixed odd/dense
#: constants so both engines reproduce them literally. a*h < 2^62 fits
#: int64, and Spark/DuckDB agree on positive int64 arithmetic.
MERSENNE_P = (1 << 31) - 1
_MINHASH_PARAMS = [(2 * i + 3, 7 * i + 1) for i in range(MINHASH_K)]


def _minhash_sql_cols() -> str:
    base = f"({_SQL_HASH.format(x='shingle')} % {MERSENNE_P})"
    cols = []
    for i, (a, b) in enumerate(_MINHASH_PARAMS):
        cols.append(f"min(({a} * {base} + {b}) % {MERSENNE_P}) AS mh{i}")
    return ",\n         ".join(cols)


def _band_sql(b: int) -> str:
    cols = " || ',' || ".join(
        f"CAST(mh{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
    )
    return f"md5({cols})"


# --------------------------------------------------------------------------
# the near-duplicate chain as DuckDB oracle stages
# --------------------------------------------------------------------------
#
# Each stage of shingle -> signature -> band -> candidate -> verify ->
# cluster, and the all-pairs truth beside it, is ONE fixed CTE string;
# every near-dup oracle is ``_with(<the stages it reads>)`` plus its own
# tail. DuckDB (1.0) inlines a plain CTE at every reference — the pair
# oracles reference ``shingles`` 3-5x, which measured 23x slower on
# dedup_pair_triangles at sf0.1 and a 30+ minute hang at the 10x probe —
# and it computes a MATERIALIZED CTE even when nothing reads it. So the
# stages that are re-read and small (one row per doc or per near-dup
# pair: ``sigs``, ``exact``, ``true_pairs``), and ``shingles``, are
# MATERIALIZED, and every oracle reads each materialized stage it
# includes. ``overlap`` and ``cand`` stay inlined: they grow with the
# duplication of the corpus, and held in memory at the 10x probe they
# made the oracles slower (cand) or pushed them past a 5 GB DuckDB memory
# cap (overlap). Materialization is oracle-plan-only: values unchanged.

_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         WHERE len(string_split(text, ' ')) >= 3),
shingles_all AS (
  SELECT DISTINCT doc_id, s AS shingle
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        FROM toks)
),
shingles AS MATERIALIZED (
  SELECT doc_id, shingle
  FROM (SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        FROM shingles_all)
  WHERE df <= greatest({SHINGLE_DF_CAP},
                       CAST(ceil({SHINGLE_DF_FRAC} *
                            (SELECT count(*) FROM documents)) AS BIGINT))
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id)
"""

#: exact Jaccard of a pair relation (doc1, doc2, n_common) joined to
#: ``sizes sa`` on doc1 and ``sizes sb`` on doc2.
_JACCARD_SQL = "n_common * 1.0 / (sa.n_shingles + sb.n_shingles - n_common)"

#: all-pairs overlap: the inverted-index self-join — every doc1 < doc2
#: sharing a shingle, with the shared count, never doc x doc. The
#: corpus-sized relation of the family (~1M rows at sf0.1); each oracle
#: reads it once.
_OVERLAP_CTE = """
overlap AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

#: all-pairs truth: the overlapping pairs at or above the Jaccard
#: threshold.
_TRUE_PAIRS_CTE = f"""
true_pairs AS MATERIALIZED (
  SELECT doc1, doc2, {_JACCARD_SQL} AS jaccard_raw
  FROM overlap
  JOIN sizes sa ON doc1 = sa.doc_id
  JOIN sizes sb ON doc2 = sb.doc_id
  WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
)
"""

#: MinHash signature per document: doc_id, mh0..mh15.
_SIGS_CTE = f"""
sigs AS MATERIALIZED (
  SELECT doc_id,
         {_minhash_sql_cols()}
  FROM shingles GROUP BY doc_id
)
"""

#: LSH candidates: one row per (doc, band) keyed by the md5 of the
#: band's rows, then every doc1 < doc2 sharing a band key.
_CAND_CTE = f"""
bands AS (
  SELECT doc_id, band_id,
         CASE band_id
           {" ".join(f"WHEN {b} THEN {_band_sql(b)}" for b in range(LSH_BANDS))}
         END AS band_key
  FROM sigs, (SELECT unnest(range(0, {LSH_BANDS})) AS band_id)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
"""

#: candidate verify: ``exact`` is each candidate's exact Jaccard (a
#: candidate sharing no shingle has no row), ``verified`` the candidates
#: at or above the threshold. ``exact`` is the materialized one: the
#: estimator reads it unfiltered, and ``verified`` is a filter over it
#: that the cluster recursion and dedup_pair_triangles re-read.
_VERIFY_CTE = f"""
inter AS (
  SELECT c.doc1, c.doc2, count(*) AS n_common
  FROM cand c
  JOIN shingles s1 ON s1.doc_id = c.doc1
  JOIN shingles s2 ON s2.doc_id = c.doc2 AND s1.shingle = s2.shingle
  GROUP BY 1, 2
),
exact AS MATERIALIZED (
  SELECT doc1, doc2, {_JACCARD_SQL} AS jaccard_raw
  FROM inter
  JOIN sizes sa ON doc1 = sa.doc_id
  JOIN sizes sb ON doc2 = sb.doc_id
),
verified AS (
  SELECT doc1, doc2, jaccard_raw FROM exact
  WHERE jaccard_raw >= {JACCARD_THRESHOLD}
)
"""

#: transitive clusters: ``reach`` is the recursive closure of the
#: undirected verified-pair graph; ``clusters`` labels each clustered
#: doc with its component's minimum doc_id.
_CLUSTERS_CTE = """
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM verified
  UNION
  SELECT doc2, doc1 FROM verified
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
"""


def _with(*stages: str) -> str:
    """An oracle's shared stages, in dependency order. RECURSIVE only
    matters to ``_CLUSTERS_CTE``; every oracle opens the same way."""
    return "WITH RECURSIVE " + ",\n".join(s.strip() for s in stages)


_LSH_VERIFIED_SQL = _with(_SHINGLES_CTE, _SIGS_CTE, _CAND_CTE, _VERIFY_CTE)
_CLUSTERS_SQL = _with(_SHINGLES_CTE, _SIGS_CTE, _CAND_CTE, _VERIFY_CTE, _CLUSTERS_CTE)
_TRUE_PAIRS_SQL = _with(_SHINGLES_CTE, _OVERLAP_CTE, _TRUE_PAIRS_CTE)


# --------------------------------------------------------------------------
# the near-duplicate chain in Spark
# --------------------------------------------------------------------------


def _sizes(sh: DataFrame) -> DataFrame:
    """Per-document shingle-set size: (doc_id, n_shingles)."""
    return sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))


def _shared_shingles(sh: DataFrame) -> DataFrame:
    """The inverted-index pair counter: (doc1 < doc2, n_common) for every
    pair of documents sharing a shingle — a self-join on shingle, never
    a doc x doc cross product."""
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count("*").alias("n_common"))
    )


def _jaccard(sh: DataFrame, shared: DataFrame) -> DataFrame:
    """The exact-Jaccard tail: (doc1, doc2, n_common) -> (doc1, doc2,
    jaccard_raw), |A n B| / (|A| + |B| - |A n B|)."""
    sizes = _sizes(sh)
    sa = sizes.select(F.col("doc_id").alias("doc1"), F.col("n_shingles").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("doc2"), F.col("n_shingles").alias("n2"))
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        shared.join(sa, "doc1")
        .join(sb, "doc2")
        .withColumn("jaccard_raw", jac)
        .select("doc1", "doc2", "jaccard_raw")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact word-3-gram Jaccard >= 0.5, computed
    via an inverted shingle index (join on shingle, count intersections,
    |A union B| = |A|+|B|-|A intersect B|) — never a doc x doc cross
    product."""
    sh = _shingles(spark, sf_dir)
    shared = _observe_candidates(_shared_shingles(sh), "ngram_jaccard_pairs")
    return (
        _jaccard(sh, shared)
        .where(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", rnd("jaccard_raw", 4).alias("jaccard"))
    )


#: exact-Jaccard-pairs oracle — shared by ``ngram_jaccard_pairs`` and by
#: ``prefix_filter_jaccard_pairs``, whose claim is precisely that prefix
#: filtering returns the identical pair set as the unfiltered index.
_JACCARD_PAIRS_ORACLE = (
    _TRUE_PAIRS_SQL
    + """
SELECT doc1, doc2, round(jaccard_raw + 1e-6, 4) AS jaccard FROM true_pairs
"""
)

register(
    "ngram_jaccard_pairs",
    oracle=_JACCARD_PAIRS_ORACLE,
    tags=("dedup", "llm-pipeline", "near-dup", "bench"),
)(ngram_jaccard_pairs)


def _minhash_signatures_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + MINHASH_K minhash columns mh0..mh15 (portable hashes).
    Memoized (one row per doc): the LSH band self-join consumes it
    twice per query."""

    def build() -> DataFrame:
        sh = _shingles(spark, sf_dir)
        base = (F.pmod(_portable_hash(F.col("shingle")), F.lit(MERSENNE_P))).alias("h")
        hashed = sh.select("doc_id", base)
        aggs = [
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P).alias(f"mh{i}")
            for i, (a, b) in enumerate(_MINHASH_PARAMS)
        ]
        return hashed.groupBy("doc_id").agg(*aggs)

    return memo_persist(spark, "minhash_sigs", sf_dir, build)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=16) per document — the compressed set
    representation whose collision probability estimates Jaccard."""
    return _minhash_signatures_df(spark, sf_dir)


register(
    "minhash_signatures",
    oracle=_with(_SHINGLES_CTE, _SIGS_CTE) + "\nSELECT * FROM sigs\n",
    tags=("dedup", "llm-pipeline", "minhash"),
)(minhash_signatures)


def _band_exprs() -> list[F.Column]:
    out = []
    for b in range(LSH_BANDS):
        cols = [F.col(f"mh{b * LSH_ROWS + r}").cast("string") for r in range(LSH_ROWS)]
        out.append(F.md5(F.concat_ws(",", *cols)).alias(f"band{b}"))
    return out


def _lsh_candidates_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct LSH candidate pairs (doc1 < doc2): self-join on
    (band_id, band_key). Memoized — the pair list is consumed by the
    verified-pairs stage AND the estimator query, and its size is
    proportional to true near-dups (tiny at any corpus scale), so
    persisting it is the materialize-once shape, not a cache of raw data."""

    def build() -> DataFrame:
        sigs = _minhash_signatures_df(spark, sf_dir)
        bands = sigs.select("doc_id", *_band_exprs())
        stacked = bands.select(
            "doc_id",
            F.explode(
                F.array(*[F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_key")) for b in range(LSH_BANDS)])
            ).alias("bk"),
        ).select("doc_id", "bk.band_id", "bk.band_key")
        a = stacked.alias("a")
        b = stacked.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
            .distinct()
        )

    return memo_persist(spark, "lsh_candidates", sf_dir, build)


def _exact_jaccard(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """Exact Jaccard over a candidate pair set via the shingle index:
    (doc1, doc2, jaccard_raw). The expensive verify stage — runs only on
    candidates, never doc x doc."""
    sh = _shingles(spark, sf_dir)
    sh1 = sh.select(F.col("doc_id").alias("doc1"), F.col("shingle").alias("s1"))
    sh2 = sh.select(F.col("doc_id").alias("d2"), F.col("shingle").alias("s2"))
    shared = (
        cand.join(sh1, "doc1")
        .join(sh2, (F.col("doc2") == F.col("d2")) & (F.col("s1") == F.col("s2")))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard(sh, shared)


def _lsh_verified_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (jaccard >= threshold), memoized: the
    edge list both minhash_lsh_pairs and dedup_clusters consume.
    dedup_clusters previously re-ran the whole candidate+verify pipeline
    that minhash_lsh_pairs had just executed — at bench scale that was
    ~2 s of duplicated work per query."""

    def build() -> DataFrame:
        cand = _lsh_candidates_df(spark, sf_dir)
        return _exact_jaccard(spark, sf_dir, cand).where(
            F.col("jaccard_raw") >= JACCARD_THRESHOLD
        )

    return memo_persist(spark, "lsh_verified_pairs", sf_dir, build)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, verified: documents sharing at
    least one LSH band bucket (4 bands x 4 rows), then confirmed with
    exact Jaccard >= 0.5 over the shingle sets.

    This is the 100 TB dedup path: candidate generation is a self-join on
    (band_id, band_key) — cost proportional to bucket collisions, i.e.
    to true near-dups — and exact verification runs only on candidates.
    """
    verified = _lsh_verified_pairs_df(spark, sf_dir)
    return verified.select("doc1", "doc2", rnd("jaccard_raw", 4).alias("jaccard"))


register(
    "minhash_lsh_pairs",
    oracle=_LSH_VERIFIED_SQL
    + """
SELECT doc1, doc2, round(jaccard_raw + 1e-6, 4) AS jaccard FROM verified
""",
    tags=("dedup", "llm-pipeline", "minhash", "lsh"),
)(minhash_lsh_pairs)


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATOR quality over LSH candidate pairs: the
    fraction of agreeing signature components estimates Jaccard
    (P[mh_i(A)=mh_i(B)] = J(A,B) — the property minhash exists for);
    report the estimate next to the exact value and the absolute error.

    This is the operator a production dedup pipeline actually tunes:
    at 100 TB you cannot afford exact verification everywhere, so you
    must know the estimator's error at your k. The pair set is the LSH
    candidate list (equi-join on band key — never doc x doc), estimation
    is a fixed k-term expression per pair, and exact Jaccard (the
    expensive part) runs only on this candidate set, exactly like the
    verify stage of minhash_lsh_pairs."""
    sigs = _minhash_signatures_df(spark, sf_dir)
    cand = _lsh_candidates_df(spark, sf_dir)
    s1 = sigs.select(F.col("doc_id").alias("doc1"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(MINHASH_K)])
    s2 = sigs.select(F.col("doc_id").alias("doc2"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(MINHASH_K)])
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(MINHASH_K)
    )
    est = cand.join(s1, "doc1").join(s2, "doc2").select(
        "doc1", "doc2", (matches.cast("double") / MINHASH_K).alias("est")
    )
    # exact Jaccard on the candidate set only (the expensive stage)
    exact = _exact_jaccard(spark, sf_dir, cand).select(
        "doc1", "doc2", F.col("jaccard_raw").alias("exact")
    )
    out = est.join(exact, ["doc1", "doc2"], "left").select(
        "doc1",
        "doc2",
        rnd("est", 4).alias("est_jaccard"),
        rnd(F.coalesce(F.col("exact"), F.lit(0.0)), 4).alias("exact_jaccard"),
        rnd(F.abs(F.col("est") - F.coalesce(F.col("exact"), F.lit(0.0))), 4).alias("abs_err"),
    )
    return out


register(
    "minhash_jaccard_estimate",
    oracle=_LSH_VERIFIED_SQL
    + f""",
est AS (
  SELECT c.doc1, c.doc2,
         ({" + ".join(f"CASE WHEN s1.mh{i} = s2.mh{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K))})
           * 1.0 / {MINHASH_K} AS est
  FROM cand c
  JOIN sigs s1 ON s1.doc_id = c.doc1
  JOIN sigs s2 ON s2.doc_id = c.doc2
)
SELECT e.doc1, e.doc2,
       round(e.est + 1e-6, 4) AS est_jaccard,
       round(coalesce(x.jaccard_raw, 0.0) + 1e-6, 4) AS exact_jaccard,
       round(abs(e.est - coalesce(x.jaccard_raw, 0.0)) + 1e-6, 4) AS abs_err
FROM est e LEFT JOIN exact x ON e.doc1 = x.doc1 AND e.doc2 = x.doc2
""",
    tags=("dedup", "llm-pipeline", "minhash", "estimator"),
)(minhash_jaccard_estimate)


SIMHASH_BITS = 16  # demo width; production uses 64 — same construction


def _simhash_df(spark: SparkSession, sf_dir: str, bits: int) -> DataFrame:
    """doc_id + a ``bits``-wide SimHash over word tokens: for each bit
    position, sum +1/-1 according to the token-hash bit, then take the
    sign. One codegen'd aggregate — one column expression per bit, no
    explosion of rows."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).withColumn("h", _portable_hash(F.col("tok")))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bit_sums.select("doc_id", sim.cast("long").alias("simhash"))


def _simhash_sql(bits: int) -> tuple[str, str]:
    """The oracle twin of ``_simhash_df``: the ``toks`` and ``bits`` CTEs
    of a ``bits``-wide SimHash, and the expression combining the bit
    sums into the hash."""
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    ctes = f"""WITH toks AS (
  SELECT doc_id, {_SQL_HASH.format(x='tok')} AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM toks GROUP BY doc_id
)"""
    combine = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return ctes, combine


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per document over word tokens. Near-dups land at small
    Hamming distance. 16-bit here (64 in production) so the whole
    computation stays a single codegen'd aggregate."""
    return _simhash_df(spark, sf_dir, SIMHASH_BITS)


_SIMHASH_CTES, _SIMHASH_COMBINE_SQL = _simhash_sql(SIMHASH_BITS)

register(
    "simhash",
    oracle=f"""
{_SIMHASH_CTES}
SELECT doc_id, CAST({_SIMHASH_COMBINE_SQL} AS BIGINT) AS simhash
FROM bits
""",
    tags=("dedup", "llm-pipeline", "simhash"),
)(simhash)


def simhash_bucket_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents colliding on the full SimHash value (Hamming distance 0
    buckets) — the coarse-but-free dedup sweep before pairwise Hamming."""
    sim = simhash(spark, sf_dir)
    w = Window.partitionBy("simhash")
    return (
        sim.withColumn("n_docs", F.count("*").over(w))
        .where(F.col("n_docs") > 1)
        .select("simhash", "doc_id", "n_docs")
    )


register(
    "simhash_bucket_dups",
    oracle=f"""
{_SIMHASH_CTES},
sims AS (
  SELECT doc_id, CAST({_SIMHASH_COMBINE_SQL} AS BIGINT) AS simhash FROM bits
)
SELECT simhash, doc_id, n_docs
FROM (SELECT *, count(*) OVER (PARTITION BY simhash) AS n_docs FROM sims)
WHERE n_docs > 1
""",
    tags=("dedup", "llm-pipeline", "simhash"),
)(simhash_bucket_dups)


#: near-pair SimHash: 60 bits (the portable-hash width), 4 bands x 15
#: bits, Hamming radius 3. Pigeonhole guarantee: <=3 differing bits
#: cannot touch all 4 bands, so every true near-pair collides on at
#: least one intact band — recall 1.0 at this radius, with 2^15 buckets
#: per band keeping candidate volume near-linear in true near-dups.
NEARSIM_BITS = 60
NEARSIM_BANDS = 4
NEARSIM_BAND_BITS = NEARSIM_BITS // NEARSIM_BANDS  # 15
HAMMING_R = 3


def _simhash_wide_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + 60-bit SimHash (``simhash``'s construction at the full
    portable-hash width). Memoized (one row per doc): the band self-join
    consumes it twice."""
    return memo_persist(
        spark, "simhash_wide", sf_dir, lambda: _simhash_df(spark, sf_dir, NEARSIM_BITS)
    )


_WIDE_CTES, _WIDE_COMBINE_SQL = _simhash_sql(NEARSIM_BITS)


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: band the 60-bit SimHash into 4
    15-bit keys, generate candidates by (band_id, band_val) equi-join,
    then verify with exact Hamming distance bit_count(xor) <= 3. This
    completes the SimHash path the way LSH completes MinHash: candidate
    cost tracks true near-dups (2^15 buckets/band), verification is one
    codegen'd expression per candidate — the 100 TB shape."""
    sims = _simhash_wide_df(spark, sf_dir)
    stacked = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), b * NEARSIM_BAND_BITS)
                        .bitwiseAND(F.lit((1 << NEARSIM_BAND_BITS) - 1))
                        .alias("band_val"),
                    )
                    for b in range(NEARSIM_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band_id", "bk.band_val")
    a = stacked.alias("a")
    b = stacked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .where(F.col("hamming") <= HAMMING_R)
        .select("doc1", "doc2", "hamming")
    )


register(
    "simhash_near_pairs",
    oracle=f"""
{_WIDE_CTES},
sims AS (
  SELECT doc_id, CAST({_WIDE_COMBINE_SQL} AS BIGINT) AS simhash FROM bits
),
bands AS (
  SELECT doc_id, simhash, band_id,
         (simhash >> (band_id * {NEARSIM_BAND_BITS})) & {(1 << NEARSIM_BAND_BITS) - 1}
           AS band_val
  FROM sims, (SELECT unnest(range(0, {NEARSIM_BANDS})) AS band_id)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
                  a.simhash AS s1, b.simhash AS s2
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, bit_count(xor(s1, s2)) AS hamming
FROM cand
WHERE bit_count(xor(s1, s2)) <= {HAMMING_R}
""",
    tags=("dedup", "llm-pipeline", "simhash", "near-dup", "bench"),
)(simhash_near_pairs)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate clusters: connected components over the
    MinHash+LSH pair graph, each doc labeled with its component's minimum
    doc_id (the keeper). Iterative min-label propagation — each round is
    one distributed join+aggregate; rounds = graph diameter (near-dup
    clusters are tiny, so 2-3). The driver only sees a changed-label
    count per round (convergence check), never the data.

    The DuckDB oracle computes the same fixpoint with a recursive CTE —
    an iterative distributed algorithm checked against recursive SQL.
    """
    # undirected edge list — doubled via explode, NOT union-with-swap:
    # a union would embed the full LSH-pair pipeline twice in the plan
    # (exchange reuse does not fire across the swapped projections) and
    # exactly double the most expensive stage of the whole query.
    # Memoized: the edge list is tiny (2x the verified near-dup pairs)
    # and re-entered on every dedup_clusters/dedup_canonical_docs call.
    def build_edges() -> DataFrame:
        pairs = _lsh_verified_pairs_df(spark, sf_dir).select("doc1", "doc2")
        return (
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(F.col("doc1"), F.col("doc2")),
                        F.struct(
                            F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2")
                        ),
                    )
                ).alias("e")
            )
            .select("e.doc1", "e.doc2")
            .distinct()
            # persist partitioned by the propagation join key: every
            # label-propagation round joins edges.doc2 == labels.doc_id,
            # so the edge list — the big side at corpus scale — is
            # shuffled once here and never again; each round moves only
            # the per-doc label table.
            .repartition("doc2")
        )

    edges = memo_persist(spark, "cluster_edges", sf_dir, build_edges)
    # seed with least(self, min direct neighbor): one full propagation
    # round folded into initialization for free (the groupBy replaces the
    # distinct-nodes shuffle the identity seed needed anyway), so a
    # diameter-d component converges in d-1 iterations instead of d.
    # Any per-node label drawn from its own component upper-bounds the
    # component min, so the fixpoint is unchanged.
    labels = (
        edges.groupBy(F.col("doc1").alias("doc_id"))
        .agg(F.min("doc2").alias("nbr"))
        .select("doc_id", F.least(F.col("doc_id"), F.col("nbr")).alias("label"))
    )
    # Iteration hygiene (round-14 shape): each round runs EXACTLY ONE
    # job — an eager localCheckpoint that materializes the new
    # generation, truncates its lineage, and carries the convergence
    # count out as an observe() metric on the same action (previously a
    # persist + separate count job per round, plus a final checkpoint
    # job on the result). The returned frame is a projection of the last
    # checkpointed generation: self-contained blocks, no lineage back
    # through earlier rounds. Superseded generations become unreferenced
    # as the loop rebinds, and the ContextCleaner releases their blocks
    # once the JVM garbage-collects them: storage returns to ~2 label-
    # table generations eventually, not at every round, so a long loop
    # can hold several generations at once.
    for _ in range(20):  # diameter bound; fixture clusters converge in <=3
        neighbor_min = (
            edges.join(labels, edges.doc2 == labels.doc_id)
            .groupBy(F.col("doc1").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        flagged = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            (
                F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label")
            ).alias("changed"),
        )
        obs = Observation()
        gen = flagged.observe(
            obs, F.sum(F.col("changed").cast("int")).alias("n_changed")
        ).localCheckpoint(eager=True)
        labels = gen.select("doc_id", "label")
        if (obs.get["n_changed"] or 0) == 0:
            break
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


register(
    "dedup_clusters",
    oracle=_CLUSTERS_SQL
    + """
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper FROM clusters
""",
    tags=("dedup", "llm-pipeline", "clustering", "iterative", "bench"),
)(dedup_clusters)


def normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style normalized exact dedup: case-fold, strip non-alphanumerics,
    collapse whitespace, THEN fingerprint — catches trivially-reformatted
    copies that raw exact_dedup misses. Same single map-side-combinable
    hash aggregate as exact_dedup; normalization is codegen'd string work
    at scan speed."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        docs.select("doc_id", F.md5(norm).alias("norm_fingerprint"))
        .groupBy("norm_fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


register(
    "normalized_dedup",
    oracle="""
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS norm_fingerprint,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
""",
    tags=("dedup", "llm-pipeline", "normalization"),
)(normalized_dedup)


def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection over near-duplicate clusters:
    per cluster, keep the LONGEST document (n_chars desc, doc_id asc
    tie-break) instead of the arbitrary min-id keeper — the curation
    step that follows clustering in a real corpus pipeline (drop all
    but the best copy).

    Spark plan: the cluster labels (already a localCheckpoint'd tiny
    table, memoized via the verified-pair cache) join ``documents`` on
    doc_id — AQE broadcasts the cluster side, so the documents scan
    never shuffles — then one row_number window + partial aggregate
    over the handful of clustered docs.
    """
    clusters = dedup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("rk", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "canonical_doc_id"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).alias(
                "canonical_n_chars"
            ),
            F.count("*").alias("n_members"),
        )
    )


register(
    "dedup_canonical_docs",
    oracle=_CLUSTERS_SQL
    + """,
ranked AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT cluster_id,
       max(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc_id,
       max(CASE WHEN rk = 1 THEN n_chars END) AS canonical_n_chars,
       count(*) AS n_members
FROM ranked GROUP BY cluster_id
""",
    tags=("dedup", "llm-pipeline", "curation"),
)(dedup_canonical_docs)


def dedup_pair_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the verified near-dup pair graph — the
    cluster-cohesion QA for dedup: a clique-like cluster (high local
    clustering coefficient) means its members are mutual near-dups and
    canonical-doc selection is safe; a chain (triangle-free) means the
    transitive closure glued non-duplicates through intermediates and
    the Jaccard threshold deserves a second look.

    Triangles enumerate each once as ordered doc1 < doc2 < doc3 via two
    equi-joins over the (already memoized, tiny-by-construction) verified
    pair list — cost is bounded by the pair list, never the corpus. Per
    doc: neighbor degree, triangle membership count, and the local
    clustering coefficient 2T/(deg * (deg-1)) (NULL below degree 2, both
    engines via NULL propagation).
    """
    pairs = _lsh_verified_pairs_df(spark, sf_dir).select("doc1", "doc2")
    p1 = pairs.select(F.col("doc1").alias("x"), F.col("doc2").alias("y"))
    p2 = pairs.select(F.col("doc1").alias("y"), F.col("doc2").alias("z"))
    p3 = pairs.select(F.col("doc1").alias("x"), F.col("doc2").alias("z"))
    tris = p1.join(p2, "y").join(p3, ["x", "z"])
    tri_nodes = (
        tris.select(F.col("x").alias("doc_id"))
        .unionAll(tris.select(F.col("y").alias("doc_id")))
        .unionAll(tris.select(F.col("z").alias("doc_id")))
    )
    tcount = tri_nodes.groupBy("doc_id").agg(F.count("*").alias("n_triangles"))
    deg = (
        pairs.select(F.col("doc1").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)),
    )
    return (
        deg.join(tcount, "doc_id", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)))
        .select(
            "doc_id",
            "degree",
            "n_triangles",
            rnd(coeff, 4).alias("clustering_coeff"),
        )
    )


register(
    "dedup_pair_triangles",
    oracle=_LSH_VERIFIED_SQL
    + """,
tris AS (
  SELECT p1.doc1 AS x, p1.doc2 AS y, p2.doc2 AS z
  FROM verified p1
  JOIN verified p2 ON p1.doc2 = p2.doc1
  JOIN verified p3 ON p3.doc1 = p1.doc1 AND p3.doc2 = p2.doc2
),
tri_nodes AS (
  SELECT x AS doc_id FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris
),
tcount AS (SELECT doc_id, count(*) AS n_triangles FROM tri_nodes GROUP BY 1),
deg AS (
  SELECT doc_id, count(*) AS degree
  FROM (SELECT doc1 AS doc_id FROM verified
        UNION ALL SELECT doc2 FROM verified)
  GROUP BY 1
)
SELECT d.doc_id, d.degree, coalesce(t.n_triangles, 0) AS n_triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(t.n_triangles, 0) / (d.degree * (d.degree - 1))
             END + 1e-6, 4) AS clustering_coeff
FROM deg d LEFT JOIN tcount t ON d.doc_id = t.doc_id
""",
    tags=("dedup", "llm-pipeline", "graph", "qa"),
)(dedup_pair_triangles)


def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs that SPAN sources — the train/eval leakage
    scan: when one "source" is a benchmark or held-out split, a verified
    near-dup crossing the boundary is contamination
    (``benchmark_decontamination`` catches n-gram overlap; this catches
    whole-document duplication via the MinHash path).

    Reuses the memoized verified pair list; the documents side joins only
    to stamp each end's source (two joins against the tiny pair list,
    corpus never self-joins here)."""
    pairs = _lsh_verified_pairs_df(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    s1 = docs.select(F.col("doc_id").alias("doc1"), F.col("source").alias("source1"))
    s2 = docs.select(F.col("doc_id").alias("doc2"), F.col("source").alias("source2"))
    return (
        pairs.join(s1, "doc1")
        .join(s2, "doc2")
        .where(F.col("source1") != F.col("source2"))
        .select(
            "doc1",
            "doc2",
            "source1",
            "source2",
            rnd("jaccard_raw", 4).alias("jaccard"),
        )
    )


register(
    "cross_source_leakage",
    oracle=_LSH_VERIFIED_SQL
    + """
SELECT v.doc1, v.doc2, d1.source AS source1, d2.source AS source2,
       round(v.jaccard_raw + 1e-6, 4) AS jaccard
FROM verified v
JOIN documents d1 ON v.doc1 = d1.doc_id
JOIN documents d2 ON v.doc2 = d2.doc_id
WHERE d1.source <> d2.source
""",
    tags=("dedup", "llm-pipeline", "leakage", "decontamination"),
)(cross_source_leakage)


CONTAINMENT_THRESHOLD = 0.8  # |A n B| / |A| — "A is mostly inside B"


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-duplication: ordered pairs where at least
    CONTAINMENT_THRESHOLD of the smaller document's shingles appear in
    the other document — the quote/excerpt/boilerplate-inclusion
    detector Jaccard misses (a 50-line doc fully quoted inside a
    5000-line doc has tiny Jaccard but containment 1.0).

    Same inverted-index pair counter as ``ngram_jaccard_pairs`` (equi-
    join on the df-capped shingle index, never doc x doc); the only
    change is fanning each unordered pair out to both directions and
    normalizing the intersection by the source side's size.
    """
    sh = _shingles(spark, sf_dir)
    inter = _shared_shingles(sh).select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc1").alias("src_doc"), F.col("doc2").alias("in_doc"), "n_common"
                ),
                F.struct(
                    F.col("doc2").alias("src_doc"), F.col("doc1").alias("in_doc"), "n_common"
                ),
            )
        ).alias("p")
    ).select("p.src_doc", "p.in_doc", "p.n_common")
    inter = _observe_candidates(inter, "containment_pairs")
    ssz = _sizes(sh).select(F.col("doc_id").alias("src_doc"), F.col("n_shingles").alias("n_src"))
    return (
        inter.join(ssz, "src_doc")
        .withColumn("containment_raw", F.col("n_common") / F.col("n_src"))
        .where(F.col("containment_raw") >= CONTAINMENT_THRESHOLD)
        .select(
            "src_doc",
            "in_doc",
            "n_common",
            rnd("containment_raw", 4).alias("containment"),
        )
    )


register(
    "containment_pairs",
    oracle=_with(_SHINGLES_CTE, _OVERLAP_CTE)
    + f"""
SELECT src_doc, in_doc, n_common,
       round(n_common * 1.0 / s.n_shingles + 1e-6, 4) AS containment
FROM (SELECT CASE WHEN flip THEN doc2 ELSE doc1 END AS src_doc,
             CASE WHEN flip THEN doc1 ELSE doc2 END AS in_doc, n_common
      FROM overlap, (SELECT unnest([false, true]) AS flip)) i
JOIN sizes s ON i.src_doc = s.doc_id
WHERE n_common * 1.0 / s.n_shingles >= {CONTAINMENT_THRESHOLD}
""",
    tags=("dedup", "llm-pipeline", "near-dup", "containment"),
)(containment_pairs)


# --------------------------------------------------------------------------
# sorted-neighborhood blocking (edit-distance near-dup)
# --------------------------------------------------------------------------

#: characters of document head compared by edit distance (bounds the
#: per-comparison Levenshtein cost to HEAD_LEN^2 regardless of doc size).
SNM_HEAD_LEN = 120
#: in-block sort key length (longer than the block prefix so near-dups
#: sort adjacently inside a block).
SNM_SORT_KEY_LEN = 24
#: coarse blocking prefix: the window never crosses a block boundary, so
#: the plan is a hash exchange on block + in-partition sort — never a
#: global single-partition sort.
SNM_BLOCK_LEN = 8
#: neighbors compared per document (the classic SNM window size w).
SNM_WINDOW = 2
#: maximum edit distance for a pair to count as a near-duplicate. The
#: fixture corpus separates cleanly: true dup pairs land at <= 9, the
#: nearest non-dup neighbor at >= 40.
SNM_EDIT_MAX = 30


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-duplicate pairs: sort documents by a
    normalized prefix key, compare each document with its next
    ``SNM_WINDOW`` neighbors by Levenshtein distance over a bounded
    head, and keep pairs within ``SNM_EDIT_MAX`` edits.

    The third classic near-dup family beside MinHash (set-based) and
    SimHash (bit-based): edit-distance blocking. Cost is O(n log n)
    sort + O(n * w) bounded comparisons — never doc x doc. The window
    is PARTITIONED by a coarse key prefix (``SNM_BLOCK_LEN`` chars), so
    at 100 TB the sort is a hash exchange + per-block in-partition sort
    rather than a global one-partition window; pairs whose heads differ
    inside the first 8 normalized characters are out of edit range by
    construction (8 leading edits > no real loss). On the fixture the
    blocked variant returns the identical pair set to a global sort.
    """
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring("text", 1, SNM_HEAD_LEN).alias("head"),
        F.substring(F.lower("text"), 1, SNM_SORT_KEY_LEN).alias("sort_key"),
        F.substring(F.lower("text"), 1, SNM_BLOCK_LEN).alias("block"),
    )
    w = Window.partitionBy("block").orderBy("sort_key", "doc_id")
    neigh = keyed.select(
        "doc_id",
        "head",
        *[F.lead("doc_id", k).over(w).alias(f"n{k}_id") for k in range(1, SNM_WINDOW + 1)],
        *[F.lead("head", k).over(w).alias(f"n{k}_head") for k in range(1, SNM_WINDOW + 1)],
    )
    parts = [
        neigh.where(F.col(f"n{k}_id").isNotNull()).select(
            F.col("doc_id").alias("doc_a"),
            F.col(f"n{k}_id").alias("doc_b"),
            F.levenshtein("head", F.col(f"n{k}_head")).alias("edit_distance"),
        )
        for k in range(1, SNM_WINDOW + 1)
    ]
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    return pairs.where(F.col("edit_distance") <= SNM_EDIT_MAX)


register(
    "sorted_neighborhood_pairs",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
         substr(text, 1, {SNM_HEAD_LEN}) AS head,
         substr(lower(text), 1, {SNM_SORT_KEY_LEN}) AS sort_key,
         substr(lower(text), 1, {SNM_BLOCK_LEN}) AS block
  FROM documents
),
ordered AS (
  SELECT doc_id, head,
         lead(doc_id, 1) OVER w AS n1_id, lead(head, 1) OVER w AS n1_head,
         lead(doc_id, 2) OVER w AS n2_id, lead(head, 2) OVER w AS n2_head
  FROM keyed WINDOW w AS (PARTITION BY block ORDER BY sort_key, doc_id)
),
pairs AS (
  SELECT doc_id AS doc_a, n1_id AS doc_b,
         CAST(levenshtein(head, n1_head) AS INTEGER) AS edit_distance
  FROM ordered WHERE n1_id IS NOT NULL
  UNION ALL
  SELECT doc_id, n2_id, CAST(levenshtein(head, n2_head) AS INTEGER)
  FROM ordered WHERE n2_id IS NOT NULL
)
SELECT doc_a, doc_b, edit_distance FROM pairs
WHERE edit_distance <= {SNM_EDIT_MAX}
""",
    tags=("dedup", "llm-pipeline", "near-dup", "blocking", "bench"),
)(sorted_neighborhood_pairs)


def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING (the PPJoin
    family): order every document's shingles by a global rarity order
    (document frequency asc, shingle asc), index only each document's
    first floor((1-t)*|d|)+1 shingles, generate candidates from that
    prefix index, and verify candidates exactly.

    The prefix principle: two sets with Jaccard >= t MUST share at
    least one token inside those prefixes under any one global total
    order — so the candidate join touches (1-t)+eps of the index
    instead of all of it, and candidates concentrate on genuinely
    similar pairs (rare tokens first). At t=0.5 the joined index
    halves; at t=0.9 it shrinks 10x — the standard scale path for
    exact-threshold set-similarity joins when MinHash's approximation
    is not acceptable. The oracle is the UNFILTERED exact-Jaccard
    query: passing proves the filter loses no pair.
    """
    sh = _shingles(spark, sf_dir)
    w_df = Window.partitionBy("shingle")
    w_doc = Window.partitionBy("doc_id")
    ranked = sh.select(
        "doc_id",
        "shingle",
        F.count("*").over(w_df).alias("df"),
    ).select(
        "doc_id",
        "shingle",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "shingle"))
        .alias("rank"),
        F.count("*").over(w_doc).alias("set_size"),
    )
    prefix = ranked.where(
        F.col("rank")
        <= F.floor((1 - JACCARD_THRESHOLD) * F.col("set_size")) + 1
    ).select("doc_id", "shingle")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    cands = _observe_candidates(cands, "prefix_filter_jaccard_pairs")
    return (
        _exact_jaccard(spark, sf_dir, cands)
        .where(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", rnd("jaccard_raw", 4).alias("jaccard"))
    )


register(
    "prefix_filter_jaccard_pairs",
    # completeness proof: the oracle is the UNfiltered exact-Jaccard join.
    oracle=_JACCARD_PAIRS_ORACLE,
    tags=("dedup", "llm-pipeline", "near-dup", "prefix-filter"),
)(prefix_filter_jaccard_pairs)


# --------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# --------------------------------------------------------------------------

#: batch membership: doc_id % 10 >= 8 is the "incoming crawl increment",
#: the rest is the already-indexed corpus.
_BATCH_MOD = 10
_BATCH_MIN = 8


def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup verdicts for a new ingest batch against the
    existing corpus: each incoming document (doc_id % 10 >= 8) is
    classified ``exact_dup`` (byte-identical text already in the
    corpus), ``near_dup`` (verified LSH pair with a corpus doc), or
    ``unique``.

    The shape every recurring crawl pipeline needs: the corpus is NOT
    re-deduped against itself on each increment — the batch probes the
    corpus's fingerprint set (hash equi-join) and its LSH band index
    (the memoized verified-pair list, candidates ∝ true near-dups).
    At 100 TB the corpus side of both probes is the pre-built index,
    so incremental cost scales with the batch, not the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % _BATCH_MOD) >= _BATCH_MIN
    batch = docs.where(is_batch).select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    corpus_fp = (
        docs.where(~is_batch).select(F.md5("text").alias("fp")).distinct()
        .withColumn("_exact", F.lit(True))
    )
    pairs = _lsh_verified_pairs_df(spark, sf_dir)
    side = lambda c: (F.col(c) % _BATCH_MOD) >= _BATCH_MIN  # noqa: E731
    near_docs = (
        pairs.where(side("doc1") & ~side("doc2")).select(F.col("doc1").alias("doc_id"))
        .unionByName(
            pairs.where(side("doc2") & ~side("doc1")).select(
                F.col("doc2").alias("doc_id")
            )
        )
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return (
        batch.join(corpus_fp, "fp", "left")
        .join(near_docs, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("_exact").isNotNull(), "exact_dup")
            .when(F.col("_near").isNotNull(), "near_dup")
            .otherwise("unique")
            .alias("verdict"),
        )
    )


register(
    "incremental_dedup_new_batch",
    oracle=_LSH_VERIFIED_SQL
    + f"""
, batch AS (
  SELECT doc_id, source, md5(text) AS fp FROM documents
  WHERE doc_id % {_BATCH_MOD} >= {_BATCH_MIN}
),
corpus_fp AS (
  SELECT DISTINCT md5(text) AS fp FROM documents
  WHERE doc_id % {_BATCH_MOD} < {_BATCH_MIN}
),
near_docs AS (
  SELECT doc1 AS doc_id FROM verified
  WHERE doc1 % {_BATCH_MOD} >= {_BATCH_MIN} AND doc2 % {_BATCH_MOD} < {_BATCH_MIN}
  UNION
  SELECT doc2 FROM verified
  WHERE doc2 % {_BATCH_MOD} >= {_BATCH_MIN} AND doc1 % {_BATCH_MOD} < {_BATCH_MIN}
)
SELECT b.doc_id, b.source,
       CASE WHEN b.fp IN (SELECT fp FROM corpus_fp) THEN 'exact_dup'
            WHEN b.doc_id IN (SELECT doc_id FROM near_docs) THEN 'near_dup'
            ELSE 'unique' END AS verdict
FROM batch b
""",
    tags=("dedup", "llm-pipeline", "incremental"),
)(incremental_dedup_new_batch)


# --------------------------------------------------------------------------
# paragraph-level (segment) duplicate filter — the MassiveText recipe
# --------------------------------------------------------------------------

#: tokens per paragraph segment (fixture docs are single-line token
#: streams, so 'paragraph' = disjoint PARA_TOKENS-token window).
PARA_TOKENS = 20
#: docs whose duplicated-segment share exceeds this are dropped.
PARA_DUP_SHARE = 0.5


def duplicate_paragraph_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level duplicate filtering (the MassiveText / Gopher
    quality rule "fraction of text in duplicated paragraphs"): split
    each document into disjoint PARA_TOKENS-token segments, hash each,
    count how many DISTINCT documents contain each segment corpus-wide,
    and per document report total segments, segments that also appear in
    at least one other document, their share, and the keep/drop verdict
    (share > PARA_DUP_SHARE). Catches template pages and mirrored
    articles that whole-document fingerprints miss.

    Scale shape: segment fan-out is a zero-shuffle map (array slice, no
    per-token explode before hashing); the corpus segment-frequency
    table is one map-side-combinable hash aggregate (approx_count-
    distinct-able at extreme scale); the count join back to the per-doc
    segment stream is an UNHINTED equi-join on the segment hash —
    segment vocabulary grows with the corpus, so it must never be
    force-broadcast (AQE broadcasts when small). Final per-doc rollup is
    combinable. Reference scope: engine-level dedup family
    (/root/reference has no LLM-pipeline ops; SURVEY.md north-star set).
    """
    docs = load(spark, sf_dir, "documents")
    segs = (
        docs.select("doc_id", F.split("text", " ").alias("ts"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, int(floor((size(ts) - 1) / {PARA_TOKENS}))),"
                    f" i -> md5(concat_ws(' ', slice(ts, i * {PARA_TOKENS} + 1, {PARA_TOKENS}))))"
                )
            ).alias("seg_hash"),
        )
    )
    # ONE seg_hash repartition feeds the whole chain: the (seg, doc)
    # within-doc count (subset partitioning), the distinct-doc frequency
    # aggregate, and the freq join (both sides already hashed by
    # seg_hash) — one segment fan-out pass and two exchanges total,
    # where the distinct + frequency + unhinted join + rollup shape
    # fanned the map out twice and paid four. The within-doc multiplicity
    # (n_in_doc) preserves the raw-segment counts the rollup reports.
    sd = (
        segs.repartition("seg_hash")
        .groupBy("seg_hash", "doc_id")
        .agg(F.count("*").alias("n_in_doc"))
    )
    freq = sd.groupBy("seg_hash").agg(F.count("*").alias("n_docs_with"))
    per_doc = (
        sd.join(freq, "seg_hash")  # co-partitioned: no further exchange
        .groupBy("doc_id")
        .agg(
            F.sum("n_in_doc").alias("n_segments"),
            F.sum(
                F.when(F.col("n_docs_with") >= 2, F.col("n_in_doc")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup_segments"),
        )
    )
    share = F.col("n_dup_segments") / F.col("n_segments")
    return per_doc.select(
        "doc_id",
        "n_segments",
        "n_dup_segments",
        rnd(share, 4).alias("dup_share"),
        F.when(share > PARA_DUP_SHARE, F.lit("drop")).otherwise(F.lit("keep")).alias("verdict"),
    )


register(
    "duplicate_paragraph_filter",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
s AS (SELECT doc_id, ts,
             unnest(range(0, len(ts), {PARA_TOKENS})) AS start
      FROM t),
segs AS (
  SELECT doc_id,
         md5(array_to_string(ts[start + 1 : start + {PARA_TOKENS}], ' ')) AS seg_hash
  FROM s
),
freq AS (
  SELECT seg_hash, count(*) AS n_docs_with
  FROM (SELECT DISTINCT doc_id, seg_hash FROM segs)
  GROUP BY seg_hash
),
per_doc AS (
  SELECT s.doc_id,
         count(*) AS n_segments,
         CAST(sum(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_segments
  FROM segs s JOIN freq f USING (seg_hash)
  GROUP BY s.doc_id
)
SELECT doc_id, n_segments, n_dup_segments,
       round(n_dup_segments * 1.0 / n_segments + 1e-6, 4) AS dup_share,
       CASE WHEN n_dup_segments * 1.0 / n_segments > {PARA_DUP_SHARE}
            THEN 'drop' ELSE 'keep' END AS verdict
FROM per_doc
""",
    tags=("dedup", "llm-pipeline", "paragraph", "massivetext", "bench"),
)(duplicate_paragraph_filter)


# --------------------------------------------------------------------------
# MinHash band-configuration sensitivity sweep
# --------------------------------------------------------------------------

#: (bands, rows-per-band) configurations swept over the SAME 16
#: signatures: b x r = 16 throughout, trading precision against recall
#: (P(candidate) = 1 - (1 - j^r)^b).
BAND_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))


def _band_sensitivity_oracle() -> str:
    legs = []
    for b, r in BAND_CONFIGS:
        keys = []
        for band in range(b):
            parts = " || ':' || ".join(
                f"CAST(mh{band * r + i} AS VARCHAR)" for i in range(r)
            )
            keys.append(f"CAST({band} AS VARCHAR) || ':' || {parts}")
        legs.append(
            f"SELECT {b} AS bands, doc_id,\n"
            f"       unnest([{', '.join(keys)}]) AS band_key FROM sigs"
        )
        # Spark's concat_ws on a leading int literal renders identically
        # (no trailing .0) because the band index is a string-cast int
    union = "\nUNION ALL\n".join(legs)
    # one config-tagged candidate set, as the Spark side's self-join:
    # each config's banded join and DISTINCT run once, the true pairs it
    # covers are the LEFT JOIN's matches, and a config with no
    # candidates still reports its row
    return _with(_SHINGLES_CTE, _OVERLAP_CTE, _TRUE_PAIRS_CTE, _SIGS_CTE) + f""",
banded AS (
{union}
),
cand_cfg AS (
  SELECT DISTINCT a.bands, a.doc_id AS doc1, b.doc_id AS doc2
  FROM banded a JOIN banded b
    ON a.bands = b.bands AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
per AS (
  SELECT c.bands, count(*) AS n_candidate_pairs,
         count(tp.doc1) AS n_true_covered
  FROM cand_cfg c
  LEFT JOIN true_pairs tp ON c.doc1 = tp.doc1 AND c.doc2 = tp.doc2
  GROUP BY 1
),
cfg AS (
  SELECT conf.bands, conf.rows_per_band,
         CAST(coalesce(per.n_candidate_pairs, 0) AS BIGINT) AS n_candidate_pairs,
         CAST(coalesce(per.n_true_covered, 0) AS BIGINT) AS n_true_covered
  FROM (VALUES {", ".join(f"({b}, {r})" for b, r in BAND_CONFIGS)})
         conf(bands, rows_per_band)
  LEFT JOIN per ON conf.bands = per.bands
),
ntrue AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM true_pairs)
SELECT cfg.bands, cfg.rows_per_band, cfg.n_candidate_pairs,
       cfg.n_true_covered, nt.n_true_pairs,
       round(cfg.n_true_covered * 1.0 / greatest(nt.n_true_pairs, 1) + 1e-6, 6)
         AS recall,
       round(cfg.n_true_covered * 1.0 / greatest(cfg.n_candidate_pairs, 1) + 1e-6, 6)
         AS precision
FROM cfg CROSS JOIN ntrue nt
"""


@register(
    "minhash_band_sensitivity",
    oracle=_band_sensitivity_oracle(),
    tags=("prepared-r8",),
)
def minhash_band_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BANDING CALIBRATION (the minhash sibling of
    ``similarity_threshold_curve``): sweep (bands, rows) configurations
    over the already-memoized 16-hash signatures and report, per
    config, how many candidate pairs the band join would generate and
    how many TRUE near-dup pairs (exact Jaccard >= 0.5) it covers —
    the precision/recall dial operators turn before an LSH rollout.

    ONE distributed plan for the whole sweep (round-9 tier-2 bench
    finding: the per-config driver loop ran 8 separate actions, each
    re-deriving the band fan-out AND the exact inverted-index join —
    10.7 s warm; this form runs the self-join once over a config-tagged
    key space and aggregates per config): every config's band keys fan
    out of the one signature table tagged with the config's band count,
    the candidate join is a (config, band_key) equi-join (never
    corpus^2), and coverage is a left-join marker aggregated per
    config. True pairs come from the exact inverted-index join,
    computed once and memoized (``ngram_jaccard_pairs`` is also a
    registered query — same session reuse)."""
    sigs = _minhash_signatures_df(spark, sf_dir)
    true_pairs = memo_persist(
        spark,
        "band_true_pairs",
        sf_dir,
        lambda: ngram_jaccard_pairs(spark, sf_dir)
        .select("doc1", "doc2")
        .distinct(),
    )
    tagged = []
    for b, r in BAND_CONFIGS:
        for band in range(b):
            tagged.append(
                F.struct(
                    F.lit(b).alias("bands"),
                    F.concat_ws(
                        ":",
                        F.lit(band),
                        *[F.col(f"mh{band * r + i}") for i in range(r)],
                    ).alias("band_key"),
                )
            )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*tagged)).alias("t")
    ).select("doc_id", "t.bands", "t.band_key")
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.bands") == F.col("b.bands"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.bands").alias("bands"),
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        .distinct()
    )
    marked = cands.join(
        true_pairs.withColumn("is_true", F.lit(1)), ["doc1", "doc2"], "left"
    )
    per = marked.groupBy("bands").agg(
        F.count("*").alias("n_candidate_pairs"),
        F.sum(F.coalesce(F.col("is_true"), F.lit(0)))
        .cast("long")
        .alias("n_true_covered"),
    )
    conf = spark.createDataFrame(
        list(BAND_CONFIGS), "bands int, rows_per_band int"
    )
    n_true = true_pairs.agg(F.count("*").alias("n_true_pairs"))
    out = (
        conf.join(per, "bands", "left")
        .crossJoin(F.broadcast(n_true))
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_candidate_pairs", F.lit(0)).alias(
                "n_candidate_pairs"
            ),
            F.coalesce("n_true_covered", F.lit(0)).alias("n_true_covered"),
            "n_true_pairs",
        )
    )
    return out.select(
        "bands", "rows_per_band", "n_candidate_pairs", "n_true_covered",
        "n_true_pairs",
        rnd(
            F.col("n_true_covered")
            / F.greatest(F.col("n_true_pairs"), F.lit(1)).cast("double"),
            6,
        ).alias("recall"),
        rnd(
            F.col("n_true_covered")
            / F.greatest(F.col("n_candidate_pairs"), F.lit(1)).cast("double"),
            6,
        ).alias("precision"),
    )


# --------------------------------------------------------------------------
# near-dup cluster size histogram
# --------------------------------------------------------------------------

@register(
    "dedup_cluster_size_histogram",
    oracle=_CLUSTERS_SQL
    + """
SELECT cluster_size, n_clusters,
       cluster_size * n_clusters AS n_docs,
       round((cluster_size * n_clusters) * 1.0
             / sum(cluster_size * n_clusters) OVER () + 1e-6, 6) AS corpus_share
FROM (
  SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters FROM (
    SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id)
  GROUP BY cluster_size)
""",
    tags=("prepared-r8",),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of NEAR-DUP CLUSTER SIZES — the one-line answer to
    "how duplicated is this corpus": per cluster size, how many clusters
    exist, how many documents they hold, and the share of the corpus
    sitting in clusters of that size (singletons = unique docs; the
    heavy tail = template/boilerplate families worth hand-review).
    Composes the label-propagation clustering (memoized edges) with two
    tiny aggregates — post-cluster cardinality, never corpus rows."""
    cl = dedup_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    agg = sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))
    w = Window.partitionBy()
    return agg.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        rnd(
            (F.col("cluster_size") * F.col("n_clusters"))
            / F.sum(F.col("cluster_size") * F.col("n_clusters")).over(w),
            6,
        ).alias("corpus_share"),
    )


# --------------------------------------------------------------------------
# measured LSH recall/precision audit
# --------------------------------------------------------------------------

@register(
    "lsh_recall_estimate",
    oracle=_with(_SHINGLES_CTE, _OVERLAP_CTE, _TRUE_PAIRS_CTE, _SIGS_CTE, _CAND_CTE)
    + f""",
nt AS (SELECT count(*) AS n_true_pairs FROM true_pairs),
nc AS (SELECT count(*) AS n_candidates FROM cand),
nh AS (SELECT count(*) AS n_hits
       FROM true_pairs t JOIN cand c ON t.doc1 = c.doc1 AND t.doc2 = c.doc2)
SELECT n_true_pairs, n_candidates, n_hits,
       round(CASE WHEN n_true_pairs > 0
                  THEN n_hits * 1.0 / n_true_pairs ELSE 1.0 END + 1e-6, 6)
         AS recall,
       round(CASE WHEN n_candidates > 0
                  THEN n_hits * 1.0 / n_candidates ELSE 1.0 END + 1e-6, 6)
         AS candidate_precision,
       round(1.0 - pow(1.0 - pow({JACCARD_THRESHOLD}, {LSH_ROWS}),
                       {LSH_BANDS}) + 1e-6, 6)
         AS s_curve_recall_at_threshold
FROM nt CROSS JOIN nc CROSS JOIN nh
""",
    tags=("prepared-r8",),
)
def lsh_recall_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall and precision of the LSH candidate stage against
    ground truth (exact 3-gram Jaccard ≥ 0.5 via the inverted shingle
    index), next to the analytic s-curve expectation
    1−(1−J^r)^b at J = 0.5 — the empirical complement of
    ``minhash_band_sensitivity``'s purely analytic sweep, and the number
    that justifies (or indicts) the shipped band configuration on the
    REAL corpus.  All three inputs are existing bounded shapes (shingle
    inverted index, banded candidate equi-join); the audit itself is
    two 1-row aggregates joined — nothing scales beyond the dedup
    pipeline it measures."""
    sh = _shingles(spark, sf_dir)
    truth = (
        _jaccard(sh, _shared_shingles(sh))
        .where(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select("doc1", "doc2")
    )
    cand = _lsh_candidates_df(spark, sf_dir)
    hits = truth.join(cand, ["doc1", "doc2"], "left_semi")
    nt = truth.agg(F.count("*").alias("n_true_pairs"))
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nh = hits.agg(F.count("*").alias("n_hits"))
    s_curve = 1.0 - F.pow(
        1.0 - F.pow(F.lit(JACCARD_THRESHOLD), F.lit(LSH_ROWS)),
        F.lit(LSH_BANDS),
    )
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true_pairs", "n_candidates", "n_hits",
            rnd(
                F.when(F.col("n_true_pairs") > 0,
                       F.col("n_hits") / F.col("n_true_pairs"))
                .otherwise(1.0), 6,
            ).alias("recall"),
            rnd(
                F.when(F.col("n_candidates") > 0,
                       F.col("n_hits") / F.col("n_candidates"))
                .otherwise(1.0), 6,
            ).alias("candidate_precision"),
            rnd(s_curve, 6).alias("s_curve_recall_at_threshold"),
        )
    )


# --------------------------------------------------------------------------
# dedup token-savings ledger
# --------------------------------------------------------------------------

_SAVINGS_ORACLE = """
WITH groups AS (
  SELECT source, md5(text) AS fp, count(*) AS n_copies,
         max(len(list_filter(string_split(text, ' '), t -> t != ''))) AS tok
  FROM documents GROUP BY 1, 2
),
per_source AS (
  SELECT source,
         CAST(sum(n_copies) AS BIGINT) AS n_docs,
         count(*) AS n_unique_docs,
         CAST(sum(n_copies * tok) AS BIGINT) AS tokens_total,
         CAST(sum(tok) AS BIGINT) AS tokens_kept
  FROM groups GROUP BY source
)
SELECT source, n_docs, n_unique_docs, tokens_total, tokens_kept,
       round(1.0 - tokens_kept / CAST(tokens_total AS DOUBLE) + 1e-6, 6)
         AS savings_share
FROM per_source
"""


@register("dedup_token_savings", oracle=_SAVINGS_ORACLE, tags=("prepared-r8",))
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP TOKEN-SAVINGS LEDGER per source: total tokens scanned vs
    tokens remaining after exact dedup (one representative per distinct
    text), and the savings share — the number that turns a dedup pass
    into a training-compute budget line ("exact dedup alone cuts N% of
    this source's token bill"). Sits on top of ``exact_dedup``'s
    fingerprint machinery but reports the TOKEN economics, not the row
    counts.

    Scale shape: two stacked combinable hash aggregates (source x
    fingerprint, then source) — duplicate texts share a token count by
    construction, so no join against a keeper table is needed."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(
        F.filter(F.split("text", " "), lambda t: t != "")
    ).cast("long")
    groups = docs.select(
        "source", F.md5("text").alias("fp"), ntok.alias("ntok")
    ).groupBy("source", "fp").agg(
        F.count("*").alias("n_copies"), F.max("ntok").alias("tok")
    )
    per_source = groups.groupBy("source").agg(
        F.sum("n_copies").alias("n_docs"),
        F.count("*").alias("n_unique_docs"),
        F.sum(F.col("n_copies") * F.col("tok")).alias("tokens_total"),
        F.sum("tok").alias("tokens_kept"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_unique_docs",
        "tokens_total",
        "tokens_kept",
        rnd(
            1.0 - F.col("tokens_kept") / F.col("tokens_total").cast("double"),
            6,
        ).alias("savings_share"),
    )


# --------------------------------------------------------------------------
# content-defined chunking dedup
# --------------------------------------------------------------------------

#: a token position ends a chunk when the rolling trigram hash is
#: 0 mod CDC_MOD (expected chunk length = CDC_MOD tokens).
CDC_MOD = 16


def _cdc_oracle() -> str:
    h = _SQL_HASH.format(x="tri")
    return f"""
WITH toks AS (
  SELECT doc_id, source, t.pos, t.tok
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
                       generate_subscripts(string_split(text, ' '), 1) AS pos)
         t
  WHERE t.tok != ''
),
flagged AS (
  SELECT doc_id, source, pos, tok,
         CASE WHEN {h} % {CDC_MOD} = 0 THEN 1 ELSE 0 END AS boundary
  FROM (
    SELECT doc_id, source, pos, tok,
           concat_ws('|',
                     lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),
                     lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
                     tok) AS tri
    FROM toks
  )
),
chunked AS (
  SELECT doc_id, source, pos, tok,
         COALESCE(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM flagged
),
chunks AS (
  SELECT doc_id, source, chunk_id,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS fp,
         count(*) AS n_tokens
  FROM chunked GROUP BY 1, 2, 3
)
SELECT source,
       count(*) AS n_chunks,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_chunks,
       round(avg(n_tokens) + 1e-6, 2) AS avg_chunk_tokens,
       round(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE) + 1e-6, 6)
         AS dup_chunk_share
FROM chunks GROUP BY source
"""


@register("cdc_chunk_dedup", oracle=_cdc_oracle(), tags=("prepared-r8",))
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup: chunk boundaries fall where the
    rolling trigram hash hits 0 mod ``CDC_MOD`` (expected chunk ~16
    tokens), so chunk identity is anchored to CONTENT, not position —
    an insertion near a document's head re-shifts every fixed-stride
    window of ``doc_chunking`` but perturbs exactly one CDC chunk.
    Reports, per source, the chunk-level duplication ledger (chunks,
    distinct chunks, duplicated share) — the storage-dedup view of
    corpus redundancy, complementing the document-level
    ``dedup_token_savings``.

    Scale shape: boundary flags are a zero-join per-token expression
    (md5 of the token trigram), chunk ids one bounded per-doc window
    cumsum, chunk fingerprints a per-chunk listagg-equivalent ordered
    aggregate, and the ledger two stacked hash aggs."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            "source",
            F.posexplode(F.split("text", " ")).alias("pos", "tok"),
        )
        .where(F.col("tok") != "")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    tri = F.concat_ws(
        "|",
        F.lag("tok", 2).over(wdoc),
        F.lag("tok", 1).over(wdoc),
        F.col("tok"),
    )
    flagged = toks.select(
        "doc_id",
        "source",
        "pos",
        "tok",
        (_portable_hash(tri) % CDC_MOD == 0).cast("int").alias("boundary"),
    )
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = flagged.select(
        "doc_id",
        "source",
        "pos",
        "tok",
        F.coalesce(F.sum("boundary").over(wcum), F.lit(0)).alias("chunk_id"),
    )
    chunks = chunked.groupBy("doc_id", "source", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("pos", "tok"))).getField("tok")
            )
        ).alias("fp"),
        F.count("*").alias("n_tokens"),
    )
    return chunks.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("fp").alias("n_distinct_chunks"),
        rnd(F.avg("n_tokens"), 2).alias("avg_chunk_tokens"),
        rnd(
            1.0 - F.countDistinct("fp") / F.count("*").cast("double"), 6
        ).alias("dup_chunk_share"),
    )


# --------------------------------------------------------------------------
# boilerplate prefix clusters
# --------------------------------------------------------------------------

BP_PREFIX_TOKENS = 8  #: leading tokens hashed into the prefix key


_BP_ORACLE = f"""
SELECT md5(array_to_string(string_split(text, ' ')[1:{BP_PREFIX_TOKENS}],
            ' ')) AS prefix_hash,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       min(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
HAVING count(*) > 1
"""


@register(
    "boilerplate_prefix_clusters",
    oracle=_BP_ORACLE,
    tags=("prepared-r10",),
)
def boilerplate_prefix_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BOILERPLATE PREFIX CLUSTERS: documents sharing their first
    BP_PREFIX_TOKENS tokens, grouped — the cheap detector for
    templated headers/licenses/navigation chrome that exact-dedup
    misses (the bodies differ) and MinHash underweights (the shared
    prefix is a small fraction of the shingle set). Emits one row per
    duplicated prefix with its document count, source spread, and
    canonical (minimum) doc id; the prefix itself travels as an md5
    key so row width stays constant.

    Scale shape: ONE map-only prefix projection + ONE combinable
    groupBy on the prefix hash; HAVING count > 1 prunes the
    (overwhelming) singleton mass before any downstream use."""
    docs = load(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split("text", " "), 1, BP_PREFIX_TOKENS), " "
    )
    g = (
        docs.select(
            F.md5(prefix).alias("prefix_hash"),
            "doc_id",
            "source",
        )
        .groupBy("prefix_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )
    return g
