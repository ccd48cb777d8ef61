"""Graph analytics over relational data: fixed-iteration PageRank.

The dedup family already ships one graph algorithm (transitive-closure
label propagation, pipeline/dedup.py); this module adds the other
workhorse — PageRank — over a graph DERIVED from the warehouse tables:
suppliers are vertices, and two suppliers are adjacent when they
co-supply at least one order (a lineitem self-join on the order key).
Centrality over a co-occurrence projection is the standard shape for
entity-importance scoring (co-purchase graphs, author co-citation,
domain co-linking) and needs no dedicated graph store.

Scale notes (100 TB):
- Edge derivation is an equi-join on the order key — candidate pairs are
  per-order supplier pairs (orders are small sets), never supplier².
- Each PageRank round is one equi-join (ranks x edges on src) + one hash
  aggregate on dst: map-side partial sums make shuffle volume O(edges)
  with combining, and the iteration count is fixed, so the whole plan is
  ITERS joined stages Catalyst can pipeline — no driver round-trips, no
  collect anywhere (vertex count rides along as a broadcast 1-row agg).
- Fixed iteration count (power iteration truncated at PR_ITERS) is the
  production batch form — convergence-loop PageRank adds a driver-side
  delta check per round for little accuracy at rank-ordering use cases.

Determinism: damping, iteration count, and the unweighted distinct-pair
edge set are fixed; per-vertex sums differ from the oracle only by float
summation order (absorbed by rounding). Dangling vertices (no co-supply
edge) contribute no outflow — their mass leaves the system, matching the
oracle's LEFT JOIN formulation on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd

PR_DAMPING = 0.85
PR_ITERS = 3


def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR_ITERS rounds of PageRank on the supplier co-supply graph.

    Emits every supplier with its normalized rank (rank x vertex-count,
    so 1.0 is the uniform-centrality baseline) and degree. The oracle
    replays the identical power iteration as unrolled CTEs, making an
    iterative graph algorithm value-hash-checkable.
    """
    from flink_cookbook_spark.pipeline._cache import memo_persist

    sup = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node")
    )

    def build_edges() -> DataFrame:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        per_order = li.distinct()
        a = per_order.select(F.col("l_orderkey"), F.col("l_suppkey").alias("src"))
        b = per_order.select(F.col("l_orderkey"), F.col("l_suppkey").alias("dst"))
        return (
            a.join(b, "l_orderkey")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()  # unweighted: adjacency, not co-supply multiplicity
        )

    # materialize the EDGE LIST once, partitioned by the iteration join
    # key (hashpartitioning(src), visible through InMemoryTableScan).
    # The degree aggregate and the edges-with-degree join are re-derived
    # lazily by each consumer, but both reuse the memo's partitioning —
    # no exchange — so each round shuffles only the RANK table (one row
    # per node) while the edge list, the big side at any real graph
    # scale, never moves again. Without persistence Catalyst also
    # re-derived the distinct+self-join lineage PR_ITERS + 1 times
    # inside one plan tree (the iteration loop itself stays fully lazy).
    def build_edges_partitioned() -> DataFrame:
        # NOTE: the repartition must be the memo's TOP node — a
        # repartition under a further join would be elided as redundant
        # at physical planning and the runtime broadcast-join demotion
        # would leave the cached relation partitioned by (src, dst).
        return build_edges().repartition("src")

    edges = memo_persist(spark, "pagerank_edges", sf_dir, build_edges_partitioned)
    # both derivations reuse the memo's hashpartitioning(src): the degree
    # aggregate needs no exchange and the adjacency side of every
    # iteration join never moves again
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    out_flow = edges.join(deg, "src")
    # vertex count as broadcast DATA (1-row aggregate), not a collect:
    # the plan stays fully lazy and cluster-side.
    nc = sup.agg(F.count("*").alias("nc"))
    ranks = sup.crossJoin(F.broadcast(nc)).select(
        "node", "nc", (F.lit(1.0) / F.col("nc")).alias("pr")
    )
    for _ in range(PR_ITERS):
        contrib = (
            out_flow.join(
                ranks.select(F.col("node").alias("src"), "pr"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("inflow"))
        )
        ranks = (
            ranks.select("node", "nc")
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                "nc",
                (
                    (1.0 - PR_DAMPING) / F.col("nc")
                    + PR_DAMPING * F.coalesce("inflow", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        ranks.join(deg.withColumnRenamed("src", "node"), "node", "left")
        .select(
            F.col("node").alias("s_suppkey"),
            F.coalesce("deg", F.lit(0)).alias("degree"),
            rnd(F.col("pr") * F.col("nc"), 6).alias("pr_norm"),
        )
    )


def _pagerank_oracle() -> str:
    parts = [
        """
WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM su a JOIN su b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
n AS (SELECT count(*) AS nc FROM supplier),
r0 AS (SELECT s_suppkey AS node, 1.0 / nc AS pr FROM supplier CROSS JOIN n)"""
    ]
    for i in range(PR_ITERS):
        parts.append(
            f""",
r{i + 1} AS (
  SELECT s.s_suppkey AS node,
         (1.0 - {PR_DAMPING}) / n.nc
           + {PR_DAMPING} * coalesce(sum(r.pr / d.deg), 0) AS pr
  FROM supplier s CROSS JOIN n
  LEFT JOIN edges e ON e.dst = s.s_suppkey
  LEFT JOIN r{i} r ON r.node = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY s.s_suppkey, n.nc
)"""
        )
    parts.append(
        f"""
SELECT r.node AS s_suppkey,
       coalesce(d.deg, 0) AS degree,
       round(r.pr * n.nc + 1e-6, 6) AS pr_norm
FROM r{PR_ITERS} r CROSS JOIN n
LEFT JOIN deg d ON d.src = r.node"""
    )
    return "\n".join(parts)


register(
    "supplier_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative", "bench"),
)(supplier_pagerank)


# --------------------------------------------------------------------------
# co-purchase graph degree distribution + power-law tail fit
# --------------------------------------------------------------------------

_DEGREE_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
edges AS (
  SELECT DISTINCT a.pk AS p1, b.pk AS p2
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
dirs AS (
  SELECT p1 AS p FROM edges UNION ALL SELECT p2 AS p FROM edges
),
degrees AS (
  SELECT p, count(*) AS degree FROM dirs GROUP BY p
),
hist AS (
  SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_parts
  FROM degrees GROUP BY 1
),
fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS m,
         sum(ln(CAST(degree AS DOUBLE))) AS sx,
         sum(ln(CAST(n_parts AS DOUBLE))) AS sy,
         sum(ln(CAST(degree AS DOUBLE)) * ln(CAST(n_parts AS DOUBLE))) AS sxy,
         sum(ln(CAST(degree AS DOUBLE)) * ln(CAST(degree AS DOUBLE))) AS sxx,
         CAST(sum(n_parts) AS BIGINT) AS total_parts
  FROM hist
)
SELECT h.degree, h.n_parts,
       round(h.n_parts / CAST(f.total_parts AS DOUBLE) + 1e-6, 6) AS part_share,
       round(CASE WHEN f.m * f.sxx - f.sx * f.sx > 0
                  THEN (f.m * f.sxy - f.sx * f.sy)
                       / (f.m * f.sxx - f.sx * f.sx) END + 1e-6, 4)
         AS powerlaw_slope
FROM hist h CROSS JOIN fit f
"""


@register(
    "copurchase_degree_distribution",
    oracle=_DEGREE_ORACLE,
    tags=("prepared-r8",),
)
def copurchase_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE DISTRIBUTION of the co-purchase graph (parts are nodes,
    "appeared in the same order" is an edge): per degree value, how
    many parts have it, the share, and — constant across rows — the
    log-log OLS slope over the histogram, the standard quick power-law
    tail estimate (slopes near -2..-3 are the scale-free signature;
    a flat slope means the graph is closer to random). The structural
    companion to ``supplier_pagerank``/``dedup_pair_triangles``: those
    rank nodes, this characterizes the whole topology.

    Scale shape: pairs are generated per order (basket-bounded, never
    part x part), degrees and the histogram are combinable hash
    aggregates, and the OLS fit is a 1-row aggregate over the bounded
    histogram broadcast back onto it."""
    # the edge set is a projection of the shared basket-pair-count memo
    # (part_affinity / graph_assortativity family): pairs are emitted by
    # per-basket array expansion once per session — no basket self-join,
    # and `edges` here feeds two union legs that would otherwise each
    # re-run it.
    from flink_cookbook_spark.operators.relational import basket_pair_counts

    edges = basket_pair_counts(spark, sf_dir).select("p1", "p2")
    both = edges.select(F.col("p1").alias("p"), F.col("p2").alias("q")).unionAll(
        edges.select(F.col("p2").alias("p"), F.col("p1").alias("q"))
    )
    degrees = both.groupBy("p").agg(F.count("*").alias("degree"))
    hist = degrees.groupBy("degree").agg(F.count("*").alias("n_parts"))
    x = F.log(F.col("degree").cast("double"))
    y = F.log(F.col("n_parts").cast("double"))
    fit = hist.agg(
        F.count("*").cast("double").alias("m"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum("n_parts").alias("total_parts"),
    ).select(
        F.when(
            F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
        ).alias("slope_raw"),
        "total_parts",
    )
    return hist.crossJoin(F.broadcast(fit)).select(
        "degree",
        "n_parts",
        rnd(F.col("n_parts") / F.col("total_parts"), 6).alias("part_share"),
        rnd("slope_raw", 4).alias("powerlaw_slope"),
    )


# --------------------------------------------------------------------------
# degree assortativity of the co-purchase graph
# --------------------------------------------------------------------------

_ASSORT_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
edges AS (
  SELECT DISTINCT a.pk AS p1, b.pk AS p2
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
dirs AS (
  SELECT p1, p2 FROM edges UNION ALL SELECT p2, p1 FROM edges
),
degrees AS (
  SELECT p1 AS p, count(*) AS deg FROM dirs GROUP BY p1
),
scored AS (
  SELECT CAST(da.deg AS DOUBLE) AS d1, CAST(db.deg AS DOUBLE) AS d2
  FROM dirs d
  JOIN degrees da ON d.p1 = da.p
  JOIN degrees db ON d.p2 = db.p
),
agg AS (
  SELECT count(*) AS n_directed_edges, corr(d1, d2) AS r_raw FROM scored
),
nodes AS (SELECT count(*) AS n_nodes FROM degrees)
SELECT n.n_nodes,
       CAST(a.n_directed_edges / 2 AS BIGINT) AS n_edges,
       round(a.r_raw + 1e-6, 6) AS assortativity
FROM agg a CROSS JOIN nodes n
"""


@register("graph_assortativity", oracle=_ASSORT_ORACLE, tags=("prepared-r8",))
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all (directed-both-ways)
    edges — positive means hubs prefer hubs (robust core, fragile to
    targeted removal), negative means hub-and-spoke (the typical
    retail shape). Completes the topology trio: ``supplier_pagerank``
    ranks nodes, ``copurchase_degree_distribution`` shapes the degree
    law, assortativity describes the MIXING.

    Scale shape: basket-bounded pair generation (never part x part),
    one degree aggregate, two degree-lookup joins keyed on the node,
    and a 1-row moment aggregate for the correlation.

    The edge list comes from the memoized basket-pair-count table
    (round-9 tier-2 bench finding, round-13 array-expansion rewrite):
    ``dirs`` feeds three consumers (the degree aggregate and both sides
    of the degree lookup), and left lazy, Catalyst re-ran the basket
    pair generation for each — the shared memo materializes the pair
    set once per session, with no basket self-join at all."""
    from flink_cookbook_spark.operators.relational import basket_pair_counts

    edges = basket_pair_counts(spark, sf_dir).select("p1", "p2")
    dirs = edges.unionAll(
        edges.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    degrees = dirs.groupBy(F.col("p1").alias("p")).agg(
        F.count("*").alias("deg")
    )
    scored = (
        dirs.join(degrees.select(F.col("p").alias("p1"), F.col("deg").alias("d1")), "p1")
        .join(degrees.select(F.col("p").alias("p2"), F.col("deg").alias("d2")), "p2")
    )
    agg = scored.agg(
        F.count("*").alias("n_directed_edges"),
        F.corr(F.col("d1").cast("double"), F.col("d2").cast("double")).alias(
            "r_raw"
        ),
    )
    nodes = degrees.agg(F.count("*").alias("n_nodes"))
    return agg.crossJoin(F.broadcast(nodes)).select(
        "n_nodes",
        (F.col("n_directed_edges") / 2).cast("long").alias("n_edges"),
        rnd("r_raw", 6).alias("assortativity"),
    )
