"""Graph analytics over relational edge lists: degree distributions and
triangle counting on the co-purchase graph.

Reference analog: the reference models region hierarchies and cube
cross-references implicitly (``genesapi/schema.py`` upstream aggregates a
catalog *tree*); these operators make the graph surface explicit the way a
recommendations / entity-resolution pipeline needs it — nodes and edges as
DataFrames, structural metrics as joins and aggregates (no graph runtime:
at 100 TB the edge list IS the scalable representation, and Catalyst plans
the traversals as hash joins).

Scale notes: the co-purchase edge list is generated in-row from baskets
(Σk² fan-out, never O(n²) — q_affinity_pairs documents the whale-basket
cap). Degree is one hash aggregate over the (symmetrized) edge endpoints.
Triangle counting joins edges along the canonical orientation a<b<c, so
each triangle is produced exactly once and the join fan-out is bounded by
per-node degree — the standard distributed triangle algorithm (node-iterator
on an oriented edge list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from genesapi_cli_spark.io import (
    CACHE,
    load,
    spread,
    source_stamps,
)
from genesapi_cli_spark.registry import register

#: SQL shared by both graph oracles: the ≥2-support co-purchase edge list,
#: canonically oriented part_a < part_b (mirrors q_affinity_pairs).
_EDGES_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 2
)
"""


def copurchase_edges(li: DataFrame) -> DataFrame:
    """≥2-support co-purchase edges (pa < pb), generated in-row per basket.

    spread() by the basket key first: the single-row-group parquet scan
    plans ONE partition, so the basket collect + pair explode would run
    single-core; repartitioning by l_orderkey satisfies the groupBy's
    required distribution (no second Exchange) and parallelizes the whole
    pipeline (measured 1.45s → 0.8s at sf0.1, shared by every graph query).
    """
    baskets = (
        spread(li.select("l_orderkey", "l_partkey"), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), "
                "y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("pa", "pb", "support")
    )


# Session-scoped memo (io.CACHE) of the materialized co-purchase edge
# relation. The graph family all consumes the SAME
# derived edge table; q_layout_edges certifies its persisted-lake form, and
# this memo is the runtime counterpart — the first graph query in a session
# pays the build (lazy localCheckpoint, materialized by that query's own
# action), every later one reads the cached blocks, exactly as production
# queries would read the persisted table instead of re-deriving it from
# 100 TB of lineitem. Results are identical with or without the memo; it
# never crosses sessions or scale factors.
def build_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-checkpointed edge plan — separate from the memoizing wrapper
    so the plan-snapshot gate fingerprints the shared subtree."""
    return copurchase_edges(load(spark, sf_dir, "lineitem"))


def shared_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CACHE.get_or_build(
        spark, "copurchase_edges", lambda: build_copurchase_edges(spark, sf_dir), sf_dir,
        source_stamps(sf_dir, "lineitem"), checkpoint=True,
    )


_DEGREE_ORACLE = f"""{_EDGES_SQL}, deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT pa AS node FROM edges UNION ALL SELECT pb AS node FROM edges)
  GROUP BY node
)
SELECT degree, COUNT(*) AS n_nodes
FROM deg
GROUP BY degree
"""


@register("q_graph_degree", oracle=_DEGREE_ORACLE)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph (how many parts have k
    co-purchase partners) — the first structural profile any graph pipeline
    computes, and the skew diagnostic that decides whether downstream joins
    need hub-salting.

    Plan: symmetrize the oriented edge list with a cheap UNION ALL of two
    projections (no join), then two hash aggregates. At 100 TB the edge list
    shuffles once on node; hubs are the documented skew risk.
    """
    # The edge pipeline (basket collect + pair explode + support agg) feeds
    # BOTH union branches; a lazy localCheckpoint materializes it once and
    # the branches read the cached blocks (Catalyst does not dedupe repeated
    # non-exchange subtrees). Same pattern as connected_components; at scale
    # a derived edge table this hot would be persisted to the lake instead.
    edges = shared_copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("pa").alias("node")).unionAll(
        edges.select(F.col("pb").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


_TRIANGLES_ORACLE = f"""{_EDGES_SQL}
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
       (SELECT COUNT(*) FROM edges) AS n_edges
FROM edges e1
JOIN edges e2 ON e2.pa = e1.pb
JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""


@register("q_graph_triangles", oracle=_TRIANGLES_ORACLE)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-purchase graph — the clustering-coefficient
    numerator (community density, link-spam detection, graph QA).

    The canonical orientation pa < pb makes every triangle a<b<c appear
    EXACTLY once as (a,b)+(b,c)+(a,c), so the count needs no /6 correction
    and — the scale property — the wedge join (a,b)⋈(b,c) fans out by
    out-degree of the MIDDLE node under the orientation, which truncates hub
    explosion (classic oriented node-iterator). Two hash joins on node keys,
    one global count.
    """
    # One materialization of the edge pipeline for the four consumers
    # (3 join branches + the edge count) — see q_graph_degree.
    edges = shared_copurchase_edges(spark, sf_dir)
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    wedges = e1.join(e2, F.col("b") == F.col("b2"))
    tri = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")).crossJoin(
        F.broadcast(n_edges)
    )


# --- q_graph_pagerank -------------------------------------------------------

PR_ITERS = 3
PR_SCALE = 1_000_000_000_000  # rank mass carried as scaled integers


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank in pure BIGINT arithmetic: rank mass
    is scaled by 10^12 and every step uses integer floor division, so Spark
    and DuckDB agree bit-for-bit (float summation order never enters)."""
    iters = []
    for k in range(1, PR_ITERS + 1):
        prev = "r0" if k == 1 else f"r{k - 1}"
        iters.append(f"""r{k} AS (
  SELECT d.node,
         (15 * ({PR_SCALE} // nn.n) + 85 * COALESCE(c.s, 0)) // 100 AS r
  FROM deg d CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM(p.r // d2.degree) AS BIGINT) AS s
    FROM sym e
    JOIN {prev} p ON e.src = p.node
    JOIN deg d2 ON d2.node = e.src
    GROUP BY e.dst
  ) c ON c.node = d.node
)""")
    chain = ",\n".join(iters)
    return f"""{_EDGES_SQL}, sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
), deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY src
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg
), r0 AS (
  SELECT d.node, CAST({PR_SCALE} // nn.n AS BIGINT) AS r FROM deg d CROSS JOIN nn
),
{chain}
SELECT node, r AS rank_scaled FROM r{PR_ITERS}
"""


@register("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the (undirected, symmetrized)
    co-purchase graph — the canonical "importance" metric next to degree and
    triangles, and the repo's showcase that SHORT iterative algorithms can
    stay fully declarative: 3 power iterations unroll into ONE Catalyst plan
    (no driver loop, no checkpoint barrier — contrast connected_components,
    which genuinely needs unbounded iteration).

    Parity engineering: rank mass is a scaled BIGINT (×10^12) and every
    damping/contribution step is integer floor division — deterministic and
    engine-identical, with no float accumulation anywhere. The truncation
    error vs real-valued PageRank is ≤ N·degree ulps of 10^-12 — irrelevant
    for ranking use, and the price of a bit-exact differential oracle on an
    iterative algorithm.

    Scale shape: per iteration, one hash join rank⋈edges on src (edges
    pre-partitioned once at scale), one map-side-combinable SUM by dst, one
    broadcast of the single-row node count. Hub skew inherits q_graph_degree's
    diagnostics; at 100 TB the 3 iterations are 3 shuffle rounds of the rank
    table (8 bytes/node), NOT of the edge list.
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    sym = edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    base = F.expr(f"{PR_SCALE} div n")
    # degree rides INSIDE the rank table so each iteration is ONE join on the
    # edge list + one aggregate — not a second degree join per round.
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        "node", "degree", base.cast("bigint").alias("r")
    )
    for _ in range(PR_ITERS):
        contrib = (
            sym.join(ranks, sym.src == ranks.node)
            .select("dst", F.expr("r div degree").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = (
            deg.crossJoin(F.broadcast(nn))
            .join(contrib, F.col("node") == contrib.dst, "left")
            .select(
                "node",
                "degree",
                F.expr(f"(15 * ({PR_SCALE} div n) + 85 * coalesce(s, 0L)) div 100")
                .cast("bigint")
                .alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank_scaled"))


# --- q_graph_jaccard (neighbor-overlap node similarity) ----------------------

_JACCARD_MIN_BP = 2000  # keep pairs with Jaccard >= 0.20 (basis points)
_JACCARD_DEG_CAP = 8   # hub truncation: wedge only each node's 8 smallest neighbors

_JACCARD_ORACLE = f"""{_EDGES_SQL}, sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
), capped AS (
  SELECT src, dst FROM (
    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
    FROM sym
  ) WHERE rn <= {_JACCARD_DEG_CAP}
), deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM capped GROUP BY src
), wedges AS (
  SELECT a.dst AS u, b.dst AS v, CAST(COUNT(*) AS BIGINT) AS inter
  FROM capped a JOIN capped b ON a.src = b.src AND a.dst < b.dst
  GROUP BY a.dst, b.dst
)
SELECT w.u, w.v, w.inter, du.degree AS deg_u, dv.degree AS deg_v,
       FLOOR(CAST(w.inter AS DOUBLE)
             / (du.degree + dv.degree - w.inter) * 10000 + 0.5) / 10000
         AS jaccard_r4
FROM wedges w
JOIN deg du ON du.node = w.u
JOIN deg dv ON dv.node = w.v
WHERE w.inter * 10000 >= {_JACCARD_MIN_BP} * (du.degree + dv.degree - w.inter)
"""


@register("q_graph_jaccard", oracle=_JACCARD_ORACLE)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap (Jaccard) node similarity over the co-purchase
    graph: products whose neighbor SETS agree ≥20% — "customers who bought
    X's companions also bought Y's" — the item-item collaborative-filtering
    primitive, next to degree (volume), triangles (cohesion), and PageRank
    (importance).

    Parity: common-neighbor counts come from the same oriented wedge join
    as q_graph_triangles; the similarity filter is an exact
    integer cross-multiplied predicate (no float compare decides
    membership), and the reported Jaccard is one double division snapped r4.

    Scale shape: wedges are an equi self-join on the shared neighbor — the
    quadratic work is per-node fan-out (Σ deg²), the known hub-skew cost
    the degree query diagnoses. A hot item appearing in many baskets blows
    the wedge count up quadratically at 100×, so adjacency lists are
    TRUNCATED to each node's {_JACCARD_DEG_CAP} smallest neighbors before
    wedging (deterministic top-d by dst — the stop-shingle / whale-basket
    cap of joins.py applied to graphs; similarity is then computed over the
    capped neighbor sets on both engines, the standard bounded-recall
    approximation). Per-node wedge work is thereby ≤ C(d,2) regardless of
    skew. Degrees join back by node key; no cartesian anywhere.
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    sym = edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    wcap = Window.partitionBy("src").orderBy("dst")
    # One shared materialization: capped feeds deg + both wedge sides, so the
    # truncation window runs once, not three times.
    capped = (
        sym.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _JACCARD_DEG_CAP)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    deg = capped.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    wedges = (
        a.join(
            b,
            (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") < F.col("b.dst")),
        )
        .groupBy(F.col("a.dst").alias("u"), F.col("b.dst").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    union_size = F.col("deg_u") + F.col("deg_v") - F.col("inter")
    return (
        wedges.join(du, "u")
        .join(dv, "v")
        .filter(F.col("inter") * 10000 >= _JACCARD_MIN_BP * union_size)
        .select(
            "u",
            "v",
            "inter",
            "deg_u",
            "deg_v",
            (
                F.floor(F.col("inter").cast("double") / union_size * 10000 + F.lit(0.5))
                / 10000
            ).alias("jaccard_r4"),
        )
    )


# --- q_graph_kcore -----------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 3

_KCORE_ORACLE = f"""{_EDGES_SQL}, e0 AS (
  SELECT pa, pb FROM edges
), k1 AS (
  SELECT node FROM (SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0)
  GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
), e1 AS (
  SELECT pa, pb FROM e0
  WHERE pa IN (SELECT node FROM k1) AND pb IN (SELECT node FROM k1)
), k2 AS (
  SELECT node FROM (SELECT pa AS node FROM e1 UNION ALL SELECT pb FROM e1)
  GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
), e2 AS (
  SELECT pa, pb FROM e1
  WHERE pa IN (SELECT node FROM k2) AND pb IN (SELECT node FROM k2)
), k3 AS (
  SELECT node FROM (SELECT pa AS node FROM e2 UNION ALL SELECT pb FROM e2)
  GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
), e3 AS (
  SELECT pa, pb FROM e2
  WHERE pa IN (SELECT node FROM k3) AND pb IN (SELECT node FROM k3)
)
SELECT * FROM (
  SELECT 1 AS round, (SELECT CAST(COUNT(*) AS BIGINT) FROM k1) AS n_nodes,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_edges
  UNION ALL
  SELECT 2, (SELECT COUNT(*) FROM k2), (SELECT COUNT(*) FROM e2)
  UNION ALL
  SELECT 3, (SELECT COUNT(*) FROM k3), (SELECT COUNT(*) FROM e3)
)
ORDER BY round
"""


@register("q_graph_kcore", oracle=_KCORE_ORACLE)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core peeling of the co-purchase graph: iteratively drop nodes with
    degree < 2 and their incident edges, reporting surviving node/edge
    counts after each of 3 peel rounds — the standard "remove the dangling
    fringe before community detection" preprocessing, and the per-round
    trace shows convergence (the testdata graph stabilizes by round 3).

    Scale shape: the rounds are UNROLLED into one declarative plan — a
    fixed round budget, no driver-synchronized `.count()` loop (the same
    design rule as the log-round connected components). Each round is one
    degree aggregate + two semi-joins on the surviving node set; the edge
    list is checkpointed once at the start so the peel rounds reread cached
    blocks instead of regenerating baskets."""
    edges = shared_copurchase_edges(spark, sf_dir)
    per_round = []
    e = edges
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("pa").alias("node"))
            .unionAll(e.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= _KCORE_K).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "pa"), "pa", "semi")
            .join(keep.withColumnRenamed("node", "pb"), "pb", "semi")
            .select("pa", "pb")
            .localCheckpoint(eager=False)
        )
        per_round.append(
            keep.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .crossJoin(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
            .select(F.lit(rnd).cast("int").alias("round"), "n_nodes", "n_edges")
        )
    out = per_round[0]
    for df in per_round[1:]:
        out = out.unionAll(df)
    return out.orderBy("round")


# --- q_graph_reach2 (two-hop reach / audience expansion) ---------------------

_REACH_DEG_CAP = 8  # same hub truncation as q_graph_jaccard

_REACH2_ORACLE = f"""{_EDGES_SQL}, sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
), capped AS (
  SELECT src, dst FROM (
    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
    FROM sym
  ) WHERE rn <= {_REACH_DEG_CAP}
), hop2 AS (
  SELECT a.src AS node, b.dst AS reached
  FROM capped a JOIN capped b ON a.dst = b.src
  WHERE b.dst <> a.src
  UNION
  SELECT src AS node, dst AS reached FROM capped
), reach AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS reach2 FROM hop2 GROUP BY node
), deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM capped GROUP BY src
)
SELECT r.reach2 - d.degree AS extra_reach,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(d.degree) AS BIGINT) AS sum_degree
FROM reach r JOIN deg d USING (node)
GROUP BY extra_reach
"""


@register("q_graph_reach2", oracle=_REACH2_ORACLE)
def q_graph_reach2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-HOP REACH (friend-of-friend audience) distribution over the
    co-purchase graph: for each product, the number of distinct products
    within ≤2 hops (who else would a recommendation through one shared
    neighbor touch), reported as the distribution of EXTRA reach beyond
    direct degree — the expansion metric behind influence/seed selection
    and recommendation blast-radius estimates.

    Scale shape: the 2-hop set is the same oriented wedge join as
    q_graph_triangles/q_graph_jaccard, and like them it is degree-CAPPED
    first (each node's {_REACH_DEG_CAP} smallest neighbors) because
    2-hop fan-out through an uncapped hub is the canonical quadratic
    blow-up (Σ deg² with a 100×-scale hot item in every basket). The
    UNION with 1-hop edges deduplicates reach set-wise (a UNION is a
    distinct aggregate, map-side combinable); self-paths are excluded.
    The final rollup is a count-of-counts like q_orders_basket_dist.
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    sym = edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    wcap = Window.partitionBy("src").orderBy("dst")
    capped = (
        sym.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _REACH_DEG_CAP)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    a = capped.alias("a")
    b = capped.alias("b")
    hop2 = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .filter(F.col("b.dst") != F.col("a.src"))
        .select(F.col("a.src").alias("node"), F.col("b.dst").alias("reached"))
        .union(capped.select(F.col("src").alias("node"), F.col("dst").alias("reached")))
        .distinct()
    )
    reach = hop2.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("reach2"))
    deg = capped.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    return (
        reach.join(deg, "node")
        .groupBy((F.col("reach2") - F.col("degree")).alias("extra_reach"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("degree").cast("bigint").alias("sum_degree"),
        )
    )


# --- q_graph_label_prop -------------------------------------------------------

_LPA_ORACLE = f"""{_EDGES_SQL}, sym AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL
  SELECT pb AS u, pa AS v FROM edges
), l1 AS (
  SELECT u, l FROM (
    SELECT u, v AS l,
           row_number() OVER (PARTITION BY u ORDER BY COUNT(*) DESC, v) AS rn
    FROM sym GROUP BY u, v) t
  WHERE rn = 1
), l2 AS (
  SELECT u, l FROM (
    SELECT s.u, l1.l,
           row_number() OVER (PARTITION BY s.u ORDER BY COUNT(*) DESC, l1.l) AS rn
    FROM sym s JOIN l1 ON l1.u = s.v
    GROUP BY s.u, l1.l) t
  WHERE rn = 1
), comm AS (
  SELECT l, CAST(COUNT(*) AS BIGINT) AS community_size FROM l2 GROUP BY l
)
SELECT community_size, CAST(COUNT(*) AS BIGINT) AS n_communities
FROM comm GROUP BY community_size ORDER BY community_size
"""


@register("q_graph_label_prop", oracle=_LPA_ORACLE)
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-PROPAGATION community detection (2 synchronous unrolled
    rounds) on the co-purchase graph — the near-linear community algorithm
    entity-resolution and recommendation pipelines run where connected
    components (q_dedup_clusters) is too coarse: labels start as node ids
    and each round every node adopts the MOST FREQUENT label among its
    neighbors (ties → smallest label), so dense neighborhoods agree on a
    label while bridges don't drag whole components together. The output
    pins the community-size distribution (size → how many communities).

    Determinism: synchronous updates + the (count DESC, label ASC)
    tie-break make every round a pure function of the edge set — no
    randomized vertex order (the asynchronous variant's
    reproducibility problem), hence a bit-exact oracle.

    Scale shape per round: ONE shuffle join (labels on v) + ONE (u, label)
    hash aggregate + a per-u top-1 window — all keyed on node id, the same
    partitioning every round (at 100 TB: pre-partition sym by u once and
    the per-round shuffles reduce to the label join). Rounds are unrolled
    like connected_components; hubs are the documented skew risk and get
    the same salting answer.
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    sym = (
        edges.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionAll(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
        .localCheckpoint(eager=False)
    )

    def mode_round(neigh_labels: DataFrame) -> DataFrame:
        """(u, l) candidate multiset → per-u modal label, tie → min l."""
        w = Window.partitionBy("u").orderBy(F.col("c").desc(), F.col("l"))
        return (
            neigh_labels.groupBy("u", "l")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("u", "l")
        )

    l1 = mode_round(sym.select("u", F.col("v").alias("l"))).localCheckpoint(
        eager=False
    )
    l2 = mode_round(
        sym.join(l1.select(F.col("u").alias("v"), "l"), "v").select("u", "l")
    )
    return (
        l2.groupBy("l")
        .agg(F.count(F.lit(1)).cast("bigint").alias("community_size"))
        .groupBy("community_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_communities"))
        .orderBy("community_size")
    )


# --- q_graph_sssp -----------------------------------------------------------

_SSSP_ORACLE = f"""{_EDGES_SQL}, sym AS (
  SELECT pa AS u, pb AS v, 1 + (pa + pb) % 5 AS wt FROM edges
  UNION ALL
  SELECT pb AS u, pa AS v, 1 + (pa + pb) % 5 AS wt FROM edges
), d0 AS (
  SELECT MIN(u) AS node, CAST(0 AS BIGINT) AS d FROM sym
), r1 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM d0
    UNION ALL
    SELECT s.v AS node, d0.d + s.wt AS d FROM d0 JOIN sym s ON d0.node = s.u
  ) GROUP BY node
), r2 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM r1
    UNION ALL
    SELECT s.v AS node, r1.d + s.wt AS d FROM r1 JOIN sym s ON r1.node = s.u
  ) GROUP BY node
), r3 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM r2
    UNION ALL
    SELECT s.v AS node, r2.d + s.wt AS d FROM r2 JOIN sym s ON r2.node = s.u
  ) GROUP BY node
)
SELECT d AS distance, COUNT(*) AS n_nodes, MIN(node) AS min_node
FROM r3 GROUP BY d ORDER BY d
"""


@register("q_graph_sssp", oracle=_SSSP_ORACLE)
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths, 3 unrolled min-plus relaxation
    rounds (Bellman-Ford) from the smallest node of the co-purchase graph,
    with deterministic integer edge weights wt = 1 + (pa + pb) % 5. Output
    is the distance distribution (distance -> node count + smallest node at
    that distance) over everything reachable within 3 edges.

    Exactness: all-integer min-plus — no float, no tie ambiguity (MIN over
    bigint), so the oracle is bit-exact. Both engines compute ``%`` on
    positive operands identically.

    Scale shape: the frontier relation joins the symmetrized edge list once
    per round on the SAME key (node = u) — at 100 TB, pre-partition sym by u
    once and every round reuses that partitioning; the per-round groupBy-min
    is keyed on node too. Rounds are unrolled into ONE submitted plan
    (pattern of connected_components / q_graph_label_prop); lazy
    localCheckpoints bound plan growth. Dijkstra's priority queue does not
    distribute — synchronous Bellman-Ford rounds are the scalable form.
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    wt = (F.lit(1) + (F.col("pa") + F.col("pb")) % 5).cast("bigint").alias("wt")
    sym = (
        edges.select(F.col("pa").alias("u"), F.col("pb").alias("v"), wt)
        .unionAll(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v"), wt))
        .localCheckpoint(eager=False)
    )
    dist = sym.agg(F.min("u").alias("node")).select(
        "node", F.lit(0).cast("bigint").alias("d")
    )
    for _ in range(3):
        d_a, s_a = dist.alias("dst"), sym.alias("sym")
        cand = d_a.join(s_a, F.col("dst.node") == F.col("sym.u")).select(
            F.col("sym.v").alias("node"),
            (F.col("dst.d") + F.col("sym.wt")).alias("d"),
        )
        dist = (
            dist.unionAll(cand)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    return (
        dist.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").alias("min_node"),
        )
        .select(F.col("d").alias("distance"), "n_nodes", "min_node")
        .orderBy("distance")
    )


# --- q_graph_modularity -----------------------------------------------------

_MODULARITY_ORACLE = f"""{_EDGES_SQL}, sym AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL
  SELECT pb AS u, pa AS v FROM edges
), l1 AS (
  SELECT u, l FROM (
    SELECT u, v AS l,
           row_number() OVER (PARTITION BY u ORDER BY COUNT(*) DESC, v) AS rn
    FROM sym GROUP BY u, v) t
  WHERE rn = 1
), l2 AS (
  SELECT u, l FROM (
    SELECT s.u, l1.l,
           row_number() OVER (PARTITION BY s.u ORDER BY COUNT(*) DESC, l1.l) AS rn
    FROM sym s JOIN l1 ON l1.u = s.v
    GROUP BY s.u, l1.l) t
  WHERE rn = 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM edges
), e_in AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS intra
  FROM edges e
  JOIN l2 la ON la.u = e.pa
  JOIN l2 lb ON lb.u = e.pb
  WHERE la.l = lb.l
), degc AS (
  SELECT CAST(SUM(dd) AS HUGEINT) AS sum_deg_sq FROM (
    SELECT l2.l, CAST(SUM(d.deg) AS HUGEINT) * CAST(SUM(d.deg) AS HUGEINT)
             AS dd
    FROM (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u) d
    JOIN l2 ON l2.u = d.u
    GROUP BY l2.l)
)
SELECT m.m_edges,
       e_in.intra,
       CAST(((4 * CAST(m.m_edges AS HUGEINT) * e_in.intra - degc.sum_deg_sq)
             * 1000000
             + 1000000 * (4 * CAST(m.m_edges AS HUGEINT) * m.m_edges))
            // (4 * CAST(m.m_edges AS HUGEINT) * m.m_edges)
            - 1000000 AS BIGINT) AS q_micro
FROM m, e_in, degc
"""


@register("q_graph_modularity", oracle=_MODULARITY_ORACLE)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 2-round label-propagation partition
    (q_graph_label_prop's communities, scored): Q = Σ_c [e_c/m −
    (deg_c/2m)²] = (4·m·Σe_c − Σdeg_c²) / (4m²) — the objective every
    community-detection pipeline reports to decide whether the partition
    beats random. Emitted in exact integer MICRO units (floor), with the
    edge count and intra-community edge count as certificates.

    Exactness: the whole expression is one integer rational — numerator and
    denominator computed in 128-bit exact integers (Spark decimal(38,0)
    compact-Int128, DuckDB HUGEINT; deg_c² at 100 TB hub scale exceeds
    int64), divided once. The numerator CAN be negative (a partition worse
    than random), where DuckDB ``//`` floors but Spark ``div`` truncates —
    so both sides add 10⁶·denominator before dividing (Q ≥ −1 keeps the
    shifted numerator non-negative, making floor == truncate) and subtract
    10⁶ after: identical floor semantics by construction.

    Scale shape: labels come from the same two synchronous LPA rounds
    (one label join + one (u,label) aggregate each); scoring adds ONE
    edge-to-labels join (both endpoints via two broadcast-or-shuffle hash
    joins on node id) and two tiny rollups. Nothing quadratic.
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    sym = (
        edges.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionAll(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
        .localCheckpoint(eager=False)
    )

    def mode_round(neigh_labels: DataFrame) -> DataFrame:
        w = Window.partitionBy("u").orderBy(F.col("c").desc(), F.col("l"))
        return (
            neigh_labels.groupBy("u", "l")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("u", "l")
        )

    l1 = mode_round(sym.select("u", F.col("v").alias("l"))).localCheckpoint(
        eager=False
    )
    l2 = mode_round(
        sym.join(l1.select(F.col("u").alias("v"), "l"), "v").select("u", "l")
    ).localCheckpoint(eager=False)

    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m_edges"))
    la = l2.select(F.col("u").alias("pa"), F.col("l").alias("la"))
    lb = l2.select(F.col("u").alias("pb"), F.col("l").alias("lb"))
    intra = (
        edges.join(la, "pa")
        .join(lb, "pb")
        .filter(F.col("la") == F.col("lb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("intra"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    d38 = lambda c: c.cast("decimal(38,0)")
    degc = (
        deg.join(l2, "u")
        .groupBy("l")
        .agg(F.sum("deg").alias("deg_c"))
        .agg(
            F.sum(d38(F.col("deg_c")) * d38(F.col("deg_c"))).alias("sum_deg_sq")
        )
    )
    return (
        m.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(degc))
        .select(
            "m_edges",
            "intra",
            F.expr(
                "cast((((4 * cast(m_edges as decimal(38,0)) * intra"
                " - sum_deg_sq) * 1000000"
                " + 1000000 * (4 * cast(m_edges as decimal(38,0)) * m_edges))"
                " div (4 * cast(m_edges as decimal(38,0)) * m_edges))"
                " - 1000000 as bigint)"
            ).alias("q_micro"),
        )
    )


# --- q_graph_assortativity --------------------------------------------------

_ASSORT_ORACLE = f"""{_EDGES_SQL}, sym AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL
  SELECT pb AS u, pa AS v FROM edges
), deg AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
), s AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
         CAST(SUM(da.d + db.d) AS HUGEINT) AS s1,
         CAST(SUM(da.d * db.d) AS HUGEINT) AS s2,
         CAST(SUM(da.d * da.d + db.d * db.d) AS HUGEINT) AS s3
  FROM edges e
  JOIN deg da ON da.node = e.pa
  JOIN deg db ON db.node = e.pb
)
SELECT CAST(m AS BIGINT) AS m_edges,
       CAST(s1 AS BIGINT) AS sum_deg_ends,
       CAST(((4 * m * s2 - s1 * s1) * 1000000
             + 1000000 * (2 * m * s3 - s1 * s1))
            // (2 * m * s3 - s1 * s1) - 1000000 AS BIGINT) AS r_micro
FROM s
"""


@register("q_graph_assortativity", oracle=_ASSORT_ORACLE)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the Pearson
    correlation of endpoint degrees across edges (Newman): positive =
    hubs link to hubs (social-style), negative = hubs link to leaves
    (infrastructure-style) — the one-number structure diagnostic that,
    with modularity, tells a pipeline whether hub-salting or
    community-blocking is the right skew strategy downstream. Computed as
    the exact integer rational r = (4M·Σjk − (Σ(j+k))²) /
    (2M·Σ(j²+k²) − (Σ(j+k))²) in MICRO units.

    Exactness: sums run in 128-bit exact integers (degree products at hub
    scale exceed int64); r ∈ [−1, 1] and the numerator is routinely
    NEGATIVE (disassortative graphs), so the division uses the same
    floor-offset trick as q_graph_modularity (+10⁶·den before //, −10⁶
    after) to pin Spark ``div`` truncation to DuckDB ``//`` floor.

    Scale shape: one degree aggregate keyed by node, two hash joins
    attaching endpoint degrees to the oriented edge list, one global
    1-row reduction. Nothing quadratic, no windows.
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    sym = edges.select(F.col("pa").alias("u")).unionAll(
        edges.select(F.col("pb").alias("u"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    da = deg.select(F.col("u").alias("pa"), F.col("d").alias("d_a"))
    db = deg.select(F.col("u").alias("pb"), F.col("d").alias("d_b"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")
    s = (
        edges.join(da, "pa")
        .join(db, "pb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum(F.col("d_a") + F.col("d_b")).cast("bigint").alias("s1"),
            F.sum(d38("d_a") * d38("d_b")).alias("s2"),
            F.sum(d38("d_a") * d38("d_a") + d38("d_b") * d38("d_b")).alias("s3"),
        )
    )
    return s.select(
        F.col("m").alias("m_edges"),
        F.col("s1").alias("sum_deg_ends"),
        F.expr(
            "cast((((4 * cast(m as decimal(38,0)) * s2"
            " - cast(s1 as decimal(38,0)) * s1) * 1000000"
            " + 1000000 * (2 * cast(m as decimal(38,0)) * s3"
            " - cast(s1 as decimal(38,0)) * s1))"
            " div (2 * cast(m as decimal(38,0)) * s3"
            " - cast(s1 as decimal(38,0)) * s1))"
            " - 1000000 as bigint)"
        ).alias("r_micro"),
    )


# --- q_graph_clustering_coeff -----------------------------------------------

_CLUSTCOEF_ORACLE = f"""{_EDGES_SQL}, tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM edges e1
  JOIN edges e2 ON e2.pa = e1.pb
  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
), tri_per_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
  ) GROUP BY node
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb AS node FROM edges
  ) GROUP BY node
), coeff AS (
  SELECT d.node, d.d,
         CAST((2 * COALESCE(t.n_tri, 0) * 1000000) // (d.d * (d.d - 1))
              AS BIGINT) AS cc_micro
  FROM deg d LEFT JOIN tri_per_node t ON t.node = d.node
  WHERE d.d >= 2
)
SELECT cc_micro // 100000 AS cc_decile,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(d) AS BIGINT) AS sum_degree
FROM coeff GROUP BY cc_decile
"""


@register("q_graph_clustering_coeff", oracle=_CLUSTCOEF_ORACLE)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering-coefficient distribution: per node with degree ≥ 2,
    cc = 2·triangles(node) / (deg·(deg−1)) in exact integer MICRO units,
    histogrammed by decile — the per-node companion to the global triangle
    count (q_graph_triangles) that tells a pipeline whether the graph is
    locally dense (community-blocking works) or tree-like (it won't).

    Exactness: triangles come from the same oriented a<b<c join (each
    triangle exactly once, credited to all three corners); cc is one
    integer floor division on non-negative operands (``div`` == ``//``),
    and the decile key is a second integer division. Bit-exact, no float.

    Scale shape: the oriented wedge join bounds fan-out by the middle
    node's out-degree (the q_graph_triangles property); per-node triangle
    credit is a UNION ALL of three projections + one hash aggregate keyed
    by node, joined to the degree table on node. The output is a ≤11-row
    histogram regardless of graph size.
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
        .localCheckpoint(eager=False)
    )
    tri_per_node = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    coeff = (
        deg.filter(F.col("d") >= 2)
        .join(tri_per_node, "node", "left")
        .select(
            "d",
            F.expr(
                "cast((2 * coalesce(n_tri, 0) * 1000000) div (d * (d - 1))"
                " as bigint)"
            ).alias("cc_micro"),
        )
    )
    return coeff.groupBy(F.expr("cc_micro div 100000").alias("cc_decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("d").cast("bigint").alias("sum_degree"),
    )


# --- q_graph_hits -----------------------------------------------------------

_HITS_ORACLE = """
WITH be AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), a1 AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS a1 FROM be GROUP BY p
), h1 AS (
  SELECT c, CAST(SUM(a1) AS BIGINT) AS h1 FROM be JOIN a1 USING (p) GROUP BY c
), a2 AS (
  SELECT p, CAST(SUM(h1) AS BIGINT) AS a2 FROM be JOIN h1 USING (c) GROUP BY p
), h2 AS (
  SELECT c, CAST(SUM(a2) AS BIGINT) AS h2 FROM be JOIN a2 USING (p) GROUP BY c
), top_auth AS (
  SELECT 'authority' AS side, p AS node_id, a2 AS score,
         ROW_NUMBER() OVER (ORDER BY a2 DESC, p) AS rank
  FROM a2
), top_hub AS (
  SELECT 'hub' AS side, c AS node_id, h2 AS score,
         ROW_NUMBER() OVER (ORDER BY h2 DESC, c) AS rank
  FROM h2
)
SELECT side, node_id, score, rank FROM top_auth WHERE rank <= 10
UNION ALL
SELECT side, node_id, score, rank FROM top_hub WHERE rank <= 10
"""


@register("q_graph_hits", oracle=_HITS_ORACLE)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the bipartite customer→part purchase
    graph (Kleinberg's algorithm, two full mutual-reinforcement rounds):
    a₁ = indegree, h₁ = Σ a₁ over a customer's parts, a₂ = Σ h₁ over a
    part's customers, h₂ = Σ a₂ — top-10 of each side. The ranking is
    invariant to HITS' usual L2 normalization (scores here are the exact
    un-normalized power-iteration numerators), so the whole computation
    stays in EXACT bigint — no float, no epsilon, no parity risk.

    Overflow bound: h₂ ≤ outdeg·max(a₂) ≤ outdeg·indeg·outdeg·indeg·1;
    with per-node degrees ~10³ at 100 TB that is ≤1e12 — 6 orders of
    magnitude under bigint.

    Scale shape: one orderkey-shuffled join builds the distinct edge list
    (checkpointed once, read by all four rounds); each HITS half-step is a
    node-keyed equi-join + hash aggregate — the standard message-passing-
    as-join pattern (same family as q_graph_pagerank, which normalizes;
    HITS' two-sided variant needs no degree division at all). Output is 20
    rows regardless of graph size.
    """
    orders, li = load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    be = (
        spread(li.select("l_orderkey", "l_partkey"), "l_orderkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Message passing wants HASH joins, not sort-merge: the score relations
    # are node-keyed aggregates consumed immediately by a re-aggregation, so
    # sorting 4x the edge list buys nothing — SHUFFLE_HASH skips the sorts
    # both locally and on a cluster (and AQE may still promote the small
    # score side to broadcast at low SF).
    a1 = be.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("a1"))
    h1 = (
        be.join(a1.hint("shuffle_hash"), "p")
        .groupBy("c")
        .agg(F.sum("a1").cast("bigint").alias("h1"))
    )
    # a2 feeds BOTH the h2 half-step and the authority top-10; the lazy
    # checkpoint materializes the 3-round prefix once instead of letting the
    # two consumers re-run it (ReuseExchange does not fire across the
    # row_number subtree).
    a2 = (
        be.join(h1.hint("shuffle_hash"), "c")
        .groupBy("p")
        .agg(F.sum("h1").cast("bigint").alias("a2"))
        .localCheckpoint(eager=False)
    )
    h2 = (
        be.join(a2.hint("shuffle_hash"), "p")
        .groupBy("c")
        .agg(F.sum("a2").cast("bigint").alias("h2"))
    )
    top_auth = (
        a2.select(
            F.lit("authority").alias("side"),
            F.col("p").alias("node_id"),
            F.col("a2").alias("score"),
            F.row_number()
            .over(Window.orderBy(F.desc("a2"), "p"))
            .alias("rank"),
        )
        .filter(F.col("rank") <= 10)
    )
    top_hub = (
        h2.select(
            F.lit("hub").alias("side"),
            F.col("c").alias("node_id"),
            F.col("h2").alias("score"),
            F.row_number()
            .over(Window.orderBy(F.desc("h2"), "c"))
            .alias("rank"),
        )
        .filter(F.col("rank") <= 10)
    )
    return top_auth.unionAll(top_hub)


# --- q_graph_recs_cf ----------------------------------------------------------

_RECS_K = 3

_RECS_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 2
), sym AS (
  SELECT pa AS src, pb AS dst, support FROM e
  UNION ALL
  SELECT pb AS src, pa AS dst, support FROM e
), ranked AS (
  SELECT src, dst, support,
         ROW_NUMBER() OVER (
           PARTITION BY src ORDER BY support DESC, dst
         ) AS rank
  FROM sym
)
SELECT src, rank, dst, support FROM ranked WHERE rank <= {_RECS_K}
"""


@register("q_graph_recs_cf", oracle=_RECS_ORACLE)
def q_graph_recs_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering recommendations: for every part, the
    top-{_RECS_K} parts most often co-purchased with it (support-ranked,
    deterministic dst tie-break) — the "customers also bought" table, i.e.
    the serving artifact the co-purchase graph family exists to produce.

    Scale shape: reuses the session's materialized ≥2-support edge relation
    (one basket pass, shared with every graph query — the persisted lake
    table at 100 TB); symmetrization is a UNION ALL of two projections (no
    join), and the top-k is one per-src window over support-ranked neighbors
    — k·|nodes| output rows. Item-item CF at catalog scale is exactly this
    plan keyed by (shard, src).
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    sym = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst"), "support"
    ).unionAll(
        edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst"), "support")
    )
    w = Window.partitionBy("src").orderBy(F.desc("support"), "dst")
    return (
        sym.select(
            "src",
            F.row_number().over(w).alias("rank"),
            "dst",
            F.col("support").cast("bigint").alias("support"),
        )
        .filter(F.col("rank") <= _RECS_K)
    )


# --- q_graph_ktruss ------------------------------------------------------------

_TRUSS_K = 3  # 3-truss: every surviving edge closes >= 1 triangle


_KTRUSS_ORACLE = f"""{_EDGES_SQL}, sup1 AS (
  SELECT e.pa, e.pb, CAST(COUNT(t.a) AS BIGINT) AS support
  FROM edges e
  LEFT JOIN (
    SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
    FROM edges e1
    JOIN edges e2 ON e2.pa = e1.pb
    JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
  ) t ON (t.a = e.pa AND t.b = e.pb)
      OR (t.b = e.pa AND t.c = e.pb)
      OR (t.a = e.pa AND t.c = e.pb)
  GROUP BY e.pa, e.pb
), keep1 AS (
  SELECT pa, pb FROM sup1 WHERE support >= {_TRUSS_K - 2}
), sup2 AS (
  SELECT e.pa, e.pb, CAST(COUNT(t.a) AS BIGINT) AS support
  FROM keep1 e
  LEFT JOIN (
    SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
    FROM keep1 e1
    JOIN keep1 e2 ON e2.pa = e1.pb
    JOIN keep1 e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
  ) t ON (t.a = e.pa AND t.b = e.pb)
      OR (t.b = e.pa AND t.c = e.pb)
      OR (t.a = e.pa AND t.c = e.pb)
  GROUP BY e.pa, e.pb
), keep2 AS (
  SELECT pa, pb FROM sup2 WHERE support >= {_TRUSS_K - 2}
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM keep1) AS n_after_r1,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM keep2) AS n_after_r2,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM keep1)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM keep2) AS n_unconverged
"""


@register("q_graph_ktruss", oracle=_KTRUSS_ORACLE)
def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_TRUSS_K}-truss peeling of the co-purchase graph (every edge must
    close ≥ {_TRUSS_K - 2} triangle): two unrolled support-count/peel rounds
    with a declarative convergence certificate (n_unconverged = edges still
    dropped in round 2; 0 ⟺ the 2-round schedule reached the fixpoint) — the
    community-core primitive one rung above q_graph_kcore (degree is a weak
    tie signal; triangle support is cohesion), and the same
    fixed-unroll-plus-certificate discipline as q_dedup_clusters.

    Per-EDGE support comes from the oriented a<b<c triangle join: each
    triangle credits its three edges via one UNION-ALL of projections, so
    support is a hash aggregate on the edge key — no per-edge subqueries.
    The left join keeps 0-support edges visible to the peel.

    Scale shape: the wedge join bounds fan-out by the middle node's oriented
    out-degree (q_graph_triangles' property); each round is 2 joins + 1
    aggregate + 1 filter over the (shrinking) edge relation. At 100 TB,
    rounds become passes over a persisted edge table with the support column
    updated in place — identical relational algebra.
    """
    edges0 = shared_copurchase_edges(spark, sf_dir).select("pa", "pb")

    def peel(edges: DataFrame) -> DataFrame:
        e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
        e2 = edges.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
        e3 = edges.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
        tri = (
            e1.join(e2, F.col("b") == F.col("b2"))
            .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
            .select("a", "b", "c")
        )
        credit = (
            tri.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
            .unionAll(tri.select(F.col("b").alias("ca"), F.col("c").alias("cb")))
            .unionAll(tri.select(F.col("a").alias("ca"), F.col("c").alias("cb")))
            .groupBy("ca", "cb")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        )
        return (
            edges.join(
                credit,
                (F.col("pa") == F.col("ca")) & (F.col("pb") == F.col("cb")),
                "left",
            )
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= _TRUSS_K - 2)
            .select("pa", "pb")
            .localCheckpoint(eager=False)
        )

    keep1 = peel(edges0)
    keep2 = peel(keep1)
    n0 = edges0.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n1 = keep1.agg(F.count(F.lit(1)).cast("bigint").alias("n_after_r1"))
    n2 = keep2.agg(F.count(F.lit(1)).cast("bigint").alias("n_after_r2"))
    return (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "n_edges",
            "n_after_r1",
            "n_after_r2",
            (F.col("n_after_r1") - F.col("n_after_r2")).alias("n_unconverged"),
        )
    )


# --- q_graph_walk_sample -----------------------------------------------------

_WALK_START_MOD = 7  # start a walk from every 7th node id


def _walk_hash_sql(start: str, step: int, nbr: str) -> str:
    """60-bit portable hash driving the 'random' neighbor choice — the SAME
    sha256 prefix on both engines, keyed by (start, step, neighbor) so each
    step of each walk draws independently."""
    s = (
        f"CAST({start} AS VARCHAR) || '-{step}-' || CAST({nbr} AS VARCHAR)"
    )
    return f"('0x' || substr(sha256({s}), 1, 15))::BIGINT"


_WALK_ORACLE = f"""{_EDGES_SQL}, sym AS (
  SELECT pa AS a, pb AS b FROM edges
  UNION ALL
  SELECT pb AS a, pa AS b FROM edges
), starts AS (
  SELECT DISTINCT a AS start FROM sym WHERE a % {_WALK_START_MOD} = 0
), s1 AS (
  SELECT start, min_by(b, h) AS hop1 FROM (
    SELECT s.start, e.b, {_walk_hash_sql('s.start', 1, 'e.b')} AS h
    FROM starts s JOIN sym e ON e.a = s.start
  ) GROUP BY start
), s2 AS (
  SELECT start, hop1, min_by(b, h) AS hop2 FROM (
    SELECT s.start, s.hop1, e.b, {_walk_hash_sql('s.start', 2, 'e.b')} AS h
    FROM s1 s JOIN sym e ON e.a = s.hop1
  ) GROUP BY start, hop1
), s3 AS (
  SELECT start, hop1, hop2, min_by(b, h) AS hop3 FROM (
    SELECT s.start, s.hop1, s.hop2, e.b, {_walk_hash_sql('s.start', 3, 'e.b')} AS h
    FROM s2 s JOIN sym e ON e.a = s.hop2
  ) GROUP BY start, hop1, hop2
)
SELECT start, hop1, hop2, hop3,
       CAST(1 + (CASE WHEN hop1 <> start THEN 1 ELSE 0 END)
              + (CASE WHEN hop2 <> start AND hop2 <> hop1 THEN 1 ELSE 0 END)
              + (CASE WHEN hop3 <> start AND hop3 <> hop1 AND hop3 <> hop2
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
FROM s3
"""


def _walk_hash_col(start, step: int, nbr) -> Column:
    s = F.concat(
        start.cast("string"), F.lit(f"-{step}-"), nbr.cast("string")
    )
    return F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("bigint")


@register("q_graph_walk_sample", oracle=_WALK_ORACLE)
def q_graph_walk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-step 'random' walks from a node sample over the
    co-purchase graph — the sampling primitive under node2vec/DeepWalk
    embeddings and graph-local exploration, made exactly reproducible: at
    each step the walker takes the neighbor minimizing a 60-bit sha256 of
    (start, step, neighbor), i.e. a hash-seeded uniform draw both engines
    agree on bit-for-bit. Emits each walk's path and how many distinct
    nodes it visited (walk locality — revisit-heavy walks flag tight
    clusters).

    Spark-first: each step is one equi-join frontier→edges plus one
    min_by hash aggregate keyed by the walk — NO per-walk loops, no RNG
    state, and every step of every walk advances in the same 3 unrolled
    stages regardless of walk count (the q_graph_kcore unrolled-rounds
    design). At 100 TB the frontier join partitions by current node and
    the aggregate by walk id; hub fan-out is bounded by true degree.
    """
    edges = shared_copurchase_edges(spark, sf_dir)
    sym = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b")).unionAll(
        edges.select(F.col("pb").alias("a"), F.col("pa").alias("b"))
    )
    starts = (
        sym.filter(F.col("a") % _WALK_START_MOD == 0)
        .select(F.col("a").alias("start"))
        .distinct()
    )
    cur = starts
    hops: list[str] = []
    for step in (1, 2, 3):
        # fresh column names per step: re-joining the same sym lineage
        # would otherwise make the join ambiguous (self-join detection)
        sym_t = sym.select(
            F.col("a").alias(f"a{step}"), F.col("b").alias(f"b{step}")
        )
        frontier = F.col(hops[-1]) if hops else F.col("start")
        cand = cur.join(sym_t, frontier == F.col(f"a{step}")).select(
            *(["start"] + hops),
            F.col(f"b{step}").alias("nbr"),
            _walk_hash_col(F.col("start"), step, F.col(f"b{step}")).alias("h"),
        )
        hop = f"hop{step}"
        cur = cand.groupBy(*(["start"] + hops)).agg(
            F.min_by("nbr", "h").alias(hop)
        )
        hops.append(hop)
    uniq = (
        F.lit(1)
        + F.when(F.col("hop1") != F.col("start"), 1).otherwise(0)
        + F.when(
            (F.col("hop2") != F.col("start")) & (F.col("hop2") != F.col("hop1")), 1
        ).otherwise(0)
        + F.when(
            (F.col("hop3") != F.col("start"))
            & (F.col("hop3") != F.col("hop1"))
            & (F.col("hop3") != F.col("hop2")),
            1,
        ).otherwise(0)
    )
    return cur.select(
        "start", "hop1", "hop2", "hop3", uniq.cast("bigint").alias("n_unique")
    )
