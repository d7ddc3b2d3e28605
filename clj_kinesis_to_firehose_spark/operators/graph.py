"""Graph operators over the star schema's implicit relationships.

The purchase graph (customer —bought-from→ supplier, through
orders⋈lineitem) gives a natural bipartite graph; PageRank over it is
the representative *iterative* distributed algorithm — the class the
oracle SQL can't express (recursive fixpoint with float damping), so
it ships weak with a behavioral conservation/convergence test.

Scale notes: the iterative loop is driver-CONTROLLED but data stays
distributed; each round is one join + one aggregate on the edge
relation, partitioned by src. `localCheckpoint` truncates lineage so
round N's plan doesn't replay rounds 1..N-1 (the standard Spark
iteration pattern; see also dedup_cluster_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import load_table
from clj_kinesis_to_firehose_spark.sources.loader import broadcast_threshold

#: damping factor + fixed iteration count (diameter of the bipartite
#: purchase graph is tiny; 8 rounds is well past convergence there)
DAMPING = 0.85
N_ITER = 8
#: bytes a node adds to the broadcast ranks relation, measured from
#: BroadcastExchange's dataSize: 4.26 MB at 1.6k nodes (sf0.01), 4.72 MB
#: at 16k (sf0.1)
RANK_ROW_BYTES = 32


def purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→supplier edges via orders⋈lineitem, with
    both endpoint sets namespaced (c_/s_ prefixes) so the graph is
    properly bipartite."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # r16 (guide §2.3 narrower shuffle bytes, measured 4.2 → 1.4 s
        # on the eager edge build): distinct on the INT key pair, then
        # namespace — the prefixed concat is injective, so the edge
        # set is identical while the dedup exchange carries 16 bytes a
        # row instead of two strings.
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), "o_custkey").alias("src"),
            F.concat(F.lit("s"), "l_suppkey").alias("dst"),
        )
    )


@register(
    "graph_pagerank", executes_on_build=True,
    oracle="""
    WITH RECURSIVE base AS (
        SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ), edges AS (
        SELECT src, dst FROM base
        UNION ALL
        SELECT dst AS src, src AS dst FROM base
    ), deg AS (
        SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), pr AS (
        SELECT 0 AS it, src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg
        UNION ALL
        SELECT it + 1, dst AS node,
               CAST(0.15 AS DOUBLE)
                   + CAST(0.85 AS DOUBLE) * SUM(rank / deg) AS rank
        FROM pr
        JOIN edges ON pr.node = edges.src
        JOIN deg ON edges.src = deg.src
        WHERE it < 8
        GROUP BY it + 1, dst
    )
    SELECT node, ROUND(rank, 6) AS rank FROM pr WHERE it = 8
    ORDER BY rank DESC, node LIMIT 50
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected bipartite purchase graph (edges
    traversed both ways so mass flows customer↔supplier and no node
    is a sink). Returns the top-50 nodes by rounded rank.

    Per round: rank/degree contribution join + sum-by-dst aggregate —
    both shuffle only the edge relation on its join key. Total mass
    is conserved at n_nodes (behavioral test asserts this and
    convergence).

    EXACT oracle: DuckDB runs the identical 8 fixed Jacobi iterations
    as a recursive CTE (same damping, same init, same double
    arithmetic); ranks round to 6 dp, far above the ~1e-12 summation-
    order drift 8 iterations can accumulate, so the hashes agree. If a
    fixture revision ever lands a rank on a rounding boundary, demote
    back to weak rather than loosening the compare (SURVEY §5.3).
    """
    e = purchase_edges(spark, sf_dir)
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = out_deg.select(F.col("src").alias("node"))
    n_nodes = nodes.count()
    # r16 (guide §2.4, iteration A/B 6.74 → 4.72 → 3.79 s for the 8
    # rounds, ranks bit-identical): the loop re-aggregated out_deg
    # over the full edge relation and re-joined it EVERY round — the
    # degree never changes, so join it once into the pinned edge
    # relation. Each round then joins only the node-sized ranks,
    # broadcast while the n_nodes ranks fit the broadcast threshold
    # (|customers|+|suppliers| grows with the scale factor), so no
    # round re-shuffles the edge relation. Spark's own estimate of
    # ranks cannot make this call: it is a join product (32.8 GB at
    # sf0.01). Above the threshold a plain join, left to AQE.
    edges2 = (
        edges.join(out_deg, "src")
        .select("src", "dst", "deg")
        .localCheckpoint(eager=True)
    )
    broadcast = n_nodes * RANK_ROW_BYTES <= broadcast_threshold(spark)
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for it in range(N_ITER):
        rhs = F.broadcast(ranks) if broadcast else ranks
        contrib = (
            edges2.join(rhs, edges2.src == rhs.node)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("inflow"))
            .select(
                "node",
                (F.lit(1.0 - DAMPING) + F.lit(DAMPING) * F.col("inflow")).alias("rank"),
            )
        )
        ranks = ranks.localCheckpoint(eager=True)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
        .limit(50)
    )


@register(
    "graph_link_prediction_jaccard",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_suppkey < 40
    ), deg AS (
        SELECT cust, COUNT(*) AS d FROM edges GROUP BY cust
    ), common AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b, COUNT(*) AS n_common
        FROM edges a JOIN edges b
          ON a.supp = b.supp AND a.cust < b.cust
        GROUP BY a.cust, b.cust
    )
    SELECT cust_a, cust_b, n_common,
           ROUND(n_common / CAST(d_a + d_b - n_common AS DOUBLE), 6)
             AS jaccard,
           rnk
    FROM (
        SELECT cust_a, cust_b, n_common, da.d AS d_a, db.d AS d_b,
               ROW_NUMBER() OVER (
                   ORDER BY ROUND(n_common / CAST(da.d + db.d - n_common
                                                  AS DOUBLE), 6) DESC,
                            cust_a, cust_b) AS rnk
        FROM common
        JOIN deg da ON common.cust_a = da.cust
        JOIN deg db ON common.cust_b = db.cust
        WHERE n_common >= 3
    ) WHERE rnk <= 25
    """,
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard: customer pairs whose
    supplier neighborhoods overlap most — the classic common-neighbor
    recommender score (|N(a)∩N(b)| / |N(a)∪N(b)|), here over the
    bipartite purchase graph restricted to a supplier slice.

    Candidate-first, like every pair-producing op in this engine: the
    self-join runs on the SHARED-NEIGHBOR key (supp), so only pairs
    with ≥1 common supplier ever materialize, and the n_common ≥ 3
    floor prunes before the degree joins. Pair cost is Σ supplier-
    degree², bounded by the slice (full-graph runs shard by neighbor
    key the same way — at 100 TB add a hub-degree cap, the standard
    mitigation for celebrity nodes). Ranking on the rounded score with
    a pair tie-break keeps the top-25 cross-engine stable."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") < 40)
        .select("l_orderkey", "l_suppkey")
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
        # lazy pin (r15, guide §2.4): the degree aggregate and BOTH
        # self-join sides re-derived the scan→join→distinct pipeline
        # (4 lineitem+orders scan pairs in the plan); the pinned
        # relation is the slice-bounded edge set itself.
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("cust").agg(F.count("*").alias("d"))
    # r16 (guide §3.1/§2.5, measured 7.1 → 0.9 s at sf0.1): the slice
    # has <40 distinct supp keys, so a shuffled self-join caps the
    # Σdeg² pair expansion at <40 tasks — and AQE coalesces the tiny
    # pinned input to ONE partition (output explosion is invisible to
    # input-bytes skew handling), serializing it entirely. Broadcast
    # the slice-bounded build side (bounded by the supplier slice —
    # the docstring's hub-degree cap keeps it bounded at scale) and
    # spread the probe side to the session's parallelism so the
    # expansion distributes by probe row. Inline A/B, same session:
    # SMJ 7.15s / broadcast-only 6.39s / broadcast+spread 0.91s.
    a = edges.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = edges.alias("b")
    common = (
        a.join(
            F.broadcast(b),
            (F.col("a.supp") == F.col("b.supp")) & (F.col("a.cust") < F.col("b.cust")),
        )
        .groupBy(F.col("a.cust").alias("cust_a"), F.col("b.cust").alias("cust_b"))
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 3)
    )
    da = deg.select(F.col("cust").alias("cust_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("cust").alias("cust_b"), F.col("d").alias("d_b"))
    jac = F.round(
        F.col("n_common")
        / (F.col("d_a") + F.col("d_b") - F.col("n_common")).cast("double"),
        6,
    )
    scored = (
        common.join(da, "cust_a")
        .join(db, "cust_b")
        .select("cust_a", "cust_b", "n_common", jac.alias("jaccard"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("jaccard"), F.asc("cust_a"), F.asc("cust_b"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 25)
    )


@register(
    "graph_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE nodes AS (
        SELECT p_partkey AS node,
               CASE WHEN p_partkey >= 10 THEN p_partkey // 10 END AS parent,
               p_retailprice AS cost
        FROM part
    ), closure(node, anc) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT c.node, n.parent
        FROM closure c JOIN nodes n ON c.anc = n.node
        WHERE n.parent IS NOT NULL
    ), depths AS (
        SELECT node, CAST(COUNT(*) - 1 AS BIGINT) AS depth
        FROM closure GROUP BY node
    ), rollup AS (
        SELECT c.anc AS node,
               CAST(COUNT(*) AS BIGINT) AS n_subtree,
               CAST(ROUND(SUM(CAST(n2.cost AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS subtree_cost
        FROM closure c JOIN nodes n2 ON c.node = n2.node
        GROUP BY c.anc
    )
    SELECT r.node, d.depth, r.n_subtree, r.subtree_cost
    FROM rollup r JOIN depths d ON r.node = d.node
    """,
)
def graph_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (BOM-style) transitive rollup: every node's subtree
    size and total cost, plus its depth — the WITH RECURSIVE workload
    (org charts, bills of materials, category trees) expressed
    Spark-first. The part table carries the hierarchy: parent(k) =
    k div 10 (a forest with roots 1..9, depth ~log10 n).

    Spark has no recursive CTE; the scalable replacement is
    **pointer doubling**: keep the (node, ancestor) reachability set
    and self-join it each round, so covered path length DOUBLES per
    round — O(log depth) shuffle rounds instead of the O(depth) a
    parent-at-a-time loop costs (4 rounds covers depth 16, i.e.
    10^16 keys here). Each round ends in localCheckpoint to truncate
    lineage (the dedup_cluster_components pattern). The closure is
    |nodes|·avg-depth rows — linear-ish, partitioned on node; the
    rollup is then one join + one aggregate on it. Subtree sums run
    in DECIMAL so addition order can't drift between engines."""
    part = load_table(spark, sf_dir, "part")
    nodes = part.select(
        F.col("p_partkey").alias("node"),
        F.when(F.col("p_partkey") >= 10, F.expr("p_partkey div 10")).alias(
            "parent"
        ),
        F.col("p_retailprice").alias("cost"),
    )
    edges = nodes.filter(F.col("parent").isNotNull()).select(
        "node", F.col("parent").alias("anc")
    )
    reach = edges  # proper ancestors within distance 2^r after r rounds
    for _ in range(4):
        nxt = (
            reach.alias("a")
            .join(reach.alias("b"), F.col("a.anc") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.anc").alias("anc"))
        )
        reach = (
            reach.union(nxt)
            .dropDuplicates(["node", "anc"])
            .localCheckpoint(eager=False)
        )
    closure = nodes.select("node", F.col("node").alias("anc")).union(reach)
    depths = closure.groupBy("node").agg(
        (F.count("*") - 1).cast("long").alias("depth")
    )
    rollup = (
        closure.join(
            nodes.select(F.col("node").alias("c_node"), "cost"),
            F.col("node") == F.col("c_node"),
        )
        .groupBy("anc")
        .agg(
            F.count("*").cast("long").alias("n_subtree"),
            F.round(F.sum(F.col("cost").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("subtree_cost"),
        )
        .select(F.col("anc").alias("node"), "n_subtree", "subtree_cost")
    )
    return rollup.join(depths, "node").select(
        "node", "depth", "n_subtree", "subtree_cost"
    )
