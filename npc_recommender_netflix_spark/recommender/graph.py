"""Graph analytics over the co-purchase graph (SURVEY.md §2.8 extension).

PageRank as an iterative DataFrame algorithm — the MapReduce reference's
canonical "chained jobs" workload re-expressed as a driver-side loop over
lazy plans. Determinism across engines comes from rounding the rank to 9dp
at the END of every iteration: the rounded values are exact decimals, so
each iteration starts from bit-identical inputs on both engines and the
only float noise is one iteration's sum association (~1e-13, far inside
the 9dp grid).

100 TB shape: edges/degrees are computed once and cached; each iteration is
one shuffle (groupBy dst) sized by edge count. The iteration count is fixed
(3) — at real scale you iterate to a convergence epsilon with the same loop
body and localCheckpoint() every few rounds to truncate lineage.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import f6, load_table, shared_frame
from .core import ratings_matrix

# co-purchase edges: items (l_partkey % 500) sharing an order, symmetric,
# distinct; degrees; node universe
_GRAPH_SQL = r"""
    items AS (SELECT DISTINCT l_orderkey, l_partkey % 500 AS item FROM lineitem),
    edges AS (SELECT DISTINCT a.item AS src, b.item AS dst
              FROM items a JOIN items b
                ON a.l_orderkey = b.l_orderkey AND a.item <> b.item),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT count(*) AS c FROM nodes)
"""

_PR_ITER_SQL = """
    p{next} AS (SELECT e.dst AS node,
                       round(0.15 / n.c + 0.85 * sum(p{cur}.r / deg.d), 9) AS r
                FROM p{cur}
                JOIN edges e ON e.src = p{cur}.node
                JOIN deg ON deg.src = p{cur}.node
                CROSS JOIN n
                GROUP BY e.dst, n.c)
"""



# The co-purchase graph family — 8 keys (r_pagerank, r_ppr,
# r_kcore_peel, r_node_features, r_shortest_path,
# r_degree_assortativity, r_attack_tolerance, r_label_propagation) —
# reads ONE shared edge list, so a full-registry sweep materializes the
# lineitem self-join once for all consumers and no two keys can diverge
# in construction. Re-registered after a clearCache (the default): the
# rebuild (lineitem self-join + two distincts) x 8 consumers is far more
# than one cache write.
def _copurchase_edges(spark, sf_dir):
    def build():
        li = load_table(spark, sf_dir, "lineitem")
        # r17 optimization (guide §2.4): one collect_set per order + an
        # in-plan double explode replaces the old distinct(orderkey, item)
        # + orderkey self-join + pair distinct — 2 Exchanges instead of 4
        # for the identical ordered-pair set (collect_set dedups within
        # the order exactly like the old distinct; pair generation is
        # map-side). Per-order sets are bounded by order size (a handful
        # of lines), so the aggregate is skew-safe at any corpus scale.
        sets = li.groupBy("l_orderkey").agg(
            F.collect_set(F.col("l_partkey") % 500).alias("items")
        )
        return (
            sets.select(F.explode("items").alias("src"), "items")
            .select("src", F.explode("items").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    return shared_frame(spark, sf_dir, "copurchase_edges", build)


@register(
    "r_pagerank",
    f"""
    WITH {_GRAPH_SQL},
    p0 AS (SELECT node, 1.0 / n.c AS r FROM nodes CROSS JOIN n),
    {_PR_ITER_SQL.format(cur=0, next=1)},
    {_PR_ITER_SQL.format(cur=1, next=2)},
    {_PR_ITER_SQL.format(cur=2, next=3)}
    SELECT node, round(r, 6) + 0 AS rank
    FROM p3
    """,
)
def r_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, 3 fixed iterations) over the co-purchase
    item graph. The oracle unrolls the same three iterations as chained
    CTEs; per-iteration 9dp rounding makes the fixpoint engine-exact."""
    edges = _copurchase_edges(spark, sf_dir)
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 3.22 -> 3.40 s without it, IQR 0.08 s.
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).cache()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()  # one scalar to the driver; fine at any scale
    pr = nodes.withColumn("r", F.lit(1.0 / n))
    for _ in range(3):
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .join(deg, "src")
            .select("dst", (F.col("r") / F.col("d")).alias("w"))
        )
        pr = contrib.groupBy("dst").agg(
            F.round(F.lit(0.15 / n) + 0.85 * F.sum("w"), 9).alias("r")
        ).select(F.col("dst").alias("node"), "r")
    return pr.select("node", f6(F.col("r")).alias("rank"))


@register(
    "r_triangle_count",
    """
    WITH m AS (
        SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_partkey < 200
    ),
    e AS (
        SELECT a.item_id AS s, b.item_id AS d
        FROM m a JOIN m b ON a.user_id = b.user_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING count(*) >= 3
    ),
    tri AS (
        SELECT e1.s AS a, e1.d AS b, e2.d AS c
        FROM e e1
        JOIN e e2 ON e1.d = e2.s
        JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d
    ),
    per_item AS (
        SELECT item_id, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT a AS item_id FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY item_id
    )
    SELECT item_id, n_triangles FROM per_item
    ORDER BY n_triangles DESC, item_id LIMIT 20
    """,
)
def r_triangle_count(spark, sf_dir):
    """Triangle participation count on the co-purchase graph (edges =
    item pairs co-bought by ≥3 customers) — the clustering-coefficient
    primitive behind community detection and "customers also bought"
    neighborhoods (items in many triangles sit inside dense categories).

    The classic distributed shape: edges are canonically ordered
    (a < b < c via the build), so each triangle is enumerated exactly
    once by two equi-joins — no orientation dedup pass. Edge support ≥3
    sparsifies before any join (the degeneracy knob at 100 TB, where
    you'd also order by degree); the per-item census is a union of three
    bounded projections. Everything is equi-join + count: zero floats.
    """
    m = (
        ratings_matrix(spark, sf_dir, max_item=200)
        .select("user_id", "item_id")
        .distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 0.99 -> 1.80 s without it, IQR 0.07 s.
    e = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .groupBy(F.col("a.item_id").alias("s"), F.col("b.item_id").alias("d"))
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= 3)
        .select("s", "d")
        # One materialization feeding all three triangle-join scans — an
        # uncached edge frame would recompute the user-pair self-join 3×.
        .cache()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.d") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.d") == F.col("e2.d")),
        )
        .select(
            F.col("e1.s").alias("a"), F.col("e1.d").alias("b"),
            F.col("e2.d").alias("c"),
        )
    )
    per_item = (
        tri.select(F.col("a").alias("item_id"))
        .unionAll(tri.select(F.col("b").alias("item_id")))
        .unionAll(tri.select(F.col("c").alias("item_id")))
        .groupBy("item_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return per_item.orderBy(F.col("n_triangles").desc(), "item_id").limit(20)


@register(
    "r_two_hop_reach",
    """
    WITH m AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_partkey < 200
        GROUP BY 1, 2
    ),
    edges_d AS (
        SELECT a.item_id AS src, b.item_id AS dst, count(*) AS support
        FROM m a JOIN m b
          ON a.user_id = b.user_id AND a.item_id <> b.item_id
        GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    one_hop AS (SELECT DISTINCT src, dst FROM edges_d),
    two_hop AS (
        SELECT e1.src, e2.dst
        FROM one_hop e1 JOIN one_hop e2 ON e2.src = e1.dst
        WHERE e2.dst <> e1.src
        UNION
        SELECT src, dst FROM one_hop
    )
    SELECT src AS item_id,
           CAST(count(DISTINCT dst) AS BIGINT) AS reach2
    FROM two_hop
    GROUP BY src
    ORDER BY reach2 DESC, item_id LIMIT 20
    """,
)
def r_two_hop_reach(spark, sf_dir):
    """Two-hop reach on the support-thresholded co-purchase graph: how
    many items are within <=2 recommendation hops of each item — the
    graph-connectivity census behind 'can a random walk actually get
    anywhere from this item' (r_triangle_count measures local
    clustering; reach measures breadth; r_pagerank mixes both into one
    score).

    One BFS frontier expansion = one self-join of the deduped edge
    list on the shared endpoint (the r_hits unrolling argument:
    k hops = k co-partitioned joins, no driver loop); the support>=3
    threshold sparsifies edges BEFORE any expansion, bounding the
    frontier fan-out, and the distinct-union collapses the 1-hop and
    2-hop sets in the same shuffle that counts them.
    """
    from ..session import tables as _tables

    orders, li = _tables(spark, sf_dir, "orders", "lineitem")
    m = (
        orders.join(
            li.where(F.col("l_partkey") < 200),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id")
        )
        .distinct()
    )
    a, b = m.alias("ga"), m.alias("gb")
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 0.81 -> 1.58 s without it, IQR 0.01 s.
    edges = (
        a.join(
            b,
            (F.col("ga.user_id") == F.col("gb.user_id"))
            & (F.col("ga.item_id") != F.col("gb.item_id")),
        )
        .groupBy(
            F.col("ga.item_id").alias("src"), F.col("gb.item_id").alias("dst")
        )
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 3)
        .select("src", "dst")
        # r17 (guide §5): edges feeds both self-join sides AND the
        # 1-hop union branch — uncached, the pair-join subtree ran 3x.
        .cache()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    two_hop = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .where(F.col("e2.dst") != F.col("e1.src"))
        .select(F.col("e1.src").alias("src"), F.col("e2.dst").alias("dst"))
        .unionByName(edges)
        .distinct()
    )
    return (
        two_hop.groupBy(F.col("src").alias("item_id"))
        .agg(F.countDistinct("dst").cast("long").alias("reach2"))
        .orderBy(F.col("reach2").desc(), "item_id")
        .limit(20)
    )


_PPR_ITER_SQL = """
    c{next} AS (SELECT e.dst AS node, sum(p{cur}.r / deg.d) AS w
                FROM p{cur}
                JOIN edges e ON e.src = p{cur}.node
                JOIN deg ON deg.src = p{cur}.node
                GROUP BY e.dst),
    p{next} AS (SELECT coalesce(c.node, s.node) AS node,
                       round(CASE WHEN coalesce(c.node, s.node) IN (0, 1, 2)
                                  THEN 0.05 ELSE 0 END
                             + 0.85 * coalesce(c.w, 0), 9) AS r
                FROM c{next} c FULL JOIN seeds s ON s.node = c.node)
"""


@register(
    "r_ppr",
    f"""
    WITH {_GRAPH_SQL},
    seeds AS (SELECT unnest([0, 1, 2]) AS node),
    p0 AS (SELECT node, round(1.0 / 3, 9) AS r FROM seeds),
    {_PPR_ITER_SQL.format(cur=0, next=1)},
    {_PPR_ITER_SQL.format(cur=1, next=2)},
    {_PPR_ITER_SQL.format(cur=2, next=3)}
    SELECT node, rank, rn FROM (
        SELECT node, round(r, 6) + 0 AS rank,
               CAST(row_number() OVER (ORDER BY round(r, 6) DESC, node)
                    AS BIGINT) AS rn
        FROM p3 WHERE round(r, 6) > 0
    ) WHERE rn <= 25
    """,
)
def r_ppr(spark, sf_dir):
    """Personalized PageRank from seed items {0,1,2} — random walk with
    restart over the co-purchase graph, the graph-native recommender
    (Pinterest's Pixie family): instead of r_pagerank's uniform
    teleport, all restart mass returns to the SEED set (a user's recent
    items), so the stationary mass ranks items by multi-hop proximity
    to that user's taste — reaching items two and three hops out that
    r_cooccurrence (1 hop) never sees, with walk-frequency weighting
    r_two_hop_reach (pure reach) lacks.

    Same engine-exactness discipline as r_pagerank: 3 unrolled
    iterations, each a (contributions groupBy dst) FULL-JOINED with the
    seed teleport so seeds persist even with zero in-flow, ranks
    snapped to 9dp per iteration (bit-identical iteration inputs across
    engines). Each iteration is ONE shuffle
    sized by the rank frontier — which for PPR starts at |seeds| and
    grows with the k-hop neighborhood, typically far smaller than the
    graph (the locality that makes PPR THE scalable per-user graph
    recommender). Top-25 by rounded rank, node tiebreak.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    seeds = spark.createDataFrame([(0,), (1,), (2,)], "node LONG")
    teleport = F.when(F.col("node").isin(0, 1, 2), 0.05).otherwise(0.0)
    pr = seeds.withColumn("r", F.round(F.lit(1.0 / 3), 9))
    for _ in range(3):
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .join(deg, "src")
            .select("dst", (F.col("r") / F.col("d")).alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").alias("w"))
            .select(F.col("dst").alias("node"), "w")
        )
        pr = (
            contrib.join(F.broadcast(seeds), "node", "full")
            .select(
                "node",
                F.round(teleport + 0.85 * F.coalesce(F.col("w"), F.lit(0.0)), 9).alias(
                    "r"
                ),
            )
        )
    from pyspark.sql import Window

    ranked = pr.select("node", f6(F.col("r")).alias("rank")).where(F.col("rank") > 0)
    w = Window.orderBy(F.col("rank").desc(), "node")
    return (
        ranked.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 25)
        .select("node", "rank", "rn")
    )


_KCORE_ITER_SQL = """
    e{next} AS (SELECT e.src, e.dst
                FROM e{cur} e
                JOIN n{cur} a ON a.node = e.src
                JOIN n{cur} b ON b.node = e.dst),
    n{next} AS (SELECT src AS node FROM e{next}
                GROUP BY src HAVING count(*) >= 3)
"""


@register(
    "r_kcore_peel",
    f"""
    WITH {_GRAPH_SQL},
    e0 AS (SELECT src, dst FROM edges),
    n0 AS (SELECT src AS node FROM e0 GROUP BY src HAVING count(*) >= 3),
    {_KCORE_ITER_SQL.format(cur=0, next=1)},
    {_KCORE_ITER_SQL.format(cur=1, next=2)},
    {_KCORE_ITER_SQL.format(cur=2, next=3)},
    {_KCORE_ITER_SQL.format(cur=3, next=4)}
    SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM e4 e JOIN n4 a ON a.node = e.src JOIN n4 b ON b.node = e.dst
    GROUP BY e.src
    ORDER BY node
    """,
)
def r_kcore_peel(spark, sf_dir):
    """3-core of the co-purchase graph by iterative peeling: drop every
    item with fewer than 3 surviving co-purchase partners, re-count,
    repeat — the standard graph-cleaning pass before community/embedding
    work (r_pagerank and r_triangle_count over the raw graph spend most
    of their work on degree-1-and-2 fuzz; the k-core is where the
    recommendation signal lives). Four unrolled peels by contract (the
    r_pagerank fixed-iteration discipline — at scale you loop the same
    body to an empty-delta fixpoint with localCheckpoint lineage
    truncation, as t_dup_clusters does); the final census reports each
    surviving node's within-core degree.

    Each peel is one degree aggregate + two semi-join-shaped edge
    filters on the SHRINKING survivor set — work decreases
    monotonically, and membership checks are hash equi-joins on node
    ids, never adjacency materialization. Integer degrees; node-ordered
    output.
    """
    edges = _copurchase_edges(spark, sf_dir)
    e = edges
    for _ in range(4):
        n = (
            e.groupBy("src")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= 3)
            .select(F.col("src").alias("node"))
        )
        # cache each peel: the degree aggregate and BOTH membership joins
        # reread it, and uncached lineage doubles per round (measured 61 s
        # -> ~8 s at sf0.01)
        # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
        # cleared per run): median 10.30 -> 43.19 s without it, IQR 0.16 s.
        e = (
            e.join(n.withColumnRenamed("node", "src"), "src")
            .join(n.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst")
            .cache()
        )
    n_final = (
        e.groupBy("src")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") >= 3)
        .select(F.col("src").alias("node"))
    )
    return (
        e.join(n_final.withColumnRenamed("node", "src"), "src")
        .join(n_final.withColumnRenamed("node", "dst"), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("core_degree"))
        .orderBy("node")
    )


@register(
    "r_node_features",
    f"""
    WITH {_GRAPH_SQL},
    nbr AS (
        SELECT e.src AS node, d2.d AS nbr_deg
        FROM edges e JOIN deg d2 ON d2.src = e.dst
    ),
    tri AS (
        SELECT e1.src AS node, CAST(count(*) AS BIGINT) AS tri2
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e2.dst AND e3.dst = e1.src
        GROUP BY e1.src
    )
    SELECT d.src AS node,
           CAST(d.d AS BIGINT) AS degree,
           round(avg(n.nbr_deg), 6) + 0 AS avg_nbr_degree,
           CAST(coalesce(max(t.tri2), 0) / 2 AS BIGINT) AS n_triangles,
           round(coalesce(max(t.tri2), 0) * 1.0
                 / greatest(d.d * (d.d - 1), 1), 6) + 0 AS clustering_coef
    FROM deg d
    JOIN nbr n ON n.node = d.src
    LEFT JOIN tri t ON t.node = d.src
    GROUP BY d.src, d.d
    ORDER BY node
    """,
)
def r_node_features(spark, sf_dir):
    """Per-node graph feature table over the co-purchase graph: degree,
    mean neighbor degree (assortativity signal — hubs-next-to-hubs vs
    hubs-next-to-leaves), per-node triangle count, and the local
    clustering coefficient 2T/(d(d−1)) — the standard hand-crafted
    feature block fed to GBDT rankers and GNN baselines before anyone
    trains an embedding (and the features r_pagerank/r_triangle_count
    expose only globally, here materialized per node for a feature
    store).

    Neighbor degrees come from one edges⋈degrees join (degree table is
    node-sized, broadcastable); per-node triangles come from the
    ORIENTED enumeration (r_triangle_count's shape): keeping only
    src<dst rows halves every triangle-join input and finds each
    triangle exactly once as x<y<z, so the wedge stage builds
    Σ d_<(v)·d_>(v) rows instead of the symmetric form's Σd² — each
    corner is then credited 2 (the directed 2-path closure count this
    key's tri2 semantics define: both y/z orientations per triangle).
    All joins key on node ids; every aggregate is partial+final.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    nbr = edges.join(
        deg.select(F.col("src").alias("dst"), F.col("d").alias("nbr_deg")), "dst"
    ).select(F.col("src").alias("node"), "nbr_deg")
    # r17 (guide §3.4 — shrink the exploding join): the previous
    # symmetric 3-way self-join enumerated every triangle 6 times (once
    # per directed corner orientation) through a Σd²-row wedge stage.
    # e_lt keeps one row per undirected edge (the list is symmetric by
    # construction), the x<y<z chain finds each triangle ONCE, and
    # count*2 restores the exact directed-closure integers.
    e_lt = edges.where(F.col("src") < F.col("dst"))
    wedges = e_lt.select(F.col("src").alias("x"), F.col("dst").alias("y")).join(
        e_lt.select(F.col("src").alias("y"), F.col("dst").alias("z")), "y"
    )
    closed = wedges.join(
        e_lt.select(F.col("src").alias("x"), F.col("dst").alias("z")), ["x", "z"]
    )
    tri = (
        closed.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg((F.count("*") * F.lit(2)).cast("long").alias("tri2"))
    )
    feat = (
        deg.select(F.col("src").alias("node"), "d")
        .join(nbr, "node")
        .groupBy("node", "d")
        .agg(F.avg("nbr_deg").alias("and_"))
        .join(tri, "node", "left")
    )
    return feat.select(
        "node",
        F.col("d").cast("long").alias("degree"),
        f6(F.col("and_")).alias("avg_nbr_degree"),
        (F.coalesce(F.col("tri2"), F.lit(0)) / 2).cast("long").alias("n_triangles"),
        f6(
            F.coalesce(F.col("tri2"), F.lit(0))
            * 1.0
            / F.greatest(F.col("d") * (F.col("d") - 1), F.lit(1))
        ).alias("clustering_coef"),
    ).orderBy("node")


def _bfs_levels(edges, src, depth):
    """Visited set (node, dist) of a ``depth``-level BFS from the one-row
    ``src`` frame over the directed (src, dst) ``edges``. A level is ONE
    aggregate: the visited set unioned with the frontier's out-neighbours
    at the new distance, reduced by groupBy(node).min(dist), so a node
    seen before keeps its shorter distance. Each level is
    localCheckpointed, so the next level plans against a small
    materialized frame. Do not unroll the loop lazily: each level
    references the visited set twice, and AQE re-runs the repeated
    subtrees. Warm r_shortest_path at sf0.001 on 4 cores: 1.7-2.7 s
    checkpointed, 6.4-6.6 s with cache() per level, 5.7 s and 102 jobs
    as one lazy plan."""
    visited = src.select("node", F.lit(0).alias("dist")).localCheckpoint()
    for lvl in range(1, depth + 1):
        reached = (
            visited.where(F.col("dist") == lvl - 1)
            .join(edges, visited.node == edges.src)
            .select(F.col("dst").alias("node"), F.lit(lvl).alias("dist"))
        )
        visited = (
            visited.unionByName(reached)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return visited


_BFS_LVL_SQL = """
    l{next} AS (
        SELECT node, dist FROM l{cur}
        UNION ALL
        SELECT f.node, {next} AS dist FROM (
            SELECT DISTINCT e.dst AS node
            FROM l{cur} p JOIN edges e ON e.src = p.node
            WHERE p.dist = {cur}
        ) f
        WHERE f.node NOT IN (SELECT node FROM l{cur})
    )
"""


@register(
    "r_shortest_path",
    f"""
    WITH {_GRAPH_SQL},
    src AS (SELECT CAST(min(node) AS BIGINT) AS node FROM nodes),
    l0 AS (SELECT node, 0 AS dist FROM src),
    {_BFS_LVL_SQL.format(cur=0, next=1)},
    {_BFS_LVL_SQL.format(cur=1, next=2)},
    {_BFS_LVL_SQL.format(cur=2, next=3)},
    {_BFS_LVL_SQL.format(cur=3, next=4)},
    reached AS (
        SELECT CAST(dist AS BIGINT) AS dist,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(min(node) AS BIGINT) AS min_item,
               CAST(max(node) AS BIGINT) AS max_item
        FROM l4 GROUP BY dist
    ),
    unreached AS (
        SELECT CAST(-1 AS BIGINT) AS dist,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(min(node) AS BIGINT) AS min_item,
               CAST(max(node) AS BIGINT) AS max_item
        FROM nodes WHERE node NOT IN (SELECT node FROM l4)
        HAVING count(*) > 0
    )
    SELECT * FROM reached UNION ALL SELECT * FROM unreached
    ORDER BY dist
    """,
)
def r_shortest_path(spark, sf_dir):
    """BFS shortest-path levels from the minimum-id item over the
    co-purchase graph — the reachability PROFILE the other graph keys
    compose around: r_two_hop_reach counts a fixed 2-hop ball,
    r_pagerank mixes distances into one score; this key answers "how
    far IS everything from here", the small-world diagnostic (census
    of items at hop 0..4 plus a dist=-1 row for the unreached
    remainder) that decides random-walk horizon and cache radius.

    The iterative-frontier idiom at scale (``_bfs_levels``): each level
    is ONE frontier-to-edges equi-join folded into the visited set by
    one groupBy(node).min(dist) aggregate (never a driver-side queue),
    with the visited frame localCheckpointed per level to cut lineage —
    t_dup_clusters' one-action-per-round discipline.  4 fixed levels keep
    the oracle an exact unrolled-CTE mirror; a production run loops
    until the frontier empties (same per-level plan).
    """
    edges = _copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct().cache()
    src = nodes.agg(F.min("node").alias("node"))
    visited = _bfs_levels(edges, src, 4)
    reached = visited.groupBy("dist").agg(
        F.count("*").cast("long").alias("n_items"),
        F.min("node").cast("long").alias("min_item"),
        F.max("node").cast("long").alias("max_item"),
    )
    unreached = (
        nodes.join(visited.select("node"), "node", "left_anti")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.min("node").cast("long").alias("min_item"),
            F.max("node").cast("long").alias("max_item"),
        )
        .where(F.col("n_items") > 0)
        .select(
            F.lit(-1).cast("long").alias("dist"),
            "n_items",
            "min_item",
            "max_item",
        )
    )
    return (
        reached.select(
            F.col("dist").cast("long").alias("dist"),
            "n_items",
            "min_item",
            "max_item",
        )
        .unionByName(unreached)
        .orderBy("dist")
    )


@register(
    "r_degree_assortativity",
    f"""
    WITH {_GRAPH_SQL},
    ed AS (
        SELECT e.src, e.dst, ds.d AS dsrc, dd.d AS ddst
        FROM edges e
        JOIN deg ds ON ds.src = e.src
        JOIN deg dd ON dd.src = e.dst
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(dsrc) AS BIGINT) AS sx,
               CAST(sum(ddst) AS BIGINT) AS sy,
               CAST(sum(dsrc * ddst) AS BIGINT) AS sxy,
               CAST(sum(dsrc * dsrc) AS BIGINT) AS sxx,
               CAST(sum(ddst * ddst) AS BIGINT) AS syy
        FROM ed
    )
    SELECT m AS n_edges,
           round((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((m * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx)
                        * (m * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy)), 6) + 0
               AS assortativity,
           CASE WHEN (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                     > 0
                THEN 'assortative' ELSE 'disassortative' END AS regime
    FROM c
    """,
)
def r_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002, public) of the co-purchase
    graph — the one-number STRUCTURE summary the other graph keys
    orbit: the Pearson correlation of degrees across edge endpoints.
    Positive (assortative) = hubs link hubs, so hub failures cascade
    but random walks mix fast; negative (disassortative, typical of
    recommendation/co-occurrence graphs) = hubs fan out to the long
    tail, which is WHY the df-caps in the pair-join keys work — hot
    items touch many small baskets, not each other.  The regime
    column states the reading.

    Both endpoint degrees join from the SAME degree table (the
    directed edge list is symmetric, so src/dst marginals coincide);
    the correlation is the a_autocorr_daily discipline on the edge
    axis — exact BIGINT moments, one float association.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    ds = deg.select(F.col("src"), F.col("d").alias("dsrc"))
    dd = deg.select(F.col("src").alias("dst"), F.col("d").alias("ddst"))
    ed = edges.join(ds, "src").join(dd, "dst")
    c = ed.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("dsrc").cast("long").alias("sx"),
        F.sum("ddst").cast("long").alias("sy"),
        F.sum(F.col("dsrc") * F.col("ddst")).cast("long").alias("sxy"),
        F.sum(F.col("dsrc") * F.col("dsrc")).cast("long").alias("sxx"),
        F.sum(F.col("ddst") * F.col("ddst")).cast("long").alias("syy"),
    )
    m = F.col("m")
    num = m * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    r = num / F.sqrt(
        (
            m * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            m * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return c.select(
        m.alias("n_edges"),
        f6(r).alias("assortativity"),
        F.when(num > 0, "assortative")
        .otherwise("disassortative")
        .alias("regime"),
    )


_ATTACK_LVL_SQL = """
    {pfx}l{next} AS (
        SELECT node, dist FROM {pfx}l{cur}
        UNION ALL
        SELECT f.node, {next} AS dist FROM (
            SELECT DISTINCT e.dst AS node
            FROM {pfx}l{cur} p JOIN {edges} e ON e.src = p.node
            WHERE p.dist = {cur}
        ) f
        WHERE f.node NOT IN (SELECT node FROM {pfx}l{cur})
    )
"""


@register(
    "r_attack_tolerance",
    f"""
    WITH {_GRAPH_SQL},
    hubs AS (
        SELECT src AS node FROM deg ORDER BY d DESC, src LIMIT 5
    ),
    aedges AS (
        SELECT e.src, e.dst FROM edges e
        WHERE e.src NOT IN (SELECT node FROM hubs)
          AND e.dst NOT IN (SELECT node FROM hubs)
    ),
    src AS (
        SELECT CAST(min(node) AS BIGINT) AS node FROM nodes
        WHERE node NOT IN (SELECT node FROM hubs)
    ),
    fl0 AS (SELECT node, 0 AS dist FROM src),
    {_ATTACK_LVL_SQL.format(pfx='f', cur=0, next=1, edges='edges')},
    {_ATTACK_LVL_SQL.format(pfx='f', cur=1, next=2, edges='edges')},
    {_ATTACK_LVL_SQL.format(pfx='f', cur=2, next=3, edges='edges')},
    al0 AS (SELECT node, 0 AS dist FROM src),
    {_ATTACK_LVL_SQL.format(pfx='a', cur=0, next=1, edges='aedges')},
    {_ATTACK_LVL_SQL.format(pfx='a', cur=1, next=2, edges='aedges')},
    {_ATTACK_LVL_SQL.format(pfx='a', cur=2, next=3, edges='aedges')},
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes)
    SELECT nn.n_nodes,
           CAST((SELECT count(*) FROM fl3) AS BIGINT) AS reach_full,
           CAST((SELECT count(*) FROM al3) AS BIGINT) AS reach_attacked,
           round(CAST((SELECT count(*) FROM al3) AS DOUBLE)
                 / (SELECT count(*) FROM fl3), 6) + 0 AS survival_ratio
    FROM nn
    """,
)
def r_attack_tolerance(spark, sf_dir):
    """Targeted-attack tolerance — the robustness WHAT-IF the structure
    keys set up (r_degree_assortativity says hubs fan to the tail;
    this measures what breaks when they fail): run the same 3-hop BFS
    from the same (non-hub) seed on the full co-purchase graph and on
    the graph with the top-5 degree hubs REMOVED, and report the
    reachable-set survival ratio — the scale-free-network fragility
    result (Albert-Jeong-Barabási, public) as a query.  For a
    recommender this is the cold-start cascade number: how much of
    the catalog becomes unreachable for graph walks when the head
    items are unavailable.

    Both BFS passes are r_shortest_path's ``_bfs_levels`` (one
    equi-join + one min-dist aggregate per level, unrolled-CTE oracle);
    the attacked pass just filters the edge list first — hub removal
    is a broadcast anti-join, not a graph rebuild.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    hubs = (
        deg.orderBy(F.col("d").desc(), "src")
        .limit(5)
        .select(F.col("src").alias("node"))
        .cache()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().cache()
    aedges = (
        edges.join(
            hubs.select(F.col("node").alias("src")), "src", "left_anti"
        )
        .join(hubs.select(F.col("node").alias("dst")), "dst", "left_anti")
        .cache()
    )
    src = (
        nodes.join(hubs, "node", "left_anti")
        .agg(F.min("node").alias("node"))
    )
    full = _bfs_levels(edges, src, 3).agg(
        F.count("*").cast("long").alias("reach_full")
    )
    attacked = _bfs_levels(aedges, src, 3).agg(
        F.count("*").cast("long").alias("reach_attacked")
    )
    nn = nodes.agg(F.count("*").cast("long").alias("n_nodes"))
    return (
        nn.crossJoin(F.broadcast(full))
        .crossJoin(F.broadcast(attacked))
        .select(
            "n_nodes",
            "reach_full",
            "reach_attacked",
            f6(
                F.col("reach_attacked").cast("double")
                / F.col("reach_full")
            ).alias("survival_ratio"),
        )
    )


_LPA_VOTE_SQL = """
    a{next} AS (
        SELECT e.dst AS node, l.lab, count(*) AS c
        FROM edges e
        JOIN l{cur} l ON l.node = e.src AND l.lab IS NOT NULL
        JOIN l{cur} u ON u.node = e.dst AND u.lab IS NULL
        GROUP BY e.dst, l.lab
    ),
    p{next} AS (
        SELECT node, lab FROM (
            SELECT node, lab,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, lab) AS rn
            FROM a{next}
        ) WHERE rn = 1
    ),
    l{next} AS (
        SELECT n.node, coalesce(n.lab, p.lab) AS lab,
               CASE WHEN n.rnd IS NOT NULL THEN n.rnd
                    WHEN p.lab IS NOT NULL THEN {next} END AS rnd
        FROM l{cur} n LEFT JOIN p{next} p ON p.node = n.node
    )
"""



# LPA label alphabet: seeds are node % _LPA_LABELS, and the in-row vote
# argmax below counts exactly these labels. Both derive from this one
# constant so a seed change cannot silently drop votes.
_LPA_LABELS = 5
_LPA_COUNTS = ",".join(f"c{k}" for k in range(_LPA_LABELS))


# The seeded 2-round LPA labels over the shared co-purchase edges.
# r_label_propagation (the operator) and r_modularity (its quality audit)
# read the IDENTICAL (node, lab, rnd) frame; sharing it — and caching
# each round's lab INSIDE the loop — removes the nested-lineage
# recompute (round 2 references round 1 three times; the audit
# referenced the final frame five more times: measured ~21 s -> ~5 s for
# r_modularity).
def _lpa_labels(spark, sf_dir):
    return shared_frame(
        spark, sf_dir, "lpa_labels", lambda: _lpa_build(spark, sf_dir)
    )


def _lpa_build(spark, sf_dir):
    edges = _copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    lab = nodes.select(
        "node",
        F.when(F.col("node") % 7 == 0, F.col("node") % _LPA_LABELS).alias(
            "lab"
        ),
        F.when(F.col("node") % 7 == 0, F.lit(0)).alias("rnd"),
    )
    round1 = None
    for rnd in (1, 2):
        prev = lab
        labeled = lab.where(F.col("lab").isNotNull()).select(
            F.col("node").alias("l_node"), F.col("lab").alias("l_lab")
        )
        unlabeled = lab.where(F.col("lab").isNull()).select(
            F.col("node").alias("u_node")
        )
        # In-row argmax over the bounded label alphabet (r18, guide
        # §2.4): labels are node % _LPA_LABELS by construction, so the
        # per-node vote argmax is one conditional count per label in ONE
        # aggregation and an array_position(max) projection — this drops
        # the old (v_node, v_lab) groupBy + row_number window, i.e. one
        # Exchange+Sort per LPA round. Tiebreak identical: the window
        # ordered (c DESC, v_lab ASC); array_position returns the FIRST
        # max, which is the smallest label. A node only appears with
        # >= 1 vote (inner join), so the max is never a zero count.
        # Verified row-identical (exceptAll empty both ways) and A/B'd
        # med 2.09 -> 1.95 s on the 2-round rebuild.
        counts = (
            edges.join(labeled, edges.src == F.col("l_node"))
            .join(unlabeled, edges.dst == F.col("u_node"))
            .groupBy(F.col("dst").alias("v_node"))
            .agg(
                *[
                    F.count(F.when(F.col("l_lab") == k, True)).alias(f"c{k}")
                    for k in range(_LPA_LABELS)
                ]
            )
        )
        pick = counts.select(
            "v_node",
            (
                F.expr(
                    f"array_position(array({_LPA_COUNTS}),"
                    f" array_max(array({_LPA_COUNTS})))"
                )
                - 1
            ).cast("long").alias("v_lab"),
        )
        lab = (
            lab.join(pick, lab.node == pick.v_node, "left")
            .select(
                "node",
                F.coalesce(F.col("lab"), F.col("v_lab")).alias("lab"),
                F.when(F.col("rnd").isNotNull(), F.col("rnd"))
                .when(F.col("v_lab").isNotNull(), F.lit(rnd))
                .alias("rnd"),
            )
            # each round is consumed 3x downstream (labeled/unlabeled/
            # coalesce) — caching breaks the exponential re-derivation
            .cache()
        )
        # superseded round frame: give executor memory back (same
        # iterative-label hygiene as llm/dedup.py's propagation loop);
        # only the FINAL frame stays cached in the cross-key memo.
        # rnd 1's prev is the uncached seed select; the round-1 frame
        # (rnd == 2's prev) must NOT be unpersisted yet — caching is
        # lazy, so dropping it here would empty its cache entry before
        # any action populates it, and the final frame's first
        # materialization would re-derive the round-1 subplan once per
        # downstream reference (round-14 advice).
        if rnd == 2:
            round1 = prev
    # Materialize the final frame NOW (populating both caches in one
    # job), then release the superseded round-1 frame — the memoized
    # final frame is what every downstream key reads.
    lab.count()
    if round1 is not None:
        round1.unpersist()
    return lab


@register(
    "r_label_propagation",
    f"""
    WITH {_GRAPH_SQL},
    l0 AS (SELECT node,
                  CASE WHEN node % 7 = 0 THEN node % {_LPA_LABELS} END AS lab,
                  CASE WHEN node % 7 = 0 THEN 0 END AS rnd
           FROM nodes),
    {_LPA_VOTE_SQL.format(cur=0, next=1)},
    {_LPA_VOTE_SQL.format(cur=1, next=2)}
    SELECT node, CAST(lab AS BIGINT) AS label,
           CAST(rnd AS BIGINT) AS labeled_round
    FROM l2
    """,
)
def r_label_propagation(spark, sf_dir):
    """Sticky label propagation (semi-supervised community seeding;
    Raghavan 2007's LPA in its deterministic seeded form, public): seed
    nodes (node % 7 == 0) carry a fixed label (node % 5); each
    synchronous round, every still-UNLABELED node adopts the most
    frequent label among its already-labeled neighbors (count desc, min
    label tiebreak) and then never changes — two rounds unrolled, so
    labeled_round doubles as a seed-distance census (0 = seed, 1/2 =
    adopted, NULL = unreached). The sticky variant avoids free-running
    LPA's oscillation on bipartite-ish structures, which is also what
    makes an exact unrolled-CTE oracle possible.

    Scale design: one round = one edge-keyed join of the frontier's
    labeled side against the unlabeled side plus a (node, label) count —
    the r_pagerank iteration shape, shuffle sized by edges incident to
    the frontier (shrinking each round). Labels and votes are integers;
    the argmax is a per-node window over a bounded label alphabet. At
    real scale you loop to quiescence with localCheckpoint every few
    rounds (the r_shortest_path discipline) instead of unrolling.
    """
    lab = _lpa_labels(spark, sf_dir)
    return lab.select(
        "node",
        F.col("lab").cast("long").alias("label"),
        F.col("rnd").cast("long").alias("labeled_round"),
    )


@register(
    "r_modularity",
    f"""
    WITH {_GRAPH_SQL},
    l0 AS (SELECT node,
                  CASE WHEN node % 7 = 0 THEN node % {_LPA_LABELS} END AS lab,
                  CASE WHEN node % 7 = 0 THEN 0 END AS rnd
           FROM nodes),
    {_LPA_VOTE_SQL.format(cur=0, next=1)},
    {_LPA_VOTE_SQL.format(cur=1, next=2)},
    comm AS (
        SELECT node, coalesce(lab, -(node + 1)) AS community FROM l2
    ),
    m2t AS (SELECT count(*) AS m2 FROM edges),
    dc AS (
        SELECT c.community, count(*) AS n_nodes, sum(deg.d) AS degree_sum
        FROM comm c JOIN deg ON deg.src = c.node
        GROUP BY c.community
    ),
    ec AS (
        SELECT cs.community, count(*) AS intra_directed
        FROM edges e
        JOIN comm cs ON cs.node = e.src
        JOIN comm cd ON cd.node = e.dst
        WHERE cs.community = cd.community
        GROUP BY cs.community
    ),
    terms AS (
        SELECT d.community, d.n_nodes, d.degree_sum,
               coalesce(e.intra_directed, 0) AS intra_directed,
               coalesce(e.intra_directed, 0) * m.m2
                   - d.degree_sum * d.degree_sum AS num
        FROM dc d LEFT JOIN ec e ON d.community = e.community
        CROSS JOIN m2t m
    ),
    q AS (
        SELECT (sum(t.num) * 1000000) // (m.m2 * m.m2) AS q_ppm
        FROM terms t CROSS JOIN m2t m GROUP BY m.m2
    )
    SELECT CAST(t.community AS BIGINT) AS community,
           CAST(t.n_nodes AS BIGINT) AS n_nodes,
           CAST(t.degree_sum AS BIGINT) AS degree_sum,
           CAST(t.intra_directed AS BIGINT) AS intra_directed,
           CAST((t.num * 1000000) // (m.m2 * m.m2) AS BIGINT)
               AS contrib_ppm,
           CAST(q.q_ppm AS BIGINT) AS q_ppm
    FROM terms t CROSS JOIN m2t m CROSS JOIN q
    WHERE t.n_nodes >= 2
    ORDER BY community
    """,
)
def r_modularity(spark, sf_dir):
    """Newman modularity of the r_label_propagation communities — the
    quality score that tells you whether LPA found real structure:
    Q = Σ_c (e_c/2m − (d_c/2m)²), positive when communities hold more
    intra-edges than a degree-preserving random graph would. Unreached
    nodes count as singleton communities (pure (d/2m)² penalty) so Q is
    the honest whole-graph score, but only real (≥2-node) communities
    are emitted, each with its exact contribution.

    Exactness: the whole formula is evaluated over DIRECTED edge counts
    (the shared symmetric edge list, m2 = 2m) as one rational — num_c =
    e_c·m2 − d_c², Q_ppm = Σnum_c · 1e6 div m2² — a single BIGINT
    integer division, no per-term float drift (m2² ≤ ~6e10 at the
    500-node item-graph cap, far inside BIGINT).

    Scale: reuses the memoized co-purchase edge frame (9th consumer)
    and the unrolled 2-round LPA labels; the audit itself is one
    label-keyed edge join (co-partitioned on the node key) + two
    community-grain aggregations — the same per-iteration cost bound as
    the rest of the graph family.
    """
    edges = _copurchase_edges(spark, sf_dir)
    lab = _lpa_labels(spark, sf_dir)
    comm = lab.select(
        "node",
        F.coalesce(F.col("lab"), -(F.col("node") + 1)).alias("community"),
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    m2t = edges.agg(F.count("*").alias("m2"))
    dc = (
        comm.join(deg, comm.node == deg.src)
        .groupBy("community")
        .agg(
            F.count("*").alias("n_nodes"), F.sum("d").alias("degree_sum")
        )
    )
    cs = comm.select(F.col("node").alias("s_node"), F.col("community").alias("s_comm"))
    cd = comm.select(F.col("node").alias("d_node"), F.col("community").alias("d_comm"))
    ec = (
        edges.join(cs, edges.src == F.col("s_node"))
        .join(cd, edges.dst == F.col("d_node"))
        .where(F.col("s_comm") == F.col("d_comm"))
        .groupBy(F.col("s_comm").alias("community"))
        .agg(F.count("*").alias("intra_directed"))
    )
    terms = (
        dc.join(ec, "community", "left")
        .crossJoin(F.broadcast(m2t))
        .select(
            "community",
            "n_nodes",
            "degree_sum",
            F.coalesce("intra_directed", F.lit(0)).alias("intra_directed"),
            (
                F.coalesce("intra_directed", F.lit(0)) * F.col("m2")
                - F.col("degree_sum") * F.col("degree_sum")
            ).alias("num"),
            "m2",
        )
    )
    q = terms.groupBy("m2").agg(
        F.expr("(sum(num) * 1000000) div (m2 * m2)").alias("q_ppm")
    ).select("q_ppm")
    return (
        terms.crossJoin(F.broadcast(q))
        .where(F.col("n_nodes") >= 2)
        .select(
            F.col("community").cast("long").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            F.col("intra_directed").cast("long").alias("intra_directed"),
            F.expr("(num * 1000000) div (m2 * m2)").cast("long")
            .alias("contrib_ppm"),
            F.col("q_ppm").cast("long").alias("q_ppm"),
        )
        .orderBy("community")
    )


@register(
    "r_clustering_coeff",
    """
    WITH m AS (
        SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_partkey < 200
    ),
    e AS (
        SELECT a.item_id AS s, b.item_id AS d
        FROM m a JOIN m b ON a.user_id = b.user_id AND a.item_id < b.item_id
        GROUP BY 1, 2
        HAVING count(*) >= 3
    ),
    sym AS (SELECT s, d FROM e UNION ALL SELECT d, s FROM e),
    deg AS (SELECT s AS v, CAST(count(*) AS BIGINT) AS degree
            FROM sym GROUP BY s),
    wedge AS (SELECT e1.s AS v, e1.d AS a, e2.d AS b
              FROM sym e1 JOIN sym e2
                ON e1.s = e2.s AND e1.d < e2.d),
    closed AS (SELECT w.v, CAST(count(*) AS BIGINT) AS n_closed
               FROM wedge w JOIN e ON e.s = w.a AND e.d = w.b
               GROUP BY w.v)
    SELECT deg.v AS item_id, deg.degree,
           coalesce(closed.n_closed, 0) AS n_closed,
           round(coalesce(closed.n_closed, 0) * 2.0
                 / (deg.degree * (deg.degree - 1)), 6) + 0 AS lcc
    FROM deg LEFT JOIN closed ON closed.v = deg.v
    WHERE deg.degree >= 2
    ORDER BY item_id
    """,
)
def r_clustering_coeff(spark, sf_dir, max_item=200):
    """Local clustering coefficient per item on the support->=3
    co-purchase graph (same sparsified edge set as r_triangle_count):
    lcc(v) = closed wedges / all wedges = 2*T(v) / (d(v)*(d(v)-1)).
    The neighborhood-density number community detection, link
    prediction, and "ecosystem vs hub" item classification read —
    a high-degree item with low lcc is a generic staple bridging
    categories; high lcc marks a dense accessory cluster.

    Scale: the canonical-order trick again — wedges are enumerated
    once per unordered neighbor pair (e1.d < e2.d over the SYMMETRIC
    edge list, so every wedge at v appears exactly once), then closed
    by one equi-join against the canonical (s < d) edge set.  Wedge
    count is sum(d^2) over nodes, the quantity the support>=3
    sparsification bounds BEFORE the join (the same degeneracy knob
    production triangle counting uses); degree census and the final
    ratio are map-side arithmetic.  Zero floats until the final 6dp
    ratio of exact BIGINTs.
    """
    # max_item parameterized for the scale ladder: its catalog grows
    # with the corpus, so a fixed 200-item cap degenerates to the 10
    # blockbusters at x30 and the wedge join would measure nothing;
    # the registered contract is the r_triangle_count-matched 200.
    m = (
        ratings_matrix(spark, sf_dir, max_item=max_item)
        .select("user_id", "item_id")
        .distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 2.38 -> 3.28 s without it, IQR 0.43 s.
    e = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .groupBy(F.col("a.item_id").alias("s"), F.col("b.item_id").alias("d"))
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= 3)
        .select("s", "d")
        # one materialization feeds sym (x2), deg, wedge (x2), closed
        .cache()
    )
    sym = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    deg = sym.groupBy(F.col("s").alias("v")).agg(
        F.count("*").cast("long").alias("degree")
    )
    e1, e2 = sym.alias("e1"), sym.alias("e2")
    wedge = e1.join(
        e2, (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.d") < F.col("e2.d"))
    ).select(
        F.col("e1.s").alias("v"), F.col("e1.d").alias("a"),
        F.col("e2.d").alias("b"),
    )
    closed = (
        wedge.join(
            e, (F.col("a") == F.col("s")) & (F.col("b") == F.col("d"))
        )
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("n_closed"))
    )
    nc = F.coalesce(F.col("n_closed"), F.lit(0)).cast("long")
    return (
        deg.join(closed, "v", "left")
        .where(F.col("degree") >= 2)
        .select(
            F.col("v").alias("item_id"),
            "degree",
            nc.alias("n_closed"),
            f6(nc * 2.0 / (F.col("degree") * (F.col("degree") - 1))).alias(
                "lcc"
            ),
        )
        .orderBy("item_id")
    )


@register(
    "r_deepwalk_corpus",
    f"""
    WITH {_GRAPH_SQL},
    starts AS (SELECT node AS v0 FROM nodes WHERE node % 3 = 0),
    h1 AS (
        SELECT v0, dst AS v1 FROM (
            SELECT s.v0, e.dst,
                   row_number() OVER (
                       PARTITION BY s.v0
                       ORDER BY md5(CAST(s.v0 AS VARCHAR) || ':1:'
                                    || CAST(e.dst AS VARCHAR))) AS rn
            FROM starts s JOIN edges e ON e.src = s.v0)
        WHERE rn = 1
    ),
    h2 AS (
        SELECT v0, v1, dst AS v2 FROM (
            SELECT h1.v0, h1.v1, e.dst,
                   row_number() OVER (
                       PARTITION BY h1.v0
                       ORDER BY md5(CAST(h1.v0 AS VARCHAR) || ':2:'
                                    || CAST(e.dst AS VARCHAR))) AS rn
            FROM h1 JOIN edges e ON e.src = h1.v1
            WHERE e.dst <> h1.v0)
        WHERE rn = 1
    ),
    h3 AS (
        SELECT v0, v1, v2, dst AS v3 FROM (
            SELECT h2.v0, h2.v1, h2.v2, e.dst,
                   row_number() OVER (
                       PARTITION BY h2.v0
                       ORDER BY md5(CAST(h2.v0 AS VARCHAR) || ':3:'
                                    || CAST(e.dst AS VARCHAR))) AS rn
            FROM h2 JOIN edges e ON e.src = h2.v2
            WHERE e.dst <> h2.v1)
        WHERE rn = 1
    )
    SELECT v0 AS walk_id, v0, v1, v2, v3
    FROM h3 ORDER BY walk_id
    """,
)
def r_deepwalk_corpus(spark, sf_dir):
    """DeepWalk-style random-walk corpus generation (Perozzi 2014) —
    the TRAINING-DATA step of graph embeddings: one length-3 walk per
    sampled start node over the co-purchase graph, with the next hop
    chosen by md5-argmin over the current node's neighbors (a
    deterministic stand-in for the uniform draw: the hash is seeded by
    (start, hop, candidate) so each walk makes independent
    pseudo-random choices, reproducible on both engines).  The
    non-backtracking rule (hop i may not return to v_{i-2}) is
    node2vec's p=inf limit.  Downstream these (v0..v3) rows explode
    into skip-gram pairs exactly like text windows — the corpus IS the
    product.

    Scale: each hop is ONE edges equi-join + a per-walk argmin window
    (walk-keyed, never global) — cost is walks x avg-degree per hop,
    linear in walk count and bounded by the memoized edge frame.  Real
    deployments run W walks/node x L hops as L chained joins of the
    same shape; lineage stays flat because each hop's frame is
    walk-grain, not edge-grain.
    """
    edges = _copurchase_edges(spark, sf_dir)
    starts = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .where(F.col("node") % 3 == 0)
        .select(F.col("node").alias("v0"))
    )

    def hop(frame, cur, prev, out, hop_no):
        cand = frame.join(edges, F.col(cur) == F.col("src"))
        if prev is not None:
            cand = cand.where(F.col("dst") != F.col(prev))
        w = Window.partitionBy("v0").orderBy(
            F.md5(
                F.concat_ws(
                    ":", F.col("v0"), F.lit(str(hop_no)), F.col("dst")
                )
            )
        )
        keep = [c for c in frame.columns] + [F.col("dst").alias(out)]
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(*keep)
        )

    h1 = hop(starts, "v0", None, "v1", 1)
    h2 = hop(h1, "v1", "v0", "v2", 2)
    h3 = hop(h2, "v2", "v1", "v3", 3)
    return h3.select(
        F.col("v0").alias("walk_id"), "v0", "v1", "v2", "v3"
    ).orderBy("walk_id")


@register(
    "r_katz_centrality",
    f"""
    WITH {_GRAPH_SQL},
    w1 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS w FROM edges
           GROUP BY 1),
    w2 AS (SELECT e.dst AS node, CAST(sum(w1.w) AS BIGINT) AS w
           FROM edges e JOIN w1 ON w1.node = e.src GROUP BY 1),
    w3 AS (SELECT e.dst AS node, CAST(sum(w2.w) AS BIGINT) AS w
           FROM edges e JOIN w2 ON w2.node = e.src GROUP BY 1)
    SELECT w1.node, w1.w AS walks1,
           CAST(coalesce(w2.w, 0) AS BIGINT) AS walks2,
           CAST(coalesce(w3.w, 0) AS BIGINT) AS walks3,
           round(0.1 * CAST(w1.w AS DOUBLE) + 0.01 * coalesce(w2.w, 0)
                 + 0.001 * coalesce(w3.w, 0), 6) + 0 AS katz
    FROM w1 LEFT JOIN w2 ON w2.node = w1.node
            LEFT JOIN w3 ON w3.node = w1.node
    ORDER BY katz DESC, w1.node LIMIT 20
    """,
)
def r_katz_centrality(spark, sf_dir):
    """Katz centrality truncated at path length 3 (α = 0.1, β = 1) on
    the shared co-purchase graph: katz(v) = Σ_{{k=1..3}} α^k · (# k-step
    walks ending at v). Degree only counts direct neighbors; PageRank
    normalizes influence away by out-degree — Katz is the middle
    ground that rewards being close to HUBS without the random-walk
    normalization, and the α-truncation IS the production form (full
    Katz needs the resolvent inverse; α < 1/λ_max truncates fast).
    Walk counts are BIGINT-exact; only the final α-weighted sum is
    floating, from identical integers on both engines. w2/w3 join back
    LEFT with coalesce(w, 0): a node with out-edges but zero 2- or
    3-step walks (a high-degree SINK whose neighbors have no out-edges)
    must rank by 0.1·w1, not vanish from the ranking — inner joins
    would silently exclude it on sparse or directed graphs (round-14
    verdict item 6; the co-purchase fixture has no such node, so the
    hash is unchanged, and test_round15 constructs one to pin it).

    Scale: two degree-table joins over the memoized edge frame (the
    10th consumer of `_copurchase_edges`) — each iteration shuffles on
    the node key exactly like one PageRank step, so cost = 2/3 of
    r_pagerank's unrolled loop; top-20 is TakeOrdered, never a global
    rank window.
    """
    return _katz_truncated(_copurchase_edges(spark, sf_dir))


def _katz_truncated(edges):
    """Length-3 truncated Katz over an (src, dst) edge frame — split out
    so tests can drive it on a constructed sink-node graph (the
    co-purchase fixture is symmetric, so its zero-walk branch never
    fires there)."""
    w1 = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("w1")
    )
    w2 = (
        edges.join(w1, edges.src == w1.node)
        .groupBy(F.col("dst").alias("node2"))
        .agg(F.sum("w1").cast("long").alias("w2"))
    )
    w3 = (
        edges.join(w2, edges.src == F.col("node2"))
        .groupBy(F.col("dst").alias("node3"))
        .agg(F.sum("w2").cast("long").alias("w3"))
    )
    w2c = F.coalesce(F.col("w2"), F.lit(0).cast("long"))
    w3c = F.coalesce(F.col("w3"), F.lit(0).cast("long"))
    katz = 0.1 * F.col("w1") + 0.01 * w2c + 0.001 * w3c
    return (
        w1.join(w2, w1.node == F.col("node2"), "left")
        .join(w3, w1.node == F.col("node3"), "left")
        .select(
            "node",
            F.col("w1").alias("walks1"),
            w2c.alias("walks2"),
            w3c.alias("walks3"),
            f6(katz).alias("katz"),
        )
        .orderBy(F.col("katz").desc(), "node")
        .limit(20)
    )
