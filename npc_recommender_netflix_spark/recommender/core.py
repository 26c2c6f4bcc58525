"""§2.8 Recommender core — the reference's capability surface, Spark-first.

The reference (bernardgut/npc-recommender-netflix; empty checkout, see
SURVEY.md §0 — no file:line citations possible) is by name and driver
description a Netflix-Prize MapReduce collaborative-filtering pipeline.
Each operator below names the MR job phase it replaces; the whole chain is
ONE lazy Catalyst plan instead of N disk-materialized MR jobs.

Ratings proxy on the TPC-H-ish fixtures (SURVEY §2.8): implicit rating =
sum(l_quantity) per (o_custkey "user", l_partkey "item") via orders⋈lineitem.
`ratings_matrix` is that matrix, computed once per session and input
(MR Job 1's one write, read by every later job); a `max_item` slice of it
is a filter over the one memoized frame, never a second build.
`interactions` is the one definition of a rating interaction and `split`
the one holdout policy (orders with l_orderkey % 5 == 0 are held out);
every evaluation key reads its train/holdout rows from them. The
similarity pipeline restricts to item_id < 200 to keep the pair
explosion bounded at test scale; at 100 TB you'd bound it instead by
minhash-prefiltering or top-M-per-user sampling before the self-join, and
the self-join shuffles on user_id (co-partitioned with the matrix).

Determinism discipline: every ranking orders by the ROUNDED score plus a
unique id tiebreak, so cross-engine float noise below 1e-6 cannot reorder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import (f6, load_table, money2, shared_frame, tables,
                       widen_narrow_scan)

def _cached(spark, sf_dir: str, name: str, build) -> DataFrame:
    """Session memo for a shared intermediate of the CF chain: the ratings
    matrix ("matrix", MR Job 1's output, built once per session and input)
    and the item-cosine table. Without it the matrix subplan (an
    orders⋈lineitem join + groupBy) is replicated up to 10x inside one
    prediction plan (measured: 10 lineitem scans, 0 ReusedExchange at
    sf0.01), and every consumer key rebuilds it.

    A cached frame keeps its physical plan, and every broadcast relation
    in it stays in the JVM heap until ``clearCache()``. So a cached CF
    plan may hold only the broadcasts its result needs: the matrix's one
    orders join, and the item-cosine pair self-join where AQE measures
    the 200-item slice small. A degree cap is a window count
    (``_degree_capped``) and a cosine norm a window column
    (``_item_pairs``), never an aggregate joined back: the capped frame
    r_slope_one_capped caches holds no broadcast, and the cosine memo no
    norm one.
    """
    # recache=False (round-12 bisect): these frames are cheap to rebuild
    # (~0.3 s) and feed 1-3 consumers per key, so re-registering after an
    # external clearCache() made every post-clearCache key pay a cache
    # write it never amortized — measured +0.6 s on r_predict and +0.4 s
    # on r_adamic_adar at sf0.1. A cleared frame recomputes lazily per
    # consumer instead, which is cheaper at this fan-out.
    return shared_frame(spark, sf_dir, name, build, recache=False)


def interactions(spark, sf_dir) -> DataFrame:
    """The one definition of a rating interaction: each lineitem of an
    order is a (user_id = o_custkey, item_id = l_partkey, qty = l_quantity)
    event, tagged with its order key ``ok`` and order date ``od``. Lazy;
    column pruning drops the columns a consumer does not read."""
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    return orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
        F.col("l_quantity").alias("qty"),
        F.col("l_orderkey").alias("ok"),
        F.col("o_orderdate").alias("od"),
    )


def split(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The one holdout policy: an order with ``ok % 5 == 0`` is held out.
    Returns ``(train_rows, hold_rows)`` of an ``interactions`` frame."""
    return base.where(F.col("ok") % 5 != 0), base.where(F.col("ok") % 5 == 0)


def ratings_matrix(spark, sf_dir, max_item: int | None = None) -> DataFrame:
    """User-item implicit rating matrix (MR Job 1: parse + group).

    rating = sum(l_quantity) per (customer, part). Quantities are small
    integers stored as double -> FP-exact sums, deterministic across engines.

    Like MR Job 1's one HDFS write that every later job reads, the matrix
    is built once per session and input (``_cached`` memo "matrix") and
    every CF key reads that frame. A ``max_item`` slice is a filter over
    it with no memo of its own: while the matrix is cached the filter
    reads the cached columns; after a ``clearCache()`` Catalyst pushes it
    below the aggregate into the lineitem scan, as a filtered build would.
    One memo also means one cached physical plan holds an orders
    broadcast, not one per sliced or derived cached frame.
    """
    def build():
        orders, li = tables(spark, sf_dir, "orders", "lineitem")
        return (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy(
                F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id")
            )
            .agg(F.sum("l_quantity").alias("rating"))
        )

    m = _cached(spark, sf_dir, "matrix", build)
    return m if max_item is None else m.where(F.col("item_id") < max_item)


_M_SQL = """
    SELECT o_custkey AS user_id, l_partkey AS item_id, sum(l_quantity) AS rating
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
"""
_M200_SQL = """
    SELECT o_custkey AS user_id, l_partkey AS item_id, sum(l_quantity) AS rating
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_partkey < 200
    GROUP BY 1, 2
"""


def _degree_capped(m0: DataFrame, key: str, cap: int, width: int) -> DataFrame:
    """The rows of a ratings matrix whose ``key`` (user or item) has at
    most ``cap`` ratings: the degree cap a capped CF key applies before
    its pair self-join, so no key value fans out past cap² pair rows.

    One hash exchange on ``key`` into ``width`` partitions, and the degree
    is a window count over it: no aggregate, join or broadcast. The
    group-and-join-back form (``groupBy(key).count()`` joined to ``m0``)
    broadcasts the degree table, and a cached capped frame keeps its
    physical plan, so that broadcast stayed in the JVM heap until
    ``clearCache()``.
    """
    return (
        m0.repartition(width, key)
        .withColumn("deg", F.count("*").over(Window.partitionBy(key)))
        .where(F.col("deg") <= cap)
        .drop("deg")
    )


def item_cosine(spark, sf_dir) -> DataFrame:
    """Item-item cosine over user-rating vectors (MR Jobs 3-4), rounded 6dp.

    Pairs via self-join on user_id with a.item < b.item canonicalization —
    the same shuffle-halving idiom the MR pipeline uses with pair keys.
    Result cached: topk_neighbors consumes it twice (both orientations).
    """
    return _cached(spark, sf_dir, "cosine_sims", lambda: _item_cosine_build(spark, sf_dir))


def _item_cosine_build(spark, sf_dir) -> DataFrame:
    m = ratings_matrix(spark, sf_dir, max_item=200)
    return _item_pairs(m).select("item_a", "item_b", f6("cos").alias("cosine"))


def _item_pairs(m: DataFrame) -> DataFrame:
    """Item-item cosine over a ratings matrix's user-rating vectors:
    (item_a < item_b, n_common co-raters, unrounded cos) for every
    co-rated pair, from one self-join on user_id.

    Each item's norm sqrt(Σ rating²) rides along as a window column and
    the pair aggregate keeps it as ``max``, so no norm aggregate is joined
    back onto either side. Exact: ratings are integral, so Σ rating² is an
    exact double in any summation order, and ``max`` of a per-item
    constant is that constant.
    """
    sq = F.col("rating") * F.col("rating")
    m = m.withColumn("nrm", F.sqrt(F.sum(sq).over(Window.partitionBy("item_id"))))
    a = m.alias("a")
    b = m.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .groupBy(
            F.col("a.item_id").alias("item_a"), F.col("b.item_id").alias("item_b")
        )
        .agg(
            F.sum(F.col("a.rating") * F.col("b.rating")).alias("dot"),
            F.count("*").alias("n_common"),
            F.max("a.nrm").alias("na"),
            F.max("b.nrm").alias("nb"),
        )
        .select(
            "item_a",
            "item_b",
            "n_common",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
    )


_COS_SQL = f"""
    WITH m AS ({_M200_SQL}),
    n AS (SELECT item_id, sqrt(sum(rating * rating)) AS nrm FROM m GROUP BY item_id),
    p AS (SELECT a.item_id AS item_a, b.item_id AS item_b, sum(a.rating * b.rating) AS dot
          FROM m a JOIN m b ON a.user_id = b.user_id AND a.item_id < b.item_id
          GROUP BY 1, 2)
    SELECT item_a, item_b, round(dot / (na.nrm * nb.nrm), 6) + 0 AS cosine
    FROM p JOIN n na ON p.item_a = na.item_id JOIN n nb ON p.item_b = nb.item_id
"""


def topk_neighbors(spark, sf_dir, k: int = 5) -> DataFrame:
    """Top-k neighbors per item by rounded cosine (MR Job 5: secondary sort)."""
    sims = item_cosine(spark, sf_dir)
    # r17 (guide §2.4): one map-side explode for both orientations, not
    # sims UNION sims-flipped — the union form replayed the whole
    # item_cosine build once per branch whenever the memoized cache is
    # cold (the bench clears caches between keys), for every predictions
    # consumer downstream. Identical row multiset (the r_user_cosine
    # treatment applied to the shared helper).
    bidir = sims.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item_id"),
                    F.col("item_b").alias("neighbor_id"),
                ),
                F.struct(
                    F.col("item_b").alias("item_id"),
                    F.col("item_a").alias("neighbor_id"),
                ),
            )
        ).alias("e"),
        "cosine",
    ).select("e.item_id", "e.neighbor_id", "cosine")
    w = Window.partitionBy("item_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        bidir.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
        .select("item_id", "neighbor_id", "cosine", "rn")
    )


_NB_SQL = f"""
    WITH sims AS ({_COS_SQL}),
    bidir AS (
        SELECT item_a AS item_id, item_b AS neighbor_id, cosine FROM sims
        UNION ALL
        SELECT item_b AS item_id, item_a AS neighbor_id, cosine FROM sims
    ),
    ranked AS (
        SELECT item_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY item_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM bidir
    )
    SELECT item_id, neighbor_id, cosine, rn FROM ranked WHERE rn <= 5
"""


def predictions(spark, sf_dir) -> DataFrame:
    """Predicted score for unseen (user, item): Σ sim·r / Σ sim (MR Job 6)."""
    m = ratings_matrix(spark, sf_dir, max_item=200).withColumn(
        "rating", money2(F.col("rating"))
    )
    nb = topk_neighbors(spark, sf_dir)
    # join: user's rated item j -> candidate i where j ∈ N(i). The slice
    # broadcasts and the neighbor table streams, so the join keeps nb's
    # item_id partitioning and the (user_id, cand_item) aggregate needs no
    # exchange. Without the hint the slice is planned at the size of the
    # whole cached matrix, nb broadcasts instead, and the pass gains an
    # aggregate exchange: on the sf0.01 fixture r_predict ran 5 jobs and
    # wrote 0.546 MB of shuffle, against 4 jobs and 0.015 MB with it. The
    # slice is bounded by the item_id < 200 test bound, and the anti join
    # below broadcasts the same rows as ``seen``.
    scored = (
        F.broadcast(m).join(nb, m.item_id == nb.neighbor_id)
        .groupBy("user_id", nb.item_id.alias("cand_item"))
        .agg(
            F.sum(F.col("cosine") * F.col("rating")).alias("num"),
            F.sum("cosine").alias("den"),
        )
    )
    seen = ratings_matrix(spark, sf_dir, max_item=200).select(
        "user_id", F.col("item_id").alias("cand_item")
    )
    return (
        scored.join(seen, ["user_id", "cand_item"], "left_anti")
        .select(
            "user_id",
            F.col("cand_item").alias("item_id"),
            f6(F.col("num") / F.col("den")).alias("pred"),
        )
    )


_PRED_SQL = f"""
    WITH m AS (SELECT user_id, item_id, round(rating, 2) AS rating FROM ({_M200_SQL})),
    nb AS ({_NB_SQL}),
    scored AS (
        SELECT m.user_id, nb.item_id AS cand_item,
               sum(nb.cosine * m.rating) AS num, sum(nb.cosine) AS den
        FROM m JOIN nb ON m.item_id = nb.neighbor_id
        GROUP BY 1, 2
    )
    SELECT s.user_id, s.cand_item AS item_id, round(s.num / s.den, 6) + 0 AS pred
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.user_id = s.user_id
                      AND m.item_id = s.cand_item)
"""


@register(
    "r_ratings_matrix",
    f"SELECT user_id, item_id, round(rating, 2) AS rating FROM ({_M_SQL})",
)
def r_ratings_matrix(spark, sf_dir):
    return ratings_matrix(spark, sf_dir).withColumn("rating", money2(F.col("rating")))


@register(
    "r_events_matrix",
    """
    SELECT user_id, event_type, count(*) AS strength,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY user_id, event_type
    """,
)
def r_events_matrix(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("strength"), f6(F.avg("value")).alias("avg_value")
    )


@register(
    "r_item_stats",
    f"""
    WITH m AS ({_M_SQL})
    SELECT item_id, count(*) AS n_users, round(avg(rating), 6) AS mean_rating,
           (SELECT round(avg(rating), 6) FROM m) AS global_mean
    FROM m GROUP BY item_id
    """,
)
def r_item_stats(spark, sf_dir):
    """Per-item count/mean + global mean (MR Job 1 reduce + a combiner pass)."""
    m = ratings_matrix(spark, sf_dir)
    g = m.agg(f6(F.avg("rating")).alias("global_mean"))
    return (
        m.groupBy("item_id")
        .agg(F.count("*").alias("n_users"), f6(F.avg("rating")).alias("mean_rating"))
        .crossJoin(F.broadcast(g))
    )


@register(
    "r_mean_center",
    f"""
    WITH m AS ({_M_SQL})
    SELECT user_id, item_id,
           round(rating - avg(rating) OVER (PARTITION BY user_id), 6) + 0 AS centered
    FROM m
    """,
)
def r_mean_center(spark, sf_dir):
    """Normalize rating by subtracting the user mean (MR Job 2)."""
    m = ratings_matrix(spark, sf_dir)
    w = Window.partitionBy("user_id")
    return m.select(
        "user_id",
        "item_id",
        f6(F.col("rating") - F.avg("rating").over(w)).alias("centered"),
    )


@register(
    "r_cooccurrence",
    f"""
    WITH m AS (SELECT DISTINCT user_id, item_id FROM ({_M200_SQL}))
    SELECT a.item_id AS item_a, b.item_id AS item_b, count(*) AS n_common
    FROM m a JOIN m b ON a.user_id = b.user_id AND a.item_id < b.item_id
    GROUP BY 1, 2
    """,
)
def r_cooccurrence(spark, sf_dir):
    """Item-pair co-rating counts (MR Job 3: self-join keyed on user)."""
    m = ratings_matrix(spark, sf_dir, max_item=200).select("user_id", "item_id").distinct()
    a = m.alias("a")
    b = m.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .groupBy(F.col("a.item_id").alias("item_a"), F.col("b.item_id").alias("item_b"))
        .agg(F.count("*").alias("n_common"))
    )


@register("r_cosine_sim", _COS_SQL)
def r_cosine_sim(spark, sf_dir):
    return item_cosine(spark, sf_dir)


@register("r_topk_neighbors", _NB_SQL)
def r_topk_neighbors(spark, sf_dir):
    return topk_neighbors(spark, sf_dir)


@register("r_predict", _PRED_SQL)
def r_predict(spark, sf_dir):
    return predictions(spark, sf_dir)


@register(
    "r_topn_recs",
    f"""
    WITH p AS ({_PRED_SQL}),
    ranked AS (
        SELECT user_id, item_id, pred,
               row_number() OVER (PARTITION BY user_id ORDER BY pred DESC, item_id) AS rn
        FROM p
    )
    SELECT user_id, item_id, pred, rn FROM ranked WHERE rn <= 3
    """,
)
def r_topn_recs(spark, sf_dir):
    """Top-3 recommendations per user excluding seen items (MR Job 7)."""
    p = predictions(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("pred").desc(), F.col("item_id"))
    return (
        p.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("user_id", "item_id", "pred", "rn")
    )


@register(
    "r_rmse",
    f"""
    WITH train AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id, sum(l_quantity) AS rating
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_orderkey % 5 <> 0 GROUP BY 1, 2
    ),
    hold AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id, sum(l_quantity) AS rating
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_orderkey % 5 = 0 GROUP BY 1, 2
    ),
    im AS (SELECT item_id, avg(rating) AS mean_i FROM train GROUP BY item_id),
    g AS (SELECT avg(rating) AS gm FROM train)
    SELECT round(sqrt(avg(power(coalesce(im.mean_i, g.gm) - hold.rating, 2))), 6) AS rmse
    FROM hold LEFT JOIN im ON im.item_id = hold.item_id CROSS JOIN g
    """,
)
def r_rmse(spark, sf_dir):
    """Holdout evaluation: item-mean predictor RMSE on an orderkey%5 split."""
    train_rows, hold_rows = split(interactions(spark, sf_dir))
    train = train_rows.groupBy("user_id", "item_id").agg(F.sum("qty").alias("rating"))
    hold = hold_rows.groupBy("user_id", "item_id").agg(F.sum("qty").alias("rating"))
    im = train.groupBy("item_id").agg(F.avg("rating").alias("mean_i"))
    g = train.agg(F.avg("rating").alias("gm"))
    err = (
        hold.join(F.broadcast(im), "item_id", "left")
        .crossJoin(F.broadcast(g))
        .select(
            F.pow(
                F.coalesce(F.col("mean_i"), F.col("gm")) - F.col("rating"), F.lit(2)
            ).alias("sq")
        )
    )
    return err.agg(f6(F.sqrt(F.avg("sq"))).alias("rmse"))


# The popularity-baseline eval's oracle CTEs up to the candidate pool:
# orderkey%5 train/holdout split, the global top-20 popular items, and
# each holdout user's unseen top-20 items. _RANK_EVAL_SQL (r_ndcg,
# r_mrr), r_precision_at_k and r_map_at_k each rank their recs on it.
_RANK_POOL_SQL = """
    WITH base AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id, l_quantity AS qty,
               l_orderkey AS ok
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    train AS (SELECT user_id, item_id, sum(qty) AS rating FROM base
              WHERE ok % 5 <> 0 GROUP BY 1, 2),
    hold AS (SELECT DISTINCT user_id, item_id FROM base WHERE ok % 5 = 0),
    pop AS (SELECT item_id, sum(rating) AS pop FROM train GROUP BY 1),
    top20 AS (SELECT item_id, pop FROM (
                  SELECT *, row_number() OVER (ORDER BY pop DESC, item_id) AS rn
                  FROM pop) WHERE rn <= 20),
    users AS (SELECT DISTINCT user_id FROM hold),
    cand AS (SELECT u.user_id, t.item_id, t.pop
             FROM users u CROSS JOIN top20 t
             WHERE NOT EXISTS (SELECT 1 FROM train tr
                               WHERE tr.user_id = u.user_id
                                 AND tr.item_id = t.item_id)),
"""


@register(
    "r_precision_at_k",
    _RANK_POOL_SQL
    + """    recs AS (SELECT user_id, item_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                                              ORDER BY pop DESC, item_id) AS rn
                 FROM cand) WHERE rn <= 3),
    hits AS (SELECT r.user_id, count(h.item_id) AS hits
             FROM recs r LEFT JOIN hold h
               ON h.user_id = r.user_id AND h.item_id = r.item_id
             GROUP BY 1)
    SELECT user_id, CAST(hits AS BIGINT) AS hits, round(hits / 3.0, 6) AS prec3
    FROM hits
    """,
)
def r_precision_at_k(spark, sf_dir):
    """Offline recommender evaluation: precision@3 of a popularity baseline
    against an orderkey%5 holdout (MR reference's evaluate phase; same split
    as r_rmse).

    The candidate pool is the global top-20 popular items (tiny -> one
    broadcast), crossed with holdout users and anti-joined against each
    user's training items before ranking — so per-user work is O(pool), not
    O(catalog), and the only big shuffles are the two keyed aggregates.
    Popularity sums are FP-exact (integer quantities in doubles), rankings
    end in item_id, so the result is deterministic cross-engine.
    """
    recs, hold = _rank_eval_recs(spark, sf_dir, 3)
    hits = (
        recs.alias("r")
        .join(
            hold.alias("h"),
            (F.col("r.user_id") == F.col("h.user_id"))
            & (F.col("r.item_id") == F.col("h.item_id")),
            "left",
        )
        .groupBy(F.col("r.user_id").alias("user_id"))
        .agg(F.count(F.col("h.item_id")).alias("hits"))
    )
    return hits.select(
        "user_id",
        F.col("hits").cast("long").alias("hits"),
        f6(F.col("hits") / 3.0).alias("prec3"),
    )


@register(
    "r_baseline_bias",
    """
    WITH train AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id, sum(l_quantity) AS r
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_orderkey % 5 <> 0 GROUP BY 1, 2
    ),
    hold AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id, sum(l_quantity) AS r
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_orderkey % 5 = 0 GROUP BY 1, 2
    ),
    g AS (SELECT CAST(sum(r) AS DOUBLE) / count(*) AS mu FROM train),
    bi AS (SELECT item_id,
                  round((CAST(sum(r) AS DOUBLE) - count(*) * (SELECT mu FROM g))
                        / (10 + count(*)), 9) AS b_i,
                  count(*) AS n_i
           FROM train GROUP BY item_id),
    bu AS (SELECT t.user_id,
                  round((CAST(sum(t.r) AS DOUBLE)
                         - count(*) * (SELECT mu FROM g) - sum(b.b_i))
                        / (10 + count(*)), 9) AS b_u
           FROM train t JOIN bi b ON b.item_id = t.item_id
           GROUP BY t.user_id)
    SELECT round((SELECT mu FROM g), 6) AS mu,
           round(sqrt(avg(power((SELECT mu FROM g)
                                + coalesce(bu.b_u, 0) + coalesce(bi.b_i, 0)
                                - hold.r, 2))), 6) AS rmse_baseline,
           count(*) AS n_test
    FROM hold LEFT JOIN bi ON bi.item_id = hold.item_id
              LEFT JOIN bu ON bu.user_id = hold.user_id
    """,
)
def r_baseline_bias(spark, sf_dir):
    """Netflix-Prize baseline predictor: pred = mu + b_u + b_i with
    regularized biases (lambda=10), evaluated by RMSE on the orderkey%5
    holdout — the classic first rung above the item-mean predictor
    (`r_rmse`).

    Determinism: the bias numerators use the algebraic form
    sum(r) - n*mu (exact integer sum minus ONE float product), never a
    float sum of per-row (r - mu) whose reduction order varies; b_i is
    rounded to 9dp before entering the user-bias sum (the same
    per-iteration rounding that makes `r_pagerank` engine-exact). Plan
    shape: two grouped aggs over the shared train scan, biases broadcast
    back (item/user tables ≪ fact), one final avg. At 100 TB this is the
    shape ALS initialization uses; lambda controls cold-start shrinkage.
    """
    train_rows, hold_rows = split(interactions(spark, sf_dir))
    train = (
        train_rows.groupBy("user_id", "item_id").agg(F.sum("qty").alias("r"))
    )
    hold = hold_rows.groupBy("user_id", "item_id").agg(F.sum("qty").alias("r"))
    g = train.agg((F.sum("r").cast("double") / F.count(F.lit(1))).alias("mu"))
    bi = (
        train.join(F.broadcast(g))
        .groupBy("item_id")
        .agg(
            F.round(
                (F.sum("r").cast("double") - F.count(F.lit(1)) * F.first("mu"))
                / (10 + F.count(F.lit(1))), 9
            ).alias("b_i")
        )
    )
    bu = (
        train.join(F.broadcast(bi), "item_id")
        .join(F.broadcast(g))
        .groupBy("user_id")
        .agg(
            F.round(
                (F.sum("r").cast("double") - F.count(F.lit(1)) * F.first("mu")
                 - F.sum("b_i"))
                / (10 + F.count(F.lit(1))), 9
            ).alias("b_u")
        )
    )
    pred = (
        hold.join(F.broadcast(bi), "item_id", "left")
        .join(F.broadcast(bu), "user_id", "left")
        .join(F.broadcast(g))
        .select(
            F.col("mu"),
            F.pow(
                F.col("mu")
                + F.coalesce(F.col("b_u"), F.lit(0.0))
                + F.coalesce(F.col("b_i"), F.lit(0.0))
                - F.col("r"),
                F.lit(2),
            ).alias("sq"),
        )
    )
    return pred.agg(
        f6(F.first("mu")).alias("mu"),
        f6(F.sqrt(F.avg("sq"))).alias("rmse_baseline"),
        F.count(F.lit(1)).alias("n_test"),
    )


from ..registry import ORACLE as _ORACLE  # noqa: E402  (registered above)


@register(
    "r_coverage",
    f"""
    WITH p AS ({_PRED_SQL}),
    recs AS (
        SELECT item_id FROM (
            SELECT item_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY pred DESC, item_id) AS rn
            FROM p
        ) WHERE rn <= 3
    )
    SELECT CAST(count(DISTINCT item_id) AS BIGINT) AS n_rec_items,
           CAST((SELECT count(DISTINCT item_id) FROM p) AS BIGINT)
               AS n_catalog,
           round(count(DISTINCT item_id) * 1.0
                 / (SELECT count(DISTINCT item_id) FROM p), 6) AS coverage
    FROM recs
    """,
)
def r_coverage(spark, sf_dir):
    """Recommender catalog coverage: the share of recommendable items that
    ever appear in any user's top-3 — the aggregate-diversity metric that
    exposes popularity-collapsed recommenders (a high-RMSE-quality model
    can still recommend the same 10 items to everyone).

    Composes the registered prediction frame, so the metric scores exactly
    what `r_topn_recs` serves. Plan shape: the top-3 window reuses the
    cached prediction intermediates; both distinct counts reduce to single
    rows before the final one-row join.
    """
    # r17 (guide §2.4): the recommended-items census AND the catalog
    # census both scan p — uncached (after the bench's clearCache the
    # memoized upstream frames rebuild lazily), that replayed the whole
    # predictions chain twice. Interleaved A/B: 1.98 -> 1.74 s min, every
    # rep pair favoring the cache.
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 1.98 -> 2.35 s without it, IQR 0.11 s.
    p = predictions(spark, sf_dir).cache()
    w = Window.partitionBy("user_id").orderBy(F.col("pred").desc(), "item_id")
    recs = p.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    nr = recs.agg(F.countDistinct("item_id").alias("n_rec_items"))
    nc = p.agg(F.countDistinct("item_id").alias("n_catalog"))
    return nr.join(F.broadcast(nc)).select(
        "n_rec_items", "n_catalog",
        f6(F.col("n_rec_items") * 1.0 / F.col("n_catalog")).alias("coverage"),
    )


# Binary-relevance DCG position weights (1/log2(pos+1)) in exact 1e-12
# units, so the per-user DCG sums BIGINTs (order-independent, engine-exact)
# and only the final ndcg division touches floats. Both the Spark plan and
# the oracle use these same literals.
_DCG_W = {1: 1000000000000, 2: 630929753571, 3: 500000000000,
          4: 430676558073, 5: 386852807235}
_IDCG = {1: 1000000000000, 2: 1630929753571, 3: 2130929753571,
         4: 2561606311644, 5: 2948459118879}

_RANK_EVAL_SQL = _RANK_POOL_SQL + """    recs AS (SELECT user_id, item_id, rn FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                                              ORDER BY pop DESC, item_id) AS rn
                 FROM cand) WHERE rn <= {k})
"""


def _rank_eval_recs(spark, sf_dir, k: int):
    """Shared popularity-baseline eval harness: returns (recs, hold).

    recs = top-k popularity recommendations per holdout user with their
    1-based rank, candidates anti-joined against the user's training items;
    hold = the user's held-out (orderkey%5) items. r_precision_at_k (k=3),
    r_ndcg (5), r_mrr (10) and r_map_at_k (5) all rank with it, so the
    four eval metrics score the same recommendations.
    """
    train_rows, hold_rows = split(interactions(spark, sf_dir))
    train = train_rows.groupBy("user_id", "item_id").agg(F.sum("qty").alias("rating"))
    hold = hold_rows.select("user_id", "item_id").distinct()
    pop = train.groupBy("item_id").agg(F.sum("rating").alias("pop"))
    # top-k from the item catalog via orderBy().limit -> TakeOrderedAndProject
    # (per-partition heap, no single-task catalog-wide window; identical rows
    # to the old rn<=20 row_number form under the same (pop desc, id) order)
    top20 = pop.orderBy(F.col("pop").desc(), "item_id").limit(20)
    users = hold.select("user_id").distinct()
    cand = users.crossJoin(F.broadcast(top20)).join(
        train.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
    )
    wrec = Window.partitionBy("user_id").orderBy(F.col("pop").desc(), "item_id")
    recs = (
        cand.withColumn("rn", F.row_number().over(wrec))
        .where(F.col("rn") <= k)
        .select("user_id", "item_id", "rn")
    )
    return recs, hold


@register(
    "r_ndcg",
    _RANK_EVAL_SQL.format(k=5)
    + f"""
    , scored AS (
        SELECT r.user_id,
               sum(CASE WHEN h.item_id IS NULL THEN 0
                        WHEN r.rn = 1 THEN {_DCG_W[1]}
                        WHEN r.rn = 2 THEN {_DCG_W[2]}
                        WHEN r.rn = 3 THEN {_DCG_W[3]}
                        WHEN r.rn = 4 THEN {_DCG_W[4]}
                        ELSE {_DCG_W[5]} END) AS dcg_units
        FROM recs r LEFT JOIN hold h
          ON h.user_id = r.user_id AND h.item_id = r.item_id
        GROUP BY r.user_id
    ), nrel AS (
        SELECT user_id, least(count(*), 5) AS n_rel FROM hold GROUP BY user_id
    )
    SELECT s.user_id,
           round(dcg_units / 1e12, 6) AS dcg5,
           round(CAST(dcg_units AS DOUBLE) /
                 (CASE n.n_rel WHEN 1 THEN {_IDCG[1]} WHEN 2 THEN {_IDCG[2]}
                               WHEN 3 THEN {_IDCG[3]} WHEN 4 THEN {_IDCG[4]}
                               ELSE {_IDCG[5]} END), 6) AS ndcg5
    FROM scored s JOIN nrel n ON n.user_id = s.user_id
    """,
)
def r_ndcg(spark, sf_dir):
    """Offline eval: NDCG@5 (binary relevance) of the popularity baseline
    against the orderkey%5 holdout — the ranking-aware companion to
    r_precision_at_k (same split, same candidate policy).

    DCG sums exact integer position weights (1/log2(pos+1) in 1e-12 units)
    so partial aggregation is reorder-safe; ideal DCG is a prefix-sum
    lookup on the user's holdout size capped at k. Both shuffles are keyed
    aggregates on user_id; the top-20 candidate pool broadcasts.
    """
    recs, hold = _rank_eval_recs(spark, sf_dir, 5)
    wmap = F.create_map(
        *[F.lit(x) for kv in _DCG_W.items() for x in kv]
    )
    hit = hold.withColumn("hit", F.lit(1))
    scored = (
        recs.join(hit, ["user_id", "item_id"], "left")
        .withColumn("w", F.when(F.col("hit").isNull(), F.lit(0))
                    .otherwise(wmap[F.col("rn")]))
        .groupBy("user_id")
        .agg(F.sum("w").alias("dcg_units"))
    )
    imap = F.create_map(
        *[F.lit(x) for kv in _IDCG.items() for x in kv]
    )
    nrel = hold.groupBy("user_id").agg(
        F.least(F.count("*"), F.lit(5)).alias("n_rel")
    )
    return scored.join(nrel, "user_id").select(
        "user_id",
        f6(F.col("dcg_units") / 1e12).alias("dcg5"),
        f6(F.col("dcg_units").cast("double") / imap[F.col("n_rel")]).alias("ndcg5"),
    )


@register(
    "r_mrr",
    _RANK_EVAL_SQL.format(k=10)
    + """
    SELECT r.user_id,
           CAST(coalesce(min(CASE WHEN h.item_id IS NOT NULL THEN r.rn END), 0)
                AS BIGINT) AS first_hit,
           round(coalesce(1.0 / min(CASE WHEN h.item_id IS NOT NULL THEN r.rn END),
                          0.0), 6) AS rr
    FROM recs r LEFT JOIN hold h
      ON h.user_id = r.user_id AND h.item_id = r.item_id
    GROUP BY r.user_id
    """,
)
def r_mrr(spark, sf_dir):
    """Offline eval: per-user reciprocal rank of the first holdout hit in
    the popularity top-10 (0 when no hit) — the MRR companion to r_ndcg,
    same split/candidates. One user-keyed aggregate; rank arithmetic is a
    single exact division before the 6dp round.
    """
    recs, hold = _rank_eval_recs(spark, sf_dir, 10)
    hit = hold.withColumn("hit", F.lit(1))
    first = (
        recs.join(hit, ["user_id", "item_id"], "left")
        .groupBy("user_id")
        .agg(F.min(F.when(F.col("hit").isNotNull(), F.col("rn"))).alias("fh"))
    )
    return first.select(
        "user_id",
        F.coalesce(F.col("fh"), F.lit(0)).cast("long").alias("first_hit"),
        f6(F.coalesce(1.0 / F.col("fh"), F.lit(0.0))).alias("rr"),
    )


@register(
    "r_covisitation",
    """
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events
    ),
    o AS (
        SELECT user_id, ts, event_id, item,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id))
                            > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM ev
    ),
    s AS (
        SELECT user_id, item,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    ),
    si AS (SELECT DISTINCT user_id, sid, item FROM s),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b
        FROM si a JOIN si b
          ON a.user_id = b.user_id AND a.sid = b.sid AND a.item < b.item
    )
    SELECT item_a, item_b, CAST(count(*) AS BIGINT) AS n_sessions
    FROM pairs GROUP BY item_a, item_b
    ORDER BY n_sessions DESC, item_a, item_b
    LIMIT 50
    """,
)
def r_covisitation(spark, sf_dir):
    """Session co-visitation matrix: item pairs viewed within the same
    user session (30-min gap sessionization), counted across all sessions,
    top-50 — the candidate-generation signal modern recsys builds before
    any model (e.g. covisit matrices in ranking pipelines).

    Composes w_sessionize's single-shuffle sessionization with a within-
    session self-join: sessions stay partitioned by user_id through the
    window, the (user, sid, item) dedup clusters on the same key, and the
    pair join is per-session (work = Σ|session-items|², bounded by session
    length — never a global item join). Pair counts partial-aggregate
    before the final (item_a, item_b) shuffle; top-50 is
    TakeOrderedAndProject.
    """
    return _top_session_pairs(_session_items(spark, sf_dir, 1800000000))


def _session_items(spark, sf_dir, gap_us: int):
    """Distinct (user_id, sid, item) rows: each user's events split into
    sessions at gaps above ``gap_us`` microseconds (one user-keyed
    window). r_covisitation and r_covisitation_capped sessionize here."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    brk = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    s = ev.withColumn(
        "sid", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return s.select("user_id", "sid", "item").distinct()


def _top_session_pairs(si):
    """Top-50 item pairs (item_a < item_b) by the number of sessions of
    ``si`` (user_id, sid, item) that hold both: the within-session
    self-join and pair count of both covisitation keys."""
    a = si.select(
        F.col("user_id").alias("ua"), F.col("sid").alias("sa"),
        F.col("item").alias("item_a"),
    )
    b = si.select(
        F.col("user_id").alias("ub"), F.col("sid").alias("sb"),
        F.col("item").alias("item_b"),
    )
    pairs = a.join(
        b,
        (F.col("ua") == F.col("ub")) & (F.col("sa") == F.col("sb"))
        & (F.col("item_a") < F.col("item_b")),
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "item_a", "item_b")
        .limit(50)
    )


# Each user's top-5 neighbors by cosine over both pair orientations:
# the oracle tail of r_user_cosine and r_user_cosine_capped.
_USER_TOP5_SQL = """
    bidir AS (
        SELECT user_a AS user_id, user_b AS neighbor_id, cosine FROM sims
        UNION ALL
        SELECT user_b AS user_id, user_a AS neighbor_id, cosine FROM sims
    )
    SELECT user_id, neighbor_id, cosine, rn FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY user_id
                                          ORDER BY cosine DESC, neighbor_id)
                       AS BIGINT) AS rn
        FROM bidir
    ) WHERE rn <= 5
    """


@register(
    "r_user_cosine",
    """
    WITH base AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id,
               sum(l_quantity) AS rating
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey < 300
        GROUP BY 1, 2
    ),
    n AS (SELECT user_id, sqrt(sum(rating * rating)) AS nrm
          FROM base GROUP BY user_id),
    p AS (SELECT a.user_id AS user_a, b.user_id AS user_b,
                 sum(a.rating * b.rating) AS dot
          FROM base a JOIN base b
            ON a.item_id = b.item_id AND a.user_id < b.user_id
          GROUP BY 1, 2),
    sims AS (
        SELECT user_a, user_b, round(dot / (na.nrm * nb.nrm), 6) + 0 AS cosine
        FROM p JOIN n na ON p.user_a = na.user_id
               JOIN n nb ON p.user_b = nb.user_id
    ),"""
    + _USER_TOP5_SQL,
)
def r_user_cosine(spark, sf_dir):
    """USER-user collaborative filtering: top-5 nearest users by rating-
    vector cosine — the transposed twin of the item-item core
    (r_cosine_sim), the other half of a classic Netflix-Prize
    neighborhood ensemble.

    Same scale discipline as the item side: the pair join keys on the
    SHARED ITEM (never a user cross join), so work is Σ|item's raters|²
    — bounded here by the user_id<300 slice, and at 100 TB by capping
    hot items' posting lists exactly like t_jaccard_neardup_capped caps
    hot shingles (drop items rated by >df_max users from the pair
    generation; they carry no discriminative signal). Ratings are exact
    integer sums, so dot/norm are float-deterministic; ranking orders by
    rounded cosine with neighbor tiebreak.
    """
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 1.13 -> 1.59 s without it, IQR 0.10 s.
    base = (
        orders.where(F.col("o_custkey") < 300)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(F.sum("l_quantity").alias("rating"))
        .cache()
    )
    n = base.groupBy("user_id").agg(
        F.sqrt(F.sum(F.col("rating") * F.col("rating"))).alias("nrm")
    )
    # item_id aliased per side: both inputs derive from the same cached
    # plan, so a shared-name equality is a self-comparison Spark flags
    # with the trivially-true "use aliases" WARN (round-8 advice item 7).
    a = base.select(
        F.col("user_id").alias("user_a"),
        F.col("item_id").alias("item_a"),
        F.col("rating").alias("ra"),
    )
    b = base.select(
        F.col("user_id").alias("user_b"),
        F.col("item_id").alias("item_b"),
        F.col("rating").alias("rb"),
    )
    p = (
        a.join(
            b,
            (F.col("item_a") == F.col("item_b"))
            & (F.col("user_a") < F.col("user_b")),
        )
        .groupBy("user_a", "user_b")
        .agg(F.sum(F.col("ra") * F.col("rb")).alias("dot"))
    )
    na = n.select(F.col("user_id").alias("user_a"), F.col("nrm").alias("na"))
    nb = n.select(F.col("user_id").alias("user_b"), F.col("nrm").alias("nb"))
    sims = (
        p.join(F.broadcast(na), "user_a")
        .join(F.broadcast(nb), "user_b")
        .select(
            "user_a", "user_b",
            f6(F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    # One map-side explode for both orientations (r17, guide §2.4) —
    # same duplicate-subtree removal as r_user_cosine_capped below.
    bidir = sims.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("user_a").alias("user_id"),
                    F.col("user_b").alias("neighbor_id"),
                ),
                F.struct(
                    F.col("user_b").alias("user_id"),
                    F.col("user_a").alias("neighbor_id"),
                ),
            )
        ).alias("e"),
        "cosine",
    ).select("e.user_id", "e.neighbor_id", "cosine")
    w = Window.partitionBy("user_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        bidir.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("user_id", "neighbor_id", "cosine", "rn")
    )


@register(
    "r_cosine_sim_capped",
    f"""
    WITH m0 AS ({_M_SQL}),
    deg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS df
            FROM m0 GROUP BY user_id),
    m AS (SELECT m0.user_id, m0.item_id, m0.rating
          FROM m0 JOIN deg ON deg.user_id = m0.user_id
          WHERE deg.df <= 48),
    n AS (SELECT item_id, sqrt(sum(rating * rating)) AS nrm
          FROM m GROUP BY item_id),
    p AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
                 sum(a.rating * b.rating) AS dot,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM m a JOIN m b
            ON a.user_id = b.user_id AND a.item_id < b.item_id
          GROUP BY 1, 2),
    sims AS (
        SELECT item_a, item_b, round(dot / (na.nrm * nb.nrm), 6) + 0 AS cosine
        FROM p JOIN n na ON p.item_a = na.item_id
               JOIN n nb ON p.item_b = nb.item_id
        WHERE p.n_common >= 3
    ),
    bidir AS (
        SELECT item_a AS item_id, item_b AS neighbor_id, cosine FROM sims
        UNION ALL
        SELECT item_b AS item_id, item_a AS neighbor_id, cosine FROM sims
    )
    SELECT item_id, neighbor_id, cosine, rn FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY item_id
                                          ORDER BY cosine DESC, neighbor_id)
                       AS BIGINT) AS rn
        FROM bidir
    ) WHERE rn <= 3
    """,
)
def r_cosine_sim_capped(spark, sf_dir):
    """Item-item cosine with NO item-id bound — the 100 TB shape of
    r_cosine_sim, the coded version of what that operator's module
    docstring only promised in prose.

    The pair join keys on the shared USER, so each user contributes
    |their items|² pair rows; a power user who touches everything is
    the hot shingle of this join. Exactly like
    t_jaccard_neardup_capped caps hot shingles at df<=64, this drops
    users with more than 48 rated items BEFORE the self-join (their
    co-ratings are popularity noise, not preference signal — the same
    argument TF-IDF makes for stopwords), bounding every user's
    fan-out at 48² regardless of corpus size. Norms and cosines are
    computed over the capped matrix on BOTH engines, so the oracle is
    exact; output is top-3 neighbors per item by rounded cosine with
    an id tiebreak (bounded |items|×3, collect-safe at any scale), and
    a support floor n_common>=3 drops single-co-rating noise pairs.
    """
    # No .cache(): the capped matrix is read by the pair join's two sides
    # only, and caching the capped, normed frame measured no win. At sf0.1
    # (4 cores, cache cleared per run, 8 alternating pairs) it ran 8.38 s
    # median cached and 8.58 s uncached, inside the noise; the
    # group-and-join cap with its own cache ran 10.5 s (5 runs).
    m = _degree_capped(
        ratings_matrix(spark, sf_dir), "user_id", 48,
        spark.sparkContext.defaultParallelism,
    )
    sims = (
        _item_pairs(m)
        .where(F.col("n_common") >= 3)
        .select("item_a", "item_b", f6("cos").alias("cosine"))
    )
    # One map-side explode for both orientations, not sims UNION sims
    # (r17, guide §2.4): the union re-ran the whole uncached pair
    # subtree per branch — two identical pair-cell shuffles (same
    # duplicate-stage shape measured on r_user_cosine_capped).
    bidir = sims.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item_id"),
                    F.col("item_b").alias("neighbor_id"),
                ),
                F.struct(
                    F.col("item_b").alias("item_id"),
                    F.col("item_a").alias("neighbor_id"),
                ),
            )
        ).alias("e"),
        "cosine",
    ).select("e.item_id", "e.neighbor_id", "cosine")
    w = Window.partitionBy("item_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        bidir.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("item_id", "neighbor_id", "cosine", "rn")
    )


@register(
    "r_user_cosine_capped",
    f"""
    WITH m0 AS ({_M_SQL}),
    deg AS (SELECT item_id, CAST(count(*) AS BIGINT) AS df
            FROM m0 GROUP BY item_id),
    m AS (SELECT m0.user_id, m0.item_id, m0.rating
          FROM m0 JOIN deg ON deg.item_id = m0.item_id
          WHERE deg.df <= 40),
    n AS (SELECT user_id, sqrt(sum(rating * rating)) AS nrm
          FROM m GROUP BY user_id),
    p AS (SELECT a.user_id AS user_a, b.user_id AS user_b,
                 sum(a.rating * b.rating) AS dot,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM m a JOIN m b
            ON a.item_id = b.item_id AND a.user_id < b.user_id
          GROUP BY 1, 2),
    sims AS (
        SELECT user_a, user_b, round(dot / (na.nrm * nb.nrm), 6) + 0 AS cosine
        FROM p JOIN n na ON p.user_a = na.user_id
               JOIN n nb ON p.user_b = nb.user_id
        WHERE p.n_common >= 3
    ),{_USER_TOP5_SQL}""",
)
def r_user_cosine_capped(spark, sf_dir):
    """User-user top-5 neighbors over the FULL user population — the
    100 TB shape of r_user_cosine (which bounds work with a
    user_id<300 test slice and promised the cap only in its
    docstring).

    The pair join keys on the shared ITEM, so each item contributes
    |its raters|² pair rows; a blockbuster item everyone rates is the
    hot key. This drops items rated by more than 40 users BEFORE the
    self-join (the t_jaccard_neardup_capped df-cap transposed:
    universally-popular items carry no discriminative signal between
    users — the 'everyone watched it' title tells you nothing about
    taste), bounding every item's fan-out at 40² regardless of
    catalog size. Norms/cosines are over the capped matrix on BOTH
    engines (exact oracle); support floor n_common>=3; output top-5
    per user by rounded cosine, id tiebreak — |users|×5, never pairs.
    """
    # Half-core width for the CPU-heavy pair stage (r18, guide §2.6).
    # AQE's size-based coalesce left the capped matrix at 6 partitions,
    # so the pair-generation + partial-aggregate stage (~10 s CPU, the
    # key's dominant cost) ran 6-wide on 32 cores, and its 6 oversized
    # hash-agg task states drove the 4.3<->9 s GC bimodality (r17 open
    # item). The r18 width sweep (same-session alternating A/B, 4-5 reps
    # each):
    # AQE-6 med 4.24 s with a 9.06 s outlier; 8 -> 3.89; 12 -> 3.14;
    # 16 -> 3.06; 24 -> 3.31; r17 had measured FULL defaultParallelism
    # (32) at 15-50% slower. Half the cores is the sweet spot and is
    # cores-scaled, not a constant. The width is the pair stage's: at
    # sf0.01 the executed pair join is a BroadcastHashJoin of the whole
    # capped matrix, streamed from its `width` partitions, not a
    # co-partitioned self-join. Values exact: per-pair dot partials merge
    # in arbitrary order at ANY width (incl. the old 6); result equality
    # verified exceptAll-empty both ways and oracle hash-match at 3 SFs.
    width = max(4, spark.sparkContext.defaultParallelism // 2)
    m = _degree_capped(ratings_matrix(spark, sf_dir), "item_id", 40, width)
    n = m.groupBy("user_id").agg(
        F.sqrt(F.sum(F.col("rating") * F.col("rating"))).alias("nrm")
    )
    # per-side item_id aliases: same trivially-true-WARN rationale as
    # r_user_cosine above (both sides share one lineage).
    # r17 measured revert: replacing this SMJ self-join with per-item
    # collect_list + in-plan 40x40 pair explode (_copurchase_edges
    # treatment) was 65% SLOWER warm (5.9 -> 9.7 s, with 21 s GC
    # outliers) — at cap 40 the flattened 1600-struct arrays cost more
    # than the two Sort legs they remove; the co-purchase win does not
    # transfer because order line lists are ~4 items, not 40.
    a = m.select(
        F.col("item_id").alias("item_a"),
        F.col("user_id").alias("user_a"),
        F.col("rating").alias("ra"),
    )
    b = m.select(
        F.col("item_id").alias("item_b"),
        F.col("user_id").alias("user_b"),
        F.col("rating").alias("rb"),
    )
    p = (
        a.join(
            b,
            (F.col("item_a") == F.col("item_b"))
            & (F.col("user_a") < F.col("user_b")),
        )
        .groupBy("user_a", "user_b")
        .agg(
            F.sum(F.col("ra") * F.col("rb")).alias("dot"),
            F.count("*").alias("n_common"),
        )
    )
    na = n.select(F.col("user_id").alias("user_a"), F.col("nrm").alias("na"))
    nb = n.select(F.col("user_id").alias("user_b"), F.col("nrm").alias("nb"))
    sims = (
        p.where(F.col("n_common") >= 3)
        .join(na, "user_a")
        .join(nb, "user_b")
        .select(
            "user_a", "user_b",
            f6(F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    # Both orientations via ONE map-side explode instead of
    # sims UNION ALL sims (r17, guide §2.4): the union form re-ran the
    # whole pair subtree per branch — AQE did not reuse the exchange, so
    # the 8.3M-row / 318 MiB pair-cell shuffle was written TWICE
    # (measured: two identical ShuffleQueryStages in the final plan).
    # explode(array(struct a->b, struct b->a)) yields the identical row
    # multiset from a single pass.
    bidir = sims.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("user_a").alias("user_id"),
                    F.col("user_b").alias("neighbor_id"),
                ),
                F.struct(
                    F.col("user_b").alias("user_id"),
                    F.col("user_a").alias("neighbor_id"),
                ),
            )
        ).alias("e"),
        "cosine",
    ).select("e.user_id", "e.neighbor_id", "cosine")
    w = Window.partitionBy("user_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        bidir.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("user_id", "neighbor_id", "cosine", "rn")
    )


@register(
    "r_slope_one",
    f"""
    WITH m AS ({_M200_SQL}),
    dev AS (
        SELECT a.item_id AS i, b.item_id AS j,
               sum(a.rating - b.rating) AS dsum,
               CAST(count(*) AS BIGINT) AS c
        FROM m a JOIN m b
          ON a.user_id = b.user_id AND a.item_id <> b.item_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT u.user_id, d.i AS item_id,
               sum(d.dsum + d.c * u.rating) AS num,
               sum(d.c) AS den
        FROM m u JOIN dev d ON d.j = u.item_id
        GROUP BY 1, 2
    ),
    unseen AS (
        SELECT c.user_id, c.item_id, round(c.num / c.den, 6) + 0 AS pred
        FROM cand c LEFT JOIN m s
          ON s.user_id = c.user_id AND s.item_id = c.item_id
        WHERE s.user_id IS NULL
    )
    SELECT user_id, item_id, pred, rn FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY user_id
                                          ORDER BY pred DESC, item_id)
                       AS BIGINT) AS rn
        FROM unseen
    ) WHERE rn <= 3
    """,
)
def r_slope_one(spark, sf_dir):
    """Slope One CF predictor (Lemire & Maclachlan 2005, public): the
    famously simple item-pair scheme — dev(i,j) = mean rating offset
    between items over their co-raters; predict r_ui as the
    support-weighted mean of (dev(i,j) + r_uj) over the user's rated
    items j. The ensemble's cheap-and-robust member next to the cosine
    kNN (r_predict) and bias baseline (r_baseline_bias): no similarity
    metric, no k to tune, updateable by streaming the dev-matrix counters.

    Everything reduces to exact-integer algebra on the bounded matrix:
    the weighted numerator Σc·(dev+r) = Σ(dsum + c·r) never divides
    until the final rounded projection, so both engines agree at 6dp.
    The dev matrix is the usual user-keyed pair self-join (the
    r_cosine_sim shuffle shape, item<200 bound at test scale; the
    df-cap escalation of r_cosine_sim_capped applies verbatim at 100 TB
    — drop power users before pairing). Output is top-3 unseen items
    per user (anti-join on the seen matrix), |users|×3, never pairs.
    """
    m = ratings_matrix(spark, sf_dir, max_item=200)
    a = m.select(F.col("item_id").alias("i"), "user_id", F.col("rating").alias("ra"))
    # b_uid alias: both sides descend from the cached ratings matrix —
    # same-name user_id == user_id trips the trivially-true-equals
    # lineage warning (round-11 logcap tripwire).
    b = m.select(F.col("item_id").alias("j"), F.col("user_id").alias("b_uid"), F.col("rating").alias("rb"))
    dev = (
        a.join(b, (a.user_id == F.col("b_uid")) & (F.col("i") != F.col("j")))
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("ra") - F.col("rb")).alias("dsum"),
            F.count("*").alias("c"),
        )
    )
    u = m.select("user_id", F.col("item_id").alias("j"), F.col("rating").alias("r"))
    cand = (
        u.join(dev, "j")
        .groupBy("user_id", F.col("i").alias("item_id"))
        .agg(
            F.sum(F.col("dsum") + F.col("c") * F.col("r")).alias("num"),
            F.sum("c").alias("den"),
        )
    )
    seen = m.select("user_id", "item_id")
    unseen = cand.join(seen, ["user_id", "item_id"], "left_anti").select(
        "user_id", "item_id", f6(F.col("num") / F.col("den")).alias("pred")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("pred").desc(), F.col("item_id"))
    return (
        unseen.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("user_id", "item_id", "pred", "rn")
    )


@register(
    "r_item_jaccard",
    f"""
    WITH m AS (SELECT DISTINCT user_id, item_id FROM ({_M200_SQL})),
    deg AS (SELECT item_id, CAST(count(*) AS BIGINT) AS d FROM m GROUP BY 1),
    co AS (
        SELECT a.item_id AS item_a, b.item_id AS item_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM m a JOIN m b ON a.user_id = b.user_id AND a.item_id < b.item_id
        GROUP BY 1, 2
    )
    SELECT co.item_a, co.item_b, co.n_common,
           round(co.n_common * 1.0 / (da.d + db.d - co.n_common), 6)
               AS jaccard
    FROM co JOIN deg da ON co.item_a = da.item_id
    JOIN deg db ON co.item_b = db.item_id
    ORDER BY jaccard DESC, item_a, item_b LIMIT 20
    """,
)
def r_item_jaccard(spark, sf_dir):
    """Item-item Jaccard similarity over the binarized user-item matrix —
    the set-overlap twin of r_cosine_sim (|A∩B| / |A∪B| on rater sets),
    the standard co-purchase candidate-generation signal when rating
    magnitude shouldn't matter.

    Pair counts reuse r_cooccurrence's user-keyed self-join (work is
    Σ|user basket|², never an item cross join); per-item degrees are an
    item-bounded table that broadcasts onto the pair stream, so the
    Jaccard division touches each surviving pair exactly once with exact
    BIGINT operands. Top-20 is TakeOrdered with full (score, a, b)
    tiebreak.
    """
    m = (
        ratings_matrix(spark, sf_dir, max_item=200)
        .select("user_id", "item_id")
        .distinct()
    )
    deg = m.groupBy("item_id").agg(F.count("*").cast("long").alias("d"))
    a, b = m.alias("a"), m.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .groupBy(F.col("a.item_id").alias("item_a"), F.col("b.item_id").alias("item_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    da = F.broadcast(deg.select(F.col("item_id").alias("item_a"), F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("item_id").alias("item_b"), F.col("d").alias("db")))
    return (
        co.join(da, "item_a")
        .join(db, "item_b")
        .select(
            "item_a", "item_b", "n_common",
            f6(
                F.col("n_common") * 1.0
                / (F.col("da") + F.col("db") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "item_a", "item_b")
        .limit(20)
    )


# Each user's top-3 predicted items: the recs CTE r_novelty and
# r_serendipity score.
_PRED_TOP3_SQL = f"""
    WITH p AS ({_PRED_SQL}),
    ranked AS (
        SELECT user_id, item_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY pred DESC, item_id) AS rn
        FROM p
    ),
    recs AS (SELECT user_id, item_id FROM ranked WHERE rn <= 3),
"""


@register(
    "r_novelty",
    f"""{_PRED_TOP3_SQL}    pop AS (SELECT item_id, CAST(count(*) AS BIGINT) AS raters
            FROM ({_M_SQL}) GROUP BY item_id),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu
           FROM ({_M_SQL}))
    SELECT r.user_id, CAST(count(*) AS BIGINT) AS n_recs,
           round(avg(ln(nu.nu * 1.0) - ln(pop.raters * 1.0)) / ln(2.0), 6)
               AS novelty_bits
    FROM recs r JOIN pop ON r.item_id = pop.item_id CROSS JOIN nu
    GROUP BY r.user_id, nu.nu
    """,
)
def r_novelty(spark, sf_dir):
    """Recommendation novelty: per-user mean self-information
    −log2(p(item)) of the top-3 recommended items, where p = fraction of
    users who rated the item — the eval that catches a recommender
    collapsing onto blockbusters (novelty → 0) even while precision looks
    fine. Completes the offline-eval family (r_precision_at_k, r_ndcg,
    r_mrr, r_coverage).

    Reuses the registered top-3 pipeline unchanged; popularity is an
    item-bounded table that broadcasts onto the recs, the user count a
    single-row broadcast. The per-token term is ONE difference of logs of
    exact integers inside a single avg (t_bigram_nll association
    precedent), so both engines reduce identical doubles.
    """
    recs = r_topn_recs(spark, sf_dir).select("user_id", "item_id")
    m = ratings_matrix(spark, sf_dir)
    pop = m.groupBy("item_id").agg(F.count("*").cast("long").alias("raters"))
    nu = m.agg(F.countDistinct("user_id").cast("long").alias("nu"))
    return (
        recs.join(F.broadcast(pop), "item_id")
        .crossJoin(F.broadcast(nu))
        .groupBy("user_id", "nu")
        .agg(
            F.count("*").cast("long").alias("n_recs"),
            (
                F.round(
                    F.avg(F.log(F.col("nu") * 1.0) - F.log(F.col("raters") * 1.0))
                    / float(__import__("math").log(2.0)),
                    6,
                )
            ).alias("novelty_bits"),
        )
        .select("user_id", "n_recs", "novelty_bits")
    )


@register(
    "r_serendipity",
    f"""{_PRED_TOP3_SQL}    pop AS (
        SELECT item_id
        FROM ({_M_SQL}) GROUP BY item_id
        ORDER BY count(*) DESC, item_id LIMIT 10
    )
    SELECT r.user_id, CAST(count(*) AS BIGINT) AS n_recs,
           CAST(count(pop.item_id) AS BIGINT) AS n_obvious,
           round(1 - count(pop.item_id) * 1.0 / count(*), 6) + 0
               AS serendipity
    FROM recs r LEFT JOIN pop ON r.item_id = pop.item_id
    GROUP BY r.user_id
    """,
)
def r_serendipity(spark, sf_dir):
    """Recommendation serendipity: the fraction of each user's top-3 recs
    NOT in the global top-10 most-rated items — the unexpectedness eval
    (a popularity baseline scores exactly 0) that pairs with r_novelty:
    novelty weights by rarity, serendipity hard-gates on "would a
    popularity shelf have shown this anyway?".

    Reuses the registered top-3 pipeline; the obvious-set is a 10-row
    TakeOrdered that broadcasts into a LEFT join (hit counting, no row
    loss); everything after is one user-keyed rollup with exact integer
    counts and a single division.
    """
    recs = r_topn_recs(spark, sf_dir).select("user_id", "item_id")
    m = ratings_matrix(spark, sf_dir)
    pop = (
        m.groupBy("item_id")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "item_id")
        .limit(10)
        .select(F.col("item_id").alias("pop_item"))
    )
    j = recs.join(
        F.broadcast(pop), recs.item_id == F.col("pop_item"), "left"
    )
    return j.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_recs"),
        F.count("pop_item").cast("long").alias("n_obvious"),
        f6(1 - F.count("pop_item") * 1.0 / F.count("*")).alias("serendipity"),
    )


@register(
    "r_bpr_triplets",
    f"""
    WITH m AS (SELECT DISTINCT user_id, item_id FROM ({_M200_SQL})),
    cand AS (
        SELECT user_id, item_id AS pos_item,
               CAST(list_sum(list_transform(range(1, 9),
                   j -> (strpos('0123456789abcdef',
                            substring(md5(CAST(user_id AS VARCHAR) || '-'
                                          || CAST(item_id AS VARCHAR)),
                                      j, 1)) - 1)
                        * 16 ** (8 - j))) AS BIGINT) % 200 AS neg_item
        FROM m
    ),
    valid AS (
        SELECT c.user_id, c.pos_item, c.neg_item
        FROM cand c LEFT JOIN m ON m.user_id = c.user_id
                                AND m.item_id = c.neg_item
        WHERE m.item_id IS NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_triplets,
           CAST(min(neg_item) AS BIGINT) AS min_neg,
           CAST(max(neg_item) AS BIGINT) AS max_neg
    FROM valid GROUP BY user_id
    """,
)
def r_bpr_triplets(spark, sf_dir):
    """Deterministic BPR negative sampling: for each observed (user,
    positive-item) pair, propose the md5-hash-derived candidate negative
    and keep it only if the user never interacted with it — the
    (u, i⁺, i⁻) triplet table implicit-feedback rankers train on,
    reproducible across runs and engines because the 'randomness' is a
    hash, not an RNG.

    The candidate is pure map-side hash math (the t_shuffle_shard
    recipe); validity is ONE left-anti-shaped join back onto the
    interaction matrix on (user, candidate) — at 100 TB this is the
    standard skew-safe shape, and collision-dropped candidates (a
    hash landing on a seen item) are simply absent, exactly as a
    rejection sampler would behave. Census output keeps the key
    driver-checkable; the triplet stream itself is the `valid` CTE.
    """
    m = (
        ratings_matrix(spark, sf_dir, max_item=200)
        .select("user_id", "item_id")
        .distinct()
    )
    h32 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("user_id").cast("string"),
                    F.col("item_id").cast("string"),
                )
            ),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    cand = m.select(
        "user_id",
        F.col("item_id").alias("pos_item"),
        (h32 % 200).alias("neg_item"),
    )
    seen = m.select("user_id", F.col("item_id").alias("neg_item"))
    valid = cand.join(seen, ["user_id", "neg_item"], "left_anti")
    return valid.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_triplets"),
        F.min("neg_item").cast("long").alias("min_neg"),
        F.max("neg_item").cast("long").alias("max_neg"),
    )


@register(
    "r_wilson_lcb",
    """
    WITH m AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id,
               sum(l_quantity) AS rating
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2
    ),
    votes AS (
        SELECT item_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN rating >= 25 THEN 1 ELSE 0 END) AS BIGINT)
                   AS k
        FROM m GROUP BY item_id
    )
    SELECT item_id, n, k,
           round((k * 1.0 / n + 1.9208 / n
                  - 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) + 0 AS wilson_lcb
    FROM votes
    WHERE n >= 5
    ORDER BY wilson_lcb DESC, item_id LIMIT 25
    """,
)
def r_wilson_lcb(spark, sf_dir):
    """Items ranked by the Wilson score lower confidence bound (z = 1.96)
    of their strong-engagement share — the "sort by rating" fix that
    stops a 1-for-1 item outranking a 96-for-100 item, which a raw
    k/n sort (r_item_stats) happily does. Positive vote = implicit
    rating ≥ 25 units; items with <5 raters are excluded.

    n and k fold to exact BIGINTs in the one item_id shuffle (on top of
    the shared ratings-matrix agg); the Wilson closed form — written with
    the z² constants 1.9208/0.9604/3.8416 pre-folded, identically on
    both engines — is one float association per ITEM, so work past the
    matrix agg is catalog-bounded, not interaction-bounded, at 100 TB.
    """
    m = ratings_matrix(spark, sf_dir)
    votes = m.groupBy("item_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("rating") >= 25, 1).otherwise(0)).cast("long").alias("k"),
    )
    p = F.col("k") * 1.0 / F.col("n")
    lcb = (
        p
        + 1.9208 / F.col("n")
        - 1.96 * F.sqrt(p * (1 - p) / F.col("n") + 0.9604 / (F.col("n") * F.col("n")))
    ) / (1 + 3.8416 / F.col("n"))
    return (
        votes.where(F.col("n") >= 5)
        .select("item_id", "n", "k", f6(lcb).alias("wilson_lcb"))
        .orderBy(F.col("wilson_lcb").desc(), "item_id")
        .limit(25)
    )


@register(
    "r_adamic_adar",
    """
    WITH m AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id,
               sum(l_quantity) AS rating
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_partkey < 200
        GROUP BY 1, 2
    ),
    deg AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS d
        FROM m GROUP BY user_id HAVING count(*) >= 2
    ),
    w AS (
        SELECT user_id, CAST(round(1e12 / ln(d * 1.0)) AS BIGINT) AS w12
        FROM deg
    ),
    pairs AS (
        SELECT a.item_id AS item_a, b.item_id AS item_b,
               sum(w.w12) AS aa12,
               CAST(count(*) AS BIGINT) AS n_common
        FROM m a
        JOIN m b ON a.user_id = b.user_id AND a.item_id < b.item_id
        JOIN w ON w.user_id = a.user_id
        GROUP BY a.item_id, b.item_id
    )
    SELECT item_a, item_b, n_common, round(aa12 / 1e12, 6) + 0 AS adamic_adar
    FROM pairs
    ORDER BY adamic_adar DESC, item_a, item_b LIMIT 25
    """,
)
def r_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction on the user-item co-purchase graph:
    item pairs scored by Σ 1/ln(deg(u)) over shared users — a shared
    one-item-only user says far more about item affinity than a
    buy-everything user, which raw co-occurrence (r_cooccurrence)
    weighs identically.

    Each qualifying user's 1/ln(deg) weight is computed ONCE and snapped
    to 1e-12 BIGINT units, so the per-pair sum is reorder-safe; pair
    generation is the same user-keyed a.item < b.item self-join as
    r_cooccurrence (work Σ|user basket|², bounded by basket width — at
    100 TB hot users get df-capped exactly like hot shingles in
    t_jaccard_neardup_capped). Degree-1 users drop out (ln 1 = 0 would
    blow up; they also carry zero pair evidence).
    """
    m = ratings_matrix(spark, sf_dir, max_item=200)
    deg = (
        m.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("d"))
        .where(F.col("d") >= 2)
        .select(
            "user_id",
            F.round(1e12 / F.log(F.col("d") * 1.0)).cast("long").alias("w12"),
        )
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .join(deg.alias("w"), F.col("a.user_id") == F.col("w.user_id"))
        .groupBy(
            F.col("a.item_id").alias("item_a"), F.col("b.item_id").alias("item_b")
        )
        .agg(
            F.sum("w12").alias("aa12"),
            F.count("*").cast("long").alias("n_common"),
        )
    )
    return (
        pairs.select(
            "item_a", "item_b", "n_common", f6(F.col("aa12") / 1e12).alias("adamic_adar")
        )
        .orderBy(F.col("adamic_adar").desc(), "item_a", "item_b")
        .limit(25)
    )


@register(
    "r_popularity_recency",
    """
    WITH mx AS (SELECT max(o_orderdate) AS d0 FROM orders),
    it AS (
        SELECT l.l_partkey AS item_id,
               CAST(datediff('day', o.o_orderdate, mx.d0) AS BIGINT) AS age_d
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        CROSS JOIN mx
    ),
    by_age AS (
        SELECT item_id, age_d, CAST(count(*) AS BIGINT) AS n
        FROM it GROUP BY item_id, age_d
    )
    SELECT item_id,
           CAST(sum(n) AS BIGINT) AS n_events,
           round(sum(n * CAST(round(exp(-age_d / 30.0) * 1e12) AS BIGINT))
                 / 1e12, 6) + 0 AS trend_score
    FROM by_age
    GROUP BY item_id
    ORDER BY trend_score DESC, item_id LIMIT 20
    """,
)
def r_popularity_recency(spark, sf_dir):
    """Time-decayed 'trending now' popularity: each purchase contributes
    exp(-age/30d), so an item bought 100× last year loses to one bought
    10× this week — the recency fix for the static popularity baseline
    r_novelty ranks against.

    The decay weight is computed once per DISTINCT (item, age-in-days)
    bucket — the calendar bounds distinct ages, so exp() runs on a
    bounded axis, NOT per fact row — snapped to 1e-12 BIGINT units and
    multiplied by the exact integer count before the reorder-safe
    per-item sum. The global max date broadcasts as a 1-row scalar.
    Top-20 is TakeOrdered.
    """
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    mx = orders.agg(F.max("o_orderdate").alias("d0"))
    by_age = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("l_partkey").alias("item_id"),
            F.datediff(F.col("d0"), F.col("o_orderdate")).cast("long").alias("age_d"),
        )
        .groupBy("item_id", "age_d")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w12 = F.round(F.exp(-F.col("age_d") / 30.0) * 1e12).cast("long")
    return (
        by_age.groupBy("item_id")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            f6(F.sum(F.col("n") * w12) / 1e12).alias("trend_score"),
        )
        .orderBy(F.col("trend_score").desc(), "item_id")
        .limit(20)
    )


@register(
    "r_shrunk_cosine",
    f"""
    WITH m AS ({_M200_SQL}),
    n AS (SELECT item_id, sqrt(sum(rating * rating)) AS nrm FROM m GROUP BY item_id),
    p AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
                 sum(a.rating * b.rating) AS dot,
                 CAST(count(*) AS BIGINT) AS support
          FROM m a JOIN m b ON a.user_id = b.user_id AND a.item_id < b.item_id
          GROUP BY 1, 2)
    SELECT item_a, item_b, support,
           round(dot / (na.nrm * nb.nrm) * support / (support + 25.0), 6) + 0
               AS shrunk_cosine
    FROM p JOIN n na ON p.item_a = na.item_id JOIN n nb ON p.item_b = nb.item_id
    ORDER BY shrunk_cosine DESC, item_a, item_b LIMIT 25
    """,
)
def r_shrunk_cosine(spark, sf_dir):
    """Support-shrunk item similarity: cosine x n/(n+λ), λ=25 — the
    production itemCF detail that stops a perfect-cosine pair with ONE
    co-rater outranking a 0.8-cosine pair with 500 (r_cosine_sim ranks
    them raw; every deployed neighborhood model shrinks).

    Rides the SAME user-keyed pair self-join and norms as r_cosine_sim
    (``_item_pairs``, whose per-pair count is the support); the
    shrink factor multiplies exact-integer support into the rounded
    cosine once per PAIR, so the cost delta at 100 TB is zero and the
    ranking change is pure statistics. Top-25 is TakeOrdered with an
    (item_a, item_b) tiebreak.
    """
    pairs = _item_pairs(ratings_matrix(spark, sf_dir, max_item=200))
    shrink = F.col("n_common") / (F.col("n_common") + F.lit(25.0))
    return (
        pairs.select(
            "item_a",
            "item_b",
            F.col("n_common").alias("support"),
            f6(F.col("cos") * shrink).alias("shrunk_cosine"),
        )
        .orderBy(F.col("shrunk_cosine").desc(), "item_a", "item_b")
        .limit(25)
    )


@register(
    "r_hits",
    f"""
    WITH m AS ({_M200_SQL}),
    -- iteration 1: uniform hubs -> authority = #raters; hub = sum auths
    a1 AS (SELECT item_id, CAST(count(*) AS BIGINT) AS a FROM m GROUP BY item_id),
    h1 AS (SELECT m.user_id, sum(a1.a) AS h
           FROM m JOIN a1 ON a1.item_id = m.item_id GROUP BY m.user_id),
    -- iteration 2: authority = sum of rater hubs, then normalize by max
    a2 AS (SELECT m.item_id, sum(h1.h) AS a
           FROM m JOIN h1 ON h1.user_id = m.user_id GROUP BY m.item_id),
    mx AS (SELECT max(a) AS mx FROM a2)
    SELECT a2.item_id, a1.a AS n_raters,
           round(a2.a * 1.0 / mx.mx, 6) + 0 AS authority
    FROM a2 JOIN a1 ON a1.item_id = a2.item_id CROSS JOIN mx
    ORDER BY authority DESC, a2.item_id LIMIT 20
    """,
)
def r_hits(spark, sf_dir):
    """HITS hubs-and-authorities on the user-item bipartite graph, two
    unrolled iterations: an item is authoritative when HEAVY-RATING
    users rate it (not merely many users — that's a1/popularity, which
    iteration 2 revises), and a user is a strong hub when they rate
    authoritative items. The fixed-point intuition behind PageRank's
    cousin, expressed as a FINITE Catalyst plan.

    Deliberately unrolled to exactly 2 iterations so the whole
    computation is one declarative DAG with a SQL oracle — the contrast
    to r_pagerank's driver-looped convergence (rows-only). Each
    iteration is one hash join + one keyed agg on the SAME (user, item)
    co-partitioning; scores are exact BIGINT sums of counts until the
    single max-normalized division at the end. At 100 TB each
    iteration is one co-partitioned shuffle — unroll k iterations, pay
    k shuffles, no driver round trips.
    """
    m = ratings_matrix(spark, sf_dir, max_item=200)
    a1 = m.groupBy("item_id").agg(F.count("*").cast("long").alias("a"))
    h1 = (
        m.join(a1, "item_id")
        .groupBy("user_id")
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        m.join(h1, "user_id")
        .groupBy("item_id")
        .agg(F.sum("h").alias("a2"))
    )
    mx = a2.agg(F.max("a2").alias("mx"))
    return (
        a2.join(a1.withColumnRenamed("a", "n_raters"), "item_id")
        .crossJoin(F.broadcast(mx))
        .select(
            "item_id",
            "n_raters",
            f6(F.col("a2") * 1.0 / F.col("mx")).alias("authority"),
        )
        .orderBy(F.col("authority").desc(), "item_id")
        .limit(20)
    )


@register(
    "r_intralist_diversity",
    f"""
    WITH p AS ({_PRED_SQL}),
    recs AS (
        SELECT user_id, item_id FROM (
            SELECT user_id, item_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY pred DESC, item_id) AS rn
            FROM p
        ) WHERE rn <= 3
    ),
    sims AS ({_COS_SQL}),
    rec_pairs AS (
        SELECT a.user_id, a.item_id AS ia, b.item_id AS ib
        FROM recs a JOIN recs b
          ON a.user_id = b.user_id AND a.item_id < b.item_id
    ),
    scored AS (
        SELECT rp.user_id,
               CAST(round((1 - coalesce(s.cosine, 0)) * 1e6) AS BIGINT) AS d6
        FROM rec_pairs rp
        LEFT JOIN sims s ON s.item_a = rp.ia AND s.item_b = rp.ib
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum(d6) * 1.0 / count(*) / 1e6, 6) + 0 AS ild
    FROM scored GROUP BY user_id
    ORDER BY ild DESC, user_id LIMIT 25
    """,
)
def r_intralist_diversity(spark, sf_dir):
    """Intra-list diversity (ILD): average pairwise dissimilarity
    (1 − cosine) WITHIN each user's top-3 recommendation list — the
    eval that catches a recommender filling all three slots with the
    same franchise (r_serendipity checks against global popularity;
    ILD checks the list against ITSELF). Unrated pairs count as
    dissimilarity 1 (cosine 0).

    Top-3 lists come from the shared prediction chain; pair generation
    keys on user_id over 3-item lists (≤3 pairs per user, bounded by
    list size — never item²); similarities join from the cached
    item-cosine frame. Dissimilarities snap to 1e-6 BIGINT units
    before the per-user mean, divided once per user row.
    """
    p = predictions(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("pred").desc(), F.col("item_id"))
    recs = (
        p.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "item_id")
    )
    # r17 (guide §2.4/§3): pairs via one collect_set + in-plan double
    # explode (the _copurchase_edges treatment — lists are ≤3 items by
    # construction) instead of a recs self-join whose both sides replayed
    # the whole predictions chain. Interleaved A/B: 1.86 -> 1.60 s min,
    # every rep pair favoring it; identical row multiset.
    lists = recs.groupBy("user_id").agg(
        F.collect_set("item_id").alias("items")
    )
    rec_pairs = (
        lists.select("user_id", F.explode("items").alias("ia"), "items")
        .select("user_id", "ia", F.explode("items").alias("ib"))
        .where(F.col("ia") < F.col("ib"))
    )
    sims = item_cosine(spark, sf_dir)
    scored = rec_pairs.join(
        sims,
        (F.col("ia") == sims.item_a) & (F.col("ib") == sims.item_b),
        "left",
    ).select(
        "user_id",
        F.round((1 - F.coalesce(F.col("cosine"), F.lit(0.0))) * 1e6)
        .cast("long")
        .alias("d6"),
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            f6(F.sum("d6") * 1.0 / F.count("*") / 1e6).alias("ild"),
        )
        .orderBy(F.col("ild").desc(), "user_id")
        .limit(25)
    )


@register(
    "r_candidate_rerank",
    f"""
    WITH m AS ({_M200_SQL}),
    pop AS (
        SELECT item_id, CAST(count(*) AS BIGINT) AS raters FROM m
        GROUP BY item_id ORDER BY raters DESC, item_id LIMIT 20
    ),
    sims AS ({_COS_SQL}),
    bidir AS (
        SELECT item_a AS item_id, item_b AS other, cosine FROM sims
        UNION ALL
        SELECT item_b AS item_id, item_a AS other, cosine FROM sims
    ),
    cand AS (
        SELECT u.user_id, p.item_id
        FROM (SELECT DISTINCT user_id FROM m) u CROSS JOIN pop p
        WHERE NOT EXISTS (SELECT 1 FROM m s
                          WHERE s.user_id = u.user_id
                            AND s.item_id = p.item_id)
    ),
    scored AS (
        SELECT c.user_id, c.item_id,
               round(sum(b.cosine * r.rating) / sum(b.cosine), 6) + 0 AS score
        FROM cand c
        JOIN bidir b ON b.item_id = c.item_id
        JOIN m r ON r.user_id = c.user_id AND r.item_id = b.other
        GROUP BY c.user_id, c.item_id
        HAVING sum(b.cosine) > 0
    )
    SELECT user_id, item_id, score, rn FROM (
        SELECT user_id, item_id, score,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY score DESC, item_id)
                    AS BIGINT) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def r_candidate_rerank(spark, sf_dir):
    """Two-stage retrieval-then-ranking recommender: stage 1 retrieves a
    20-item popularity candidate pool (cheap, catalog-bounded), stage 2
    reranks ONLY those candidates per user with the similarity-weighted
    score — the production recsys architecture (r_predict scores every
    unseen item; at catalog scale nobody does that, they retrieve ~100
    candidates then rank). v_hamming_rerank is the vector-search twin
    of the same cascade.

    The pool broadcasts (20 rows); seen-item exclusion is the anti
    condition per (user, candidate); scoring joins each candidate's
    neighbor list (cached item-cosine) against the user's ratings —
    work per user = pool × neighbors, NOT catalog × neighbors. Final
    top-3 is a WindowGroupLimit on rounded scores with item tiebreak.
    """
    m = ratings_matrix(spark, sf_dir, max_item=200)
    pop = (
        m.groupBy("item_id")
        .agg(F.count("*").cast("long").alias("raters"))
        .orderBy(F.col("raters").desc(), "item_id")
        .limit(20)
        .select("item_id")
    )
    users = m.select("user_id").distinct()
    seen = m.select("user_id", "item_id")
    cand = (
        users.crossJoin(F.broadcast(pop))
        .join(seen, ["user_id", "item_id"], "left_anti")
    )
    sims = item_cosine(spark, sf_dir)
    # r17 (guide §2.4): one explode for both orientations — the union
    # form replayed the item_cosine build per branch when the memo cache
    # is cold (same transform as topk_neighbors above).
    bidir = sims.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item_id"),
                    F.col("item_b").alias("other"),
                ),
                F.struct(
                    F.col("item_b").alias("item_id"),
                    F.col("item_a").alias("other"),
                ),
            )
        ).alias("e"),
        "cosine",
    ).select("e.item_id", "e.other", "cosine")
    r = m.select(
        F.col("user_id").alias("r_user"),
        F.col("item_id").alias("other"),
        "rating",
    )
    scored = (
        cand.join(bidir, "item_id")
        .join(r, (F.col("r_user") == F.col("user_id")) & (r.other == bidir.other))
        .groupBy("user_id", "item_id")
        .agg(
            F.sum(F.col("cosine") * F.col("rating")).alias("num"),
            F.sum("cosine").alias("den"),
        )
        .where(F.col("den") > 0)
        .select("user_id", "item_id", f6(F.col("num") / F.col("den")).alias("score"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("score").desc(), "item_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("user_id", "item_id", "score", "rn")
    )


@register(
    "r_rank_fusion",
    f"""
    WITH m AS ({_M200_SQL}),
    pop AS (
        SELECT item_id,
               CAST(row_number() OVER (ORDER BY count(*) DESC, item_id)
                    AS BIGINT) AS pop_rank
        FROM m GROUP BY item_id
    ),
    p AS ({_PRED_SQL}),
    pred_rank AS (
        SELECT user_id, item_id,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY pred DESC, item_id)
                    AS BIGINT) AS p_rank
        FROM p
    ),
    fused AS (
        SELECT pr.user_id, pr.item_id,
               CAST(round(1e12 / (60 + pr.p_rank)) AS BIGINT)
               + CAST(round(1e12 / (60 + pop.pop_rank)) AS BIGINT) AS rrf12
        FROM pred_rank pr JOIN pop ON pop.item_id = pr.item_id
    )
    SELECT user_id, item_id, rn, round(rrf12 / 1e12, 6) + 0 AS rrf
    FROM (
        SELECT user_id, item_id, rrf12,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY rrf12 DESC, item_id)
                    AS BIGINT) AS rn
        FROM fused
    ) WHERE rn <= 3
    """,
)
def r_rank_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (k=60): blend the personalized prediction
    ranking with the global popularity ranking via Σ 1/(k+rank) — the
    standard hybrid fusion (identical to how lexical BM25 and vector
    rankings merge in hybrid search) that needs NO score calibration
    between sources, because only RANKS enter the sum.

    Both source rankings are WindowGroupLimit-friendly row_numbers
    with id tiebreaks; each 1/(60+r) term snaps to 1e-12 BIGINT units
    so the fused score is an exact integer sum (reorder-safe, and the
    final ranking needs no float comparison at all — it sorts
    BIGINTs). Popularity ranks are catalog-bounded and broadcast; the
    per-user fusion is one join on item_id.
    """
    m = ratings_matrix(spark, sf_dir, max_item=200)
    pop = (
        m.groupBy("item_id")
        .agg(F.count("*").alias("c"))
        .select(
            "item_id",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "item_id"))
            .cast("long")
            .alias("pop_rank"),
        )
    )
    p = predictions(spark, sf_dir)
    pred_rank = p.select(
        "user_id",
        "item_id",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(F.col("pred").desc(), "item_id")
        )
        .cast("long")
        .alias("p_rank"),
    )
    rrf12 = (
        F.round(1e12 / (60 + F.col("p_rank"))).cast("long")
        + F.round(1e12 / (60 + F.col("pop_rank"))).cast("long")
    )
    fused = pred_rank.join(F.broadcast(pop), "item_id").select(
        "user_id", "item_id", rrf12.alias("rrf12")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("rrf12").desc(), "item_id")
    return (
        fused.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("user_id", "item_id", "rn", f6(F.col("rrf12") / 1e12).alias("rrf"))
    )


@register(
    "r_cooc_pmi",
    f"""
    WITH m AS ({_M200_SQL}),
    deg AS (SELECT item_id, CAST(count(*) AS BIGINT) AS d FROM m
            GROUP BY item_id),
    npairs AS (
        SELECT CAST(count(*) AS BIGINT) AS np FROM m a
        JOIN m b ON a.user_id = b.user_id AND a.item_id < b.item_id
    ),
    cooc AS (
        SELECT a.item_id AS item_a, b.item_id AS item_b,
               CAST(count(*) AS BIGINT) AS c
        FROM m a JOIN m b ON a.user_id = b.user_id AND a.item_id < b.item_id
        GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT c.item_a, c.item_b, c.c AS cooc,
           round(ln(c.c * 1.0 * np.np / (da.d * 1.0 * db.d)), 6) + 0 AS pmi
    FROM cooc c
    JOIN deg da ON da.item_id = c.item_a
    JOIN deg db ON db.item_id = c.item_b
    CROSS JOIN npairs np
    ORDER BY pmi DESC, c.item_a, c.item_b LIMIT 25
    """,
)
def r_cooc_pmi(spark, sf_dir):
    """PMI-weighted item co-occurrence — the matrix skip-gram-with-
    negative-sampling implicitly factorizes (Levy & Goldberg 2014):
    'item2vec without the SGD'. Raw co-occurrence (r_cooccurrence)
    crowns popular-with-everything items; PMI normalizes by both
    items' degrees so genuinely-associated niche pairs surface, the
    same popularity correction t_collocations_pmi applies to words.

    Rides the SAME user-keyed pair self-join as r_cooccurrence with a
    support≥3 floor; degree and total-pair normalizers broadcast
    (catalog-bounded / 1-row); one ln() per surviving pair. Top-25 by
    rounded PMI with pair tiebreaks.
    """
    m = ratings_matrix(spark, sf_dir, max_item=200)
    deg = m.groupBy("item_id").agg(F.count("*").cast("long").alias("d"))
    a, b = m.alias("pa"), m.alias("pb")
    pairs = a.join(
        b,
        (F.col("pa.user_id") == F.col("pb.user_id"))
        & (F.col("pa.item_id") < F.col("pb.item_id")),
    )
    npairs = pairs.agg(F.count("*").cast("long").alias("np"))
    cooc = (
        pairs.groupBy(
            F.col("pa.item_id").alias("item_a"), F.col("pb.item_id").alias("item_b")
        )
        .agg(F.count("*").cast("long").alias("c"))
        .where(F.col("c") >= 3)
    )
    da = deg.select(F.col("item_id").alias("item_a"), F.col("d").alias("da"))
    db = deg.select(F.col("item_id").alias("item_b"), F.col("d").alias("db"))
    pmi = F.log(F.col("c") * 1.0 * F.col("np") / (F.col("da") * 1.0 * F.col("db")))
    return (
        cooc.join(F.broadcast(da), "item_a")
        .join(F.broadcast(db), "item_b")
        .crossJoin(F.broadcast(npairs))
        .select("item_a", "item_b", F.col("c").alias("cooc"), f6(pmi).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "item_a", "item_b")
        .limit(25)
    )


@register(
    "r_epsilon_slate",
    f"""
    WITH m AS ({_M200_SQL}),
    pop AS (
        SELECT item_id,
               CAST(row_number() OVER (ORDER BY count(*) DESC, item_id)
                    AS BIGINT) AS pr
        FROM m GROUP BY item_id
    ),
    users AS (SELECT DISTINCT user_id FROM m),
    exploit AS (
        SELECT u.user_id, p.item_id, 'exploit' AS slot,
               CAST(row_number() OVER (PARTITION BY u.user_id
                                       ORDER BY p.pr) AS BIGINT) AS rn
        FROM users u JOIN pop p ON p.pr <= 10
        WHERE NOT EXISTS (SELECT 1 FROM m s
                          WHERE s.user_id = u.user_id
                            AND s.item_id = p.item_id)
    ),
    tail_pool AS (SELECT item_id, pr FROM pop WHERE pr > 10),
    tail_n AS (SELECT CAST(count(*) AS BIGINT) AS tn FROM tail_pool),
    explore AS (
        SELECT u.user_id, t.item_id, 'explore' AS slot, CAST(1 AS BIGINT) AS rn
        FROM users u
        CROSS JOIN tail_n
        JOIN tail_pool t
          ON t.pr - 10 = 1 + CAST(list_sum(list_transform(range(1, 9),
               j -> (strpos('0123456789abcdef',
                            substring(md5('eps:'
                                || CAST(u.user_id AS VARCHAR)), j, 1)) - 1)
                    * 16 ** (8 - j))) AS BIGINT) % tail_n.tn
    )
    SELECT user_id, item_id, slot, rn FROM (
        SELECT user_id, item_id, slot, rn FROM exploit WHERE rn <= 2
        UNION ALL
        SELECT user_id, item_id, slot, rn FROM explore
    ) x
    ORDER BY user_id, slot, rn, item_id
    """,
)
def r_epsilon_slate(spark, sf_dir):
    """Deterministic ε-greedy slate assembly: two EXPLOIT slots (top
    unseen popular items) plus one EXPLORE slot drawn from the
    long tail by content hash — the bandit pattern that keeps a
    recommender from collapsing onto its own feedback loop
    (r_serendipity MEASURES surprise after the fact; this BUILDS the
    slot that creates it), with the 'randomness' reproducible across
    runs/engines (the t_kfold_split hash convention — same user,
    same explore item, every time, until the pool changes).

    The popularity ranking and tail pool are catalog-bounded
    broadcasts; exploit slots are the anti-join + rank-filter of
    r_candidate_rerank; the explore pick is pure hash arithmetic
    joined by equality on the tail rank — no sampling operator, no
    nondeterminism anywhere.
    """
    m = ratings_matrix(spark, sf_dir, max_item=200)
    pop = (
        m.groupBy("item_id")
        .agg(F.count("*").alias("c"))
        .select(
            "item_id",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "item_id"))
            .cast("long")
            .alias("pr"),
        )
    )
    users = m.select("user_id").distinct()
    seen = m.select("user_id", "item_id")
    exploit = (
        users.crossJoin(F.broadcast(pop.where(F.col("pr") <= 10)))
        .join(seen, ["user_id", "item_id"], "left_anti")
        .withColumn(
            "rn",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("pr"))
            .cast("long"),
        )
        .where(F.col("rn") <= 2)
        .select("user_id", "item_id", F.lit("exploit").alias("slot"), "rn")
    )
    tail_pool = pop.where(F.col("pr") > 10)
    tail_n = tail_pool.agg(F.count("*").cast("long").alias("tn"))
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("eps:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
    )
    explore = (
        users.crossJoin(F.broadcast(tail_n))
        .select("user_id", (1 + h % F.col("tn")).alias("pick"))
        .join(
            F.broadcast(tail_pool),
            F.col("pr") - 10 == F.col("pick"),
        )
        .select(
            "user_id",
            "item_id",
            F.lit("explore").alias("slot"),
            F.lit(1).cast("long").alias("rn"),
        )
    )
    return exploit.unionByName(explore).orderBy("user_id", "slot", "rn", "item_id")


@register(
    "r_map_at_k",
    _RANK_POOL_SQL
    + """    recs AS (SELECT user_id, item_id, rn FROM (
                 SELECT *, CAST(row_number() OVER (PARTITION BY user_id
                                              ORDER BY pop DESC, item_id)
                           AS BIGINT) AS rn
                 FROM cand) WHERE rn <= 5),
    hn AS (SELECT user_id, CAST(count(*) AS BIGINT) AS holdout_n
           FROM hold GROUP BY user_id),
    flags AS (SELECT r.user_id, r.rn,
                     CASE WHEN h.item_id IS NOT NULL THEN 1 ELSE 0 END AS rel
              FROM recs r LEFT JOIN hold h
                ON h.user_id = r.user_id AND h.item_id = r.item_id),
    cum AS (SELECT user_id, rn, rel,
                   sum(rel) OVER (PARTITION BY user_id ORDER BY rn) AS chits
            FROM flags)
    SELECT c.user_id,
           CAST(sum(c.rel) AS BIGINT) AS hits,
           round(sum(c.rel * c.chits * 1.0 / c.rn)
                 / least(5, hn.holdout_n), 6) + 0 AS ap5
    FROM cum c JOIN hn ON hn.user_id = c.user_id
    GROUP BY c.user_id, hn.holdout_n
    """,
)
def r_map_at_k(spark, sf_dir):
    """Average precision @5 per holdout user (the per-user term of MAP,
    the ranking-eval standard next to r_ndcg and r_mrr): AP@5 =
    Σ rel(i)·precision@i / min(5, |holdout|) — unlike precision@k it
    rewards putting the hits EARLY, and unlike NDCG it needs no graded
    relevance, which is why retrieval papers quote it. Completes the
    offline-eval suite (precision / recall-proxy / MRR / NDCG / MAP)
    over the same popularity baseline and orderkey%5 split, so all five
    metrics are comparable.

    Same scale shape as r_precision_at_k: candidate pool is the
    broadcast global top-20, per-user work O(pool); AP's running-hit
    numerator is ONE cumulative window over the ≤5-row-per-user rank
    axis sharing the user_id partitioning; precisions are exact-integer
    ratios summed then divided once under the 6dp snap.
    """
    recs, hold = _rank_eval_recs(spark, sf_dir, 5)
    hn = hold.groupBy("user_id").agg(F.count("*").cast("long").alias("holdout_n"))
    flags = recs.join(
        hold.withColumn("rel1", F.lit(1)), ["user_id", "item_id"], "left"
    ).select(
        "user_id", "rn", F.coalesce("rel1", F.lit(0)).alias("rel")
    )
    w_cum = Window.partitionBy("user_id").orderBy("rn")
    cum = flags.withColumn("chits", F.sum("rel").over(w_cum))
    return (
        cum.join(hn, "user_id")
        .groupBy("user_id", "holdout_n")
        .agg(
            F.sum("rel").cast("long").alias("hits"),
            f6(
                F.sum(F.col("rel") * F.col("chits") * 1.0 / F.col("rn"))
                / F.least(F.lit(5), F.col("holdout_n"))
            ).alias("ap5"),
        )
        .select("user_id", "hits", "ap5")
    )


def _slope_one_dev(m: DataFrame) -> DataFrame:
    """Slope One's deviation table (item_j, item_i, diffsum, c) over a
    (user_id, item_id, rating BIGINT) matrix: diffsum = Σ(r_j − r_i) and
    c = co-raters, for every ordered pair with c >= 2.

    The pair join builds each unordered pair once (item_j < item_i) and
    one map-side explode emits its mirror (item_i, item_j, −diffsum, c),
    the shape `_jaccard05_edges` uses: half the pair-join rows and half
    the pair shuffle of an ``item_j != item_i`` join. Exact: diffsum is a
    BIGINT sum, so Σ(r_i − r_j) = −Σ(r_j − r_i), and c is symmetric.
    """
    a = m.select(
        "user_id", F.col("item_id").alias("item_j"), F.col("rating").alias("rj")
    )
    b = m.select(
        "user_id", F.col("item_id").alias("item_i"), F.col("rating").alias("ri")
    )
    half = (
        a.join(b, "user_id")
        .where(F.col("item_j") < F.col("item_i"))
        .groupBy("item_j", "item_i")
        .agg(
            F.sum(F.col("rj") - F.col("ri")).cast("long").alias("diffsum"),
            F.count("*").cast("long").alias("c"),
        )
        .where(F.col("c") >= 2)
    )
    return half.select(
        F.explode(
            F.array(
                F.struct("item_j", "item_i", "diffsum", "c"),
                F.struct(
                    F.col("item_i").alias("item_j"),
                    F.col("item_j").alias("item_i"),
                    (-F.col("diffsum")).alias("diffsum"),
                    "c",
                ),
            )
        ).alias("e")
    ).select("e.item_j", "e.item_i", "e.diffsum", "e.c")


@register(
    "r_slope_one_capped",
    f"""
    WITH m0 AS ({_M_SQL}),
    deg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS df
            FROM m0 GROUP BY user_id),
    m AS (SELECT m0.user_id, m0.item_id,
                 CAST(m0.rating AS BIGINT) AS rating
          FROM m0 JOIN deg ON deg.user_id = m0.user_id
          WHERE deg.df <= 48),
    dev AS (
        SELECT a.item_id AS item_j, b.item_id AS item_i,
               CAST(sum(a.rating - b.rating) AS BIGINT) AS diffsum,
               CAST(count(*) AS BIGINT) AS c
        FROM m a JOIN m b
          ON a.user_id = b.user_id AND a.item_id <> b.item_id
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    tgt AS (SELECT * FROM m WHERE user_id % 199 = 0),
    scored AS (
        SELECT t.user_id, d.item_j,
               CAST(sum(d.diffsum + t.rating * d.c) AS BIGINT) AS num,
               CAST(sum(d.c) AS BIGINT) AS den
        FROM tgt t JOIN dev d ON d.item_i = t.item_id
        LEFT JOIN m r ON r.user_id = t.user_id AND r.item_id = d.item_j
        WHERE r.item_id IS NULL
        GROUP BY 1, 2
    )
    SELECT user_id, item_j AS item_id,
           round(CAST(num AS DOUBLE) / den, 6) + 0 AS pred, rn
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(num AS DOUBLE) / den DESC, item_j)
               AS BIGINT) AS rn
        FROM scored WHERE den >= 5
    ) WHERE rn <= 3
    """,
)
def r_slope_one_capped(spark, sf_dir):
    """Weighted Slope One over the FULL catalog — the 100 TB shape of
    r_slope_one (which bounds work with an item<200 test slice and
    promises the cap only in its docstring), exactly as
    r_cosine_sim_capped is to r_cosine_sim: the item bound is replaced
    by the df<=48 power-user cap applied BEFORE the pair self-join.

    EXACT across engines by integer algebra: the weighted numerator
    Σ_i (dev_ji·c_ji + r_ui·c_ji) telescopes to Σ_i (diffsum_ji +
    r_ui·c_ji) where diffsum = Σ(r_j − r_i) is an exact BIGINT —
    the per-pair division by c never happens, so no float enters
    until the single final divide (rounded 6dp). Ratings are integral
    quantities, cast to BIGINT up front.

    Scale shape = r_cosine_sim_capped's: the deviation matrix comes
    from the user-keyed pair self-join, bounded by the same df<=48
    power-user cap (48²·|users| pairs max); a support floor c>=2
    drops noise cells and den>=5 drops thin predictions. Targets are
    a deterministic 1/199 user sample (scale-proportional, never
    collected); per-user output is top-3 by predicted rating. The
    anti-join keeps already-rated items out of the recommendation
    set, as the paper specifies.
    """
    # Width restoration before the pair stage (r17, guide §2.5/§2.6):
    # see r_user_cosine_capped — cores-scaled, value-exact (BIGINTs).
    # The cache is read four times (the deviation pair join's two sides,
    # the targets and the rated anti join), with no exchange reused
    # between them. Measured, 4 cores: without it this key ran slower,
    # median 2.46 -> 2.66 s and 3.18 -> 3.27 s on cf_pipeline (two
    # batches, 7 alternating pairs), 7.57 -> 8.02 s at sf0.1 with the
    # cache cleared per run (4 pairs).
    m = (
        _degree_capped(
            ratings_matrix(spark, sf_dir), "user_id", 48,
            spark.sparkContext.defaultParallelism,
        )
        .select("user_id", "item_id", F.col("rating").cast("long").alias("rating"))
        .cache()
    )
    dev = _slope_one_dev(m)
    tgt = m.where(F.col("user_id") % 199 == 0)
    rated = m.select("user_id", F.col("item_id").alias("item_j"))
    scored = (
        tgt.join(dev, tgt.item_id == dev.item_i)
        .join(rated, ["user_id", "item_j"], "left_anti")
        .groupBy("user_id", "item_j")
        .agg(
            F.sum(F.col("diffsum") + F.col("rating") * F.col("c"))
            .cast("long")
            .alias("num"),
            F.sum("c").cast("long").alias("den"),
        )
        .where(F.col("den") >= 5)
    )
    w = Window.partitionBy("user_id").orderBy(
        (F.col("num").cast("double") / F.col("den")).desc(), "item_j"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select(
            "user_id",
            F.col("item_j").alias("item_id"),
            f6(F.col("num").cast("double") / F.col("den")).alias("pred"),
            "rn",
        )
    )


@register(
    "r_content_fallback",
    f"""
    WITH m AS ({_M_SQL}),
    prof AS (
        SELECT user_id, p_brand FROM (
            SELECT m.user_id, p.p_brand,
                   row_number() OVER (
                       PARTITION BY m.user_id
                       ORDER BY sum(CAST(m.rating AS BIGINT)) DESC, p.p_brand
                   ) AS rn
            FROM m JOIN part p ON p.p_partkey = m.item_id
            WHERE m.user_id % 199 = 0
            GROUP BY m.user_id, p.p_brand
        ) WHERE rn = 1
    ),
    pop AS (
        SELECT item_id, CAST(sum(CAST(rating AS BIGINT)) AS BIGINT) AS pop
        FROM m GROUP BY item_id
    ),
    cand AS (
        SELECT pr.user_id, p.p_partkey AS item_id, pr.p_brand, pop.pop
        FROM prof pr JOIN part p ON p.p_brand = pr.p_brand
        JOIN pop ON pop.item_id = p.p_partkey
        LEFT JOIN m r ON r.user_id = pr.user_id AND r.item_id = p.p_partkey
        WHERE r.item_id IS NULL
    )
    SELECT user_id, item_id, p_brand AS brand, pop, rn FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY pop DESC, item_id)
               AS BIGINT) AS rn
        FROM cand
    ) WHERE rn <= 3
    """,
)
def r_content_fallback(spark, sf_dir):
    """Content-based cold-start fallback — the recommender every CF
    system needs beside it: when an item has no co-rating signal (or a
    user's neighborhood is empty), recommend by CONTENT MATCH — here,
    the user's dominant part brand (their top brand by total rating,
    id tiebreak) filtered to unrated items and ranked by global
    popularity. This is the classic hybrid fallback tier (content
    profile → candidate generation → popularity rank) under the
    retrieve-then-rank cascade of r_candidate_rerank.

    Exactness: profiles and popularity are BIGINT rating sums (ratings
    are integral quantities); ranking orders by (pop DESC, item_id) —
    no floats anywhere. Scale: the part dim broadcasts (it's a
    catalog, not a fact); the profile is one user-keyed aggregate over
    the SAME ratings-matrix shuffle every other recommender key pays;
    candidates are |sampled users| × |brand catalog| before the
    anti-join, bounded because brands partition the catalog. Output
    top-3 per sampled user (1/199, scale-proportional).
    """
    m = ratings_matrix(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    prof_base = (
        m.where(F.col("user_id") % 199 == 0)
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            m.item_id == F.col("p_partkey"),
        )
        .groupBy("user_id", "p_brand")
        .agg(F.sum(F.col("rating").cast("long")).alias("brand_score"))
    )
    w_prof = Window.partitionBy("user_id").orderBy(
        F.col("brand_score").desc(), "p_brand"
    )
    prof = (
        prof_base.withColumn("rn", F.row_number().over(w_prof))
        .where(F.col("rn") == 1)
        .select("user_id", "p_brand")
    )
    pop = m.groupBy("item_id").agg(
        F.sum(F.col("rating").cast("long")).cast("long").alias("pop")
    )
    cand = (
        prof.join(
            F.broadcast(part.select(F.col("p_partkey").alias("item_id"), "p_brand")),
            "p_brand",
        )
        .join(pop, "item_id")
        .join(m.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("pop").desc(), "item_id")
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("user_id", "item_id", F.col("p_brand").alias("brand"), "pop", "rn")
    )


@register("r_ease")
def r_ease(spark, sf_dir):
    """EASE — the closed-form shallow linear autoencoder (Steck 2019,
    "Embarrassingly Shallow Autoencoders for Sparse Data", public): the
    modern strong-baseline item-item model whose weights come from ONE
    ridge solve instead of iterative training. B = I − P·diag(1/diag P)
    with P = (G + λI)^{-1}, G = XᵀX, diag(B) = 0 enforced by the
    Lagrangian — the full-rank cousin of r_cosine_sim's heuristic
    weights and r_als's iterative factors. λ = 100, items bounded <200
    (the r_cosine_sim test-slice convention; the df-cap escalation of
    r_cosine_sim_capped applies verbatim at 100 TB).

    Scale split: the item GRAM is the only data-scale computation — the
    same user-keyed pair self-join every *_capped key bounds, reduced
    to a ≤|items|² matrix that collects like any bounded codebook; the
    inverse runs driver-side on that bounded matrix (|items|³ flops,
    independent of row count); SCORING is distributed again (ratings ⋈
    broadcast B, one groupBy, anti-join rated, top-3/user on a 1/199
    sample). Rows-only by necessity — no SQL engine inverts matrices —
    with tests/test_round7.py pinning the KKT optimality system
    (G + λI)·B = G − diag(γ) and diag(B) = 0, a stronger contract than
    a value hash: it certifies B solves the stated optimization.
    """
    import numpy as np

    lam = 100.0
    m = ratings_matrix(spark, sf_dir, max_item=200)
    a = m.select("user_id", F.col("item_id").alias("ia"), F.col("rating").alias("ra"))
    b = m.select("user_id", F.col("item_id").alias("ib"), F.col("rating").alias("rb"))
    gram_rows = (
        a.join(b, "user_id")
        .groupBy("ia", "ib")
        .agg(F.sum(F.col("ra") * F.col("rb")).alias("g"))
        .collect()  # bounded: <=|items|^2 cells at ANY row count
    )
    items = sorted({r["ia"] for r in gram_rows})
    idx = {it: k for k, it in enumerate(items)}
    n = len(items)
    G = np.zeros((n, n))
    for r in gram_rows:
        G[idx[r["ia"]], idx[r["ib"]]] = r["g"]
    P = np.linalg.inv(G + lam * np.eye(n))
    B = -P / np.diag(P)[None, :]
    np.fill_diagonal(B, 0.0)
    ii, jj = np.nonzero(np.abs(B) > 1e-9)
    # r17 measured reject: shipping B as a pandas/Arrow batch instead of
    # this tuple list A/B'd SLOWER warm (0.58 vs 0.74 s at the dense
    # 200x200 size this slice produces) — the pickled list is below the
    # size where Arrow batching pays. Left as-is.
    bdf = spark.createDataFrame(
        [(items[i], items[j], float(B[i, j])) for i, j in zip(ii, jj)],
        "item_i long, item_j long, w double",
    )
    tgt = m.where(F.col("user_id") % 199 == 0)
    scored = (
        tgt.join(F.broadcast(bdf), tgt.item_id == bdf.item_i)
        .groupBy("user_id", F.col("item_j").alias("item_id"))
        .agg(F.sum(F.col("rating") * F.col("w")).alias("score"))
        .join(m.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("score").desc(), "item_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("user_id", "item_id", f6(F.col("score")).alias("score"), "rn")
    )


# Each (user, item)'s first purchase date and order key: the sequence
# r_markov_next_item and r_exposure_gini order by (_first_purchases'
# oracle CTE).
_FIRST_PURCHASE_SQL = """seq AS (
        SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
               min(o.o_orderdate) AS first_ts,
               min(o.o_orderkey) AS first_ok
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
"""


def _first_purchases(orders, li):
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(
            F.min("o_orderdate").alias("first_ts"),
            F.min("o_orderkey").alias("first_ok"),
        )
    )


@register(
    "r_markov_next_item",
    f"""
    WITH m AS ({_M_SQL}),
    {_FIRST_PURCHASE_SQL}    ordered AS (
        SELECT user_id, item_id,
               lead(item_id) OVER (PARTITION BY user_id
                                   ORDER BY first_ts, first_ok, item_id)
                   AS next_item
        FROM seq
    ),
    trans AS (
        SELECT item_id AS src, next_item AS dst,
               CAST(count(*) AS BIGINT) AS c
        FROM ordered WHERE next_item IS NOT NULL
        GROUP BY 1, 2
    ),
    deg AS (SELECT src, CAST(sum(c) AS BIGINT) AS tot FROM trans GROUP BY src)
    SELECT src, dst, c, round(c * 1.0 / tot, 6) + 0 AS prob, rn
    FROM (
        SELECT t.src, t.dst, t.c, d.tot,
               CAST(row_number() OVER (PARTITION BY t.src
                                       ORDER BY t.c DESC, t.dst)
                    AS BIGINT) AS rn
        FROM trans t JOIN deg d ON d.src = t.src
        WHERE t.c >= 3
    ) WHERE rn <= 3 ORDER BY src, rn
    """,
)
def r_markov_next_item(spark, sf_dir):
    """First-order Markov next-item recommender — 'customers who bought
    X next bought Y': item-to-item transition counts over each user's
    first-purchase-ordered item sequence, served as top-3 next items
    per source item with the transition probability (the sequential
    complement to r_covisitation's order-free co-occurrence — same
    data, but direction and adjacency matter, which is what makes it a
    NEXT-item model). Support floor c>=3 drops noise edges.

    One lead() over the (user)-partitioned sequence builds adjacent
    pairs with NO self-join — transition volume is exactly
    Σ(|sequence|−1), linear by construction where the covisitation
    pair join needs its cap. Sequence order is (first purchase ts,
    order key, item id) — fully deterministic. The transition matrix
    aggregates map-side; the serving table is |items|×3. Output
    columns and ranking snap per the repo convention.
    """
    seq = _first_purchases(*tables(spark, sf_dir, "orders", "lineitem"))
    w = Window.partitionBy("user_id").orderBy("first_ts", "first_ok", "item_id")
    ordered = seq.select(
        "user_id", "item_id", F.lead("item_id").over(w).alias("next_item")
    )
    trans = (
        ordered.where(F.col("next_item").isNotNull())
        .groupBy(F.col("item_id").alias("src"), F.col("next_item").alias("dst"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    deg = trans.groupBy("src").agg(F.sum("c").cast("long").alias("tot"))
    w_rank = Window.partitionBy("src").orderBy(F.col("c").desc(), "dst")
    return (
        trans.where(F.col("c") >= 3)
        .join(deg, "src")
        .withColumn("rn", F.row_number().over(w_rank).cast("long"))
        .where(F.col("rn") <= 3)
        .select(
            "src", "dst", "c",
            f6(F.col("c") * 1.0 / F.col("tot")).alias("prob"), "rn",
        )
        .orderBy("src", "rn")
    )


@register(
    "r_auc",
    """
    WITH base AS (
        SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
               CAST(l.l_quantity AS BIGINT) AS qty, l.l_orderkey AS ok
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    train AS (
        SELECT user_id, item_id, CAST(sum(qty) AS BIGINT) AS rating
        FROM base WHERE ok % 5 <> 0 GROUP BY 1, 2
    ),
    hold AS (
        SELECT DISTINCT user_id, item_id FROM base WHERE ok % 5 = 0
    ),
    pop AS (
        SELECT item_id, CAST(sum(rating) AS BIGINT) AS score
        FROM train GROUP BY item_id
    ),
    users AS (
        SELECT DISTINCT user_id FROM hold WHERE user_id % 59 = 0
    ),
    labeled AS (
        SELECT u.user_id, p.item_id, p.score,
               CASE WHEN h.item_id IS NOT NULL THEN 1 ELSE 0 END AS pos
        FROM users u CROSS JOIN pop p
        LEFT JOIN train t ON t.user_id = u.user_id AND t.item_id = p.item_id
        LEFT JOIN hold h ON h.user_id = u.user_id AND h.item_id = p.item_id
        WHERE t.item_id IS NULL
    ),
    ranked AS (
        SELECT user_id, pos,
               2 * rank() OVER (PARTITION BY user_id ORDER BY score)
                 + count(*) OVER (PARTITION BY user_id, score) - 1
                   AS midrank2
        FROM labeled
    ),
    per_user AS (
        SELECT user_id,
               CAST(sum(pos) AS BIGINT) AS np,
               CAST(sum(1 - pos) AS BIGINT) AS nn,
               CAST(sum(CASE WHEN pos = 1 THEN midrank2 END) AS BIGINT) AS sm2
        FROM ranked GROUP BY user_id
    ),
    auc AS (
        SELECT user_id, np, nn,
               round((sm2 - np * (np + 1)) * 1.0 / (2 * np * nn), 6) + 0 AS auc
        FROM per_user WHERE np > 0 AND nn > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(np) AS BIGINT) AS n_pos,
           CAST(sum(nn) AS BIGINT) AS n_neg,
           round(sum(auc) / count(*), 6) + 0 AS mean_auc,
           round(min(auc), 6) + 0 AS min_auc,
           round(max(auc), 6) + 0 AS max_auc
    FROM auc
    """,
)
def r_auc(spark, sf_dir):
    """Per-user AUC of the popularity ranker against the orderkey%5
    holdout — the threshold-free ranking metric missing beside
    precision@k/MAP/MRR/NDCG: the probability a random held-out
    positive outranks a random negative, computed exactly via the
    Mann-Whitney rank-sum identity with MIDRANKS for score ties
    (popularity scores tie constantly; ignoring ties biases AUC — the
    midrank2 = 2·rank + |ties| − 1 trick keeps everything integer
    until the single final division per user).

    Candidates per user are the unrated catalog (train items
    anti-joined; at production catalog sizes you hash-sample the
    negatives — the formula is unbiased under uniform sampling);
    ranks run in PER-USER windows, so the heavy sort is partitioned,
    never global, and the pooled summary averages 6dp-snapped
    per-user AUCs (exact in doubles at 1e-6 granularity). Evaluation
    users are a 1/59 deterministic sample, scale-proportional.
    """
    base = interactions(spark, sf_dir).withColumn("qty", F.col("qty").cast("long"))
    train_rows, hold_rows = split(base)
    train = train_rows.groupBy("user_id", "item_id").agg(
        F.sum("qty").cast("long").alias("rating")
    )
    hold = hold_rows.select("user_id", "item_id").distinct()
    pop = train.groupBy("item_id").agg(
        F.sum("rating").cast("long").alias("score")
    )
    users = hold.where(F.col("user_id") % 59 == 0).select("user_id").distinct()
    labeled = (
        users.crossJoin(pop)
        .join(train.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti")
        .join(
            hold.select("user_id", "item_id").withColumn("h", F.lit(1)),
            ["user_id", "item_id"],
            "left",
        )
        .select(
            "user_id",
            "score",
            F.when(F.col("h").isNotNull(), 1).otherwise(0).alias("pos"),
        )
    )
    w_rank = Window.partitionBy("user_id").orderBy("score")
    w_tie = Window.partitionBy("user_id", "score")
    ranked = labeled.select(
        "user_id",
        "pos",
        (
            2 * F.rank().over(w_rank) + F.count("*").over(w_tie) - 1
        ).alias("midrank2"),
    )
    per_user = ranked.groupBy("user_id").agg(
        F.sum("pos").cast("long").alias("np"),
        F.sum(1 - F.col("pos")).cast("long").alias("nn"),
        F.sum(F.when(F.col("pos") == 1, F.col("midrank2")))
        .cast("long")
        .alias("sm2"),
    )
    auc = per_user.where((F.col("np") > 0) & (F.col("nn") > 0)).select(
        "np",
        "nn",
        f6(
            (F.col("sm2") - F.col("np") * (F.col("np") + 1))
            * 1.0
            / (2 * F.col("np") * F.col("nn"))
        ).alias("auc"),
    )
    return auc.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        f6(F.sum("auc") / F.count("*")).alias("mean_auc"),
        f6(F.min("auc")).alias("min_auc"),
        f6(F.max("auc")).alias("max_auc"),
    )


@register(
    "r_calibration_bins",
    """
    WITH base AS (
        SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
               CAST(l.l_quantity AS BIGINT) AS qty, l.l_orderkey AS ok
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    train AS (
        SELECT user_id, item_id, CAST(sum(qty) AS BIGINT) AS r
        FROM base WHERE ok % 5 <> 0 GROUP BY 1, 2
    ),
    hold AS (
        SELECT user_id, item_id, CAST(sum(qty) AS BIGINT) AS r
        FROM base WHERE ok % 5 = 0 GROUP BY 1, 2
    ),
    mu AS (SELECT CAST(round(avg(r) * 1e6) AS BIGINT) AS mu6 FROM train),
    bu AS (SELECT user_id,
                  CAST(round(avg(r) * 1e6) AS BIGINT) AS um6
           FROM train GROUP BY user_id),
    bi AS (SELECT item_id,
                  CAST(round(avg(r) * 1e6) AS BIGINT) AS im6
           FROM train GROUP BY item_id),
    pred AS (
        SELECT h.user_id, h.item_id, h.r AS actual,
               bu.um6 + bi.im6 - mu.mu6 AS pred6
        FROM hold h
        JOIN bu ON bu.user_id = h.user_id
        JOIN bi ON bi.item_id = h.item_id
        CROSS JOIN mu
    ),
    binned AS (
        SELECT least(greatest(pred6 // 25000000, 0), 9) AS bin,
               pred6, actual
        FROM pred
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(pred6) * 1.0 / count(*) / 1e6, 6) + 0 AS mean_pred,
           round(sum(actual) * 1.0 / count(*), 6) + 0 AS mean_actual,
           round(sum(pred6) * 1.0 / count(*) / 1e6
                 - sum(actual) * 1.0 / count(*), 6) + 0 AS gap
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def r_calibration_bins(spark, sf_dir):
    """Calibration (reliability) table for the bias-baseline predictor
    — mean predicted vs mean ACTUAL held-out rating per prediction
    band, the diagram that answers 'when the model says ~50, does the
    user buy ~50?'. Ranking metrics (r_auc/r_ndcg) are blind to
    systematic over/under-prediction; calibration is what business
    logic consuming the SCORES (inventory planning, bid pricing)
    actually needs, and the per-bin gap column is the correction
    curve an isotonic recalibration would fit.

    Predictions are μ + (ū−μ) + (ī−μ) = ū + ī − μ in 1e-6-scaled
    BIGINTs (user/item/global means snapped once, then pure integer
    adds — no float accumulates across rows); bands are fixed 25-unit
    integer buckets clamped to [0,9]. Three broadcast-scale mean
    tables join onto the holdout in one pass; the rollup is a ≤10-key
    aggregate. Same orderkey%5 split as the rest of the eval family.
    """
    base = interactions(spark, sf_dir).withColumn("qty", F.col("qty").cast("long"))
    train_rows, hold_rows = split(base)
    train = train_rows.groupBy("user_id", "item_id").agg(
        F.sum("qty").cast("long").alias("r")
    )
    hold = hold_rows.groupBy("user_id", "item_id").agg(
        F.sum("qty").cast("long").alias("actual")
    )
    mu = train.agg(
        F.round(F.avg("r") * 1e6).cast("long").alias("mu6")
    )
    bu = train.groupBy("user_id").agg(
        F.round(F.avg("r") * 1e6).cast("long").alias("um6")
    )
    bi = train.groupBy("item_id").agg(
        F.round(F.avg("r") * 1e6).cast("long").alias("im6")
    )
    pred = (
        hold.join(bu, "user_id")
        .join(bi, "item_id")
        .crossJoin(F.broadcast(mu))
        .select(
            "actual",
            (F.col("um6") + F.col("im6") - F.col("mu6")).alias("pred6"),
        )
    )
    binned = pred.select(
        F.least(
            F.greatest(F.floor(F.col("pred6") / 25000000), F.lit(0)),
            F.lit(9),
        )
        .cast("long")
        .alias("bin"),
        "pred6",
        "actual",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            f6(F.sum("pred6") * 1.0 / F.count("*") / 1e6).alias("mean_pred"),
            f6(F.sum("actual") * 1.0 / F.count("*")).alias("mean_actual"),
            f6(
                F.sum("pred6") * 1.0 / F.count("*") / 1e6
                - F.sum("actual") * 1.0 / F.count("*")
            ).alias("gap"),
        )
        .orderBy("bin")
    )


@register(
    "r_ips_eval",
    """
    WITH base AS (
        SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
               CAST(l.l_quantity AS BIGINT) AS qty, l.l_orderkey AS ok
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    train AS (
        SELECT item_id, CAST(sum(qty) AS BIGINT) AS pop
        FROM base WHERE ok % 5 <> 0 GROUP BY item_id
    ),
    tot AS (SELECT CAST(sum(pop) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS c FROM train),
    clicks AS (
        SELECT DISTINCT user_id, item_id FROM base WHERE ok % 5 = 0
    ),
    wtd AS (
        SELECT CAST(round(tot.s * 1e6 / (tot.c * 1.0 * tr.pop)) AS BIGINT)
                   AS w6
        FROM clicks cl JOIN train tr ON tr.item_id = cl.item_id
        CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clicks,
           round(sum(w6) * 1.0 * sum(w6) / sum(w6 * w6), 6) + 0 AS ess,
           round(sum(w6) * 1.0 * sum(w6) / sum(w6 * w6) / count(*), 6) + 0
               AS ess_ratio,
           round(max(w6) * 1.0 / sum(w6), 6) + 0 AS max_weight_share
    FROM wtd
    """,
)
def r_ips_eval(spark, sf_dir):
    """Off-policy evaluation weights + the diagnostics that decide
    whether the estimate is USABLE: inverse-propensity weights for
    evaluating a UNIFORM exploration policy from popularity-logged
    clicks (w_i ∝ 1/propensity_i, propensity = item's popularity
    share — the standard position-less IPS setup), reported as the
    effective sample size ESS = (Σw)²/Σw², its ratio to n, and the
    largest single weight's mass share. ESS collapsing toward 1 or one
    click holding >10% of the weight is the textbook signal that the
    logging and target policies barely overlap and any IPS value
    estimate is variance noise — the diagnostic is the deliverable
    (importance-sampling practice, e.g. Owen's Monte Carlo text,
    public).

    Weights snap to 1e-6 BIGINTs at birth, so Σw and Σw² accumulate
    exactly (reduction-order-free); the three ratios divide once at
    the end. One popularity aggregate + one broadcast-scale join onto
    the holdout clicks + a single-row census — linear at any scale,
    same orderkey%5 split as the rest of the eval family.
    """
    base = interactions(spark, sf_dir).withColumn("qty", F.col("qty").cast("long"))
    train_rows, hold_rows = split(base)
    train = train_rows.groupBy("item_id").agg(F.sum("qty").cast("long").alias("pop"))
    tot = train.agg(
        F.sum("pop").cast("long").alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    clicks = hold_rows.select("user_id", "item_id").distinct()
    wtd = (
        clicks.join(train, "item_id")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("s") * 1e6 / (F.col("c") * 1.0 * F.col("pop")))
            .cast("long")
            .alias("w6")
        )
    )
    return wtd.agg(
        F.count("*").cast("long").alias("n_clicks"),
        f6(
            F.sum("w6") * 1.0 * F.sum("w6") / F.sum(F.col("w6") * F.col("w6"))
        ).alias("ess"),
        f6(
            F.sum("w6")
            * 1.0
            * F.sum("w6")
            / F.sum(F.col("w6") * F.col("w6"))
            / F.count("*")
        ).alias("ess_ratio"),
        f6(F.max("w6") * 1.0 / F.sum("w6")).alias("max_weight_share"),
    )


@register(
    "r_ucb_scores",
    f"""
    WITH m AS ({_M_SQL}),
    stats AS (
        SELECT item_id,
               CAST(count(*) AS BIGINT) AS n_i,
               CAST(sum(CAST(rating AS BIGINT)) AS BIGINT) AS s_i
        FROM m GROUP BY item_id
    ),
    tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n FROM stats),
    scored AS (
        SELECT s.item_id, s.n_i,
               round(s.s_i * 1.0 / s.n_i, 6) + 0 AS mean_rating,
               round(s.s_i * 1.0 / s.n_i
                     + 12.0 * sqrt(2.0 * ln(t.n) / s.n_i), 6) + 0 AS ucb
        FROM stats s CROSS JOIN tot t
    )
    SELECT item_id, n_i, mean_rating, ucb,
           CAST(row_number() OVER (ORDER BY ucb DESC, item_id) AS BIGINT)
               AS ucb_rank,
           CAST(row_number() OVER (ORDER BY mean_rating DESC, item_id)
                AS BIGINT) AS greedy_rank
    FROM scored
    ORDER BY ucb_rank LIMIT 10
    """,
)
def r_ucb_scores(spark, sf_dir):
    """UCB1 exploration scores for bandit-style item serving (Auer et
    al. 2002, public): score_i = mean_i + c·√(2·ln N / n_i) — the
    optimism bonus that forces thinly-observed items into rotation
    where pure popularity ranking (r_topn_recs' greedy policy)
    starves them of the impressions needed to learn their true
    quality. The paired ucb_rank/greedy_rank columns make the policy
    difference visible: items whose two ranks diverge are exactly the
    under-explored inventory. c=12 scales the bonus to this corpus's
    rating magnitudes (quantity sums); ε-greedy's alternative lives
    at r_epsilon_slate.

    One item-keyed aggregate over the ratings matrix (the shared
    shuffle), a 1-row total broadcast, and two bounded rank windows
    over |items| rows. Both engines evaluate the same ln/√
    association on exact integer inputs and round at 6dp before
    ranking, so order is engine-exact. At serving scale the stats
    table IS the bandit state — incrementable by streaming counts.
    """
    m0 = ratings_matrix(spark, sf_dir)
    stats = m0.groupBy("item_id").agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum(F.col("rating").cast("long")).cast("long").alias("s_i"),
    )
    tot = stats.agg(F.sum("n_i").cast("long").alias("n"))
    scored = stats.crossJoin(F.broadcast(tot)).select(
        "item_id",
        "n_i",
        f6(F.col("s_i") * 1.0 / F.col("n_i")).alias("mean_rating"),
        f6(
            F.col("s_i") * 1.0 / F.col("n_i")
            + 12.0 * F.sqrt(2.0 * F.log(F.col("n")) / F.col("n_i"))
        ).alias("ucb"),
    )
    w_ucb = Window.orderBy(F.col("ucb").desc(), "item_id")
    w_greedy = Window.orderBy(F.col("mean_rating").desc(), "item_id")
    return (
        scored.withColumn("ucb_rank", F.row_number().over(w_ucb).cast("long"))
        .withColumn("greedy_rank", F.row_number().over(w_greedy).cast("long"))
        .where(F.col("ucb_rank") <= 10)
        .select(
            "item_id", "n_i", "mean_rating", "ucb", "ucb_rank", "greedy_rank"
        )
        .orderBy("ucb_rank")
    )


@register(
    "r_covisitation_capped",
    """
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events
    ),
    o AS (
        SELECT user_id, ts, event_id, item,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id))
                            > 86400000000
                    THEN 1 ELSE 0 END AS brk
        FROM ev
    ),
    s AS (
        SELECT user_id, item,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    ),
    si AS (SELECT DISTINCT user_id, sid, item FROM s),
    capped AS (
        SELECT user_id, sid, item FROM (
            SELECT user_id, sid, item,
                   row_number() OVER (PARTITION BY user_id, sid
                                      ORDER BY md5(CAST(item AS VARCHAR)),
                                               item) AS rk
            FROM si
        ) WHERE rk <= 32
    ),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b
        FROM capped a JOIN capped b
          ON a.user_id = b.user_id AND a.sid = b.sid
         AND a.item < b.item
    )
    SELECT item_a, item_b, CAST(count(*) AS BIGINT) AS n_sessions
    FROM pairs GROUP BY 1, 2
    ORDER BY n_sessions DESC, item_a, item_b
    LIMIT 50
    """,
)
def r_covisitation_capped(spark, sf_dir):
    """Session co-visitation with a PER-SESSION ITEM CAP — the scale
    armor r_covisitation's docstring promise ('work bounded by session
    length') actually needs when sessions themselves grow: a logged-in
    crawler, a day-long power-user session, or a coarse gap setting
    (24h here, deliberately coarse so the hazard is live) makes
    |session|² explode while carrying no extra co-visit signal beyond
    its sample.  The cap keeps ≤32 items per session, chosen by md5
    rank — a deterministic uniform sample, so frequent TRUE pairs
    still dominate the count census while the quadratic tail is gone:
    pair work is bounded at 32²/2 per session FOREVER, independent of
    session length (SCALECHECK measures this against an uncapped
    24h-gap control).

    Same single-shuffle sessionization as r_covisitation (user-keyed
    window), one extra WindowGroupLimit for the cap (rank ≤ 32 — no
    full-session sort materialization), then the per-session pair join
    and count rollup.
    """
    si = _session_items(spark, sf_dir, 86400000000)
    wr = Window.partitionBy("user_id", "sid").orderBy(
        F.md5(F.col("item").cast("string")), "item"
    )
    capped = (
        si.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 32)
        .select("user_id", "sid", "item")
    )
    return _top_session_pairs(capped)


@register(
    "r_rmse_by_activity",
    """
    WITH base AS (
        SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
               l.l_quantity AS qty, l.l_orderkey AS ok
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    train AS (
        SELECT user_id, item_id, sum(qty) AS rating
        FROM base WHERE ok % 5 <> 0 GROUP BY 1, 2
    ),
    hold AS (
        SELECT user_id, item_id, sum(qty) AS rating
        FROM base WHERE ok % 5 = 0 GROUP BY 1, 2
    ),
    activity AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_train
        FROM train GROUP BY user_id
    ),
    im AS (SELECT item_id, avg(rating) AS mean_i FROM train GROUP BY 1),
    g AS (SELECT avg(rating) AS gm FROM train),
    err AS (
        SELECT CASE WHEN coalesce(a.n_train, 0) < 5 THEN 'cold'
                    WHEN a.n_train < 15 THEN 'warm' ELSE 'heavy' END
                   AS tier,
               CAST(round((h.rating - coalesce(im.mean_i, g.gm))
                          * (h.rating - coalesce(im.mean_i, g.gm))
                          * 1e6) AS BIGINT) AS se6
        FROM hold h
        LEFT JOIN activity a ON a.user_id = h.user_id
        LEFT JOIN im ON im.item_id = h.item_id
        CROSS JOIN g
    )
    SELECT tier,
           CAST(count(*) AS BIGINT) AS n_holdout,
           round(sqrt(CAST(sum(se6) AS DOUBLE) / 1e6 / count(*)), 6) + 0
               AS rmse
    FROM err GROUP BY tier ORDER BY tier
    """,
)
def r_rmse_by_activity(spark, sf_dir):
    """Holdout RMSE STRATIFIED by user training activity — the eval
    slice every recommender report owes its readers and r_rmse's
    single number hides: the item-mean predictor's error on cold
    (<5 train interactions), warm (<15), and heavy users.  The cold
    tier is where ALS/item-CF degrade to popularity — if the global
    RMSE looks fine but cold RMSE doesn't, the model is coasting on
    heavy users, which is exactly the failure the slice exposes (and
    why r_content_fallback exists).  Same orderkey%5 split and
    predictor as r_rmse, so the tiers decompose THAT number, not a
    new one.

    Squared errors snap to 1e-6 BIGINTs before the per-tier sums
    (reduction-order-free RMSE); activity tiering is one extra
    broadcast-scale aggregate joined user-keyed.
    """
    train_rows, hold_rows = split(interactions(spark, sf_dir))
    train = train_rows.groupBy("user_id", "item_id").agg(F.sum("qty").alias("rating"))
    hold = hold_rows.groupBy("user_id", "item_id").agg(F.sum("qty").alias("rating"))
    activity = train.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_train")
    )
    im = train.groupBy("item_id").agg(F.avg("rating").alias("mean_i"))
    g = train.agg(F.avg("rating").alias("gm"))
    pred = F.coalesce(F.col("mean_i"), F.col("gm"))
    err = (
        hold.join(activity, "user_id", "left")
        .join(F.broadcast(im), "item_id", "left")
        .crossJoin(F.broadcast(g))
        .select(
            F.when(F.coalesce(F.col("n_train"), F.lit(0)) < 5, "cold")
            .when(F.col("n_train") < 15, "warm")
            .otherwise("heavy")
            .alias("tier"),
            F.round(
                (F.col("rating") - pred) * (F.col("rating") - pred) * 1e6
            )
            .cast("long")
            .alias("se6"),
        )
    )
    return (
        err.groupBy("tier")
        .agg(
            F.count("*").cast("long").alias("n_holdout"),
            f6(
                F.sqrt(
                    F.sum("se6").cast("double") / 1e6 / F.count("*")
                )
            ).alias("rmse"),
        )
        .orderBy("tier")
    )


@register(
    "r_knn_k_sweep",
    f"""
    WITH m0 AS ({_M200_SQL}),
    m AS (SELECT user_id, item_id, round(rating, 2) AS rating FROM m0),
    train AS (
        SELECT * FROM m WHERE (user_id * 7 + item_id) % 5 <> 0
    ),
    hold AS (
        SELECT * FROM m WHERE (user_id * 7 + item_id) % 5 = 0
    ),
    n AS (SELECT item_id, sqrt(sum(rating * rating)) AS nrm
          FROM train GROUP BY item_id),
    p AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
                 sum(a.rating * b.rating) AS dot
          FROM train a JOIN train b
            ON a.user_id = b.user_id AND a.item_id < b.item_id
          GROUP BY 1, 2),
    sims AS (
        SELECT item_a, item_b, round(dot / (na.nrm * nb.nrm), 6) + 0
                   AS cosine
        FROM p JOIN n na ON p.item_a = na.item_id
               JOIN n nb ON p.item_b = nb.item_id
    ),
    bidir AS (
        SELECT item_a AS item_id, item_b AS neighbor_id, cosine FROM sims
        UNION ALL
        SELECT item_b, item_a, cosine FROM sims
    ),
    ranked AS (
        SELECT item_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY item_id
                                       ORDER BY cosine DESC, neighbor_id)
                    AS BIGINT) AS rn
        FROM bidir
    ),
    joined AS (
        SELECT h.user_id, h.item_id, h.rating,
               r.rn, r.cosine, t.rating AS nr
        FROM hold h
        JOIN ranked r ON r.item_id = h.item_id
        JOIN train t ON t.user_id = h.user_id
                    AND t.item_id = r.neighbor_id
    ),
    ks AS (SELECT unnest(range(0, 4)) AS ki),
    preds AS (
        SELECT CASE ks.ki WHEN 0 THEN 1 WHEN 1 THEN 3
                          WHEN 2 THEN 5 ELSE 10 END AS k,
               j.user_id, j.item_id, j.rating,
               sum(CASE WHEN j.rn <= CASE ks.ki WHEN 0 THEN 1
                                     WHEN 1 THEN 3 WHEN 2 THEN 5
                                     ELSE 10 END
                        THEN j.cosine * j.nr END) AS num,
               sum(CASE WHEN j.rn <= CASE ks.ki WHEN 0 THEN 1
                                     WHEN 1 THEN 3 WHEN 2 THEN 5
                                     ELSE 10 END
                        THEN j.cosine END) AS den
        FROM joined j CROSS JOIN ks
        GROUP BY 1, 2, 3, 4
    ),
    err AS (
        SELECT k,
               CAST(round((rating - num / den) * (rating - num / den)
                          * 1e6) AS BIGINT) AS se6
        FROM preds WHERE den > 0
    ),
    htot AS (SELECT CAST(count(*) AS BIGINT) AS n_hold FROM hold)
    SELECT CAST(e.k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_scored,
           round(count(*) * 1.0 / ht.n_hold, 6) + 0 AS coverage,
           round(sqrt(CAST(sum(se6) AS DOUBLE) / 1e6 / count(*)), 6) + 0
               AS rmse
    FROM err e CROSS JOIN htot ht
    GROUP BY e.k, ht.n_hold ORDER BY k
    """,
)
def r_knn_k_sweep(spark, sf_dir):
    """Neighborhood-size sweep — THE item-CF hyperparameter curve,
    produced in one ranked pass: holdout ratings (a deterministic
    (7u+i)%5 split) are predicted from the top-k train-cosine
    neighbors the user has rated, for k ∈ {{1,3,5,10}} via conditional
    sums over ONE ranked neighbor join (never four re-ranks), and
    RMSE + coverage print per k.  The trade the curve always shows:
    tiny k is high-variance (one neighbor's quirk is the prediction),
    large k drifts toward the item-mean and coverage rises — where
    the elbow sits is the k r_topk_neighbors should ship with, now a
    measurement instead of folklore (the reference's MR pipeline
    hard-codes it).

    Sims are TRAIN-only (no holdout leakage into the similarity —
    the subtle eval bug this key exists to avoid); per-row squared
    errors snap to 1e-6 BIGINTs before the per-k fold.
    """
    m = ratings_matrix(spark, sf_dir, max_item=200).withColumn(
        "rating", money2(F.col("rating"))
    )
    split = (F.col("user_id") * 7 + F.col("item_id")) % 5
    train = m.where(split != 0)
    hold = m.where(split == 0)
    n = train.groupBy("item_id").agg(
        F.sqrt(F.sum(F.col("rating") * F.col("rating"))).alias("nrm")
    )
    a = train.alias("a")
    b = train.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .groupBy(
            F.col("a.item_id").alias("item_a"),
            F.col("b.item_id").alias("item_b"),
        )
        .agg(F.sum(F.col("a.rating") * F.col("b.rating")).alias("dot"))
    )
    na = n.select(F.col("item_id").alias("item_a"), F.col("nrm").alias("na"))
    nb_ = n.select(F.col("item_id").alias("item_b"), F.col("nrm").alias("nb"))
    sims = (
        p.join(na, "item_a")
        .join(nb_, "item_b")
        .select(
            "item_a",
            "item_b",
            f6(F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    # One map-side explode for both orientations (r17, guide §2.4) —
    # the union form re-ran the uncached train-pair subtree per branch.
    bidir = sims.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item_id"),
                    F.col("item_b").alias("neighbor_id"),
                ),
                F.struct(
                    F.col("item_b").alias("item_id"),
                    F.col("item_a").alias("neighbor_id"),
                ),
            )
        ).alias("e"),
        "cosine",
    ).select("e.item_id", "e.neighbor_id", "cosine")
    w = Window.partitionBy("item_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    ranked = bidir.withColumn(
        "rn", F.row_number().over(w).cast("long")
    )
    joined = (
        hold.join(ranked, "item_id")
        .join(
            train.select(
                "user_id",
                F.col("item_id").alias("neighbor_id"),
                F.col("rating").alias("nr"),
            ),
            ["user_id", "neighbor_id"],
        )
    )
    ks = spark.createDataFrame([(1,), (3,), (5,), (10,)], "k long")
    preds = (
        joined.crossJoin(F.broadcast(ks))
        .groupBy("k", "user_id", "item_id", "rating")
        .agg(
            F.sum(
                F.when(
                    F.col("rn") <= F.col("k"),
                    F.col("cosine") * F.col("nr"),
                )
            ).alias("num"),
            F.sum(
                F.when(F.col("rn") <= F.col("k"), F.col("cosine"))
            ).alias("den"),
        )
        .where(F.col("den") > 0)
    )
    err = preds.select(
        "k",
        F.round(
            (F.col("rating") - F.col("num") / F.col("den"))
            * (F.col("rating") - F.col("num") / F.col("den"))
            * 1e6
        )
        .cast("long")
        .alias("se6"),
    )
    htot = hold.agg(F.count("*").cast("long").alias("n_hold"))
    return (
        err.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_scored"),
            F.sum("se6").cast("long").alias("sse6"),
        )
        .crossJoin(F.broadcast(htot))
        .select(
            "k",
            "n_scored",
            f6(F.col("n_scored") * 1.0 / F.col("n_hold")).alias(
                "coverage"
            ),
            f6(
                F.sqrt(
                    F.col("sse6").cast("double") / 1e6 / F.col("n_scored")
                )
            ).alias("rmse"),
        )
        .orderBy("k")
    )


@register(
    "r_swing_capped",
    f"""
    WITH m AS ({_M200_SQL}),
    ui AS (SELECT DISTINCT user_id, item_id FROM m),
    active AS (
        SELECT user_id FROM ui GROUP BY user_id HAVING count(*) <= 32
    ),
    capped AS (
        SELECT user_id, item_id FROM (
            SELECT u.user_id, u.item_id,
                   row_number() OVER (PARTITION BY u.item_id
                                      ORDER BY u.user_id) AS rk
            FROM ui u JOIN active a ON a.user_id = u.user_id
        ) WHERE rk <= 40
    ),
    up AS (
        SELECT a.user_id AS ua, b.user_id AS ub, a.item_id
        FROM capped a JOIN capped b
          ON a.item_id = b.item_id AND a.user_id < b.user_id
    ),
    cuv AS (
        SELECT ua, ub, CAST(count(*) AS BIGINT) AS c_uv
        FROM up GROUP BY ua, ub
    ),
    ip AS (
        SELECT p.ua, p.ub, p.item_id AS item_a, q.item_id AS item_b
        FROM up p JOIN up q
          ON p.ua = q.ua AND p.ub = q.ub AND p.item_id < q.item_id
    ),
    sw AS (
        SELECT ip.item_a, ip.item_b,
               sum(CAST(round(1e12 / (1 + c.c_uv)) AS BIGINT)) AS s12,
               CAST(count(*) AS BIGINT) AS n_user_pairs
        FROM ip JOIN cuv c ON c.ua = ip.ua AND c.ub = ip.ub
        GROUP BY 1, 2
    )
    SELECT item_a, item_b, round(s12 / 1e12, 6) + 0 AS swing, n_user_pairs
    FROM sw
    ORDER BY swing DESC, item_a, item_b
    LIMIT 20
    """,
)
def r_swing_capped(spark, sf_dir):
    """Swing item similarity (Yang et al. 2020, "Large Scale Product
    Graph Construction for Recommendation in E-commerce" — the Alibaba
    i2i workhorse, public): two items are similar when many USER PAIRS
    co-interact with both, each pair down-weighted by how much the two
    users overlap overall — swing(i,j) = Σ_{{(u,v) raters of both}}
    1/(α + |I_u ∩ I_v|), α=1. Unlike co-occurrence counts, a clique of
    near-identical heavy users contributes almost nothing (their 1/(α+c)
    terms vanish as their shared-item count c grows), so swing resists
    exactly the bot/power-user co-click inflation that poisons plain
    item CF.

    Caps make it production-shaped (the uncapped pair-of-pairs blowup is
    quartic in the hot keys): an ACTIVITY cap drops users with >32
    distinct items before any join (their terms are ≤ 1/33 each and
    they're the quadratic hazard — the same reasoning production swing
    implements as user-activity weighting), then a deterministic
    RATER cap keeps ≤40 raters per item (row_number by user_id,
    mirrored in the oracle). After both caps: user pairs per item
    ≤ C(40,2), common items per pair ≤ 32, so item-pair work per user
    pair is ≤ C(32,2) — all constants, linear in items.

    Exactness: every swing term snaps to round(1e12/(1+c)) BIGINT before
    the sum (1e12 = 2^12·5^12, so every power-of-two-times-five divisor
    is exact and no 1/(1+c) lands on a .5 rounding boundary for c ≤ 32);
    the only float op is the final /1e12 display round. Top-20 is
    orderBy().limit() -> TakeOrderedAndProject with (item_a, item_b)
    tiebreaks."""
    m = ratings_matrix(spark, sf_dir, max_item=200)
    ui = m.select("user_id", "item_id").distinct()
    active = (
        ui.groupBy("user_id")
        .agg(F.count("*").alias("n_items"))
        .where(F.col("n_items") <= 32)
        .select("user_id")
    )
    wr = Window.partitionBy("item_id").orderBy("user_id")
    capped = (
        ui.join(active, "user_id")
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 40)
        .select("user_id", "item_id")
    )
    a = capped.select(F.col("user_id").alias("ua"), "item_id")
    b = capped.select(F.col("user_id").alias("ub"), "item_id")
    # up feeds THREE consumers (the overlap counts and both sides of the
    # item-pair join); cache it so the capped pair join runs once, not 3x.
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 2.02 -> 3.19 s without it, IQR 0.65 s.
    up = (
        a.join(b, "item_id")
        .where(F.col("ua") < F.col("ub"))
        .select("ua", "ub", "item_id")
        .cache()
    )
    cuv = (
        up.groupBy("ua", "ub")
        .agg(F.count("*").cast("long").alias("c_uv"))
        .select(
            F.col("ua").alias("c_ua"), F.col("ub").alias("c_ub"), "c_uv"
        )
    )
    p = up.select("ua", "ub", F.col("item_id").alias("item_a"))
    q = up.select(
        F.col("ua").alias("q_ua"),
        F.col("ub").alias("q_ub"),
        F.col("item_id").alias("item_b"),
    )
    ip = p.join(
        q,
        (p.ua == F.col("q_ua"))
        & (p.ub == F.col("q_ub"))
        & (F.col("item_a") < F.col("item_b")),
    ).select("ua", "ub", "item_a", "item_b")
    term12 = F.round(1e12 / (1 + F.col("c_uv"))).cast("long")
    sw = (
        ip.join(
            cuv,
            (ip.ua == F.col("c_ua")) & (ip.ub == F.col("c_ub")),
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.sum(term12).alias("s12"),
            F.count("*").cast("long").alias("n_user_pairs"),
        )
    )
    return (
        sw.select(
            "item_a",
            "item_b",
            f6(F.col("s12") / 1e12).alias("swing"),
            "n_user_pairs",
        )
        .orderBy(F.col("swing").desc(), "item_a", "item_b")
        .limit(20)
    )


# _day_items_capped's oracle CTEs.
_DAY_ITEMS_SQL = """
    WITH ev AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    capped AS (
        SELECT user_id, d, item FROM (
            SELECT user_id, d, item,
                   row_number() OVER (
                       PARTITION BY user_id, d
                       ORDER BY md5(CAST(user_id AS VARCHAR) || ':'
                                    || CAST(item AS VARCHAR))) AS rk
            FROM ev
        ) WHERE rk <= 16
    ),
"""


def _day_items_capped(spark, sf_dir):
    """Distinct (user_id, d, item) event rows, at most 16 items per
    user-day, chosen by md5(user_id:item) rank: the crawler cap of
    r_covisit_time_decay and r_session_knn_capped (oracle:
    _DAY_ITEMS_SQL).

    The events scan is widened before the JSON extraction and distinct
    (r18, guide §2.5): the single-row-group fixture scans as ONE task,
    serializing the per-row get_json_object parse. No-op when the scan
    is wide. item IS NOT NULL before the cap (round-12 advice item 2): a
    NULL $.k would never form pairs but WOULD occupy one of the 16 md5-
    ranked cap slots, and NULL md5 sorts NULLS FIRST in Spark vs NULLS
    LAST in DuckDB, so a >16-item user-day containing a NULL would cap
    DIFFERENT real items in the two engines.
    """
    ev = widen_narrow_scan(spark, load_table(spark, sf_dir, "events"))
    ui = (
        ev.select(
            "user_id",
            F.to_date(F.date_trunc("day", "ts")).alias("d"),
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .where(F.col("item").isNotNull())
        .distinct()
    )
    wcap = Window.partitionBy("user_id", "d").orderBy(
        F.md5(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit(":"),
                F.col("item").cast("string"),
            )
        )
    )
    # Both keys read the capped frame more than once (the pair
    # self-join's two sides; six consumers in the session kNN). Kept,
    # measured at sf0.1 (5 alternating pairs, 4 cores, cache cleared per
    # run): r_covisit_time_decay median 3.35 -> 4.21 s without it, IQR
    # 0.22 s; r_session_knn_capped 9.62 -> 11.65 s, IQR 0.50 s.
    return (
        ui.withColumn("rk", F.row_number().over(wcap))
        .where(F.col("rk") <= 16)
        .select("user_id", "d", "item")
        .cache()
    )


@register(
    "r_covisit_time_decay",
    _DAY_ITEMS_SQL
    + """    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(b.d - a.d AS INTEGER) AS dd
        FROM capped a JOIN capped b
          ON a.user_id = b.user_id
         AND b.d - a.d BETWEEN 0 AND 7
         AND a.item <> b.item
         AND (a.d < b.d OR (a.d = b.d AND a.item < b.item))
    ),
    sw AS (
        SELECT item_a, item_b,
               sum(CAST(round(1e12 / (1 + dd)) AS BIGINT)) AS w12,
               CAST(count(*) AS BIGINT) AS n_covisits
        FROM pairs GROUP BY item_a, item_b
    )
    SELECT item_a, item_b, round(w12 / 1e12, 6) + 0 AS decayed_weight,
           n_covisits
    FROM sw
    ORDER BY decayed_weight DESC, item_a, item_b
    LIMIT 50
    """,
)
def r_covisit_time_decay(spark, sf_dir):
    """Time-decayed co-visitation (the covisit-matrix weighting used by
    production candidate generators — e.g. the decayed covisit features
    popularized by the OTTO/Kaggle recsys pipelines, public): item pairs
    a user touched within a 7-day horizon, each co-occurrence weighted by
    harmonic decay 1/(1 + gap_days), so same-day co-views count full and
    week-apart pairs count 1/8. Pairs are TEMPORALLY oriented: item_a is
    the earlier day's item (same-day pairs canonicalize item_a < item_b),
    so a pair touched in both orders on different days contributes to
    both directed cells — the A-then-B transition weighting serving
    covisit matrices actually use. r_covisitation counts within-SESSION
    pairs unweighted; this is its cross-session recency-aware sibling.

    Exactness: every decay term snaps to round(1e12/(1+dd)) BIGINT
    before summing — the r_swing_capped convention (1e12 = 2^12*5^12
    covers every divisor 1..8 exactly, no .5 boundary) — and the only
    float is the final display division. Tie-break (item_a, item_b).

    Scale: activity first collapses to DISTINCT (user, day, item), then
    a deterministic md5-ranked cap keeps <=16 items per user-day (the
    heavy-user hazard: an uncapped crawler contributes O(items^2 x
    days^2) pairs; capped, per-user pair work is <= (16 x 8-day window)^2
    constants). The pair join is user-keyed (equi) with a bounded day
    range — never a global item join; weight sums partial-aggregate
    map-side; top-50 is TakeOrderedAndProject.
    """
    capped = _day_items_capped(spark, sf_dir)
    a = capped.select(
        F.col("user_id").alias("ua"), F.col("d").alias("da"),
        F.col("item").alias("item_a"),
    )
    b = capped.select(
        F.col("user_id").alias("ub"), F.col("d").alias("db"),
        F.col("item").alias("item_b"),
    )
    dd = F.datediff("db", "da")
    pairs = a.join(
        b,
        (F.col("ua") == F.col("ub"))
        & dd.between(0, 7)
        & (F.col("item_a") != F.col("item_b"))
        & (
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("item_a") < F.col("item_b")))
        ),
    ).select("item_a", "item_b", dd.alias("dd"))
    w12 = F.round(1e12 / (1 + F.col("dd"))).cast("long")
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(
            F.sum(w12).alias("w12"),
            F.count("*").cast("long").alias("n_covisits"),
        )
        .select(
            "item_a",
            "item_b",
            f6(F.col("w12") / 1e12).alias("decayed_weight"),
            "n_covisits",
        )
        .orderBy(F.col("decayed_weight").desc(), "item_a", "item_b")
        .limit(50)
    )


@register(
    "r_hit_rate_loo",
    """
    WITH ei AS (
        SELECT user_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
               ts, event_id
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    ranked AS (
        SELECT user_id, item,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ei
    ),
    hold0 AS (SELECT user_id, item FROM ranked WHERE rn = 1),
    train AS (SELECT user_id, item FROM ranked WHERE rn > 1),
    tu AS (SELECT DISTINCT user_id FROM train),
    hold AS (SELECT h.user_id, h.item FROM hold0 h
             JOIN tu ON tu.user_id = h.user_id),
    pop AS (SELECT item, CAST(count(*) AS BIGINT) AS c
            FROM train GROUP BY item),
    top50 AS (SELECT item, c FROM pop ORDER BY c DESC, item LIMIT 50),
    seen AS (SELECT DISTINCT user_id, item FROM train),
    grid AS (
        SELECT u.user_id, t.item, t.c
        FROM (SELECT user_id FROM hold) u CROSS JOIN top50 t
        WHERE NOT EXISTS (SELECT 1 FROM seen s
                          WHERE s.user_id = u.user_id AND s.item = t.item)
    ),
    slate AS (
        SELECT user_id, item FROM (
            SELECT user_id, item,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY c DESC, item) AS rk
            FROM grid
        ) WHERE rk <= 10
    ),
    fullk AS (
        SELECT CAST(count(*) AS BIGINT) AS f FROM (
            SELECT user_id FROM slate GROUP BY user_id HAVING count(*) = 10
        )
    ),
    hits AS (
        SELECT CAST(count(*) AS BIGINT) AS h
        FROM slate s JOIN hold ho
          ON ho.user_id = s.user_id AND ho.item = s.item
    )
    SELECT CAST((SELECT count(*) FROM hold) AS BIGINT) AS n_users,
           h AS hits,
           round(h * 1.0 / (SELECT count(*) FROM hold), 6) + 0 AS hit_rate10,
           CAST((SELECT count(*) FROM hold) - f AS BIGINT) AS n_short_slates
    FROM hits CROSS JOIN fullk
    """,
)
def r_hit_rate_loo(spark, sf_dir):
    """Leave-one-out hit-rate@10 — the standard implicit-feedback offline
    eval (He et al. 2017 NCF protocol, public): hold out each user's LAST
    interaction, recommend the top-10 most-popular TRAIN items the user
    has not already touched, and score the fraction of users whose
    held-out item lands in the slate. Popularity is the canonical
    baseline every learned recommender must beat; r_precision_at_k etc.
    score random-split ratings, while this key pins the temporal-holdout
    protocol (no future leakage: the slate is built from strictly
    pre-holdout events).

    Honesty column: n_short_slates counts users whose not-yet-seen
    candidate pool inside the global top-50 ran short of 10 — the
    truncation a fixed candidate horizon introduces (at 100 TB the
    candidate pool would be the serving index, not top-50).

    Scale: ranking the last event is one user-partitioned window over
    events; popularity partial-aggregates; the top-50 candidate table
    BROADCASTS to a 50-row-per-user grid (linear in users), the
    seen-filter is a user-keyed left-anti join, and the per-user slate
    rank is a 50-row window. No item x item or user x user joins.
    """
    ev = load_table(spark, sf_dir, "events")
    ei = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
        "ts",
        "event_id",
    ).where(F.col("item").isNotNull())
    wl = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ei.withColumn("rn", F.row_number().over(wl))
    hold0 = ranked.where(F.col("rn") == 1).select("user_id", "item")
    train = ranked.where(F.col("rn") > 1).select("user_id", "item")
    tu = train.select("user_id").distinct()
    hold = hold0.join(tu, "user_id")
    pop = train.groupBy("item").agg(F.count("*").cast("long").alias("c"))
    top50 = pop.orderBy(F.col("c").desc(), "item").limit(50)
    seen = train.distinct()
    grid = (
        hold.select("user_id")
        .crossJoin(F.broadcast(top50))
        .join(seen, ["user_id", "item"], "left_anti")
    )
    wr = Window.partitionBy("user_id").orderBy(F.col("c").desc(), "item")
    slate = (
        grid.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 10)
        .select("user_id", "item")
    )
    n_users = hold.agg(F.count("*").cast("long").alias("n_users"))
    hits = (
        slate.join(hold, ["user_id", "item"])
        .agg(F.count("*").cast("long").alias("hits"))
    )
    fullk = (
        slate.groupBy("user_id")
        .agg(F.count("*").alias("k"))
        .where(F.col("k") == 10)
        .agg(F.count("*").cast("long").alias("f"))
    )
    return (
        hits.crossJoin(F.broadcast(n_users))
        .crossJoin(F.broadcast(fullk))
        .select(
            "n_users",
            "hits",
            f6(F.col("hits") * 1.0 / F.col("n_users")).alias("hit_rate10"),
            (F.col("n_users") - F.col("f")).cast("long").alias("n_short_slates"),
        )
    )


@register(
    "r_temporal_split_rmse",
    """
    WITH base AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id,
               l_quantity AS qty, l_orderkey AS ok, o_orderdate AS od
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    rtrain AS (SELECT user_id, item_id, sum(qty) AS rating FROM base
               WHERE ok % 5 <> 0 GROUP BY 1, 2),
    rhold  AS (SELECT user_id, item_id, sum(qty) AS rating FROM base
               WHERE ok % 5 = 0 GROUP BY 1, 2),
    ttrain AS (SELECT user_id, item_id, sum(qty) AS rating FROM base
               WHERE od < DATE '2000-06-01' GROUP BY 1, 2),
    thold  AS (SELECT user_id, item_id, sum(qty) AS rating FROM base
               WHERE od >= DATE '2000-06-01' GROUP BY 1, 2),
    rim AS (SELECT item_id, avg(rating) AS mean_i FROM rtrain GROUP BY 1),
    rg  AS (SELECT avg(rating) AS gm FROM rtrain),
    tim AS (SELECT item_id, avg(rating) AS mean_i FROM ttrain GROUP BY 1),
    tg  AS (SELECT avg(rating) AS gm FROM ttrain)
    SELECT 'random' AS split,
           round(sqrt(avg(power(coalesce(rim.mean_i, rg.gm)
                                - rhold.rating, 2))), 6) + 0 AS rmse,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (WHERE rim.mean_i IS NULL) AS BIGINT)
               AS n_cold
    FROM rhold LEFT JOIN rim ON rim.item_id = rhold.item_id CROSS JOIN rg
    UNION ALL
    SELECT 'temporal',
           round(sqrt(avg(power(coalesce(tim.mean_i, tg.gm)
                                - thold.rating, 2))), 6) + 0,
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE tim.mean_i IS NULL) AS BIGINT)
    FROM thold LEFT JOIN tim ON tim.item_id = thold.item_id CROSS JOIN tg
    ORDER BY split
    """,
)
def r_temporal_split_rmse(spark, sf_dir):
    """Random-split vs temporal-split evaluation of the SAME item-mean
    predictor — the eval-hygiene audit behind every production
    recommender metric (train on the past, test on the FUTURE; a random
    holdout lets future popularity leak into training, which is the
    classic way offline RMSE flatters a model that will underperform
    live). Two rows: the r_rmse orderkey%5 random split next to a
    2000-06-01 date-cutoff split (~17% future test at every sf), each
    with its RMSE, test size, and cold-item count — the temporal split's
    larger n_cold is the MECHANISM of the gap (items that only exist in
    the future have no training mean and fall back to the global mean).

    Scale design: both evaluations share one orders ⋈ lineitem scan;
    each split is two grouped aggs + a broadcast of the (item) mean
    table back onto its holdout — the r_rmse plan twice, no new shuffle
    shapes. The date cutoff prunes partitions when the fact table is
    date-partitioned (the 100 TB layout), so the temporal split is
    CHEAPER than the random one there — there is no efficiency excuse
    for leaking time.
    """
    base = interactions(spark, sf_dir)

    def rated(rows):
        return rows.groupBy("user_id", "item_id").agg(F.sum("qty").alias("rating"))

    def eval_split(name, train, hold):
        im = train.groupBy("item_id").agg(F.avg("rating").alias("mean_i"))
        g = train.agg(F.avg("rating").alias("gm"))
        return (
            hold.join(F.broadcast(im), "item_id", "left")
            .crossJoin(F.broadcast(g))
            .agg(
                f6(
                    F.sqrt(
                        F.avg(
                            F.pow(
                                F.coalesce(F.col("mean_i"), F.col("gm"))
                                - F.col("rating"),
                                F.lit(2),
                            )
                        )
                    )
                ).alias("rmse"),
                F.count(F.lit(1)).cast("long").alias("n_test"),
                F.count_if(F.col("mean_i").isNull())
                .cast("long")
                .alias("n_cold"),
            )
            .select(F.lit(name).alias("split"), "rmse", "n_test", "n_cold")
        )

    cut = F.lit("2000-06-01").cast("date")
    train, hold = split(base)
    return eval_split("random", rated(train), rated(hold)).unionByName(
        eval_split(
            "temporal",
            rated(base.where(F.col("od") < cut)),
            rated(base.where(F.col("od") >= cut)),
        )
    ).orderBy("split")


@register(
    "r_session_knn_capped",
    _DAY_ITEMS_SQL
    + """    ssize AS (
        SELECT user_id, d, count(*) AS sz FROM capped GROUP BY user_id, d
    ),
    idf AS (SELECT item, count(*) AS df FROM capped GROUP BY item),
    istats AS (SELECT sum(df) AS totp, count(*) AS n_items FROM idf),
    posting AS (
        SELECT c.user_id, c.d, c.item
        FROM capped c JOIN idf ON c.item = idf.item CROSS JOIN istats s
        WHERE idf.df <= (2 * s.totp) // s.n_items
    ),
    targets AS (
        SELECT user_id, d, sz FROM ssize
        ORDER BY md5(CAST(user_id AS VARCHAR) || '@'
                     || CAST(d AS VARCHAR)), user_id, d
        LIMIT 20
    ),
    ov AS (
        SELECT t.user_id AS tu, t.d AS td, t.sz AS tsz,
               p2.user_id AS nu, p2.d AS nd, count(*) AS overlap
        FROM targets t
        JOIN posting p1 ON p1.user_id = t.user_id AND p1.d = t.d
        JOIN posting p2 ON p2.item = p1.item
        WHERE NOT (p2.user_id = t.user_id AND p2.d = t.d)
        GROUP BY 1, 2, 3, 4, 5
    ),
    scored AS (
        SELECT o.tu, o.td, o.nu, o.nd,
               (o.overlap * 1000000) // (o.tsz + ns.sz - o.overlap)
                   AS jac_1e6
        FROM ov o JOIN ssize ns ON ns.user_id = o.nu AND ns.d = o.nd
    ),
    nbr AS (
        SELECT tu, td, nu, nd, jac_1e6 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY tu, td
                ORDER BY jac_1e6 DESC, nu, nd) AS rk
            FROM scored
        ) WHERE rk <= 4
    ),
    cand AS (
        SELECT n.tu, n.td, c.item, sum(n.jac_1e6) AS score_1e6
        FROM nbr n JOIN capped c ON c.user_id = n.nu AND c.d = n.nd
        WHERE NOT EXISTS (
            SELECT 1 FROM capped tc
            WHERE tc.user_id = n.tu AND tc.d = n.td AND tc.item = c.item)
        GROUP BY n.tu, n.td, c.item
    )
    SELECT CAST(tu AS BIGINT) AS user_id, td AS d,
           CAST(item AS BIGINT) AS item,
           CAST(score_1e6 AS BIGINT) AS score_1e6,
           CAST(rk AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY tu, td ORDER BY score_1e6 DESC, item) AS rk
        FROM cand
    )
    WHERE rk <= 3
    ORDER BY user_id, d, rank
    """,
)
def r_session_knn_capped(spark, sf_dir):
    """Session-based kNN recommender (SKNN — the strong sequential-recs
    baseline that rivals neural session models in published evals):
    sessions are (user, day) item sets; for each target session find the
    4 most Jaccard-similar other sessions through a shared-item inverted
    index, then recommend the neighbors' items the target hasn't touched,
    scored by the summed neighbor similarity. Complements the item-item
    family (r_covisitation*, r_item_jaccard): those relate ITEMS, this
    relates whole SESSIONS, so it can surface items with zero direct
    co-occurrence with the target's items.

    Caps at every hazard point: <=16 md5-ranked items per session (the
    crawler cap shared with r_covisit_time_decay), a 2x-mean document
    frequency cap on the inverted index (a blockbuster item in every
    session would otherwise pair ALL sessions — the near-dup posting
    df-cap, made data-derived so it tracks corpus growth instead of
    hard-coding a scale), top-4 neighbors and top-3 recs via
    partitioned windows, and a 20-session md5-sampled target slate to
    bound output (production scores the one live session; the plan is
    identical). Similarity is integer ppm (overlap*1e6 div union), so
    both engines agree exactly.

    Scale: the only data-sized joins are item-keyed posting joins, with
    pair work bounded by df_cap^2 per item; every later stage runs on
    the 20-target frame. Never a session x session cross join.
    """
    capped = _day_items_capped(spark, sf_dir)
    ssize = capped.groupBy("user_id", "d").agg(F.count("*").alias("sz"))
    idf = capped.groupBy("item").agg(F.count("*").alias("df"))
    istats = idf.agg(
        F.sum("df").alias("totp"), F.count("*").alias("n_items")
    )
    posting = (
        capped.join(F.broadcast(idf), "item")
        .crossJoin(F.broadcast(istats))
        .where(F.expr("df <= (2 * totp) div n_items"))
        .select("user_id", "d", "item")
    )
    sess_h = F.md5(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("@"),
            F.col("d").cast("string"),
        )
    )
    targets = (
        ssize.orderBy(sess_h, "user_id", "d").limit(20)
    )
    t = targets.select(
        F.col("user_id").alias("tu"), F.col("d").alias("td"),
        F.col("sz").alias("tsz"),
    )
    p1 = posting.select(
        F.col("user_id").alias("tu"), F.col("d").alias("td"),
        F.col("item").alias("item"),
    )
    p2 = posting.select(
        F.col("user_id").alias("nu"), F.col("d").alias("nd"),
        F.col("item").alias("item"),
    )
    ov = (
        t.join(p1, ["tu", "td"])
        .join(p2, "item")
        .where(
            ~((F.col("nu") == F.col("tu")) & (F.col("nd") == F.col("td")))
        )
        .groupBy("tu", "td", "tsz", "nu", "nd")
        .agg(F.count("*").alias("overlap"))
    )
    ns = ssize.select(
        F.col("user_id").alias("nu"), F.col("d").alias("nd"),
        F.col("sz").alias("nsz"),
    )
    scored = ov.join(ns, ["nu", "nd"]).select(
        "tu",
        "td",
        "nu",
        "nd",
        F.expr("(overlap * 1000000) div (tsz + nsz - overlap)")
        .alias("jac_1e6"),
    )
    wn = Window.partitionBy("tu", "td").orderBy(
        F.col("jac_1e6").desc(), "nu", "nd"
    )
    nbr = (
        scored.withColumn("rk", F.row_number().over(wn))
        .where(F.col("rk") <= 4)
        .select("tu", "td", "nu", "nd", "jac_1e6")
    )
    nitems = capped.select(
        F.col("user_id").alias("nu"), F.col("d").alias("nd"), "item"
    )
    titems = capped.select(
        F.col("user_id").alias("tu"), F.col("d").alias("td"), "item"
    )
    cand = (
        nbr.join(nitems, ["nu", "nd"])
        .join(titems, ["tu", "td", "item"], "left_anti")
        .groupBy("tu", "td", "item")
        .agg(F.sum("jac_1e6").alias("score_1e6"))
    )
    wr = Window.partitionBy("tu", "td").orderBy(
        F.col("score_1e6").desc(), "item"
    )
    return (
        cand.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 3)
        .select(
            F.col("tu").cast("long").alias("user_id"),
            F.col("td").alias("d"),
            F.col("item").cast("long").alias("item"),
            F.col("score_1e6").cast("long").alias("score_1e6"),
            F.col("rk").cast("long").alias("rank"),
        )
        .orderBy("user_id", "d", "rank")
    )


@register(
    "r_negative_sampling",
    """
    WITH ev AS (
        SELECT DISTINCT user_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    pop AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
               count(*) AS cnt
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY 1
    ),
    cat AS (
        SELECT item, cnt,
               sum(cnt) OVER (ORDER BY item) - cnt AS lo,
               sum(cnt) OVER (ORDER BY item) AS hi
        FROM pop
    ),
    tot AS (SELECT sum(cnt) AS total FROM pop),
    users20 AS (
        SELECT user_id FROM (SELECT DISTINCT user_id FROM ev)
        ORDER BY md5(CAST(user_id AS VARCHAR)), user_id LIMIT 20
    ),
    pos AS (
        SELECT user_id, item AS pos_item FROM (
            SELECT e.user_id, e.item,
                   row_number() OVER (
                       PARTITION BY e.user_id
                       ORDER BY md5(CAST(e.user_id AS VARCHAR) || '+'
                                    || CAST(e.item AS VARCHAR))) AS rk
            FROM ev e JOIN users20 u ON e.user_id = u.user_id
        ) WHERE rk <= 8
    ),
    draws AS (
        SELECT p.user_id, p.pos_item, s.slot,
               CAST(list_sum(list_transform(range(1, 9),
                   jj -> (strpos('0123456789abcdef',
                           substring(md5(CAST(p.user_id AS VARCHAR) || ':'
                                         || CAST(p.pos_item AS VARCHAR)
                                         || ':'
                                         || CAST(s.slot AS VARCHAR)),
                                     jj, 1)) - 1)
                         * 16 ** (8 - jj))) AS BIGINT)
                   % t.total AS r
        FROM pos p
        CROSS JOIN (SELECT 1 AS slot UNION ALL SELECT 2) s
        CROSS JOIN tot t
    )
    SELECT CAST(d.user_id AS BIGINT) AS user_id,
           CAST(d.pos_item AS BIGINT) AS pos_item,
           CAST(d.slot AS BIGINT) AS slot,
           CAST(c.item AS BIGINT) AS neg_item,
           CAST(c.cnt AS BIGINT) AS neg_cnt
    FROM draws d JOIN cat c ON d.r >= c.lo AND d.r < c.hi
    WHERE c.item <> d.pos_item
    ORDER BY user_id, pos_item, slot
    """,
)
def r_negative_sampling(spark, sf_dir):
    """Popularity-proportional negative sampling — the training-pair
    generator implicit-feedback models (BPR, word2vec-style item
    embeddings, two-tower retrieval) are trained on. Each (user,
    positive-item) pair draws 2 negatives from the catalog's cumulative
    popularity CDF: a deterministic md5 hash of (user, item, slot) maps
    to a point in [0, total_events) and the negative is the catalog item
    whose cumulative range contains it — so popular items are sampled
    proportionally (the published samplers smooth with pop^0.75; we keep
    the exponent at 1 so every weight stays an exact BIGINT). Collisions
    with the positive item are dropped, not resampled (deterministic;
    production resamples with slot+K). 20 md5-sampled users x <=8
    md5-capped positives bound the output slate.

    Scale: the catalog CDF is one bounded window over the item axis
    (<=200 items here; a 100 M-item catalog would range-partition the
    prefix sum); draws join the CDF by range containment against a
    BROADCAST catalog — at real scale the textbook trick is binning
    r div B to turn it into an equi-join with a per-bin residual scan.
    No draw ever touches the events table: positives and popularity are
    the only data-sized aggregations.
    """
    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    ).where(F.col("item").isNotNull())
    pop = items.groupBy("item").agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy("item").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cat = pop.select(
        "item",
        "cnt",
        (F.sum("cnt").over(wcum) - F.col("cnt")).alias("lo"),
        F.sum("cnt").over(wcum).alias("hi"),
    )
    tot = pop.agg(F.sum("cnt").alias("total"))
    ui = items.distinct()
    users20 = (
        ui.select("user_id").distinct()
        .orderBy(F.md5(F.col("user_id").cast("string")), "user_id")
        .limit(20)
    )
    wpos = Window.partitionBy("user_id").orderBy(
        F.md5(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("+"),
                F.col("item").cast("string"),
            )
        )
    )
    pos = (
        ui.join(F.broadcast(users20), "user_id")
        .withColumn("rk", F.row_number().over(wpos))
        .where(F.col("rk") <= 8)
        .select("user_id", F.col("item").alias("pos_item"))
    )
    slots = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2))).alias("slot")
    )
    h32 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    F.col("pos_item").cast("string"),
                    F.lit(":"),
                    F.col("slot").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    draws = (
        pos.crossJoin(F.broadcast(slots))
        .crossJoin(F.broadcast(tot))
        .select("user_id", "pos_item", "slot", (h32 % F.col("total")).alias("r"))
    )
    return (
        draws.join(
            F.broadcast(cat),
            (F.col("r") >= F.col("lo")) & (F.col("r") < F.col("hi")),
        )
        .where(F.col("item") != F.col("pos_item"))
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("pos_item").cast("long").alias("pos_item"),
            F.col("slot").cast("long").alias("slot"),
            F.col("item").cast("long").alias("neg_item"),
            F.col("cnt").cast("long").alias("neg_cnt"),
        )
        .orderBy("user_id", "pos_item", "slot")
    )


@register(
    "r_exposure_gini",
    f"""
    WITH {_FIRST_PURCHASE_SQL}    ordered AS (
        SELECT user_id, item_id,
               lead(item_id) OVER (PARTITION BY user_id
                                   ORDER BY first_ts, first_ok, item_id)
                   AS next_item,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY first_ts DESC, first_ok DESC,
                                           item_id DESC) AS rev
        FROM seq
    ),
    trans AS (
        SELECT item_id AS src, next_item AS dst, count(*) AS c
        FROM ordered WHERE next_item IS NOT NULL GROUP BY 1, 2
    ),
    top1 AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, dst) AS rn
            FROM trans
        ) WHERE rn = 1
    ),
    lastitem AS (
        SELECT user_id, item_id AS src FROM ordered WHERE rev = 1
    ),
    served AS (
        SELECT li.user_id, t.dst AS rec_item
        FROM lastitem li JOIN top1 t ON li.src = t.src
    ),
    expo AS (
        SELECT rec_item, count(*) AS x FROM served GROUP BY rec_item
    ),
    ranked AS (
        SELECT x, row_number() OVER (ORDER BY x, rec_item) AS i FROM expo
    ),
    g AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six FROM ranked
    ),
    cat AS (SELECT count(DISTINCT l_partkey) AS catalog_n FROM lineitem),
    mx AS (SELECT max(x) AS top_x FROM expo),
    srv AS (SELECT count(*) AS n_served FROM served)
    SELECT CAST(srv.n_served AS BIGINT) AS n_users_served,
           CAST(g.n AS BIGINT) AS n_items_exposed,
           CAST(cat.catalog_n AS BIGINT) AS catalog_n,
           CAST(g.n * 1000000 // cat.catalog_n AS BIGINT) AS coverage_ppm,
           CAST(mx.top_x * 1000000 // g.sx AS BIGINT) AS top_share_ppm,
           CAST((2 * g.six * 1000000) // (g.n * g.sx)
                - ((g.n + 1) * 1000000) // g.n AS BIGINT) AS gini_ppm
    FROM g CROSS JOIN cat CROSS JOIN mx CROSS JOIN srv
    """,
)
def r_exposure_gini(spark, sf_dir):
    """Exposure-concentration audit of a serving slate — the
    popularity-bias number recommender teams watch: serve every user
    their top-1 Markov next-item (from the user's LAST item, the
    r_markov_next_item matrix), then measure how unequally exposure
    spreads over items: catalog coverage, the single hottest item's
    share of all impressions, and the Gini coefficient of the exposure
    distribution (0 = perfectly even slate, ->1 = one item absorbs the
    feed — the feedback-loop precursor). Complements r_coverage (can
    the system recommend item X at all) with WHO actually gets shown
    what.

    Exactness: Gini uses the rank formula G = 2·Σ(i·x_i)/(n·Σx) −
    (n+1)/n on integer exposure counts with a deterministic
    (count, item) rank order, evaluated as two BIGINT integer
    divisions in ppm — no float path. The exposure ranking is one
    window over the EXPOSED-item axis (bounded by the catalog; at
    100 M items the scale path is the range-partitioned prefix-sum
    ranking the a_gini docstring describes).

    Scale: the sequence/lead pass is r_markov_next_item's linear
    shape (no pair join); serving is one broadcast-able top-1 matrix
    join; everything after runs on the catalog-bounded exposure frame.
    """
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    seq = _first_purchases(orders, li)
    wseq = Window.partitionBy("user_id").orderBy(
        "first_ts", "first_ok", "item_id"
    )
    wrev = Window.partitionBy("user_id").orderBy(
        F.col("first_ts").desc(), F.col("first_ok").desc(),
        F.col("item_id").desc(),
    )
    ordered = seq.select(
        "user_id",
        "item_id",
        F.lead("item_id").over(wseq).alias("next_item"),
        F.row_number().over(wrev).alias("rev"),
    )
    trans = (
        ordered.where(F.col("next_item").isNotNull())
        .groupBy(F.col("item_id").alias("src"), F.col("next_item").alias("dst"))
        .agg(F.count("*").alias("c"))
    )
    wt = Window.partitionBy("src").orderBy(F.col("c").desc(), "dst")
    top1 = (
        trans.withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") == 1)
        .select("src", "dst")
    )
    lastitem = ordered.where(F.col("rev") == 1).select(
        "user_id", F.col("item_id").alias("src")
    )
    served = lastitem.join(F.broadcast(top1), "src").select(
        "user_id", F.col("dst").alias("rec_item")
    )
    expo = served.groupBy("rec_item").agg(F.count("*").alias("x"))
    wg = Window.orderBy("x", "rec_item")
    ranked = expo.withColumn("i", F.row_number().over(wg))
    g = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    cat = li.agg(F.countDistinct("l_partkey").alias("catalog_n"))
    mx = expo.agg(F.max("x").alias("top_x"))
    srv = served.agg(F.count("*").alias("n_served"))
    return (
        g.crossJoin(F.broadcast(cat))
        .crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(srv))
        .select(
            F.col("n_served").cast("long").alias("n_users_served"),
            F.col("n").cast("long").alias("n_items_exposed"),
            F.col("catalog_n").cast("long").alias("catalog_n"),
            F.expr("n * 1000000 div catalog_n").cast("long")
            .alias("coverage_ppm"),
            F.expr("top_x * 1000000 div sx").cast("long")
            .alias("top_share_ppm"),
            F.expr(
                "(2 * six * 1000000) div (n * sx)"
                " - ((n + 1) * 1000000) div n"
            ).cast("long").alias("gini_ppm"),
        )
    )


@register(
    "r_rank_dithering",
    """
    WITH pop AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
               count(*) AS cnt
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY 1
    ),
    slate AS (
        SELECT item, row_number() OVER (ORDER BY cnt DESC, item)
                   AS base_rank
        FROM pop QUALIFY base_rank <= 10
    ),
    users20 AS (
        SELECT user_id FROM (SELECT DISTINCT user_id FROM events)
        ORDER BY md5(CAST(user_id AS VARCHAR)), user_id LIMIT 20
    ),
    dith AS (
        SELECT u.user_id, s.item, s.base_rank,
               s.base_rank * 500
                   + CAST(list_sum(list_transform(range(1, 9), jj ->
                         (strpos('0123456789abcdef',
                                 substring(md5(CAST(u.user_id AS VARCHAR)
                                               || '~'
                                               || CAST(s.item AS VARCHAR)),
                                           jj, 1)) - 1)
                         * 16 ** (8 - jj))) AS BIGINT) % 1499 AS score
        FROM users20 u CROSS JOIN slate s
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(item AS BIGINT) AS item,
           CAST(base_rank AS BIGINT) AS base_rank,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY score, item) AS BIGINT)
               AS dith_rank
    FROM dith
    ORDER BY user_id, dith_rank
    """,
)
def r_rank_dithering(spark, sf_dir):
    """Rank dithering — the serving-layer exploration trick Netflix
    published for its rows: jitter each user's ranked slate so repeat
    impressions shuffle mildly, harvesting exploration signal without
    abandoning the ranker. The global popularity top-10 slate gets a
    per-(user, item) deterministic noise term (md5-uniform mod 1499)
    on top of base_rank*500 — adjacent ranks swap ~1/3 of the time,
    rank r vs r+2 ~5%, r vs r+3 never — the integer-exact analogue of
    the published gaussian-noise dithering (same geometric decay knob:
    the noise range over the rank stride).

    Scale: the slate is TakeOrdered top-10 (never a global window over
    items... the ranking window here runs on the 10-row slate); dithering
    is map-side hash math per (user, slate) pair against a broadcast
    slate; per-user re-rank partitions by user. Deterministic = a user's
    slate is stable within a session but distinct across users — the
    property that makes dithered interleaving analyzable offline.
    """
    ev = load_table(spark, sf_dir, "events")
    pop = (
        ev.select(
            F.get_json_object("props", "$.k").cast("long").alias("item")
        )
        .where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    slate = (
        pop.orderBy(F.col("cnt").desc(), "item")
        .limit(10)
        .select(
            "item",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), "item"))
            .alias("base_rank"),
        )
    )
    users20 = (
        ev.select("user_id").distinct()
        .orderBy(F.md5(F.col("user_id").cast("string")), "user_id")
        .limit(20)
    )
    noise = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit("~"),
                    F.col("item").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") % 1499
    dith = users20.crossJoin(F.broadcast(slate)).select(
        "user_id",
        "item",
        "base_rank",
        (F.col("base_rank") * 500 + noise).alias("score"),
    )
    wd = Window.partitionBy("user_id").orderBy("score", "item")
    return (
        dith.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("item").cast("long").alias("item"),
            F.col("base_rank").cast("long").alias("base_rank"),
            F.row_number().over(wd).cast("long").alias("dith_rank"),
        )
        .orderBy("user_id", "dith_rank")
    )


@register(
    "r_interleaving_eval",
    """
    WITH ev AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    mxd AS (SELECT max(d) AS maxd FROM ev),
    slate_a AS (
        SELECT item, row_number() OVER (ORDER BY cnt DESC, item) AS ra
        FROM (SELECT item, count(*) AS cnt FROM ev GROUP BY item)
        QUALIFY ra <= 8
    ),
    slate_b AS (
        SELECT item, row_number() OVER (ORDER BY cnt DESC, item) AS rb
        FROM (SELECT e.item, count(*) AS cnt
              FROM ev e CROSS JOIN mxd
              WHERE e.d >= mxd.maxd - 9 GROUP BY e.item)
        QUALIFY rb <= 8
    ),
    both_slates AS (
        SELECT coalesce(a.item, b.item) AS item, a.ra, b.rb
        FROM slate_a a FULL OUTER JOIN slate_b b ON a.item = b.item
    ),
    users AS (
        SELECT user_id,
               CAST(list_sum(list_transform(range(1, 9), jj ->
                   (strpos('0123456789abcdef',
                           substring(md5(CAST(user_id AS VARCHAR) || '#il'),
                                     jj, 1)) - 1)
                   * 16 ** (8 - jj))) AS BIGINT) % 2 AS coin
        FROM (SELECT DISTINCT user_id FROM ev)
    ),
    slots AS (
        SELECT u.user_id, u.coin, s.item, s.ra, s.rb,
               least(
                   coalesce(2 * s.ra - 1 + u.coin, 9223372036854775807),
                   coalesce(2 * s.rb - u.coin, 9223372036854775807))
                   AS slot
        FROM users u CROSS JOIN both_slates s
    ),
    inter AS (
        SELECT user_id, coin, item, ra, rb, slot,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY slot, item) AS pos
        FROM slots
    ),
    topk AS (SELECT * FROM inter WHERE pos <= 6),
    touched AS (SELECT DISTINCT user_id, item FROM ev),
    credit AS (
        SELECT t.user_id,
               sum(CASE WHEN (t.slot % 2) = (1 + t.coin) % 2
                        THEN 1 ELSE 0 END) AS credit_a,
               sum(CASE WHEN (t.slot % 2) = (0 + t.coin) % 2
                        THEN 1 ELSE 0 END) AS credit_b
        FROM topk t JOIN touched x
          ON x.user_id = t.user_id AND x.item = t.item
        GROUP BY t.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users_with_hits,
           CAST(sum(credit_a) AS BIGINT) AS credit_a_total,
           CAST(sum(credit_b) AS BIGINT) AS credit_b_total,
           CAST(sum(CASE WHEN credit_a > credit_b THEN 1 ELSE 0 END)
                AS BIGINT) AS wins_a,
           CAST(sum(CASE WHEN credit_b > credit_a THEN 1 ELSE 0 END)
                AS BIGINT) AS wins_b,
           CAST(sum(CASE WHEN credit_a = credit_b THEN 1 ELSE 0 END)
                AS BIGINT) AS ties
    FROM credit
    """,
)
def r_interleaving_eval(spark, sf_dir):
    """Balanced interleaving (Joachims 2003) — the online-evaluation
    workhorse that compares two rankers inside ONE result list instead
    of an A/B split: ranker A = all-time popularity top-8, ranker B =
    trailing-10-day popularity top-8; each user's md5 coin decides
    which ranker leads, the two slates zip alternately with duplicates
    keeping their FIRST slot, and the user's actually-touched items in
    the interleaved top-6 credit whichever ranker placed them. Per-user
    wins aggregate into the paired-preference verdict (wins_a / wins_b
    / ties) that interleaving reads as its significance input.

    The closed form is the point: with a coin c, ranker A's rank-i slot
    is 2i−1+c and B's rank-j slot is 2j−c — one odd, one even, never
    colliding — so an item's interleaved position is just
    least(slot_a, slot_b) and the whole draft is a rank over that
    expression: no sequential simulation, no UDF. Slot parity also
    encodes attribution ((slot+c) odd = A's pick), making credit a
    CASE expression.

    Scale: two TakeOrdered top-8 slates broadcast against the user
    axis; credit joins the user's distinct items on (user, item) —
    the only data-sized shuffle. The 16-row slate frame bounds the
    per-user work at 16 regardless of catalog size.
    """
    ev0 = load_table(spark, sf_dir, "events")
    ev = ev0.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    ).where(F.col("item").isNotNull())
    mxd = ev.agg(F.max("d").alias("maxd"))

    def top8(cnt_df, rank_name):
        w = Window.orderBy(F.col("cnt").desc(), "item")
        return (
            cnt_df.orderBy(F.col("cnt").desc(), "item")
            .limit(8)
            .select("item", F.row_number().over(w).alias(rank_name))
        )

    slate_a = top8(ev.groupBy("item").agg(F.count("*").alias("cnt")), "ra")
    slate_b = top8(
        ev.crossJoin(F.broadcast(mxd))
        .where(F.col("d") >= F.col("maxd") - 9)
        .groupBy("item")
        .agg(F.count("*").alias("cnt")),
        "rb",
    )
    both_slates = (
        slate_a.alias("a")
        .join(slate_b.alias("b"), "item", "full_outer")
        .select("item", "ra", "rb")
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("#il"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    users = ev.select("user_id").distinct().select("user_id", coin.alias("coin"))
    big = F.lit(9223372036854775807)
    slots = users.crossJoin(F.broadcast(both_slates)).select(
        "user_id",
        "coin",
        "item",
        F.least(
            F.coalesce(2 * F.col("ra") - 1 + F.col("coin"), big),
            F.coalesce(2 * F.col("rb") - F.col("coin"), big),
        ).alias("slot"),
    )
    wp = Window.partitionBy("user_id").orderBy("slot", "item")
    topk = (
        slots.withColumn("pos", F.row_number().over(wp))
        .where(F.col("pos") <= 6)
    )
    touched = ev.select("user_id", "item").distinct()
    credit = (
        topk.join(touched, ["user_id", "item"])
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("slot") % 2) == (1 + F.col("coin")) % 2, 1
                ).otherwise(0)
            ).alias("credit_a"),
            F.sum(
                F.when(
                    (F.col("slot") % 2) == (0 + F.col("coin")) % 2, 1
                ).otherwise(0)
            ).alias("credit_b"),
        )
    )
    return credit.agg(
        F.count("*").cast("long").alias("n_users_with_hits"),
        F.sum("credit_a").cast("long").alias("credit_a_total"),
        F.sum("credit_b").cast("long").alias("credit_b_total"),
        F.sum(F.when(F.col("credit_a") > F.col("credit_b"), 1).otherwise(0))
        .cast("long").alias("wins_a"),
        F.sum(F.when(F.col("credit_b") > F.col("credit_a"), 1).otherwise(0))
        .cast("long").alias("wins_b"),
        F.sum(F.when(F.col("credit_a") == F.col("credit_b"), 1).otherwise(0))
        .cast("long").alias("ties"),
    )


@register(
    "r_novelty_at_k",
    """
    WITH ui AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    pop AS (
        SELECT item_id, CAST(count(*) AS BIGINT) AS n_users
        FROM ui GROUP BY item_id
    ),
    tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_all
            FROM ui)
    SELECT item_id, n_users,
           round(n_users * 1.0 / t.n_all, 6) + 0 AS pop_share,
           round(-log2(n_users * 1.0 / t.n_all), 6) + 0 AS self_info_bits
    FROM pop, tot t
    ORDER BY n_users DESC, item_id LIMIT 10
    """,
)
def r_novelty_at_k(spark, sf_dir):
    """Novelty@10 of the most-popular-items recommender (Vargas &
    Castells 2011's self-information novelty, public): the top-10
    items by distinct-user reach, each priced in bits as
    −log₂(popularity share). The popularity slate is the FLOOR every
    CF model must beat, and its novelty is by construction the WORST
    possible — these numbers are the denominator of the "how much
    long-tail exposure did personalization buy" readout that pairs
    with r_exposure_gini (catalog concentration) and r_hit_rate_loo
    (accuracy): accuracy without novelty is just popularity replay.

    Exactness: reach counts are exact distinct (user, item) BIGINTs;
    share and bits float once at 6dp against a broadcast scalar.

    Scale: one distinct projection (map-side partial distinct) + one
    item-keyed count — the ratings-matrix shuffle shape; top-10 is
    TakeOrderedAndProject, never a global sort.
    """
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    ui = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .distinct()
    )
    pop = ui.groupBy("item_id").agg(
        F.count("*").cast("long").alias("n_users")
    )
    tot = ui.agg(
        F.countDistinct("user_id").cast("long").alias("n_all")
    )
    share = F.col("n_users") * 1.0 / F.col("n_all")
    return (
        pop.crossJoin(F.broadcast(tot))
        .select(
            "item_id",
            "n_users",
            f6(share).alias("pop_share"),
            f6(-F.log2(share)).alias("self_info_bits"),
        )
        .orderBy(F.col("n_users").desc(), "item_id")
        .limit(10)
    )
