"""§2.13 Advanced relational surface: pivot/unpivot, subquery forms,
deterministic sampling, hash/bitwise families, bucketed interval join.

The subquery keys run through spark.sql() on temp views deliberately — they
exercise the ANTLR->Catalyst path and subquery decorrelation
(RewriteCorrelatedScalarSubquery / RewritePredicateSubquery), SURVEY §4.2.

`j_range_bucketed` is the scale-path twin of `j_theta_range`: instead of a
per-user nested-loop over the full time range, each probe row is expanded
to its two candidate 5-minute buckets and equi-joined on (user, bucket) —
shuffle-friendly, skew-safe, and provably identical output (same oracle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import register
from ..session import load_table, money2, views

_PIVOT_STATUSES = ["F", "O", "P"]


@register(
    "a_pivot",
    """
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def a_pivot(spark, sf_dir):
    """Pivot with explicit value list (no extra distinct-values job)."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _PIVOT_STATUSES)
        .agg(F.sum("o_totalprice"))
    )
    return piv.select(
        "o_orderpriority",
        *[money2(F.col(s)).alias(s) for s in _PIVOT_STATUSES],
    )


@register(
    "a_unpivot",
    """
    SELECT c_custkey, 'c_acctbal' AS metric, round(c_acctbal, 2) AS val FROM customer
    UNION ALL
    SELECT c_custkey, 'c_nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val
    FROM customer
    """,
)
def a_unpivot(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        money2(F.col("c_acctbal")).alias("c_acctbal"),
        F.col("c_nationkey").cast("double").alias("c_nationkey"),
    )
    return cust.unpivot(
        ["c_custkey"], ["c_acctbal", "c_nationkey"], "metric", "val"
    )


@register(
    "q_scalar_subquery",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)
def q_scalar_subquery(spark, sf_dir):
    views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS total
        FROM v_orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM v_orders)
        """
    )


@register(
    "q_exists_correlated",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE c_acctbal > 5000 AND EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_totalprice > 200000)
    """,
)
def q_exists_correlated(spark, sf_dir):
    views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM v_customer c
        WHERE c_acctbal > 5000 AND EXISTS (
            SELECT 1 FROM v_orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND o.o_totalprice > 200000)
        """
    )


@register(
    "q_in_subquery",
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    """,
)
def q_in_subquery(spark, sf_dir):
    views(spark, sf_dir, "part", "lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM v_part
        WHERE p_partkey IN (SELECT l_partkey FROM v_lineitem WHERE l_quantity > 45)
        """
    )


@register(
    "s_sample_hash",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    """,
)
def s_sample_hash(spark, sf_dir):
    """Deterministic ~1/16 sample via content hash — reproducible across
    engines, runs, and cluster sizes (unlike TABLESAMPLE/rand(seed), whose
    output is partitioning-dependent). The standard trick for carving
    stable dev/eval splits out of a 100 TB corpus.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
    ).select("o_orderkey", "o_custkey")


@register(
    "fn_hash",
    """
    SELECT p_partkey, md5(p_name) AS h_md5, sha256(p_name) AS h_sha256,
           md5(p_brand || '|' || p_type) AS h_composite
    FROM part
    """,
)
def fn_hash(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.md5("p_name").alias("h_md5"),
        F.sha2("p_name", 256).alias("h_sha256"),
        F.md5(F.concat_ws("|", "p_brand", "p_type")).alias("h_composite"),
    )


@register(
    "fn_bitwise",
    """
    SELECT n_nationkey,
           CAST(n_nationkey & 5 AS BIGINT) AS b_and,
           CAST(n_nationkey | 3 AS BIGINT) AS b_or,
           CAST(xor(n_nationkey, 9) AS BIGINT) AS b_xor,
           CAST(n_nationkey << 2 AS BIGINT) AS b_shl,
           CAST(n_nationkey >> 1 AS BIGINT) AS b_shr
    FROM nation
    """,
)
def fn_bitwise(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    return nation.select(
        "n_nationkey",
        nk.bitwiseAND(5).cast("long").alias("b_and"),
        nk.bitwiseOR(3).cast("long").alias("b_or"),
        nk.bitwiseXOR(9).cast("long").alias("b_xor"),
        F.shiftleft(nk, 2).cast("long").alias("b_shl"),
        F.shiftright(nk, 1).cast("long").alias("b_shr"),
    )


@register(
    "j_range_bucketed",
    """
    SELECT e1.event_id AS eid1, e2.event_id AS eid2, e1.user_id
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
    """,
)
def j_range_bucketed(spark, sf_dir):
    """Interval join via time-bucketing: expand each probe row to its two
    candidate 5-min buckets, equi-join on (user, bucket), then apply the
    exact predicate. Identical result to j_theta_range (same oracle), but
    the join is hash-partitioned on (user, bucket) — at 100 TB this is the
    difference between a per-key nested loop and a plain shuffle join.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.unix_micros(F.col("ts")) / (300 * 1_000_000))
    e1 = (
        ev.select("event_id", "user_id", "ts", bucket.alias("b"))
        .withColumn("cand", F.explode(F.array(F.col("b"), F.col("b") + 1)))
    )
    e2 = ev.select(
        F.col("event_id").alias("eid2"),
        F.col("user_id").alias("u2"),
        F.col("ts").alias("ts2"),
        bucket.alias("b2"),
    )
    j = e1.join(e2, (F.col("user_id") == F.col("u2")) & (F.col("cand") == F.col("b2")))
    return (
        j.where(
            (F.col("ts2") > F.col("ts"))
            & (F.col("ts2") <= F.col("ts") + F.expr("INTERVAL 5 MINUTE"))
        )
        .select(
            F.col("event_id").alias("eid1"),
            "eid2",
            "user_id",
        )
    )


@register(
    "j_skew_salted",
    """
    SELECT c.c_mktsegment, count(*) AS cnt, round(sum(o.o_totalprice), 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def j_skew_salted(spark, sf_dir):
    """Salted join: replicate the small side across SALT buckets and key the
    big side by (key, deterministic salt) — the manual skew-mitigation
    pattern for hot keys (AQE's skew-join split automates the same idea at
    runtime). Output provably equals the plain join (same oracle): salting
    only changes row placement, never membership.
    """
    SALT = 8
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "salt", (F.col("o_orderkey") % SALT).cast("int")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)])))
        .withColumn("salt", F.col("salt").cast("int"))
    )
    j = orders.join(cust, (orders.o_custkey == cust.c_custkey) & (orders.salt == cust.salt))
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("cnt"), money2(F.sum("o_totalprice")).alias("total")
    )
