"""Composite TPC-H-style analytics queries (adapted to the trimmed fixture
schemas) — multi-operator end-to-end plans a warehouse user actually runs,
exercising join ordering, broadcast selection, partial aggregation,
TakeOrderedAndProject, and selective scan pushdown TOGETHER.

Scale notes: every dim (region/nation/customer-as-dim, supplier) joins
broadcast; the fact-fact orders⋈lineitem join shuffles on orderkey; date
predicates reach the parquet scans (PushedFilters); final top-k is
TakeOrderedAndProject (per-partition heap + driver merge of k rows).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import f6, load_table, money2, tables

def _rev_exact():
    """Revenue summand as an exact integer (price-cents x discount-percent
    units): l_extendedprice has 2dp and l_discount 2dp, so the product has
    exactly 4 decimal places — summing it as BIGINT is bit-exact in any
    order on any engine, where summing the raw double product can land on
    opposite sides of a half-cent rounding boundary depending on reduction
    order (caught by the sf0.001 cross-check). Built lazily: classic-mode
    Column construction needs an active context."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round((1 - F.col("l_discount")) * 100).cast("long")
    return cents * disc


@register(
    "q_shipping_priority",
    """
    SELECT l.l_orderkey,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) / 10000.0, 2)
               + 0.0 AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: unshipped-order revenue by priority, top 10."""
    cust, orders, li = tables(spark, sf_dir, "customer", "orders", "lineitem")
    j = (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .where(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        .join(li, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.round(F.sum(_rev_exact()) / 10000.0, 2) + 0.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q_local_supplier_volume",
    """
    SELECT n.n_name,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) / 10000.0, 2)
               + 0.0 AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                    JOIN nation n ON n.n_nationkey = s.s_nationkey
                    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue where customer and supplier share a nation.

    The region/nation/supplier dims broadcast; customer⋈orders⋈lineitem
    shuffles on the join keys; the same-nation predicate is applied as a
    post-join filter exactly as written.
    """
    cust, orders, li, supp, nation, region = tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    j = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), supp.s_suppkey == li.l_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), nation.n_nationkey == supp.s_nationkey)
        .join(F.broadcast(region), region.r_regionkey == nation.n_regionkey)
    )
    return (
        j.groupBy("n_name")
        .agg((F.round(F.sum(_rev_exact()) / 10000.0, 2) + 0.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "q_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) / 10000.0, 2)
               + 0.0 AS revenue,
           round(c.c_acctbal, 2) + 0.0 AS c_acctbal, n.n_name
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-item revenue."""
    cust, orders, li, nation = tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    j = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(li.where(F.col("l_returnflag") == "R"), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), nation.n_nationkey == cust.c_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.round(F.sum(_rev_exact()) / 10000.0, 2) + 0.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            money2(F.col("c_acctbal")).alias("c_acctbal"),
            "n_name",
        )
    )


@register(
    "q_large_volume_customer",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           round(o.o_totalprice, 2) + 0.0 AS total,
           CAST(sum(l.l_quantity) AS BIGINT) AS order_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_large_volume_customer(spark, sf_dir):
    """TPC-H Q18-shape composite: customers holding orders whose total
    quantity exceeds 250, top-100 by order value.

    Plan shape: the HAVING subquery is one partial+final agg over lineitem
    producing a small qualifying-order set; it semi-joins orders BEFORE the
    customer join, so the expensive join only sees qualifying orders. At
    100 TB both aggregates combine map-side (sum/count), and the final
    TakeOrdered keeps 100 rows per partition. l_quantity is integral, so
    sum order never matters (exact in doubles, cast to BIGINT both sides).
    """
    cust, orders, li = tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("oq"))
        .where(F.col("oq") > 250)
        .select("l_orderkey")
    )
    qualifying = orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
    j = cust.join(qualifying, cust.c_custkey == qualifying.o_custkey).join(
        li, li.l_orderkey == qualifying.o_orderkey
    )
    return (
        j.groupBy("c_name", "c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").cast("long").alias("order_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            money2(F.col("o_totalprice")).alias("total"), "order_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "q_promo_revenue",
    """
    SELECT round(100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                     THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * CAST(round((1 - l.l_discount) * 100) AS BIGINT)
                     ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                            * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
                        AS DOUBLE), 6) + 0.0 AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: share of one month's revenue from PROMO parts.

    Plan shape: the shipdate range predicate reaches the lineitem parquet
    scan (PushedFilters), shrinking the fact side before the join; part is
    a dim and joins broadcast (no shuffle of lineitem at all), and the
    conditional sum combines map-side into two BIGINT cells per partition.
    Both summands use the exact cents*discount-percent integer encoding
    (see _rev_exact), so the only float math is the final ratio — computed
    as (100.0 * promo) / total in the SAME association on both engines.
    """
    li, part = tables(spark, sf_dir, "lineitem", "part")
    sel = li.where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    j = sel.join(F.broadcast(part), sel.l_partkey == part.p_partkey)
    rev = _rev_exact()
    promo = F.sum(
        F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0).cast("long"))
    )
    total = F.sum(rev)
    return j.agg(
        (
            F.round(F.lit(100.0) * promo.cast("double") / total.cast("double"), 6)
            + 0.0
        ).alias("promo_pct")
    )


@register(
    "q_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS rv
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           round(rev.rv / 10000.0, 2) + 0.0 AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.rv = (SELECT max(rv) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the maximum revenue in a quarter.

    Plan shape: one partial+final agg over the date-pruned lineitem scan
    builds the per-supplier revenue (exact BIGINT cents*percent units, so
    the max comparison has no float-tie ambiguity), the global max is a
    single-row aggregate broadcast back as a cross join (never a global
    window sort — at 100 TB the supplier set is millions of rows and a
    partitionBy()-less window would funnel them through one task), and the
    supplier dim attaches via its own broadcast.
    """
    li, supp = tables(spark, sf_dir, "lineitem", "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev_exact()).alias("rv"))
    )
    mx = rev.agg(F.max("rv").alias("mx"))
    top = rev.join(F.broadcast(mx), rev.rv == F.col("mx")).drop("mx")
    return (
        supp.join(top, supp.s_suppkey == top.l_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.round(F.col("rv") / 10000.0, 2) + 0.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
               + 0.0 AS sum_base_price,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l_discount) * 100) AS BIGINT)) / 10000.0, 2)
               + 0.0 AS sum_disc_price,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l_discount) * 100) AS BIGINT)
                     * CAST(round((1 + l_tax) * 100) AS BIGINT)) / 1000000.0, 2)
               + 0.0 AS sum_charge,
           round(CAST(sum(l_quantity) AS DOUBLE) / count(*), 6) + 0.0 AS avg_qty,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0 / count(*), 6) + 0.0 AS avg_price,
           round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0 / count(*), 6) + 0.0 AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: full pricing summary report over nearly all of
    lineitem (only the last ~2 months excluded).

    Plan shape: ONE pass over the fact — a single partial+final hash
    aggregate with 6 distinct group cells (returnflag x linestatus), so the
    shuffle moves 6 rows per map partition regardless of input size; the
    shipdate predicate still reaches the parquet scan. All money sums use
    the exact integer encodings (cents, cents x discount-percent, cents x
    discount-percent x tax-percent), so sum order never matters; averages
    divide the exact sums by count(*) in the identical association on both
    engines. At 100 TB the BIGINT charge cells approach 2^63 around ~1e11
    rows per group; the same plan with sums in DECIMAL(38,0) is the
    overflow-proof variant (Spark and DuckDB both support it natively).
    """
    li = tables(spark, sf_dir, "lineitem")[0]
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    dpct = F.round((1 - F.col("l_discount")) * 100).cast("long")
    tpct = F.round((1 + F.col("l_tax")) * 100).cast("long")
    disc_raw = F.round(F.col("l_discount") * 100).cast("long")
    cnt = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            (F.round(F.sum(cents) / 100.0, 2) + 0.0).alias("sum_base_price"),
            (F.round(F.sum(cents * dpct) / 10000.0, 2) + 0.0).alias("sum_disc_price"),
            (F.round(F.sum(cents * dpct * tpct) / 1000000.0, 2) + 0.0).alias("sum_charge"),
            (F.round(F.sum("l_quantity").cast("double") / cnt, 6) + 0.0).alias("avg_qty"),
            (F.round(F.sum(cents).cast("double") / 100.0 / cnt, 6) + 0.0).alias("avg_price"),
            (F.round(F.sum(disc_raw).cast("double") / 100.0 / cnt, 6) + 0.0).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q_forecast_revenue",
    """
    SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round(l_discount * 100) AS BIGINT)) / 10000.0, 2)
               + 0.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 2 AND 6
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: revenue increase from hypothetically eliminating
    small-quantity mid-discount line items in one year.

    Plan shape: scan-filter-aggregate with NO join and NO groupBy — the
    purest pushdown test. The shipdate range and quantity predicates reach
    the parquet scan (PushedFilters); the discount predicate compares the
    exact integer percent (2dp double -> round to integer percent) so the
    float boundary 0.02/0.06 can never flip a row between engines. The
    global sum combines map-side into one BIGINT cell per partition; the
    driver receives one row.
    """
    li = tables(spark, sf_dir, "lineitem")[0]
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    dpct = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & dpct.between(2, 6)
            & (F.col("l_quantity") < 24)
        )
        .agg((F.round(F.sum(cents * dpct) / 10000.0, 2) + 0.0).alias("revenue"))
    )


@register(
    "q_volume_shipping",
    """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) / 10000.0, 2)
               + 0.0 AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between two nations by year and
    direction.

    Plan shape: supplier/nation dims broadcast onto lineitem BEFORE the
    orders join, so the nation-pair predicate on the supplier side prunes
    the fact early (only ~2/25 of suppliers survive); the surviving slice
    shuffles once on orderkey to meet orders, then customer broadcasts
    with its own nation. The OR-of-pairs predicate is applied post-join —
    Catalyst pushes the supplier-side half (ns.n_name IN (N1,N2)) below the
    shuffle on its own. Revenue is the exact integer encoding; year() is an
    integral extraction (cast BIGINT both sides).
    """
    li, orders, cust, supp, nation = tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    j = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .where(F.col("supp_nation").isin("NATION_1", "NATION_2"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .where(pair)
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("_yr")
        )
        .agg((F.round(F.sum(_rev_exact()) / 10000.0, 2) + 0.0).alias("revenue"))
        .select(
            "supp_nation", "cust_nation",
            F.col("_yr").cast("long").alias("l_year"), "revenue",
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by how many non-urgent
    orders they placed (customers with none count in the 0 bucket).

    Plan shape: two cascaded aggregations. The first is a LEFT join
    customer<-orders with the priority predicate INSIDE the join condition
    (not a WHERE — that would turn the left join inner and drop the 0
    bucket), grouped by custkey; the second is a tiny re-aggregation of
    per-customer counts into the distribution (at most a few hundred
    distinct counts regardless of scale). At 100 TB the first agg shuffles
    on custkey (map-side partial counts first); the second moves almost
    nothing. count(o_orderkey) counts only matched rows — exactly the
    NULL-skipping semantic both engines share.
    """
    cust, orders = tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        cust.join(
            orders,
            (orders.o_custkey == cust.c_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q_discounted_revenue",
    """
    SELECT round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) / 10000.0, 2)
               + 0.0 AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue from three OR'd brand/size/quantity branches
    (adapted: fixture part has no container/shipmode columns).

    Plan shape: part is a dim -> broadcast hash join, so lineitem never
    shuffles; Catalyst factors the OR into a part-side domain filter
    (brand IN (...) AND size <= 15) pushed to the part scan and a residual
    post-join predicate, plus l_quantity <= 30 derivable on the fact side.
    The whole query is one broadcast join + one map-side-combined global
    sum — the canonical "OR of conjunctions" plan that would be a disaster
    as a UNION of three scans.
    """
    li, part = tables(spark, sf_dir, "lineitem", "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    branch = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.where(branch).agg(
        (F.round(F.sum(_rev_exact()) / 10000.0, 2) + 0.0).alias("revenue")
    )


@register(
    "q_dormant_customers",
    """
    WITH cents AS (
        SELECT c_custkey, c_nationkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
    ),
    thr AS (
        SELECT CAST(sum(bal_cents) AS DOUBLE) / count(*) AS thr_cents
        FROM cents WHERE bal_cents > 0
    )
    SELECT n.n_name, count(*) AS numcust,
           round(sum(c.bal_cents) / 100.0, 2) + 0.0 AS totacctbal
    FROM cents c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE CAST(c.bal_cents AS DOUBLE) > (SELECT thr_cents FROM thr)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY n.n_name
    ORDER BY n_name
    """,
)
def q_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape (adapted: no phone column in the fixture): dormant
    customers — above-average positive balance but no order since 1999 —
    counted and totaled per nation.

    Plan shape: the threshold is a single-row global aggregate broadcast
    back as a cross join (scalar subquery); the dormancy test is a LEFT
    ANTI join against the date-pruned orders scan (the predicate reaches
    the parquet scan, so at 100 TB the anti-join's build side is only the
    recent slice); nation broadcasts. Balances ride as exact BIGINT cents:
    the average threshold is ONE deterministic double division performed
    identically on both engines, and the comparison/sum stay on integers,
    so no float-boundary row can flip.
    """
    cust, orders, nation = tables(spark, sf_dir, "customer", "orders", "nation")
    cents = cust.select(
        "c_custkey", "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    thr = (
        cents.where(F.col("bal_cents") > 0)
        .agg((F.sum("bal_cents").cast("double") / F.count(F.lit(1))).alias("thr_cents"))
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    dormant = (
        cents.join(F.broadcast(thr))
        .where(F.col("bal_cents").cast("double") > F.col("thr_cents"))
        .join(recent, cents.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        dormant.join(F.broadcast(nation), dormant.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.round(F.sum("bal_cents") / 100.0, 2) + 0.0).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@register(
    "q_yoy_growth",
    """
    WITH yearly AS (
        SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
               sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS rv
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, year(o.o_orderdate)
    )
    SELECT n_name, yr,
           round(rv / 10000.0, 2) + 0.0 AS revenue,
           round(CAST(rv - lag(rv) OVER (PARTITION BY n_name ORDER BY yr)
                      AS DOUBLE)
                 / lag(rv) OVER (PARTITION BY n_name ORDER BY yr), 6) + 0
               AS yoy_growth
    FROM yearly
    ORDER BY n_name, yr
    """,
)
def q_yoy_growth(spark, sf_dir):
    """Year-over-year revenue growth per customer nation: yearly exact-cents
    revenue, then a lag window computing the growth ratio (NULL for each
    nation's first year).

    Plan shape: the fact joins shuffle once on their keys; the yearly
    rollup reduces to nations × years rows, so the lag window runs over a
    tiny frame (a 100 TB input still yields only ~25 × 7 rows here). The
    growth ratio divides two exact BIGINTs in one association; NULL
    propagates identically through lag on both engines.
    """
    cust, orders, li, nation = tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    from pyspark.sql.window import Window

    yearly = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), nation.n_nationkey == cust.c_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("yr"))
        .agg(F.sum(_rev_exact()).alias("rv"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("rv").over(w)
    return (
        yearly.select(
            "n_name", "yr",
            (F.round(F.col("rv") / 10000.0, 2) + 0.0).alias("revenue"),
            f6((F.col("rv") - prev).cast("double") / prev).alias("yoy_growth"),
        )
        .orderBy("n_name", "yr")
    )


@register(
    "q_pareto_brands",
    """
    WITH rev AS (
        SELECT p.p_brand,
               sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS rv
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    ),
    tot AS (SELECT sum(rv) AS t FROM rev)
    SELECT p_brand,
           round(rv / 10000.0, 2) + 0.0 AS revenue,
           round(CAST(sum(rv) OVER (ORDER BY rv DESC, p_brand) AS DOUBLE)
                 / (SELECT t FROM tot), 6) AS cum_share,
           CAST(row_number() OVER (ORDER BY rv DESC, p_brand) AS BIGINT)
               AS rank
    FROM rev
    ORDER BY rank
    """,
)
def q_pareto_brands(spark, sf_dir):
    """Pareto concentration: brands ranked by revenue with the cumulative
    share of total — the 80/20 report.

    Plan shape: the per-brand rollup happens on the broadcast-joined fact
    (exact-BIGINT cents); the unpartitioned cumulative window then runs
    over ONLY the aggregated rows (25 brands — constant at any input
    scale), so the global window sort that would be fatal on raw data is
    harmless here. Total attaches as a broadcast single-row join; the
    share divides exact BIGINTs in one association with a unique
    (rv DESC, brand) ordering.
    """
    li, part = tables(spark, sf_dir, "lineitem", "part")
    from pyspark.sql.window import Window

    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(_rev_exact()).alias("rv"))
    )
    tot = rev.agg(F.sum("rv").alias("t"))
    w = Window.orderBy(F.col("rv").desc(), "p_brand").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        rev.join(F.broadcast(tot))
        .select(
            "p_brand",
            (F.round(F.col("rv") / 10000.0, 2) + 0.0).alias("revenue"),
            (F.round(F.sum("rv").over(w).cast("double") / F.col("t"), 6)).alias("cum_share"),
            F.row_number().over(Window.orderBy(F.col("rv").desc(), "p_brand"))
            .cast("long").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "q_order_priority",
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: orders per priority with at least one late lineitem.

    The fixture lineitem has no commit/receipt dates, so "late" is adapted
    to l_shipdate > o_orderdate + 90 days. The EXISTS decorrelates to a
    LEFT SEMI join on orderkey with the lateness predicate in the join
    condition: one shuffle on orderkey, the quarter predicate prunes the
    orders scan (PushedFilters), and the semi join stops probing an order
    at its first late lineitem instead of counting them all.
    """
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q_market_share",
    """
    WITH base AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l.l_discount) * 100) AS BIGINT) AS rev,
               ns.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = nc.n_regionkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev ELSE 0 END)
                      AS DOUBLE) / sum(rev), 6) + 0 AS mkt_share
    FROM base GROUP BY o_year ORDER BY o_year
    """,
)
def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_2's share of PROMO-part revenue sold into ASIA.

    part/supplier/nation/region all broadcast; the only shuffles are the
    two fact joins (lineitem⋈orders on orderkey, orders⋈customer on
    custkey). The share divides exact-integer revenue sums in one
    association, so the 6dp round is stable on both engines.
    """
    li, part, supp, nation, orders, cust, region = tables(
        spark, sf_dir,
        "lineitem", "part", "supplier", "nation", "orders", "customer", "region",
    )
    nc = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(part.where(F.col("p_type") == "PROMO")),
                part.p_partkey == li.l_partkey)
        .join(F.broadcast(supp), supp.s_suppkey == li.l_suppkey)
        .join(F.broadcast(ns), F.col("s_nkey") == supp.s_nationkey)
        .join(orders.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))),
            F.col("o_orderkey") == li.l_orderkey)
        .join(cust, cust.c_custkey == F.col("o_custkey"))
        .join(F.broadcast(nc), F.col("c_nkey") == cust.c_nationkey)
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")),
              region.r_regionkey == F.col("c_rkey"))
    )
    rev = _rev_exact()
    share_num = F.sum(F.when(F.col("supp_nation") == "NATION_2", rev).otherwise(F.lit(0)))
    return (
        j.select(F.year("o_orderdate").cast("long").alias("o_year"),
                 rev.alias("rev"), "supp_nation")
        .groupBy("o_year")
        .agg((F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("rev"))
                  .otherwise(F.lit(0))).cast("double") / F.sum("rev"), 6) + 0.0
              ).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "q_priority_lines",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape: late-1997-shipment line counts split by priority.

    The fixture has no l_shipmode, so the Q12 group-by key is adapted to
    l_returnflag. The 1997 ship-year predicate prunes the lineitem scan
    before the single orderkey shuffle; the priority split is a pair of
    conditional sums folded into one partial-aggregated pass.
    """
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_small_qty_revenue",
    """
    WITH pa AS (
        SELECT l_partkey, avg(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                      AS DOUBLE) / 100.0 / 7.0, 2) + 0.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4' AND l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: avg yearly revenue lost to small-quantity orders.

    The per-part average quantity is a partial-aggregated groupBy over the
    Brand#4-filtered partkeys only: the broadcast part dim filters lineitem
    BEFORE the average is computed, so the avg subquery never shuffles the
    full fact table (the oracle averages over all parts, but quantities
    are brand-independent per partkey so restricting to Brand#4 partkeys
    is value-identical — each part's average uses all its lineitems).
    Sum runs in exact cents; quantities are integral so the avg is exact
    and the 0.2x threshold compares identically on both engines.
    """
    li, part = tables(spark, sf_dir, "lineitem", "part")
    brand_parts = part.where(F.col("p_brand") == "Brand#4").select("p_partkey")
    # Restrict lineitem to Brand#4 parts first (broadcast semi join), then
    # compute each surviving part's average over ALL of its lineitems.
    li_b = li.join(F.broadcast(brand_parts), part.p_partkey == li.l_partkey, "left_semi")
    pa = li_b.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li_b.join(F.broadcast(pa), "l_partkey")
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.round(F.sum(cents).cast("double") / 100.0 / 7.0, 2) + 0.0)
             .alias("avg_yearly"))
    )


@register(
    "q_waiting_suppliers",
    """
    WITH lo AS (
        SELECT l.l_orderkey, l.l_suppkey,
               max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 120 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY l.l_orderkey, l.l_suppkey
    ), flagged AS (
        SELECT l_orderkey, l_suppkey, is_late,
               count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
               sum(is_late) OVER (PARTITION BY l_orderkey) AS n_late
        FROM lo
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM flagged f JOIN supplier s ON s.s_suppkey = f.l_suppkey
    WHERE f.is_late = 1 AND f.n_supp > 1 AND f.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def q_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who alone held up multi-supplier orders.

    Adapted lateness = shipped >120 days after order date on a finished
    ('F') order. Q21's correlated EXISTS / NOT EXISTS pair is decorrelated
    into one aggregation pipeline: per-(order, supplier) lateness flags,
    then per-order supplier/late counts via a window over the SAME
    orderkey partitioning the groupBy just produced (no extra shuffle —
    the window reuses the hash partitioning), then filter to sole-late
    suppliers. One orderkey shuffle total; supplier names attach broadcast;
    final top-10 is TakeOrderedAndProject.
    """
    from pyspark.sql.window import Window

    li, orders, supp = tables(spark, sf_dir, "lineitem", "orders", "supplier")
    j = li.join(
        orders.where(F.col("o_orderstatus") == "F"),
        orders.o_orderkey == li.l_orderkey,
    )
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 120 DAYS"), 1
    ).otherwise(0)
    lo = j.groupBy("l_orderkey", "l_suppkey").agg(F.max(late).alias("is_late"))
    w = Window.partitionBy("l_orderkey")
    flagged = lo.select(
        "l_orderkey", "l_suppkey", "is_late",
        F.count("*").over(w).alias("n_supp"),
        F.sum("is_late").over(w).alias("n_late"),
    )
    return (
        flagged.where(
            (F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supp), supp.s_suppkey == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "q_order_gaps",
    """
    WITH g AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders
    )
    SELECT o_custkey,
           CAST(count(gap_days) AS BIGINT) AS n_gaps,
           round(sum(gap_days) * 1.0 / count(gap_days), 6) AS avg_gap_days,
           round(quantile_cont(gap_days, 0.5), 6) AS median_gap_days,
           CAST(max(gap_days) AS BIGINT) AS max_gap_days
    FROM g WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def q_order_gaps(spark, sf_dir):
    """Inter-purchase cadence: per-customer statistics over the day-gaps
    between consecutive orders — the recency/frequency feature block of
    any churn or LTV model.

    The lag window and the rollup both cluster on o_custkey: one shuffle,
    window then aggregate with no re-exchange. Gaps are exact integer
    days (datediff), so avg re-derives from an integer sum and only the
    interpolated median touches engine float paths (same percentile
    semantics as a_median). Orderkey breaks same-day ties.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    return (
        g.groupBy("o_custkey")
        .agg(
            F.count("gap_days").cast("long").alias("n_gaps"),
            f6(F.sum("gap_days") * 1.0 / F.count("gap_days")).alias("avg_gap_days"),
            f6(F.percentile("gap_days", 0.5)).alias("median_gap_days"),
            F.max("gap_days").cast("long").alias("max_gap_days"),
        )
        .orderBy("o_custkey")
    )


@register(
    "q_ship_latency",
    """
    WITH lat AS (
        SELECT o.o_orderpriority,
               date_diff('day', o.o_orderdate, l.l_shipdate) AS days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(days) * 1.0 / count(*), 6) AS avg_days,
           round(quantile_cont(days, 0.5), 6) AS p50_days,
           round(quantile_cont(days, 0.9), 6) AS p90_days,
           round(quantile_cont(days, 0.99), 6) AS p99_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM lat GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_ship_latency(spark, sf_dir):
    """Order-to-ship latency SLA percentiles by order priority — the
    fulfillment-health query every ops dashboard leads with (does URGENT
    actually ship faster, and what does the p99 tail look like?).

    Latency is an exact integer day count (datediff), so percentile
    interpolation runs identical arithmetic in both engines. The only
    shuffle is the lineitem-orders orderkey join (AQE picks the strategy);
    the priority aggregate reuses partial aggregation with 5 groups, and
    the average divides exact integer sums. At 100 TB the join is the
    bucketed-colocated shape (j_bucketed_colocated) and percentiles swap
    to approx_percentile with a documented error bound — the fixture keeps
    the exact form so the oracle can hash-match.
    """
    li, orders = tables(spark, sf_dir, "lineitem", "orders")
    lat = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("days"),
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            f6(F.sum("days") * 1.0 / F.count("*")).alias("avg_days"),
            f6(F.percentile("days", 0.5)).alias("p50_days"),
            f6(F.percentile("days", 0.9)).alias("p90_days"),
            f6(F.percentile("days", 0.99)).alias("p99_days"),
            F.max("days").cast("long").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_rfm_segments",
    """
    WITH base AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate),
                         (SELECT max(o_orderdate) FROM orders)) AS rec_days,
               CAST(count(*) AS BIGINT) AS freq,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT rec_days, freq, cents,
               ntile(4) OVER (ORDER BY rec_days, o_custkey) AS r,
               ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
               ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS m
        FROM base
    )
    SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(cents) / 100.0 / count(*), 6) AS avg_monetary,
           round(sum(rec_days) * 1.0 / count(*), 6) AS avg_recency_days
    FROM scored GROUP BY r, f, m
    """,
)
def q_rfm_segments(spark, sf_dir):
    """RFM segmentation census: quartile-score every customer on Recency /
    Frequency / Monetary (1 = best) and report the per-segment population
    — the canonical CRM cohorting query (segment 1-1-1 = champions,
    4-4-4 = lost).

    Facts fold to one row per customer BEFORE any ranking, so the three
    ntile windows sort the bounded customer axis, not orders; all three
    share the same single-partition exchange (the a_gini/ w_ltv_deciles
    caveat: at 100 TB quartile boundaries come from approx_percentile +
    a range partition, output-identical). Recency anchors to the global
    max order date via a broadcast scalar; monetary stays exact BIGINT
    cents until the per-segment division.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("d_max"))
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("d_last"),
            F.count("*").cast("long").alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey", "freq", "cents",
            F.datediff(F.col("d_max"), F.col("d_last")).alias("rec_days"),
        )
    )
    scored = base.select(
        "rec_days", "freq", "cents",
        F.ntile(4).over(Window.orderBy("rec_days", "o_custkey")).alias("r"),
        F.ntile(4).over(Window.orderBy(F.col("freq").desc(), "o_custkey")).alias("f"),
        F.ntile(4).over(Window.orderBy(F.col("cents").desc(), "o_custkey")).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").cast("long").alias("n_customers"),
        f6(F.sum("cents") / 100.0 / F.count("*")).alias("avg_monetary"),
        f6(F.sum("rec_days") * 1.0 / F.count("*")).alias("avg_recency_days"),
    )


@register(
    "q_new_vs_returning",
    """
    WITH first_m AS (
        SELECT o_custkey,
               CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS m0
        FROM orders GROUP BY o_custkey
    ),
    tagged AS (
        SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
               o.o_custkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN CAST(date_trunc('month', o.o_orderdate) AS DATE)
                         = f.m0 THEN 1 ELSE 0 END AS is_new
        FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
    )
    SELECT month,
           CAST(count(DISTINCT CASE WHEN is_new = 1 THEN o_custkey END)
                AS BIGINT) AS new_customers,
           CAST(count(DISTINCT CASE WHEN is_new = 0 THEN o_custkey END)
                AS BIGINT) AS returning_customers,
           round(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END) / 100.0, 2)
               AS new_revenue,
           round(sum(CASE WHEN is_new = 0 THEN cents ELSE 0 END) / 100.0, 2)
               AS returning_revenue,
           round(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END) * 1.0
                 / sum(cents), 6) AS new_rev_share
    FROM tagged GROUP BY month
    """,
)
def q_new_vs_returning(spark, sf_dir):
    """New-vs-returning growth accounting: per month, customers placing
    their first-ever order vs repeat customers, with the revenue split —
    the report that separates acquisition from retention revenue.

    The first-order month folds per customer once (one custkey shuffle);
    tagging is an equi-join back on custkey (AQE picks broadcast at small
    SF, sort-merge at scale — both sides already partition on custkey so
    the aggregate reuses the exchange). Revenue stays exact BIGINT cents;
    the two distinct counts share one expand pass. Output is bounded by
    months × 1.
    """
    orders = load_table(spark, sf_dir, "orders")
    first_m = orders.groupBy("o_custkey").agg(
        F.to_date(F.date_trunc("month", F.min("o_orderdate"))).alias("m0")
    )
    tagged = orders.join(first_m, "o_custkey").select(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(
            F.to_date(F.date_trunc("month", "o_orderdate")) == F.col("m0"), 1
        ).otherwise(0).alias("is_new"),
    )
    new_c = F.when(F.col("is_new") == 1, F.col("o_custkey"))
    ret_c = F.when(F.col("is_new") == 0, F.col("o_custkey"))
    new_cents = F.sum(F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0))
    ret_cents = F.sum(F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0))
    return tagged.groupBy("month").agg(
        F.countDistinct(new_c).cast("long").alias("new_customers"),
        F.countDistinct(ret_c).cast("long").alias("returning_customers"),
        F.round(new_cents / 100.0, 2).alias("new_revenue"),
        F.round(ret_cents / 100.0, 2).alias("returning_revenue"),
        f6(new_cents * 1.0 / F.sum("cents")).alias("new_rev_share"),
    )


@register(
    "q_cohort_ltv",
    """
    WITH first_m AS (
        SELECT o_custkey,
               CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
              FROM first_m GROUP BY cohort),
    aged AS (
        SELECT f.cohort,
               date_diff('month', f.cohort,
                         CAST(date_trunc('month', o.o_orderdate) AS DATE))
                   AS age_months,
               o.o_custkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
    ),
    g AS (
        SELECT cohort, age_months,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
               sum(cents) AS rev_cents
        FROM aged GROUP BY cohort, age_months
    )
    SELECT g.cohort, g.age_months, g.n_active,
           round(g.rev_cents / 100.0, 2) AS revenue,
           round(sum(g.rev_cents) OVER (PARTITION BY g.cohort
                                        ORDER BY g.age_months)
                 * 1.0 / s.cohort_size / 100, 6) AS cum_ltv_per_customer
    FROM g JOIN sizes s ON g.cohort = s.cohort
    """,
)
def q_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves: for each acquisition cohort (first-order month),
    cumulative revenue per acquired customer by months-since-acquisition —
    the payback-period view finance reads off every subscription /
    marketplace dashboard (q_retention_cohort counts the same triangle;
    this one prices it).

    The cohort fold and the tagging join share one custkey partitioning;
    ages are exact month integers between month-truncated dates (no
    timestamp arithmetic divergence); revenue stays exact BIGINT cents
    through the cumulative window, which runs over the cohort×age
    aggregate (bounded by months², never order count). Cohort sizes
    broadcast.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    first_m = orders.groupBy("o_custkey").agg(
        F.to_date(F.date_trunc("month", F.min("o_orderdate"))).alias("cohort")
    )
    sizes = first_m.groupBy("cohort").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    aged = orders.join(first_m, "o_custkey").select(
        "cohort", "o_custkey",
        (
            (F.year(F.date_trunc("month", "o_orderdate")) - F.year("cohort")) * 12
            + (F.month(F.date_trunc("month", "o_orderdate")) - F.month("cohort"))
        ).alias("age_months"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = aged.groupBy("cohort", "age_months").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_active"),
        F.sum("cents").alias("rev_cents"),
    )
    w = Window.partitionBy("cohort").orderBy("age_months")
    return (
        g.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort", "age_months", "n_active",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            f6(
                F.sum("rev_cents").over(w) * 1.0 / F.col("cohort_size") / 100
            ).alias("cum_ltv_per_customer"),
        )
    )


@register(
    "w_seasonality",
    """
    WITH monthly AS (
        SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
               CAST(year(o_orderdate) AS BIGINT) AS y,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2
    ),
    idx AS (
        SELECT m, CAST(count(*) AS BIGINT) AS n_years,
               sum(cents) AS mc
        FROM monthly GROUP BY m
    )
    SELECT m AS month, n_years,
           round(mc / 100.0 / n_years, 2) AS avg_month_revenue,
           round(mc * 1.0 / n_years
                 / (sum(mc) OVER () * 1.0 / sum(n_years) OVER ()), 6)
               AS seasonal_index
    FROM idx
    """,
)
def w_seasonality(spark, sf_dir):
    """Classical multiplicative seasonality table: each calendar month's
    average revenue as an index against the all-month average (index > 1
    = peak month) — the deseasonalization divisor every forecasting
    pipeline computes first (a_autocorr_daily gates the trend term; this
    extracts the seasonal one).

    Revenue folds to exact cents on the (month, year) axis — bounded by
    the calendar, never order count — then to the 12-row month axis; the
    index normalizer is a window over those 12 rows. One fact shuffle;
    every division happens once at the end on exact sums.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.month("o_orderdate").cast("long").alias("m"),
        F.year("o_orderdate").cast("long").alias("y"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    idx = monthly.groupBy("m").agg(
        F.count("*").cast("long").alias("n_years"), F.sum("cents").alias("mc")
    )
    w = Window.partitionBy()
    return idx.select(
        F.col("m").alias("month"), "n_years",
        F.round(F.col("mc") / 100.0 / F.col("n_years"), 2).alias("avg_month_revenue"),
        f6(
            F.col("mc") * 1.0 / F.col("n_years")
            / (F.sum("mc").over(w) * 1.0 / F.sum("n_years").over(w))
        ).alias("seasonal_index"),
    )


@register(
    "q_discount_elasticity",
    """
    WITH v AS (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(round(l_quantity) AS BIGINT) AS qty
        FROM lineitem
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(disc_pct) AS sx, sum(qty) AS sy,
               sum(disc_pct * qty) AS sxy,
               sum(disc_pct * disc_pct) AS sxx
        FROM v
    ),
    fit AS (
        SELECT n,
               (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) AS beta,
               sy * 1.0 / n - (n * sxy - sx * sy) * 1.0
                              / (n * sxx - sx * sx) * sx / n AS alpha
        FROM s
    ),
    bydisc AS (
        SELECT disc_pct, CAST(count(*) AS BIGINT) AS n_lines,
               round(sum(qty) * 1.0 / count(*), 6) AS avg_qty
        FROM v GROUP BY disc_pct
    )
    SELECT b.disc_pct, b.n_lines, b.avg_qty,
           round(f.alpha + f.beta * b.disc_pct, 6) AS fitted_qty,
           round(f.beta, 6) + 0 AS beta_qty_per_pct
    FROM bydisc b CROSS JOIN fit f
    ORDER BY b.disc_pct
    """,
)
def q_discount_elasticity(spark, sf_dir):
    """Discount elasticity: OLS slope of order quantity on discount level
    (does discounting move volume?), reported alongside the per-discount
    observed means so the fit is inspectable — the pricing-analytics
    regression (a_corr_regr exposes the engine's streaming regr_slope;
    this one derives the slope from five EXACT integer sums, so both
    engines compute identical floats).

    Discounts snap to integer percent, quantities to integer units —
    Σxy/Σx² stay far inside int64 at any SF. One scan feeds both the
    global sums and the per-discount means (11-row axis); the fitted
    line attaches as a broadcast single row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    s = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("disc_pct").alias("sx"), F.sum("qty").alias("sy"),
        F.sum(F.col("disc_pct") * F.col("qty")).alias("sxy"),
        F.sum(F.col("disc_pct") * F.col("disc_pct")).alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0 / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = s.select(
        beta.alias("beta"),
        (F.col("sy") * 1.0 / F.col("n") - beta * F.col("sx") / F.col("n")).alias(
            "alpha"
        ),
    )
    bydisc = v.groupBy("disc_pct").agg(
        F.count("*").cast("long").alias("n_lines"),
        f6(F.sum("qty") * 1.0 / F.count("*")).alias("avg_qty"),
    )
    return (
        bydisc.crossJoin(F.broadcast(fit))
        .select(
            "disc_pct", "n_lines", "avg_qty",
            F.round(F.col("alpha") + F.col("beta") * F.col("disc_pct"), 6).alias(
                "fitted_qty"
            ),
            (F.round(F.col("beta"), 6) + 0.0).alias("beta_qty_per_pct"),
        )
        .orderBy("disc_pct")
    )


@register(
    "q_supplier_hhi",
    """
    WITH rev AS (
        SELECT l_partkey, l_suppkey,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    tot AS (
        SELECT l_partkey, sum(cents) AS t,
               CAST(count(*) AS BIGINT) AS n_suppliers
        FROM rev GROUP BY l_partkey
    ),
    hhi AS (
        SELECT r.l_partkey, max(t.n_suppliers) AS n_suppliers,
               sum(CAST(round(r.cents * 1.0 / t.t
                              * (r.cents * 1.0 / t.t) * 1e12) AS BIGINT))
                   AS h12
        FROM rev r JOIN tot t ON r.l_partkey = t.l_partkey
        GROUP BY r.l_partkey
    )
    SELECT l_partkey, CAST(n_suppliers AS BIGINT) AS n_suppliers,
           round(h12 / 1e12, 6) AS hhi
    FROM hhi
    ORDER BY hhi DESC, l_partkey LIMIT 20
    """,
)
def q_supplier_hhi(spark, sf_dir):
    """Supplier-concentration HHI per part: the Herfindahl index of each
    part's supplier revenue shares, top-20 most concentrated — the
    supply-chain-risk screen (HHI → 1: single-sourced part, one supplier
    failure stops the line; a_gini measures the same concentration idea
    on customers, this one is the procurement twin).

    Revenue folds to exact cents on the (part, supplier) axis in ONE
    shuffle that the per-part totals reuse; each squared share is
    snapped to 1e-12 BIGINT units before the per-part sum (reorder-safe,
    the a_psi_drift recipe), and top-20 is TakeOrdered with a partkey
    tiebreak.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents")
    )
    tot = rev.groupBy("l_partkey").agg(
        F.sum("cents").alias("t"), F.count("*").cast("long").alias("n_suppliers")
    )
    share = F.col("cents") * 1.0 / F.col("t")
    hhi = (
        rev.join(tot, "l_partkey")
        .groupBy("l_partkey")
        .agg(
            F.max("n_suppliers").cast("long").alias("n_suppliers"),
            F.sum(F.round(share * share * 1e12).cast("long")).alias("h12"),
        )
    )
    return (
        hhi.select("l_partkey", "n_suppliers", f6(F.col("h12") / 1e12).alias("hhi"))
        .orderBy(F.col("hhi").desc(), "l_partkey")
        .limit(20)
    )


@register(
    "q_product_profit",
    """
    WITH profit AS (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l.l_discount) * 100) AS BIGINT)
                 - CAST(round(p.p_retailprice * 100) AS BIGINT)
                 * CAST(round(l.l_quantity) AS BIGINT) * 10 AS amt4
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE p.p_type LIKE 'ECONOMY%'
    )
    SELECT nation, o_year, round(sum(amt4) / 10000.0, 2) + 0 AS sum_profit
    FROM profit GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q_product_profit(spark, sf_dir):
    """TPC-H Q9 analog (product-type profit by nation and year), adapted to
    the trimmed fixture schema: with no partsupp table, supply cost is
    modeled as 10% of p_retailprice per unit, so
    profit = l_extendedprice*(1-l_discount) - 0.10*p_retailprice*l_quantity
    for parts of one type family.

    Scale shape: the p_type predicate prunes part BEFORE its broadcast, so
    the fact scan is filtered by a BroadcastHashJoin on partkey (a
    semi-join in effect) ahead of the single orderkey shuffle against
    orders; supplier->nation is a second broadcast chain. Money folds to
    exact 1e-4-unit BIGINTs (price-cents x discount-percent, the
    _rev_exact convention, minus cents x units x 10) so the per-(nation,
    year) sum is reorder-safe on 100 TB partial aggregation; the single
    division to 2dp happens once per output row (~nations x years rows).
    """
    li, part, supp, nation, orders = tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "orders"
    )
    p = part.where(F.col("p_type").like("ECONOMY%"))
    amt4 = _rev_exact() - (
        F.round(F.col("p_retailprice") * 100).cast("long")
        * F.round(F.col("l_quantity")).cast("long")
        * F.lit(10)
    )
    joined = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amt4.alias("amt4"),
        )
        .groupBy("nation", "o_year")
        .agg(money2(F.sum("amt4") / 10000.0).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q_min_cost_supplier",
    """
    WITH cost AS (
        SELECT l.l_partkey, l.l_suppkey,
               round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                     * 1.0 / sum(CAST(round(l.l_quantity) AS BIGINT)) / 100.0,
                     6) AS unit_cost
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY l.l_partkey, l.l_suppkey
    ),
    ranked AS (
        SELECT c.l_partkey, c.l_suppkey, c.unit_cost,
               row_number() OVER (PARTITION BY c.l_partkey
                                  ORDER BY c.unit_cost, c.l_suppkey) AS rn
        FROM cost c
    )
    SELECT rk.l_partkey, p.p_brand, s.s_name, s.s_acctbal, rk.unit_cost
    FROM ranked rk
    JOIN part p ON p.p_partkey = rk.l_partkey
    JOIN supplier s ON s.s_suppkey = rk.l_suppkey
    WHERE rk.rn = 1 AND p.p_size = 15
    ORDER BY s.s_acctbal DESC, rk.l_partkey
    LIMIT 25
    """,
)
def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 analog (min-cost supplier per part in a region), adapted:
    with no partsupp, a supplier's unit cost for a part is its observed
    aggregate unit price sum(extendedprice)/sum(quantity) over lineitem,
    restricted to EUROPE suppliers; per part pick the cheapest (supplier
    tiebreak), then filter to one p_size and rank by supplier balance.

    Scale shape: region->nation->supplier collapses to a broadcast slice
    (~1/5 of suppliers) that prunes lineitem map-side BEFORE the one
    (partkey, suppkey) aggregation shuffle; the per-part min is a
    WindowGroupLimit (rn=1 never materializes full partitions) on the
    same partkey clustering. Unit cost divides two exact BIGINT sums once
    per (part, supplier) — deterministic at the 6dp boundary. The p_size
    filter lands on the part scan (PushedFilters) before its broadcast.
    """
    li, part, supp, nation, region = tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "region"
    )
    eu_supp = (
        supp.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region.where(F.col("r_name") == "EUROPE")),
              F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    cost = (
        li.join(F.broadcast(eu_supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("units"),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            f6(F.col("cents") * 1.0 / F.col("units") / 100.0).alias("unit_cost"),
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    best = cost.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        best.join(F.broadcast(part.where(F.col("p_size") == 15)),
                  F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("l_partkey", "p_brand", "s_name", "s_acctbal", "unit_cost")
        .orderBy(F.col("s_acctbal").desc(), "l_partkey")
        .limit(25)
    )


@register(
    "q_parts_supplier_relation",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    LIMIT 50
    """,
)
def q_parts_supplier_relation(spark, sf_dir):
    """TPC-H Q16 analog (parts/supplier relationship): how many distinct
    suppliers can deliver each surviving (brand, type, size) combination,
    excluding one brand, one type family, off-list sizes, and suppliers
    with negative balances (the "customer complaints" exclusion adapted
    to the trimmed schema).

    Scale shape: the brand/type/size predicates prune part before its
    broadcast; the negative-balance suppliers form a tiny LEFT ANTI
    broadcast (NOT IN with a non-nullable key = anti-join); the only
    shuffle is the distinct-supplier count, which Spark runs as a
    two-level (expand + partial) aggregate keyed on the low-cardinality
    (brand, type, size) axis — shuffle bytes scale with distinct
    (group, suppkey) pairs, not lineitem rows.
    """
    li, part, supp = tables(spark, sf_dir, "lineitem", "part", "supplier")
    p = part.where(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad_supp = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(bad_supp), F.col("s_suppkey") == F.col("l_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(50)
    )


@register(
    "q_abc_analysis",
    """
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS r4
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, r4,
               sum(r4) OVER (ORDER BY r4 DESC, l_partkey) AS cum4,
               sum(r4) OVER () AS tot4
        FROM rev
    ),
    classed AS (
        SELECT CASE WHEN cum4 * 1.0 / tot4 <= 0.8 THEN 'A'
                    WHEN cum4 * 1.0 / tot4 <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               r4
        FROM ranked
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(r4) / 10000.0, 2) + 0 AS revenue,
           round(sum(r4) * 1.0 / max(tot) , 6) + 0 AS rev_share
    FROM (SELECT abc_class, r4, sum(r4) OVER () AS tot FROM classed) x
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def q_abc_analysis(spark, sf_dir):
    """ABC inventory classification: parts ranked by discounted revenue,
    class A = the head that carries 80% of cumulative revenue, B = the
    next 15%, C = the long tail — the standing decision table behind
    'manage A-parts tightly, spot-check C-parts' (q_pareto_brands is the
    curve; this is the segmentation it implies).

    Revenue folds to exact 1e-4-unit BIGINTs on the part axis FIRST
    (the fact table never reaches the ranking); the cumulative window
    runs over |parts| rows with a partkey tiebreak, and the class
    boundary compares the same BIGINT division in both engines — one
    deterministic double per part, no ntile float grid. At extreme part
    cardinality the boundary swaps to approx_percentile of cumulative
    share (the w_ltv_deciles argument).
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(F.sum(_rev_exact()).alias("r4"))
    wcum = Window.orderBy(F.col("r4").desc(), "l_partkey").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.select(
        "l_partkey",
        "r4",
        F.sum("r4").over(
            Window.orderBy(F.col("r4").desc(), "l_partkey").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).alias("cum4"),
        F.sum("r4").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("tot4"),
    )
    share = F.col("cum4") * 1.0 / F.col("tot4")
    classed = ranked.select(
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
        "r4",
        "tot4",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            money2(F.sum("r4") / 10000.0).alias("revenue"),
            f6(F.sum("r4") * 1.0 / F.max("tot4")).alias("rev_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "q_revenue_retention",
    """
    WITH cm AS (
        SELECT o_custkey AS cust, date_trunc('month', o_orderdate) AS mon,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2
    ),
    months AS (SELECT DISTINCT mon FROM cm),
    custs AS (SELECT DISTINCT cust FROM cm),
    grid AS (
        SELECT c.cust, m.mon, coalesce(cm.cents, 0) AS cents
        FROM custs c CROSS JOIN months m
        LEFT JOIN cm ON cm.cust = c.cust AND cm.mon = m.mon
    ),
    flows AS (
        SELECT cust, mon, cents,
               lag(cents) OVER (PARTITION BY cust ORDER BY mon) AS prev
        FROM grid
    ),
    moves AS (
        SELECT mon,
               sum(cents) AS mrr,
               sum(CASE WHEN prev = 0 AND cents > 0 THEN cents ELSE 0 END)
                   AS new_mrr,
               sum(CASE WHEN prev > 0 AND cents > prev
                        THEN cents - prev ELSE 0 END) AS expansion_mrr,
               sum(CASE WHEN prev > cents AND cents > 0
                        THEN prev - cents ELSE 0 END) AS contraction_mrr,
               sum(CASE WHEN prev > 0 AND cents = 0 THEN prev ELSE 0 END)
                   AS churned_mrr,
               sum(prev) AS prev_mrr
        FROM flows WHERE prev IS NOT NULL
        GROUP BY mon
    )
    SELECT CAST(mon AS DATE) AS mon,
           round(mrr / 100.0, 2) + 0 AS mrr,
           round(new_mrr / 100.0, 2) + 0 AS new_mrr,
           round(expansion_mrr / 100.0, 2) + 0 AS expansion_mrr,
           round(contraction_mrr / 100.0, 2) + 0 AS contraction_mrr,
           round(churned_mrr / 100.0, 2) + 0 AS churned_mrr,
           round((mrr - new_mrr) * 1.0 / prev_mrr, 6) + 0 AS nrr
    FROM moves
    ORDER BY mon
    """,
)
def q_revenue_retention(spark, sf_dir):
    """Net revenue retention decomposition: each month's revenue split
    into new / expansion / contraction / churned movements vs the prior
    month, plus NRR = (MRR − new) / prior MRR — the SaaS growth
    accounting table (q_new_vs_returning counts heads; this follows the
    MONEY, and NRR > 1 means the existing base grows even with zero
    acquisition).

    Revenue folds to exact cents on the (customer, month) axis first;
    the zero-months come from a customers × months grid join — bounded
    by |customers| × |months| (~30 months), NOT by order volume, and
    the lag window rides the same customer clustering. All movement
    sums are exact BIGINT cents; NRR is one division per month row. At
    extreme customer counts the grid trades for a change-log formulation
    (emit +cents at month m, compare m vs m−1 via a self-join on
    month arithmetic) — same numbers, no spine.
    """
    orders = load_table(spark, sf_dir, "orders")
    cm = (
        orders.groupBy(
            F.col("o_custkey").alias("cust"),
            F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    months = cm.select("mon").distinct()
    custs = cm.select("cust").distinct()
    grid = (
        custs.crossJoin(F.broadcast(months))
        .join(cm, ["cust", "mon"], "left")
        .select("cust", "mon", F.coalesce(F.col("cents"), F.lit(0)).alias("cents"))
    )
    flows = grid.withColumn(
        "prev", F.lag("cents").over(Window.partitionBy("cust").orderBy("mon"))
    )
    moves = (
        flows.where(F.col("prev").isNotNull())
        .groupBy("mon")
        .agg(
            F.sum("cents").alias("mrr"),
            F.sum(
                F.when((F.col("prev") == 0) & (F.col("cents") > 0), F.col("cents"))
                .otherwise(0)
            ).alias("new_mrr"),
            F.sum(
                F.when(
                    (F.col("prev") > 0) & (F.col("cents") > F.col("prev")),
                    F.col("cents") - F.col("prev"),
                ).otherwise(0)
            ).alias("expansion_mrr"),
            F.sum(
                F.when(
                    (F.col("prev") > F.col("cents")) & (F.col("cents") > 0),
                    F.col("prev") - F.col("cents"),
                ).otherwise(0)
            ).alias("contraction_mrr"),
            F.sum(
                F.when((F.col("prev") > 0) & (F.col("cents") == 0), F.col("prev"))
                .otherwise(0)
            ).alias("churned_mrr"),
            F.sum("prev").alias("prev_mrr"),
        )
    )
    return (
        moves.select(
            F.col("mon").cast("date").alias("mon"),
            money2(F.col("mrr") / 100.0).alias("mrr"),
            money2(F.col("new_mrr") / 100.0).alias("new_mrr"),
            money2(F.col("expansion_mrr") / 100.0).alias("expansion_mrr"),
            money2(F.col("contraction_mrr") / 100.0).alias("contraction_mrr"),
            money2(F.col("churned_mrr") / 100.0).alias("churned_mrr"),
            f6((F.col("mrr") - F.col("new_mrr")) * 1.0 / F.col("prev_mrr")).alias("nrr"),
        )
        .orderBy("mon")
    )


@register(
    "q_skyline_parts",
    """
    WITH ax AS (
        SELECT l_partkey,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS rev4
        FROM lineitem GROUP BY l_partkey
    ),
    sky AS (
        SELECT l_partkey, qty, rev4,
               max(rev4) OVER (ORDER BY qty DESC
                               RANGE BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS best_rev_ge
        FROM ax
    )
    SELECT l_partkey, qty, round(rev4 / 10000.0, 2) + 0 AS revenue
    FROM sky
    WHERE rev4 = best_rev_ge
    ORDER BY qty DESC, l_partkey
    """,
)
def q_skyline_parts(spark, sf_dir):
    """Skyline (Pareto-frontier) query: parts not dominated on the
    (total quantity, revenue) plane — a part survives iff no other
    part has BOTH >= quantity and > revenue. The multi-criteria
    shortlist operator (top-k needs a single score; the skyline needs
    none) — classic database-literature operator class of its own.

    The 2-D skyline collapses to ONE window after the part-axis fold:
    sort by qty desc with a RANGE frame on qty, so every part sees the
    max revenue among ALL parts with >= its quantity (qty peers
    included — exactly the '>= quantity' side of the dominance rule);
    it survives iff its own revenue IS that max, which is precisely
    'no strictly-greater revenue exists' (equal-(qty,rev) twins both
    survive, as strict dominance requires). Exact integer axes; the
    window runs over |parts| rows, never lineitem. D>2 skylines need
    the block-nested-loop generalization — the 2-D sort-scan is the
    special case worth having because it's free.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ax = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
        F.sum(_rev_exact()).alias("rev4"),
    )
    w = (
        Window.orderBy(F.col("qty").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sky = ax.withColumn("best_rev_ge", F.max("rev4").over(w))
    return (
        sky.where(F.col("rev4") == F.col("best_rev_ge"))
        .select("l_partkey", "qty", money2(F.col("rev4") / 10000.0).alias("revenue"))
        .orderBy(F.col("qty").desc(), "l_partkey")
    )


@register(
    "q_price_volume_bridge",
    """
    WITH yr AS (
        SELECT p.p_brand AS brand,
               CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
               sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents,
               sum(CAST(round(l.l_quantity) AS BIGINT)) AS units
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE EXTRACT(year FROM o.o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2
    ),
    piv AS (
        SELECT brand,
               max(CASE WHEN yr = 1996 THEN cents END) AS c1,
               max(CASE WHEN yr = 1996 THEN units END) AS u1,
               max(CASE WHEN yr = 1997 THEN cents END) AS c2,
               max(CASE WHEN yr = 1997 THEN units END) AS u2
        FROM yr GROUP BY brand
        HAVING max(CASE WHEN yr = 1996 THEN units END) > 0
           AND max(CASE WHEN yr = 1997 THEN units END) > 0
    )
    SELECT brand,
           round((c2 - c1) / 100.0, 2) + 0 AS delta_rev,
           round((c2 * 1.0 / u2 - c1 * 1.0 / u1) * u1 / 100.0, 2) + 0
               AS price_effect,
           round((u2 - u1) * (c1 * 1.0 / u1) / 100.0, 2) + 0 AS volume_effect,
           round(((c2 * 1.0 / u2) - (c1 * 1.0 / u1)) * (u2 - u1) / 100.0, 2) + 0
               AS mix_effect
    FROM piv
    ORDER BY abs(c2 - c1) DESC, brand LIMIT 20
    """,
)
def q_price_volume_bridge(spark, sf_dir):
    """Price-volume bridge (revenue waterfall): each brand's YoY revenue
    delta decomposed into price effect (Δprice × base volume), volume
    effect (Δvolume × base price), and the mix/cross term — the
    finance-review decomposition that answers 'did we sell MORE or
    just sell DEARER' where q_yoy_growth only reports the total. The
    three effects sum to delta_rev exactly by construction.

    Cents and units fold exactly on the (brand, year) axis in one
    shuffle; the two-year pivot is a conditional-max over ≤2 rows per
    brand; unit prices divide exact sums once per brand and the bridge
    terms share those identical quotients in both engines. Top-20 by
    absolute swing with a brand tiebreak.
    """
    li, part, orders = tables(spark, sf_dir, "lineitem", "part", "orders")
    yr = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("units"),
        )
    )
    piv = (
        yr.groupBy("brand")
        .agg(
            F.max(F.when(F.col("yr") == 1996, F.col("cents"))).alias("c1"),
            F.max(F.when(F.col("yr") == 1996, F.col("units"))).alias("u1"),
            F.max(F.when(F.col("yr") == 1997, F.col("cents"))).alias("c2"),
            F.max(F.when(F.col("yr") == 1997, F.col("units"))).alias("u2"),
        )
        .where((F.col("u1") > 0) & (F.col("u2") > 0))
    )
    p1 = F.col("c1") * 1.0 / F.col("u1")
    p2 = F.col("c2") * 1.0 / F.col("u2")
    return (
        piv.select(
            "brand",
            money2((F.col("c2") - F.col("c1")) / 100.0).alias("delta_rev"),
            money2((p2 - p1) * F.col("u1") / 100.0).alias("price_effect"),
            money2((F.col("u2") - F.col("u1")) * p1 / 100.0).alias("volume_effect"),
            money2((p2 - p1) * (F.col("u2") - F.col("u1")) / 100.0).alias("mix_effect"),
        )
        .orderBy(F.abs(F.col("c2") - F.col("c1")).desc(), "brand")
        .limit(20)
    )


@register(
    "q_xyz_variability",
    """
    WITH pm AS (
        SELECT l.l_partkey, date_trunc('month', o.o_orderdate) AS mon,
               sum(CAST(round(l.l_quantity) AS BIGINT)) AS units
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_months,
               avg(units * 1.0) AS mu,
               stddev_samp(units * 1.0) AS sd
        FROM pm GROUP BY l_partkey
        HAVING count(*) >= 12
    ),
    classed AS (
        SELECT CASE WHEN sd / mu <= 0.5 THEN 'X'
                    WHEN sd / mu <= 0.9 THEN 'Y'
                    ELSE 'Z' END AS xyz_class,
               l_partkey
        FROM stats
    )
    SELECT xyz_class, CAST(count(*) AS BIGINT) AS n_parts
    FROM classed GROUP BY xyz_class ORDER BY xyz_class
    """,
)
def q_xyz_variability(spark, sf_dir):
    """XYZ demand-variability classification: parts bucketed by the
    coefficient of variation of monthly demand (X: steady — forecast
    and automate; Z: erratic — safety-stock and humans). The
    companion axis to q_abc_analysis's value ranking: the ABC-XYZ
    matrix is THE inventory segmentation, and each axis is useless
    without the other (a high-value erratic part and a high-value
    steady part need opposite policies).

    Units fold exactly on the (part, month) axis; CV is one stddev/mu
    per part over its ≥12-month history (the month axis is
    calendar-bounded); class boundaries compare the same float
    quotient both engines. Output is 3 census rows at any scale.
    """
    li, orders = tables(spark, sf_dir, "lineitem", "orders")
    pm = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "l_partkey", F.date_trunc("month", F.col("o_orderdate")).alias("mon")
        )
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("units"))
    )
    stats = (
        pm.groupBy("l_partkey")
        .agg(
            F.count("*").cast("long").alias("n_months"),
            F.avg(F.col("units") * 1.0).alias("mu"),
            F.stddev_samp(F.col("units") * 1.0).alias("sd"),
        )
        .where(F.col("n_months") >= 12)
    )
    cv = F.col("sd") / F.col("mu")
    return (
        stats.select(
            F.when(cv <= 0.5, "X").when(cv <= 0.9, "Y").otherwise("Z").alias(
                "xyz_class"
            )
        )
        .groupBy("xyz_class")
        .agg(F.count("*").cast("long").alias("n_parts"))
        .orderBy("xyz_class")
    )


@register(
    "q_reorder_rate",
    """
    WITH up AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2
    ),
    item AS (
        SELECT item_id,
               CAST(count(*) AS BIGINT) AS n_buyers,
               CAST(sum(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repeaters
        FROM up GROUP BY item_id
    )
    SELECT item_id, n_buyers, n_repeaters,
           round(n_repeaters * 1.0 / n_buyers, 6) + 0 AS reorder_rate
    FROM item
    WHERE n_buyers >= 10
    ORDER BY reorder_rate DESC, item_id LIMIT 20
    """,
)
def q_reorder_rate(spark, sf_dir):
    """Reorder rate per item: the fraction of an item's buyers who
    purchased it in MORE THAN ONE order (min 10 buyers) — the
    Instacart-style repeat-purchase signal that separates staples from
    one-off buys, and the single strongest feature in next-basket
    prediction (r_covisitation asks what goes TOGETHER; this asks what
    comes BACK).

    The (user, item) fold counts DISTINCT orders (repeat = re-ordered,
    not two lines in one order — the distinction that makes the metric
    honest); the item rollup carries exact integer buyer/repeater
    counts into one division per item. Both shuffles key on axes
    bounded by interactions, with TakeOrdered for the top-20.
    """
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    up = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id")
        )
        .agg(F.countDistinct("o_orderkey").cast("long").alias("n_orders"))
    )
    item = up.groupBy("item_id").agg(
        F.count("*").cast("long").alias("n_buyers"),
        F.sum(F.when(F.col("n_orders") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_repeaters"),
    )
    return (
        item.where(F.col("n_buyers") >= 10)
        .select(
            "item_id",
            "n_buyers",
            "n_repeaters",
            f6(F.col("n_repeaters") * 1.0 / F.col("n_buyers")).alias("reorder_rate"),
        )
        .orderBy(F.col("reorder_rate").desc(), "item_id")
        .limit(20)
    )


@register(
    "q_abc_xyz_matrix",
    """
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS r4
        FROM lineitem GROUP BY l_partkey
    ),
    abc AS (
        SELECT l_partkey,
               CASE WHEN cum * 1.0 / tot <= 0.8 THEN 'A'
                    WHEN cum * 1.0 / tot <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM (
            SELECT l_partkey, r4,
                   sum(r4) OVER (ORDER BY r4 DESC, l_partkey) AS cum,
                   sum(r4) OVER () AS tot
            FROM rev
        )
    ),
    pm AS (
        SELECT l.l_partkey, date_trunc('month', o.o_orderdate) AS mon,
               sum(CAST(round(l.l_quantity) AS BIGINT)) AS units
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    xyz AS (
        SELECT l_partkey,
               CASE WHEN sd / mu <= 0.5 THEN 'X'
                    WHEN sd / mu <= 0.9 THEN 'Y'
                    ELSE 'Z' END AS xyz_class
        FROM (
            SELECT l_partkey, avg(units * 1.0) AS mu,
                   stddev_samp(units * 1.0) AS sd
            FROM pm GROUP BY l_partkey HAVING count(*) >= 12
        )
    )
    SELECT a.abc_class, x.xyz_class, CAST(count(*) AS BIGINT) AS n_parts
    FROM abc a JOIN xyz x ON x.l_partkey = a.l_partkey
    GROUP BY a.abc_class, x.xyz_class
    ORDER BY a.abc_class, x.xyz_class
    """,
)
def q_abc_xyz_matrix(spark, sf_dir):
    """The ABC-XYZ matrix: value classes (q_abc_analysis) crossed with
    variability classes (q_xyz_variability) into the 9-cell
    segmentation every inventory policy book draws — AX (high value,
    steady: automate tightly) through CZ (low value, erratic:
    make-to-order or drop). Each axis alone was computed before; the
    JOIN is the deliverable, because policies attach to CELLS.

    Both classifications reuse their parents' plan shapes (part-axis
    cumulative window; per-part CV over the calendar-bounded month
    axis) and meet in one part-keyed join; the census is ≤9 rows at
    any scale. Demonstrates operator COMPOSITION: registered queries
    as building blocks of a higher-order deliverable (the
    v_recall_at_k CTE-composition argument, applied to business ops).
    """
    li, orders = tables(spark, sf_dir, "lineitem", "orders")
    rev = li.groupBy("l_partkey").agg(F.sum(_rev_exact()).alias("r4"))
    wcum = Window.orderBy(F.col("r4").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wtot = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.sum("r4").over(wcum) * 1.0 / F.sum("r4").over(wtot)
    abc = rev.select(
        "l_partkey",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )
    pm = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "l_partkey", F.date_trunc("month", F.col("o_orderdate")).alias("mon")
        )
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("units"))
    )
    stats = (
        pm.groupBy("l_partkey")
        .agg(
            F.count("*").alias("nm"),
            F.avg(F.col("units") * 1.0).alias("mu"),
            F.stddev_samp(F.col("units") * 1.0).alias("sd"),
        )
        .where(F.col("nm") >= 12)
    )
    cv = F.col("sd") / F.col("mu")
    xyz = stats.select(
        "l_partkey",
        F.when(cv <= 0.5, "X").when(cv <= 0.9, "Y").otherwise("Z").alias("xyz_class"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(F.count("*").cast("long").alias("n_parts"))
        .orderBy("abc_class", "xyz_class")
    )


@register(
    "q_reorder_point",
    """
    WITH pd AS (
        SELECT l.l_partkey, CAST(o.o_orderdate AS DATE) AS day,
               sum(CAST(round(l.l_quantity) AS BIGINT)) AS units
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_days,
               avg(units * 1.0) AS mu,
               stddev_samp(units * 1.0) AS sd,
               CAST(sum(units) AS BIGINT) AS total_units
        FROM pd GROUP BY l_partkey
        HAVING count(*) >= 30
    )
    SELECT l_partkey, total_units,
           round(mu * 7 + 1.644854 * sd * sqrt(7), 6) + 0 AS reorder_point,
           round(1.644854 * sd * sqrt(7), 6) + 0 AS safety_stock
    FROM stats
    ORDER BY total_units DESC, l_partkey LIMIT 20
    """,
)
def q_reorder_point(spark, sf_dir):
    """Reorder-point policy table: for the 20 highest-volume parts,
    ROP = μ·L + z·σ·√L with a 7-day lead time at 95% service level
    (z = 1.644854) — the ACTIONABLE output the ABC-XYZ segmentation
    feeds (q_abc_xyz_matrix says which parts deserve tight policies;
    this computes the policy: reorder when on-hand hits ROP, and the
    z·σ√L term IS the price of demand variability in units of
    inventory).

    Demand folds to (part, day) exactly; per-part μ/σ run over the
    ≥30-day history (calendar-bounded); the √L and z constants fold
    identically in both engines, and the active-day count floor makes
    σ meaningful. TakeOrdered by exact total units.
    """
    li, orders = tables(spark, sf_dir, "lineitem", "orders")
    pd_ = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_partkey", F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("units"))
    )
    stats = (
        pd_.groupBy("l_partkey")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.avg(F.col("units") * 1.0).alias("mu"),
            F.stddev_samp(F.col("units") * 1.0).alias("sd"),
            F.sum("units").cast("long").alias("total_units"),
        )
        .where(F.col("n_days") >= 30)
    )
    z = 1.644854
    safety = z * F.col("sd") * F.sqrt(F.lit(7.0))
    return (
        stats.select(
            "l_partkey",
            "total_units",
            f6(F.col("mu") * 7 + safety).alias("reorder_point"),
            f6(safety).alias("safety_stock"),
        )
        .orderBy(F.col("total_units").desc(), "l_partkey")
        .limit(20)
    )


@register(
    "q_revenue_waterfall",
    """
    WITH t AS (
        SELECT
            sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS gross2,
            sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS disc4,
            sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round((1 - l_discount) * 100) AS BIGINT)
                * CAST(round(l_tax * 100) AS BIGINT)) AS tax6
        FROM lineitem
    )
    SELECT round(gross2 / 100.0, 2) + 0 AS gross,
           round(disc4 / 10000.0, 2) + 0 AS discounts,
           round((gross2 / 100.0) - (disc4 / 10000.0), 2) + 0 AS net_of_discount,
           round(tax6 / 1000000.0, 2) + 0 AS tax_collected,
           round((gross2 / 100.0) - (disc4 / 10000.0)
                 + (tax6 / 1000000.0), 2) + 0 AS billed_total
    FROM t
    """,
)
def q_revenue_waterfall(spark, sf_dir):
    """Gross-to-billed revenue waterfall: gross extended price, minus
    discounts, plus tax collected on the discounted base — the P&L
    bridge that reconciles 'bookings' to 'billings' in one row, built
    on TPC-H's actual charge formula extprice·(1−disc)·(1+tax) whose
    tax leg no other key exercises (q_pricing_summary aggregates the
    charge; the waterfall DECOMPOSES it so finance can see each step).

    Every leg folds as exact scaled BIGINTs in one scan — gross in
    cents, discounts in cents×pct (1e-4), tax in cents×pct×pct (1e-6)
    — so the partial aggregation is reorder-safe at any parallelism
    and the reconciliation identity (billed = gross − discounts + tax)
    holds to the cent by CONSTRUCTION, which the pytest pins.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    keep = F.round((1 - F.col("l_discount")) * 100).cast("long")
    tax = F.round(F.col("l_tax") * 100).cast("long")
    t = li.agg(
        F.sum(cents).alias("gross2"),
        F.sum(cents * disc).alias("disc4"),
        F.sum(cents * keep * tax).alias("tax6"),
    )
    gross = F.col("gross2") / 100.0
    discounts = F.col("disc4") / 10000.0
    taxc = F.col("tax6") / 1000000.0
    return t.select(
        money2(gross).alias("gross"),
        money2(discounts).alias("discounts"),
        money2(gross - discounts).alias("net_of_discount"),
        money2(taxc).alias("tax_collected"),
        money2(gross - discounts + taxc).alias("billed_total"),
    )


@register(
    "q_fifo_layers",
    """
    WITH flows AS (
        SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               l_linenumber % 2 = 1 AS is_supply
        FROM lineitem WHERE l_partkey < 30
    ),
    supply AS (
        SELECT l_partkey, l_orderkey, l_linenumber, qty, cents,
               sum(qty) OVER (PARTITION BY l_partkey
                              ORDER BY l_shipdate, l_orderkey, l_linenumber)
                   AS cum_end
        FROM flows WHERE is_supply
    ),
    demand AS (
        SELECT l_partkey, l_orderkey, l_linenumber, qty,
               sum(qty) OVER (PARTITION BY l_partkey
                              ORDER BY l_shipdate, l_orderkey, l_linenumber)
                   AS cum_end
        FROM flows WHERE NOT is_supply
    ),
    alloc AS (
        SELECT d.l_partkey,
               d.l_orderkey AS d_orderkey, d.l_linenumber AS d_linenumber,
               s.l_orderkey AS s_orderkey, s.l_linenumber AS s_linenumber,
               least(d.cum_end, s.cum_end)
                   - greatest(d.cum_end - d.qty, s.cum_end - s.qty)
                   AS alloc_qty,
               s.cents, s.qty AS s_qty
        FROM demand d JOIN supply s
          ON s.l_partkey = d.l_partkey
         AND s.cum_end - s.qty < d.cum_end
         AND d.cum_end - d.qty < s.cum_end
    )
    SELECT l_partkey, d_orderkey, d_linenumber, s_orderkey, s_linenumber,
           CAST(alloc_qty AS BIGINT) AS alloc_qty,
           round(alloc_qty * cents * 1.0 / s_qty / 100.0, 2) + 0
               AS fifo_cost_usd
    FROM alloc WHERE alloc_qty > 0
    ORDER BY l_partkey, d_orderkey, d_linenumber, s_orderkey, s_linenumber
    """,
)
def q_fifo_layers(spark, sf_dir):
    """FIFO inventory layer allocation — the classic 'FIFO in SQL'
    problem: consume supply receipts in ship-date order against demand
    issues in ship-date order (odd/even line numbers split the flows),
    emitting one row per (demand line, supply layer) with the quantity
    drawn and its FIFO cost. The trick that makes it relational: both
    flows become INTERVALS on each part's cumulative-quantity axis
    (receipt i covers [cum−qty, cum)), and FIFO matching IS interval
    intersection — alloc = min(ends) − max(starts) where the intervals
    overlap. Demand beyond total supply is naturally unfilled (no
    overlap); the running balance never goes explicitly negative.

    Two windows (one per flow, sharing the part-keyed sort) + one
    banded self-join per part on the cumulative axis — the
    j_interval_overlap shape where the band is data-dependent. Work per
    part is (receipts × issues) in the worst case but overlap-pruned in
    practice; at 100 TB the l_partkey<30 slice generalizes to
    per-part-partitioned layout where each part's matching is local.
    Integer cumulative axes make the intersection arithmetic exact;
    cost divides once per row under a 2dp round.
    """
    li = load_table(spark, sf_dir, "lineitem")
    flows = li.where(F.col("l_partkey") < 30).select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.round("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        (F.col("l_linenumber") % 2 == 1).alias("is_supply"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    supply = (
        flows.where(F.col("is_supply"))
        .withColumn("cum_end", F.sum("qty").over(w))
        .select(
            F.col("l_partkey").alias("pk"),
            F.col("l_orderkey").alias("s_orderkey"),
            F.col("l_linenumber").alias("s_linenumber"),
            F.col("qty").alias("s_qty"),
            "cents",
            F.col("cum_end").alias("s_end"),
        )
    )
    demand = (
        flows.where(~F.col("is_supply"))
        .withColumn("cum_end", F.sum("qty").over(w))
        .select(
            "l_partkey",
            F.col("l_orderkey").alias("d_orderkey"),
            F.col("l_linenumber").alias("d_linenumber"),
            F.col("qty").alias("d_qty"),
            F.col("cum_end").alias("d_end"),
        )
    )
    alloc_qty = F.least(F.col("d_end"), F.col("s_end")) - F.greatest(
        F.col("d_end") - F.col("d_qty"), F.col("s_end") - F.col("s_qty")
    )
    return (
        demand.join(
            supply,
            (F.col("pk") == F.col("l_partkey"))
            & (F.col("s_end") - F.col("s_qty") < F.col("d_end"))
            & (F.col("d_end") - F.col("d_qty") < F.col("s_end")),
        )
        .select(
            "l_partkey",
            "d_orderkey",
            "d_linenumber",
            "s_orderkey",
            "s_linenumber",
            alloc_qty.cast("long").alias("alloc_qty"),
            money2(
                alloc_qty * F.col("cents") * 1.0 / F.col("s_qty") / 100.0
            ).alias("fifo_cost_usd"),
        )
        .where(F.col("alloc_qty") > 0)
        .orderBy(
            "l_partkey", "d_orderkey", "d_linenumber", "s_orderkey", "s_linenumber"
        )
    )


@register(
    "q_order_reconciliation",
    """
    WITH lines AS (
        SELECT l_orderkey,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l_discount) * 100) AS BIGINT)
                   * CAST(round((1 + l_tax) * 100) AS BIGINT)) AS charged6
        FROM lineitem GROUP BY l_orderkey
    ),
    rec AS (
        SELECT o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_cents,
               CAST(round(l.charged6 / 10000.0) AS BIGINT) AS lines_cents
        FROM orders o JOIN lines l ON l.l_orderkey = o.o_orderkey
    ),
    flagged AS (
        SELECT *,
               abs(header_cents - lines_cents) AS gap_cents
        FROM rec
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN gap_cents = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
           CAST(sum(CASE WHEN gap_cents BETWEEN 1 AND 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rounding,
           CAST(sum(CASE WHEN gap_cents > 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_broken,
           CAST(max(gap_cents) AS BIGINT) AS max_gap_cents,
           CAST(min(CASE WHEN gap_cents > 5 THEN o_orderkey END) AS BIGINT)
               AS first_broken_order
    FROM flagged
    """,
)
def q_order_reconciliation(spark, sf_dir):
    """Header-vs-lines reconciliation — the double-entry audit every
    billing pipeline runs: recompute each order's total from its lines
    (extprice x (1-disc) x (1+tax), the TPC-H construction) and band
    the disagreement with the stored o_totalprice into exact /
    rounding-noise (<=5c, per-line rounding accumulates) / broken.
    One number going red here catches silent ETL drift (a re-priced
    line without a header update) long before revenue dashboards
    wobble — the m_checksum_audit idea applied to relational
    consistency instead of payload bytes.

    The line recomputation folds in EXACT 1e-6-cent integer units (the
    q_pricing_summary discipline) in one partial+final agg keyed on
    orderkey, joins the header once, and collapses to a 6-counter
    census — O(1) output at any scale with a first-offender key for
    triage.
    """
    li, orders = tables(spark, sf_dir, "lineitem", "orders")
    charged = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((1 - F.col("l_discount")) * 100).cast("long")
        * F.round((1 + F.col("l_tax")) * 100).cast("long")
    )
    lines = li.groupBy("l_orderkey").agg(F.sum(charged).alias("charged6"))
    rec = orders.join(lines, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("header_cents"),
        F.round(F.col("charged6") / 10000.0).cast("long").alias("lines_cents"),
    )
    gap = F.abs(F.col("header_cents") - F.col("lines_cents"))
    flagged = rec.withColumn("gap_cents", gap)
    return flagged.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.when(F.col("gap_cents") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(F.when(F.col("gap_cents").between(1, 5), 1).otherwise(0))
        .cast("long")
        .alias("n_rounding"),
        F.sum(F.when(F.col("gap_cents") > 5, 1).otherwise(0))
        .cast("long")
        .alias("n_broken"),
        F.max("gap_cents").cast("long").alias("max_gap_cents"),
        F.min(F.when(F.col("gap_cents") > 5, F.col("o_orderkey")))
        .cast("long")
        .alias("first_broken_order"),
    )


@register(
    "q_id_gaps",
    """
    WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders
                 WHERE o_orderkey % 97 <> 0),
    nxt AS (
        SELECT id, lead(id) OVER (ORDER BY id) AS nid FROM ids
    )
    SELECT CAST(id + 1 AS BIGINT) AS gap_start,
           CAST(nid - 1 AS BIGINT) AS gap_end,
           CAST(nid - id - 1 AS BIGINT) AS gap_len
    FROM nxt
    WHERE nid - id > 1
    ORDER BY gap_start LIMIT 100
    """,
)
def q_id_gaps(spark, sf_dir):
    """Sequence-gap detection over the order-key space: every maximal run
    of missing ids between consecutive present keys — the
    lost-records audit (dropped kafka offsets, failed ingest batches,
    purged rows) that a plain count can't see and q_order_gaps'
    time-axis cousin can't localize. Every 97th key is deterministically
    withheld to simulate the loss (the m_checksum_audit corruption
    recipe), so the audit provably finds each hole. Emits (gap_start, gap_end, length)
    ranges, not one row per missing id — a 10^9-wide hole is ONE output
    row (the islands trick run on absence instead of presence).

    One distinct + one lead window over the sorted id axis; at 100 TB
    the sort is range-partitioned and gaps spanning partition
    boundaries are still correct because lead crosses them within the
    single global ordering. Top-100 earliest gaps for triage.
    """
    orders = load_table(spark, sf_dir, "orders")
    ids = (
        orders.where(F.col("o_orderkey") % 97 != 0)
        .select(F.col("o_orderkey").alias("id"))
        .distinct()
    )
    nxt = ids.select("id", F.lead("id").over(Window.orderBy("id")).alias("nid"))
    return (
        nxt.where(F.col("nid") - F.col("id") > 1)
        .select(
            (F.col("id") + 1).cast("long").alias("gap_start"),
            (F.col("nid") - 1).cast("long").alias("gap_end"),
            (F.col("nid") - F.col("id") - 1).cast("long").alias("gap_len"),
        )
        .orderBy("gap_start")
        .limit(100)
    )


@register(
    "q_segment_migration",
    """
    WITH spend AS (
        SELECT o_custkey AS cust,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2
    ),
    seg AS (
        SELECT cust, yr,
               CASE WHEN ntile(3) OVER (PARTITION BY yr
                                        ORDER BY cents DESC, cust) = 1
                    THEN 'high'
                    WHEN ntile(3) OVER (PARTITION BY yr
                                        ORDER BY cents DESC, cust) = 2
                    THEN 'mid' ELSE 'low' END AS segment
        FROM spend
    ),
    wide AS (
        SELECT a.cust,
               a.segment AS seg_1996,
               coalesce(b.segment, 'churned') AS seg_1997
        FROM (SELECT * FROM seg WHERE yr = 1996) a
        LEFT JOIN (SELECT * FROM seg WHERE yr = 1997) b ON b.cust = a.cust
    )
    SELECT seg_1996, seg_1997, CAST(count(*) AS BIGINT) AS n_customers,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY seg_1996),
                 6) + 0 AS row_share
    FROM wide
    GROUP BY seg_1996, seg_1997
    ORDER BY seg_1996, seg_1997
    """,
)
def q_segment_migration(spark, sf_dir):
    """Customer segment migration matrix: tercile spend segments (high/
    mid/low, ntile per year with a cust tiebreak) for 1996 and 1997,
    crossed into the flow table every CRM review runs — who upgraded,
    who decayed, who CHURNED entirely (present in 96, absent in 97:
    the left join's null arm, a state no same-year snapshot like
    q_rfm_segments can show). Row-normalized shares make each origin
    segment a probability row — the empirical transition matrix that
    q_attribution_markov-style chain models consume.

    Per-(customer, year) spend folds once; segmentation is one ntile
    window per year partition (deterministic: spend ties broken by
    cust); the migration join is customer-keyed. Output is a bounded
    3×4 matrix — O(1) collect at any scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.where(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("yr").orderBy(F.col("cents").desc(), "cust")
    seg = spend.select(
        "cust",
        "yr",
        F.when(F.ntile(3).over(w) == 1, "high")
        .when(F.ntile(3).over(w) == 2, "mid")
        .otherwise("low")
        .alias("segment"),
    )
    a = seg.where(F.col("yr") == 1996).select("cust", F.col("segment").alias("seg_1996"))
    b = seg.where(F.col("yr") == 1997).select("cust", F.col("segment").alias("seg_1997"))
    wide = a.join(b, "cust", "left").select(
        "seg_1996", F.coalesce("seg_1997", F.lit("churned")).alias("seg_1997")
    )
    worigin = Window.partitionBy("seg_1996")
    return (
        wide.groupBy("seg_1996", "seg_1997")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .select(
            "seg_1996",
            "seg_1997",
            "n_customers",
            f6(
                F.col("n_customers") * 1.0 / F.sum("n_customers").over(worigin)
            ).alias("row_share"),
        )
        .orderBy("seg_1996", "seg_1997")
    )


@register(
    "q_fk_orphans",
    """
    WITH o AS (SELECT o_orderkey, o_custkey FROM orders
               WHERE o_orderkey % 89 <> 0),
    li_orphans AS (
        SELECT count(*) AS n_rows, count(DISTINCT l.l_orderkey) AS n_keys,
               min(l.l_orderkey) AS first_key
        FROM lineitem l LEFT JOIN o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IS NULL
    ),
    cust_orphans AS (
        SELECT count(*) AS n_rows, count(DISTINCT oo.o_custkey) AS n_keys,
               min(oo.o_orderkey) AS first_key
        FROM o oo LEFT JOIN customer c ON c.c_custkey = oo.o_custkey
        WHERE c.c_custkey IS NULL
    )
    SELECT 'lineitem->orders' AS fk, CAST(n_rows AS BIGINT) AS n_orphan_rows,
           CAST(n_keys AS BIGINT) AS n_orphan_keys,
           CAST(first_key AS BIGINT) AS first_offender
    FROM li_orphans
    UNION ALL
    SELECT 'orders->customer', CAST(n_rows AS BIGINT),
           CAST(n_keys AS BIGINT), CAST(first_key AS BIGINT)
    FROM cust_orphans
    ORDER BY fk
    """,
)
def q_fk_orphans(spark, sf_dir):
    """Referential-integrity audit: rows whose foreign key references a
    missing parent — lineitems pointing at orders (every 89th order
    deterministically withheld, the q_id_gaps loss simulation, so the
    audit provably fires) and orders pointing at customers (intact —
    the audit must ALSO prove clean edges clean). The census a
    warehouse runs after every load; q_order_reconciliation checks
    values agree, this checks the join GRAPH itself still closes.

    Each direction is one left-anti-shaped probe (LEFT JOIN ... IS
    NULL — kept as an outer join so the count and first-offender fold
    in the same pass; Catalyst still builds the hash join on the
    parent side). At 100 TB the parent key sets are the small sides
    and broadcast; orphan output is failure-proportional, near-zero on
    healthy data.
    """
    li, orders, cust = tables(spark, sf_dir, "lineitem", "orders", "customer")
    o = orders.where(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey", "o_custkey"
    )
    li_or = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left")
        .where(F.col("o_orderkey").isNull())
        .agg(
            F.lit("lineitem->orders").alias("fk"),
            F.count("*").cast("long").alias("n_orphan_rows"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orphan_keys"),
            F.min("l_orderkey").cast("long").alias("first_offender"),
        )
    )
    cu_or = (
        o.join(cust, o.o_custkey == cust.c_custkey, "left")
        .where(F.col("c_custkey").isNull())
        .agg(
            F.lit("orders->customer").alias("fk"),
            F.count("*").cast("long").alias("n_orphan_rows"),
            F.countDistinct("o_custkey").cast("long").alias("n_orphan_keys"),
            F.min("o_orderkey").cast("long").alias("first_offender"),
        )
    )
    return li_or.unionByName(cu_or).orderBy("fk")


@register(
    "q_supply_chain_otif",
    """
    WITH lines AS (
        SELECT l.l_suppkey,
               CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS on_time,
               greatest(CAST(date_diff('day', o.o_orderdate + INTERVAL 60 DAY,
                                       l.l_shipdate) AS BIGINT),
                        CAST(0 AS BIGINT)) AS late_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT s.s_name,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(on_time) AS BIGINT) AS n_on_time,
           round(sum(on_time) * 1.0 / count(*), 6) + 0 AS otif_rate,
           round(sum(late_days) * 1.0
                 / nullif(count(*) - sum(on_time), 0), 6) + 0
               AS avg_late_days
    FROM lines JOIN supplier s ON s.s_suppkey = lines.l_suppkey
    GROUP BY s.s_name
    ORDER BY otif_rate, s_name LIMIT 25
    """,
)
def q_supply_chain_otif(spark, sf_dir):
    """On-time-in-full supplier scorecard — the procurement KPI: share
    of lines shipped within the 60-day service-level window of the
    order date, worst-25 suppliers first, with mean lateness of the
    late lines (the remediation conversation needs 'how late', not
    just 'how often'). The promise date is derived (o_orderdate + 60d)
    because the fixtures carry no commit-date column; with a real
    l_commitdate the predicate swaps in unchanged (it IS TPC-H Q21's
    l_receiptdate > l_commitdate test, aggregated per supplier instead
    of filtered).

    The orders join shuffles on the order key (fact-fact); the
    supplier dim broadcasts; on-time flags and lateness clamp to
    integers map-side, so the rollup is one partial+final agg and the
    TakeOrdered keeps 25 rows per partition. Null-safe division keeps
    perfect suppliers (no late lines) well-defined.
    """
    li, orders, supp = tables(spark, sf_dir, "lineitem", "orders", "supplier")
    promise = F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    on_time = F.when(F.col("l_shipdate") <= promise, 1).otherwise(0)
    late_days = F.greatest(
        F.datediff(F.col("l_shipdate"), F.to_date(promise)).cast("long"),
        F.lit(0).cast("long"),
    )
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_suppkey", on_time.alias("on_time"), late_days.alias("late_days")
    )
    return (
        lines.join(F.broadcast(supp), lines.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("on_time").cast("long").alias("n_on_time"),
            f6(F.sum("on_time") * 1.0 / F.count("*")).alias("otif_rate"),
            f6(
                F.sum("late_days")
                * 1.0
                / F.nullif(
                    (F.count("*") - F.sum("on_time")).cast("long"),
                    F.lit(0).cast("long"),
                )
            ).alias("avg_late_days"),
        )
        .orderBy("otif_rate", "s_name")
        .limit(25)
    )


@register(
    "q_price_index",
    """
    WITH py AS (
        SELECT l_partkey AS pk,
               CAST(year(l_shipdate) AS BIGINT) AS yr,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY 1, 2
    ),
    y0 AS (SELECT CAST(min(yr) AS BIGINT) AS base_yr FROM py),
    base AS (
        SELECT pk, q AS q0, rev AS rev0
        FROM py CROSS JOIN y0 WHERE yr = base_yr
    ),
    joined AS (
        SELECT p.yr, p.pk, p.q, p.rev, b.q0, b.rev0
        FROM py p JOIN base b ON b.pk = p.pk CROSS JOIN y0
        WHERE p.yr > base_yr
    ),
    terms AS (
        SELECT yr,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(CAST(round(CAST(rev AS DOUBLE) / q * q0)
                             AS BIGINT)) AS BIGINT) AS pt_q0,
               CAST(sum(rev0) AS BIGINT) AS p0_q0,
               CAST(sum(rev) AS BIGINT) AS pt_qt,
               CAST(sum(CAST(round(CAST(rev0 AS DOUBLE) / q0 * q)
                             AS BIGINT)) AS BIGINT) AS p0_qt
        FROM joined GROUP BY yr
    )
    SELECT yr AS year, n_parts,
           round(CAST(pt_q0 AS DOUBLE) / p0_q0, 6) + 0 AS laspeyres,
           round(CAST(pt_qt AS DOUBLE) / p0_qt, 6) + 0 AS paasche,
           round(sqrt((CAST(pt_q0 AS DOUBLE) / p0_q0)
                      * (CAST(pt_qt AS DOUBLE) / p0_qt)), 6) + 0
               AS fisher
    FROM terms ORDER BY year
    """,
)
def q_price_index(spark, sf_dir):
    """Laspeyres / Paasche / Fisher price indices per ship year against
    the first-ship-year base — the index-number triple every pricing and macro
    dashboard publishes: Laspeyres Σp_t·q₀/Σp₀·q₀ (base-weighted —
    overstates inflation when buyers substitute away), Paasche
    Σp_t·q_t/Σp₀·q_t (current-weighted — understates it), Fisher the
    geometric ideal between.  Per (part, year), unit price is revenue
    / quantity; only parts present in the base year enter (matched-
    model indices — the standard censoring, n_parts makes it visible).

    Exactness: per-cell revenue and quantity are exact BIGINTs; each
    cross-term p_t·q₀ = rev_t/q_t·q₀ snaps to an exact cent BIGINT
    BEFORE the year sum (reduction-order-free); the index is one float
    division per year, Fisher one sqrt.  One (part,year) rollup + a
    broadcast-scale base-year join; everything after is year-bounded.
    """
    li = load_table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.year("l_shipdate").cast("long").alias("yr"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("rev"),
    )
    y0 = py.agg(F.min("yr").cast("long").alias("base_yr"))
    base = (
        py.crossJoin(F.broadcast(y0))
        .where(F.col("yr") == F.col("base_yr"))
        .select("pk", F.col("q").alias("q0"), F.col("rev").alias("rev0"))
    )
    joined = (
        py.crossJoin(F.broadcast(y0))
        .where(F.col("yr") > F.col("base_yr"))
        .join(base, "pk")
    )
    terms = joined.groupBy("yr").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(
            F.round(
                F.col("rev").cast("double") / F.col("q") * F.col("q0")
            ).cast("long")
        )
        .cast("long")
        .alias("pt_q0"),
        F.sum("rev0").cast("long").alias("p0_q0"),
        F.sum("rev").cast("long").alias("pt_qt"),
        F.sum(
            F.round(
                F.col("rev0").cast("double") / F.col("q0") * F.col("q")
            ).cast("long")
        )
        .cast("long")
        .alias("p0_qt"),
    )
    lasp = F.col("pt_q0").cast("double") / F.col("p0_q0")
    paas = F.col("pt_qt").cast("double") / F.col("p0_qt")
    return terms.select(
        F.col("yr").alias("year"),
        "n_parts",
        f6(lasp).alias("laspeyres"),
        f6(paas).alias("paasche"),
        f6(F.sqrt(lasp * paas)).alias("fisher"),
    ).orderBy("year")


@register(
    "q_newsvendor",
    """
    WITH daily AS (
        SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS day,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS dem
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT brand, dem,
               CAST(row_number() OVER (PARTITION BY brand
                                       ORDER BY dem, day) AS BIGINT) AS i,
               CAST(count(*) OVER (PARTITION BY brand) AS BIGINT) AS n
        FROM daily
    ),
    qstar AS (
        SELECT brand, CAST(max(n) AS BIGINT) AS n_days,
               CAST(max(CASE WHEN i = (3 * n + 3) // 4 THEN dem END)
                    AS BIGINT) AS q_star,
               CAST(round(sum(dem) * 1.0 / max(n)) AS BIGINT) AS q_mean
        FROM ranked GROUP BY brand
    ),
    cost AS (
        SELECT q.brand, q.n_days, q.q_star, q.q_mean,
               CAST(sum(3 * greatest(d.dem - q.q_star, 0)
                        + greatest(q.q_star - d.dem, 0)) AS BIGINT)
                   AS cost_qstar,
               CAST(sum(3 * greatest(d.dem - q.q_mean, 0)
                        + greatest(q.q_mean - d.dem, 0)) AS BIGINT)
                   AS cost_mean
        FROM qstar q JOIN daily d ON d.brand = q.brand
        GROUP BY 1, 2, 3, 4
    )
    SELECT brand, n_days, q_star, q_mean, cost_qstar, cost_mean,
           CAST(cost_mean - cost_qstar AS BIGINT) AS savings_units
    FROM cost ORDER BY brand
    """,
)
def q_newsvendor(spark, sf_dir):
    """Newsvendor stocking decision per brand — OPTIMIZATION on top of
    the census keys: with underage cost 3× overage (lost margin vs
    holding), the optimal stock is the critical fractile q* =
    F⁻¹(3/(3+1)) = the 75th-percentile day of demand — and the output
    PROVES it beats the intuitive stock-the-mean policy by replaying
    both against every observed day (empirical cost in exact units:
    3·shortage + 1·excess).  Mean-stocking loses precisely because
    demand is right-skewed and the loss is asymmetric — the classic
    inventory lesson, here as a checkable query.

    The fractile is a RANK-BASED order statistic (⌈3(n+… )/4⌉ via
    integer arithmetic, day tiebreak — never engine quantile
    interpolation); demand, both policy costs, and the savings are
    exact BIGINTs.  One (brand, day) rollup, one per-brand ranking
    window, one cost-replay join — all brand-keyed shuffles.
    """
    li, part = tables(spark, sf_dir, "lineitem", "part")
    daily = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.to_date("l_shipdate").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("dem"))
    )
    w = Window.partitionBy("brand").orderBy("dem", "day")
    wn = Window.partitionBy("brand")
    ranked = daily.select(
        "brand",
        "dem",
        F.row_number().over(w).cast("long").alias("i"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    qstar = ranked.groupBy("brand").agg(
        F.max("n").cast("long").alias("n_days"),
        F.max(
            F.when(
                F.col("i") == F.floor((3 * F.col("n") + 3) / 4), F.col("dem")
            )
        )
        .cast("long")
        .alias("q_star"),
        F.round(F.sum("dem") * 1.0 / F.max("n"))
        .cast("long")
        .alias("q_mean"),
    )
    cost = (
        qstar.join(daily, "brand")
        .groupBy("brand", "n_days", "q_star", "q_mean")
        .agg(
            F.sum(
                3 * F.greatest(F.col("dem") - F.col("q_star"), F.lit(0))
                + F.greatest(F.col("q_star") - F.col("dem"), F.lit(0))
            )
            .cast("long")
            .alias("cost_qstar"),
            F.sum(
                3 * F.greatest(F.col("dem") - F.col("q_mean"), F.lit(0))
                + F.greatest(F.col("q_mean") - F.col("dem"), F.lit(0))
            )
            .cast("long")
            .alias("cost_mean"),
        )
    )
    return cost.select(
        "brand",
        "n_days",
        "q_star",
        "q_mean",
        "cost_qstar",
        "cost_mean",
        (F.col("cost_mean") - F.col("cost_qstar"))
        .cast("long")
        .alias("savings_units"),
    ).orderBy("brand")


@register(
    "q_economic_order_qty",
    """
    WITH dem AS (
        SELECT p.p_brand AS brand,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d_units,
               CAST(count(DISTINCT CAST(l.l_shipdate AS DATE)) AS BIGINT)
                   AS n_days,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    )
    SELECT brand, d_units, n_days,
           round(sqrt(2.0 * d_units * 7500.0
                      / ((CAST(rev_cents AS DOUBLE) / d_units) * 0.2)),
                 6) + 0 AS eoq_units,
           round(d_units
                 / sqrt(2.0 * d_units * 7500.0
                        / ((CAST(rev_cents AS DOUBLE) / d_units) * 0.2)),
                 6) + 0 AS orders_per_period,
           round(sqrt(2.0 * d_units * 7500.0
                      * ((CAST(rev_cents AS DOUBLE) / d_units) * 0.2))
                 / 100.0, 4) + 0 AS total_cost_usd
    FROM dem ORDER BY brand
    """,
)
def q_economic_order_qty(spark, sf_dir):
    """Economic order quantity per brand — the ORDER-SIZING decision
    beside q_newsvendor's stock-sizing: EOQ = √(2DS/H) with demand D
    observed, fixed order cost S = $75 (7500 cents, shared literal),
    and holding cost H = 20% of the brand's observed average unit
    price — so the answer adapts to each brand's price point from the
    same scan that measures its demand.  Also reports the implied
    order cadence D/EOQ and the classic minimum total cost √(2DSH)
    (at the optimum, ordering and holding costs are equal — the
    square-root law every inventory system inherits).

    One fact-dim rollup is the whole data-scale plan (broadcast part
    dim, map-side-combined sums); D, day counts, and revenue are exact
    BIGINTs and each output is one shared float association of them.
    """
    li, part = tables(spark, sf_dir, "lineitem", "part")
    dem = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("d_units"),
            F.countDistinct(F.to_date("l_shipdate"))
            .cast("long")
            .alias("n_days"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
        )
    )
    unit_h = (F.col("rev_cents").cast("double") / F.col("d_units")) * 0.2
    eoq = F.sqrt(2.0 * F.col("d_units") * 7500.0 / unit_h)
    return dem.select(
        "brand",
        "d_units",
        "n_days",
        f6(eoq).alias("eoq_units"),
        f6(F.col("d_units") / eoq).alias("orders_per_period"),
        (
            F.round(
                F.sqrt(2.0 * F.col("d_units") * 7500.0 * unit_h) / 100.0,
                4,
            )
            + 0.0
        ).alias("total_cost_usd"),
    ).orderBy("brand")


@register(
    "q_customer_equity",
    """
    WITH per_cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               CAST(count(DISTINCT year(o.o_orderdate)) AS BIGINT)
                   AS n_years,
               CAST(max(year(o.o_orderdate))
                    - min(year(o.o_orderdate)) + 1 AS BIGINT) AS span
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    seg AS (
        SELECT segment,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(cents) AS BIGINT) AS cents,
               CAST(sum(n_years) AS BIGINT) AS active_years,
               CAST(sum(span) AS BIGINT) AS span_years
        FROM per_cust GROUP BY segment
    )
    SELECT segment, n_cust,
           round(CAST(cents AS DOUBLE) / active_years / 100.0, 2) + 0.0
               AS margin_per_active_year_usd,
           round(CAST(active_years AS DOUBLE) / span_years, 6) + 0
               AS retention,
           round((CAST(cents AS DOUBLE) / active_years / 100.0)
                 * (CAST(active_years AS DOUBLE) / span_years)
                 / (1.0 + 0.1
                    - CAST(active_years AS DOUBLE) / span_years),
                 2) + 0.0 AS clv_usd,
           round((CAST(cents AS DOUBLE) / active_years / 100.0)
                 * (CAST(active_years AS DOUBLE) / span_years)
                 / (1.0 + 0.1
                    - CAST(active_years AS DOUBLE) / span_years)
                 * n_cust / 1e6, 4) + 0.0 AS segment_equity_musd
    FROM seg ORDER BY segment
    """,
)
def q_customer_equity(spark, sf_dir):
    """Customer equity by the geometric-retention CLV model (the
    margin·r/(1+d−r) formula of the CLV literature — public): per
    market segment, annual margin per ACTIVE customer-year, retention
    estimated as active-years / spanned-years (the fraction of years
    a customer who appeared kept appearing), a 10% discount literal,
    and the per-customer CLV rolled up to SEGMENT EQUITY in $M — the
    number that prices an acquisition channel, connecting the cohort
    keys (q_cohort_ltv measures realized value; this PROJECTS forward
    under the retention model, assumptions visible as literals).

    One fact-dim rollup per customer then per segment — exact BIGINT
    cents/years all the way; each output is one shared float
    association (the geometric-series sum is closed-form — no
    iteration, no horizon truncation).
    """
    orders, customer = tables(spark, sf_dir, "orders", "customer")
    per_cust = (
        orders.join(
            F.broadcast(customer),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"), "o_custkey"
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.countDistinct(F.year("o_orderdate"))
            .cast("long")
            .alias("n_years"),
            (
                F.max(F.year("o_orderdate"))
                - F.min(F.year("o_orderdate"))
                + 1
            )
            .cast("long")
            .alias("span"),
        )
    )
    seg = per_cust.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_cust"),
        F.sum("cents").cast("long").alias("cents"),
        F.sum("n_years").cast("long").alias("active_years"),
        F.sum("span").cast("long").alias("span_years"),
    )
    m = F.col("cents").cast("double") / F.col("active_years") / 100.0
    r = F.col("active_years").cast("double") / F.col("span_years")
    clv = m * r / (1.0 + 0.1 - r)
    return seg.select(
        "segment",
        "n_cust",
        (F.round(m, 2) + 0.0).alias("margin_per_active_year_usd"),
        f6(r).alias("retention"),
        (F.round(clv, 2) + 0.0).alias("clv_usd"),
        (F.round(clv * F.col("n_cust") / 1e6, 4) + 0.0).alias(
            "segment_equity_musd"
        ),
    ).orderBy("segment")


@register(
    "q_serial_returners",
    """
    WITH per_cust AS (
        SELECT o.o_custkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returns
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey
    ),
    scored AS (
        SELECT o_custkey, n_lines, n_returns,
               round(CAST(n_returns AS DOUBLE) / n_lines, 6) + 0
                   AS raw_rate,
               round((n_returns + 2.0) / (n_lines + 8.0), 6) + 0
                   AS shrunk_rate
        FROM per_cust WHERE n_lines >= 5
    )
    SELECT o_custkey AS custkey, n_lines, n_returns, raw_rate,
           shrunk_rate
    FROM scored
    ORDER BY shrunk_rate DESC, custkey
    LIMIT 25
    """,
)
def q_serial_returners(spark, sf_dir):
    """Serial-returner watchlist — a DECISION LIST, not a census: rank
    customers by return rate with Beta(2,6) empirical-prior shrinkage
    ((k+2)/(n+8) — prior mean 25%, prior weight 8 lines), so a
    2-of-3 returner does NOT outrank a 20-of-40 one the way the raw
    rate would (the small-sample leaderboard bug every abuse queue
    ships first, fixed the a_beta_binomial/r_wilson_lcb way); a
    5-line activity floor drops one-off noise.  Raw and shrunk rates
    sit side by side so the re-ranking is auditable.

    One fact join + per-customer fold, exact BIGINT counts, one float
    division each; the top-25 is TakeOrderedAndProject with a custkey
    tiebreak.
    """
    li, orders = tables(spark, sf_dir, "lineitem", "orders")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_returns"),
        )
        .where(F.col("n_lines") >= 5)
    )
    return (
        per_cust.select(
            F.col("o_custkey").alias("custkey"),
            "n_lines",
            "n_returns",
            f6(F.col("n_returns").cast("double") / F.col("n_lines")).alias(
                "raw_rate"
            ),
            f6(
                (F.col("n_returns") + 2.0) / (F.col("n_lines") + 8.0)
            ).alias("shrunk_rate"),
        )
        .orderBy(F.col("shrunk_rate").desc(), "custkey")
        .limit(25)
    )


@register(
    "q_mix_variance",
    """
    WITH yr AS (
        SELECT p.p_brand AS brand,
               CAST(year(l.l_shipdate) AS BIGINT) AS y,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE year(l.l_shipdate) IN (1996, 1997)
        GROUP BY 1, 2
    ),
    w AS (
        SELECT brand,
               max(CASE WHEN y = 1996 THEN q END) AS q0,
               max(CASE WHEN y = 1997 THEN q END) AS q1,
               max(CASE WHEN y = 1996 THEN rev END) AS r0,
               max(CASE WHEN y = 1997 THEN rev END) AS r1
        FROM yr GROUP BY brand
        HAVING max(CASE WHEN y = 1996 THEN q END) IS NOT NULL
           AND max(CASE WHEN y = 1997 THEN q END) IS NOT NULL
    ),
    tot AS (
        SELECT CAST(sum(q0) AS BIGINT) AS tq0,
               CAST(sum(q1) AS BIGINT) AS tq1
        FROM w
    ),
    terms AS (
        SELECT w.brand, w.q0, w.q1, w.r0, w.r1, t.tq0, t.tq1,
               CAST(round((CAST(w.q1 AS DOUBLE) - CAST(w.q0 AS DOUBLE)
                           * t.tq1 / t.tq0)
                          * (CAST(w.r0 AS DOUBLE) / w.q0)) AS BIGINT)
                   AS mix_c,
               CAST(round(CAST(w.q0 AS DOUBLE) * (t.tq1 - t.tq0) / t.tq0
                          * (CAST(w.r0 AS DOUBLE) / w.q0)) AS BIGINT)
                   AS vol_c,
               CAST(round((CAST(w.r1 AS DOUBLE) / w.q1
                           - CAST(w.r0 AS DOUBLE) / w.q0) * w.q1)
                    AS BIGINT) AS rate_c
        FROM w CROSS JOIN tot t
    )
    SELECT brand,
           round((r1 - r0) / 100.0, 2) + 0.0 AS delta_rev_usd,
           round(vol_c / 100.0, 2) + 0.0 AS volume_effect_usd,
           round(mix_c / 100.0, 2) + 0.0 AS mix_effect_usd,
           round(rate_c / 100.0, 2) + 0.0 AS rate_effect_usd,
           round((r1 - r0 - vol_c - mix_c - rate_c) / 100.0, 2) + 0.0
               AS residual_usd
    FROM terms ORDER BY brand
    """,
)
def q_mix_variance(spark, sf_dir):
    """Rate / mix / volume variance — the three-way FP&A bridge
    q_price_volume_bridge's two-way stops short of: year-over-year
    revenue change per brand decomposes into VOLUME (the brand rode
    total demand), MIX (the brand gained or lost SHARE of that
    demand, valued at old unit price), and RATE (unit price moved,
    valued at new volume), with the interaction residual printed
    rather than smeared — the decomposition finance reviews insist
    on because 'revenue grew' means completely different actions
    depending on which lever moved.

    Per-brand cents/quantities are exact BIGINTs from one rollup;
    each effect snaps to cent BIGINTs at the brand level so the
    decomposition identity (Δrev = vol + mix + rate + residual)
    holds in EXACT cents per row — auditable by addition.
    """
    li, part = tables(spark, sf_dir, "lineitem", "part")
    yr = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(F.year("l_shipdate").isin(1996, 1997))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("long").alias("y"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("q"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev"),
        )
    )
    w = (
        yr.groupBy("brand")
        .agg(
            F.max(F.when(F.col("y") == 1996, F.col("q"))).alias("q0"),
            F.max(F.when(F.col("y") == 1997, F.col("q"))).alias("q1"),
            F.max(F.when(F.col("y") == 1996, F.col("rev"))).alias("r0"),
            F.max(F.when(F.col("y") == 1997, F.col("rev"))).alias("r1"),
        )
        .where(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    tot = w.agg(
        F.sum("q0").cast("long").alias("tq0"),
        F.sum("q1").cast("long").alias("tq1"),
    )
    j = w.crossJoin(F.broadcast(tot))
    p0 = F.col("r0").cast("double") / F.col("q0")
    mix_c = F.round(
        (
            F.col("q1").cast("double")
            - F.col("q0").cast("double") * F.col("tq1") / F.col("tq0")
        )
        * p0
    ).cast("long")
    vol_c = F.round(
        F.col("q0").cast("double")
        * (F.col("tq1") - F.col("tq0"))
        / F.col("tq0")
        * p0
    ).cast("long")
    rate_c = F.round(
        (
            F.col("r1").cast("double") / F.col("q1")
            - F.col("r0").cast("double") / F.col("q0")
        )
        * F.col("q1")
    ).cast("long")
    return j.select(
        "brand",
        (F.round((F.col("r1") - F.col("r0")) / 100.0, 2) + 0.0).alias(
            "delta_rev_usd"
        ),
        (F.round(vol_c / 100.0, 2) + 0.0).alias("volume_effect_usd"),
        (F.round(mix_c / 100.0, 2) + 0.0).alias("mix_effect_usd"),
        (F.round(rate_c / 100.0, 2) + 0.0).alias("rate_effect_usd"),
        (
            F.round(
                (F.col("r1") - F.col("r0") - vol_c - mix_c - rate_c)
                / 100.0,
                2,
            )
            + 0.0
        ).alias("residual_usd"),
    ).orderBy("brand")


_SPEND_BAND_SQL = """
        CASE WHEN score_cents < 50000000 THEN 0
             WHEN score_cents < 100000000 THEN 1
             WHEN score_cents < 150000000 THEN 2
             WHEN score_cents < 200000000 THEN 3
             WHEN score_cents < 250000000 THEN 4
             WHEN score_cents < 300000000 THEN 5
             ELSE 6 END
"""


@register(
    "q_spend_band_lift",
    f"""
    WITH score AS (
        SELECT o_custkey AS c,
               CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS score_cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY 1
    ),
    outcome AS (
        SELECT o_custkey AS c,
               CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS out_cents
        FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        GROUP BY 1
    ),
    banded AS (
        SELECT s.c, s.score_cents, coalesce(o.out_cents, 0) AS out_cents,
               CAST({_SPEND_BAND_SQL} AS BIGINT) AS band
        FROM score s LEFT JOIN outcome o ON o.c = s.c
    ),
    agg AS (
        SELECT band, CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(score_cents) AS BIGINT) AS score_cents,
               CAST(sum(out_cents) AS BIGINT) AS outcome_cents
        FROM banded GROUP BY band
    ),
    tot AS (
        SELECT CAST(sum(n_cust) AS BIGINT) AS tc,
               CAST(sum(outcome_cents) AS BIGINT) AS toc
        FROM agg
    ),
    cum AS (
        SELECT a.band,
               CAST(sum(b.n_cust) AS BIGINT) AS cum_cust,
               CAST(sum(b.outcome_cents) AS BIGINT) AS cum_outcome
        FROM agg a JOIN agg b ON b.band >= a.band
        GROUP BY a.band
    )
    SELECT a.band, a.n_cust, a.score_cents, a.outcome_cents,
           CAST((1000000 * c.cum_outcome) // t.toc AS BIGINT)
               AS cum_capture_ppm,
           CAST((1000000 * c.cum_cust) // t.tc AS BIGINT) AS cum_cust_ppm
    FROM agg a JOIN cum c ON c.band = a.band CROSS JOIN tot t
    ORDER BY a.band
    """,
)
def q_spend_band_lift(spark, sf_dir):
    """Gains/lift table by spend band — the campaign-targeting analysis
    behind 'mail the top spenders': customers are scored by their
    pre-1999 revenue, banded into 7 FIXED exact-cents bands (cuts picked
    from measured fixture quantiles), and each band reports its share of
    post-1999 revenue captured by targeting that band AND ABOVE
    (cum_capture_ppm) against the share of customers contacted
    (cum_cust_ppm) — the two columns whose ratio is the lift curve.
    Customers with no outcome orders count 0 (LEFT JOIN); customers with
    no score-period orders are untargetable and excluded by definition.

    Fixed exact bands instead of ntile(10) deliberately: a global decile
    needs a partitionless total-order window over EVERY customer (the
    plan shape the window tripwire exists to catch — single-partition
    sort of a data-scale axis); banding is a stateless CASE on exact
    BIGINT cents, the band axis is bounded (7 rows) forever, and the
    cumulative sweep is a bounded 7x7 band self-join. At 100 TB real
    decile systems do the same thing: fixed boundaries from a quantile
    sketch, then stateless assignment.

    Exactness: cents snapped per order before summing; captures are
    exact BIGINT integer division to ppm — no float anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cut = F.lit("1999-01-01").cast("timestamp")
    score = (
        orders.where(F.col("o_orderdate") < cut)
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(F.sum(cents).cast("long").alias("score_cents"))
    )
    outcome = (
        orders.where(F.col("o_orderdate") >= cut)
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(F.sum(cents).cast("long").alias("out_cents"))
    )
    banded = (
        score.join(outcome, "c", "left")
        .select(
            "c",
            "score_cents",
            F.coalesce(F.col("out_cents"), F.lit(0)).alias("out_cents"),
            F.expr(f"CAST({_SPEND_BAND_SQL} AS BIGINT)").alias("band"),
        )
    )
    agg = banded.groupBy("band").agg(
        F.count("*").cast("long").alias("n_cust"),
        F.sum("score_cents").cast("long").alias("score_cents"),
        F.sum("out_cents").cast("long").alias("outcome_cents"),
    )
    tot = agg.agg(
        F.sum("n_cust").cast("long").alias("tc"),
        F.sum("outcome_cents").cast("long").alias("toc"),
    )
    a = agg.alias("a")
    b = agg.select(
        F.col("band").alias("b_band"),
        F.col("n_cust").alias("b_n"),
        F.col("outcome_cents").alias("b_out"),
    )
    cum = (
        a.join(b, F.col("b_band") >= F.col("a.band"))
        .groupBy(F.col("a.band").alias("c_band"))
        .agg(
            F.sum("b_n").cast("long").alias("cum_cust"),
            F.sum("b_out").cast("long").alias("cum_outcome"),
        )
    )
    return (
        agg.join(cum, agg.band == cum.c_band)
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_cust",
            "score_cents",
            "outcome_cents",
            F.expr("CAST((1000000 * cum_outcome) DIV toc AS BIGINT)").alias(
                "cum_capture_ppm"
            ),
            F.expr("CAST((1000000 * cum_cust) DIV tc AS BIGINT)").alias(
                "cum_cust_ppm"
            ),
        )
        .orderBy("band")
    )


@register(
    "q_fair_waterline",
    """
    WITH dem AS (
        SELECT n.n_name AS nation,
               CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS d
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    ),
    cap AS (SELECT sum(d) * 4 // 5 AS cc, CAST(count(*) AS BIGINT) AS n
            FROM dem),
    sorted AS (
        SELECT nation, d,
               row_number() OVER (ORDER BY d, nation) AS k,
               sum(d) OVER (ORDER BY d, nation
                            ROWS UNBOUNDED PRECEDING) AS pre
        FROM dem
    ),
    seg AS (
        -- smallest k whose waterline candidate clears every demand at or
        -- below it: w lives in the segment after the last fully-served
        -- demand. feasible(k) <=> pre_k + (n - k) * d_k >= C
        SELECT min(k) AS k FROM sorted, cap
        WHERE pre + (cap.n - k) * d >= cap.cc
    ),
    wl AS (
        SELECT (cap.cc - coalesce(p.pre, 0)) * 1.0 / (cap.n - seg.k + 1)
                   AS w
        FROM seg CROSS JOIN cap
        LEFT JOIN sorted p ON p.k = seg.k - 1
    )
    SELECT s.nation,
           round(s.d / 100.0, 2) + 0 AS demand,
           round(CASE WHEN s.d <= wl.w THEN s.d ELSE wl.w END / 100.0, 2)
               + 0 AS allocated,
           CASE WHEN s.d > wl.w THEN 1 ELSE 0 END AS capped,
           round(wl.w / 100.0, 2) + 0 AS waterline
    FROM sorted s CROSS JOIN wl
    ORDER BY s.nation
    """,
)
def q_fair_waterline(spark, sf_dir):
    """Max-min fair allocation (progressive filling / water-filling):
    25 nations demand their revenue volume, capacity is a scarce 80%
    of total, and the waterline w is the unique level where serving
    min(demand, w) to everyone exactly exhausts capacity — small
    demands are fully served, large ones are capped AT THE SAME w
    (the fairness property: no capped nation gets less than any other
    capped nation).  This is the allocation rule inside cluster
    schedulers (YARN/Kubernetes dominant-resource fairness degenerates
    to this in one dimension), bandwidth sharing, and rationed
    budgets.

    The segment search is closed-form on the sorted demand axis:
    feasibility pre_k + (n-k)*d_k >= C is monotone in k, so min(k)
    locates the segment and w = (C - pre_{k-1}) / (n-k+1) — integer
    cents everywhere until the final division.  pytest pins the
    defining identities: sum(allocated) == capacity (to the cent,
    modulo display rounding), uncapped nations get their full demand,
    and every capped nation gets exactly w.

    Scale: demand rollup is the only data-sized shuffle; the sorted
    prefix window runs on the 25-nation axis (whitelisted bounded
    axis — at a 100M-key grain you'd range-partition the prefix sums,
    the a_gini recipe).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    dem = (
        orders.join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(nat, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("d")
        )
    )
    cap = dem.agg(
        F.expr("sum(d) * 4 div 5").cast("long").alias("cc"),
        F.count("*").cast("long").alias("n"),
    )
    w_ord = Window.orderBy("d", "nation")
    sorted_ = dem.select(
        "nation",
        "d",
        F.row_number().over(w_ord).alias("k"),
        F.sum("d").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "pre"
        ),
    )
    seg = (
        sorted_.crossJoin(F.broadcast(cap))
        .where(
            F.col("pre") + (F.col("n") - F.col("k")) * F.col("d")
            >= F.col("cc")
        )
        .agg(F.min("k").alias("k"))
    )
    prev = sorted_.select(F.col("k").alias("pk"), F.col("pre").alias("ppre"))
    wl = (
        seg.crossJoin(F.broadcast(cap))
        .join(prev, F.col("pk") == F.col("k") - 1, "left")
        .select(
            (
                (F.col("cc") - F.coalesce(F.col("ppre"), F.lit(0)))
                * 1.0
                / (F.col("n") - F.col("k") + 1)
            ).alias("w")
        )
    )
    alloc = F.when(F.col("d") <= F.col("w"), F.col("d")).otherwise(F.col("w"))
    return (
        sorted_.crossJoin(F.broadcast(wl))
        .select(
            "nation",
            (F.round(F.col("d") / 100.0, 2) + 0).alias("demand"),
            (F.round(alloc / 100.0, 2) + 0).alias("allocated"),
            F.when(F.col("d") > F.col("w"), 1).otherwise(0).alias("capped"),
            (F.round(F.col("w") / 100.0, 2) + 0).alias("waterline"),
        )
        .orderBy("nation")
    )
