"""§2.5 Window functions.

Every ordering ends in a unique key (event_id / o_orderkey) → deterministic
results under the driver's value-hash compare. Integral window outputs are
cast to BIGINT to match DuckDB's types.

Scale: window partitions here are user_id (150+ keys) or mktsegment; a
window = one shuffle on the partition key + per-partition sort. Spark 3.5+
rewrites rank<=k filters into WindowGroupLimit (asserted in tests) so top-k
per group never materializes full partitions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import f6, load_table, money2, tables

def _wby_user():
    # Built lazily: Window construction needs an active SparkContext.
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


@register(
    "w_row_number",
    """
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
    """,
)
def w_row_number(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id", "event_id", F.row_number().over(_wby_user()).cast("long").alias("rn")
    )


@register(
    "w_rank_dense",
    """
    SELECT o.o_orderkey,
           rank()       OVER (PARTITION BY c.c_mktsegment ORDER BY o.o_totalprice DESC) AS rnk,
           dense_rank() OVER (PARTITION BY c.c_mktsegment ORDER BY o.o_totalprice DESC) AS drnk
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def w_rank_dense(spark, sf_dir):
    orders, cust = tables(spark, sf_dir, "orders", "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc())
    return j.select(
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@register(
    "w_ntile",
    """
    SELECT o_orderkey, ntile(4) OVER (ORDER BY o_orderkey) AS tile
    FROM orders
    """,
)
def w_ntile(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    return orders.select("o_orderkey", F.ntile(4).over(w).cast("long").alias("tile"))


@register(
    "w_lag_lead",
    """
    SELECT event_id,
           lag(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
    """,
)
def w_lag_lead(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        F.lag("event_id").over(_wby_user()).alias("prev_id"),
        F.lead("event_id").over(_wby_user()).alias("next_id"),
        (us - F.lag(us).over(_wby_user())).alias("gap_us"),
    )


@register(
    "w_running_sum",
    """
    SELECT event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
    FROM events
    """,
)
def w_running_sum(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = _wby_user().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select("event_id", f6(F.sum("value").over(w)).alias("running_value"))


@register(
    "w_moving_avg",
    """
    SELECT event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg
    FROM events
    """,
)
def w_moving_avg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = _wby_user().rowsBetween(-2, Window.currentRow)
    return ev.select("event_id", f6(F.avg("value").over(w)).alias("mov_avg"))


@register(
    "w_range_frame",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total,
           round(sum(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                                         RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW), 2) AS near_sum
    FROM orders
    """,
)
def w_range_frame(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        money2(F.col("o_totalprice")).alias("total"),
        money2(F.sum("o_totalprice").over(w)).alias("near_sum"),
    )


@register(
    "w_first_last",
    """
    SELECT DISTINCT user_id,
           first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_id,
           last_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_id
    FROM events
    """,
)
def w_first_last(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = _wby_user().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        F.first("event_id").over(w).alias("first_id"),
        F.last("event_id").over(w).alias("last_id"),
    ).distinct()


@register(
    "w_pct_rank",
    """
    SELECT o.o_orderkey,
           round(percent_rank() OVER (PARTITION BY c.c_mktsegment ORDER BY o.o_totalprice), 6) AS pr,
           round(cume_dist()    OVER (PARTITION BY c.c_mktsegment ORDER BY o.o_totalprice), 6) AS cd
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def w_pct_rank(spark, sf_dir):
    orders, cust = tables(spark, sf_dir, "orders", "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy("o_totalprice")
    return j.select(
        "o_orderkey",
        f6(F.percent_rank().over(w)).alias("pr"),
        f6(F.cume_dist().over(w)).alias("cd"),
    )


@register(
    "w_topk_group",
    """
    SELECT p_brand, p_partkey, revenue, rn FROM (
        SELECT p_brand, p_partkey, revenue,
               row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rn
        FROM (
            SELECT p.p_brand, p.p_partkey,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand, p.p_partkey
        )
    ) WHERE rn <= 3
    """,
)
def w_topk_group(spark, sf_dir):
    li, part = tables(spark, sf_dir, "lineitem", "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(money2(F.sum(rev)).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("p_partkey"))
    return (
        per_part.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rn")
    )


@register(
    "w_sessionize",
    """
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id))
                            > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id, CAST(sid AS BIGINT) AS sid,
           min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS span_us
    FROM s GROUP BY user_id, sid
    """,
)
def w_sessionize(spark, sf_dir):
    """Batch sessionization: lag-gap -> cumulative-sum session ids, then a
    per-session rollup (the classic two-window + groupBy plan, the batch
    counterpart of the streaming session_window in st_session).

    Plan shape: both window functions and the final groupBy share the
    user_id hash partitioning, so the whole pipeline is ONE shuffle — the
    sort within each user partition is reused by lag and the running sum
    (Spark collapses same-spec windows into one Window exec). Gap compares
    are done in integer microseconds (events ts is us-aligned), so the
    strict >30 min test is engine-exact. event_id breaks (user_id, ts)
    ordering ties so session assignment is deterministic.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.unix_micros(F.lag("ts").over(w))
    brk = F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
    sess = ev.withColumn(
        "sid",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.count("*").cast("long").alias("n_events"),
        (F.max(us) - F.min(us)).cast("long").alias("span_us"),
    )


@register(
    "w_gap_fill",
    """
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM events WHERE user_id < 40 GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
    spine AS (SELECT user_id, d0,
                     unnest(range(0, date_diff('day', d0, d1) + 1)) AS i
              FROM span),
    days AS (SELECT user_id, d0 + CAST(i AS INTEGER) AS day FROM spine)
    SELECT dy.user_id, dy.day, coalesce(dl.n, 0) AS n,
           CAST(CASE WHEN dl.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
    FROM days dy LEFT JOIN daily dl
      ON dl.user_id = dy.user_id AND dl.d = dy.day
    """,
)
def w_gap_fill(spark, sf_dir):
    """Time-series gap filling: per-user daily event counts with missing
    days zero-filled over each user's own [first, last] activity span —
    the densification step before any rolling-average / forecasting query.

    The date spine is generated DISTRIBUTED: sequence(d0, d1) explodes
    per user on whatever partitioning the span aggregate left (no driver
    loop, no cross join against a global calendar), then left-joins the
    daily counts back on (user, day). Spine size is bounded by the span,
    not the event count, so skewed users cost days, not events.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 40)
    daily = (
        ev.groupBy("user_id", F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    span = daily.groupBy("user_id").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    # the calendar frame descends from daily itself — alias its user_id
    # (g_uid) so the rejoin can't trip the trivially-true-equals lineage
    # warning (round-11 logcap tripwire).
    days = span.select(
        F.col("user_id").alias("g_uid"),
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    return (
        days.join(
            daily,
            (daily.user_id == F.col("g_uid")) & (daily.d == F.col("day")),
            "left",
        )
        .select(
            F.col("g_uid").alias("user_id"),
            "day",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.when(F.col("n").isNull(), 1).otherwise(0).cast("long").alias("is_gap"),
        )
    )


@register(
    "w_rolling_zscore",
    """
    WITH v AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE user_id < 20
    ),
    fr AS (
        SELECT user_id, event_id, cents,
               sum(cents) OVER w AS s,
               sum(cents * cents) OVER w AS ss,
               count(*) OVER w AS n
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           round(s * 1.0 / n / 100, 6) AS roll_mean,
           round(CASE WHEN n > 1 AND ss * n > s * s
                      THEN (cents - s * 1.0 / n)
                           / sqrt((ss - s * 1.0 / n * s) / (n - 1))
                 END, 6) + 0 AS z,
           CASE WHEN n > 1 AND ss * n > s * s
                     AND abs((cents - s * 1.0 / n)
                             / sqrt((ss - s * 1.0 / n * s) / (n - 1))) > 2.5
                THEN 1 ELSE 0 END AS is_anomaly
    FROM fr
    """,
)
def w_rolling_zscore(spark, sf_dir):
    """Rolling z-score anomaly detection: each event's value against the
    mean/stddev of its user's trailing 10-event frame — the streaming-less
    outlier primitive for metric monitoring.

    The frame sums run over exact BIGINT cents (sum and sum-of-squares),
    so both engines carry identical integers through the window and the
    variance/z expressions evaluate the same float arithmetic in the same
    association — deterministic before the 6dp round. One user_id shuffle;
    O(1) frame state per row (Spark's sliding-frame aggregation), never a
    per-row rescan. The ss*n > s*s guard skips zero-variance frames
    exactly (integer compare, no epsilon).
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    v = ev.select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    fr = v.select(
        "user_id", "event_id", "cents",
        F.sum("cents").over(w).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("ss"),
        F.count("*").over(w).alias("n"),
    )
    mean = F.col("s") * 1.0 / F.col("n")
    ok = (F.col("n") > 1) & (F.col("ss") * F.col("n") > F.col("s") * F.col("s"))
    z = (F.col("cents") - mean) / F.sqrt(
        (F.col("ss") - mean * F.col("s")) / (F.col("n") - 1)
    )
    return fr.select(
        "user_id", "event_id",
        F.round(mean / 100, 6).alias("roll_mean"),
        (F.round(F.when(ok, z), 6) + 0.0).alias("z"),
        F.when(ok & (F.abs(z) > 2.5), 1).otherwise(0).alias("is_anomaly"),
    )


# EWMA position weights (1-alpha)^j, alpha=0.3, j=0 newest .. 9 oldest,
# as exact double literals so both engines parse identical values instead
# of each computing pow(0.7, j) in its own libm.
_EWMA_W = [1.0, 0.7, 0.48999999999999994, 0.3429999999999999,
           0.24009999999999995, 0.16806999999999994, 0.11764899999999996,
           0.08235429999999996, 0.05764800999999997, 0.04035360699999998]


@register(
    "w_ewma",
    f"""
    WITH v AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE user_id < 20
    ),
    fr AS (
        SELECT user_id, event_id, cents,
               list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
        FROM v
    )
    SELECT user_id, event_id,
           round(
               list_sum(list_transform(range(1, len(l) + 1),
                   i -> l[i] * ([{", ".join(f"CAST({w!r} AS DOUBLE)" for w in _EWMA_W)}])[len(l) - i + 1]))
               / list_sum(list_transform(range(1, len(l) + 1),
                   i -> ([{", ".join(f"CAST({w!r} AS DOUBLE)" for w in _EWMA_W)}])[i]))
               / 100, 6) AS ewma
    FROM fr
    """,
)
def w_ewma(spark, sf_dir):
    """Exponentially weighted moving average (alpha=0.3, depth-10 frame)
    of each user's event values — the smoothing primitive pandas users
    reach for with .ewm(), expressed as a bounded-frame fold so it stays
    a single window pass (true recursive EWMA needs unbounded state).

    The frame's values collect IN FRAME ORDER (oldest first) and fold
    against PRE-COMPUTED weight literals — both engines parse the same
    decimals instead of calling their own pow(), and the products/sums run
    in identical index order, so the result is bit-identical before the
    6dp round. Exact BIGINT cents in, one user_id shuffle, O(frame) state.
    """
    # CAST each literal: a bare decimal literal parses as DECIMAL in Spark
    # SQL, silently switching the fold to decimal arithmetic.
    wlit = "array(" + ", ".join(f"CAST({w!r} AS DOUBLE)" for w in _EWMA_W) + ")"
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    v = ev.select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    fr = v.select(
        "user_id", "event_id",
        F.collect_list("cents").over(w).alias("l"),
    )
    num = F.expr(
        "aggregate(transform(l, (x, i) -> x * element_at(" + wlit + ", size(l) - i)),"
        " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    den = F.expr(
        "aggregate(slice(" + wlit + ", 1, size(l)),"
        " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    return fr.select(
        "user_id", "event_id",
        F.round(num / den / 100, 6).alias("ewma"),
    )


@register(
    "w_backfill_ffill",
    """
    WITH v AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'error' THEN NULL
                    ELSE CAST(round(value * 100) AS BIGINT) END AS cents
        FROM events WHERE user_id < 20
    )
    SELECT user_id, event_id, cents,
           last_value(cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill,
           CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS was_missing
    FROM v
    """,
)
def w_backfill_ffill(spark, sf_dir):
    """Forward-fill imputation: carry each user's last observed value
    across missing readings ('error' events stand in for sensor dropouts)
    — the densification twin of w_gap_fill for the VALUE column, and the
    standard last-observation-carried-forward feature transform.

    One user_id shuffle + sort; last_value(IGNORE NULLS) is O(1) running
    state per row (no self-join, no per-gap scan). Values carry as exact
    BIGINT cents; leading missings before a user's first observation stay
    NULL on both engines.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    v = ev.select(
        "user_id", "event_id", "ts",
        F.when(F.col("event_type") == "error", F.lit(None).cast("long"))
        .otherwise(F.round(F.col("value") * 100).cast("long"))
        .alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return v.select(
        "user_id", "event_id", "cents",
        F.last("cents", ignorenulls=True).over(w).alias("ffill"),
        F.when(F.col("cents").isNull(), 1).otherwise(0).alias("was_missing"),
    )


@register(
    "w_ohlc_bars",
    """
    WITH v AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE user_id < 50
    ),
    rn AS (
        SELECT user_id, day, cents,
               row_number() OVER (PARTITION BY user_id, day
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id, day
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM v
    )
    SELECT user_id, day,
           round(max(CASE WHEN rn_a = 1 THEN cents END) / 100.0, 2) AS open,
           round(max(cents) / 100.0, 2) AS high,
           round(min(cents) / 100.0, 2) AS low,
           round(max(CASE WHEN rn_d = 1 THEN cents END) / 100.0, 2) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(cents) / 100.0, 2) AS volume
    FROM rn GROUP BY user_id, day
    """,
)
def w_ohlc_bars(spark, sf_dir):
    """Time-bar aggregation: per-(user, day) OHLC candles over event values
    — the downsampling primitive behind any metric/market dashboard
    (open/close = first/last value in the bar, high/low = extrema,
    volume = bar sum).

    Values travel as exact BIGINT cents; open/close are picked by
    row_number over the deterministic (ts, event_id) order rather than
    first_value/arg_min so ties resolve identically in both engines. The
    two window specs and the final groupBy all share the (user_id, day)
    hash partitioning — ONE shuffle, two in-partition sorts (Spark keeps
    both Window execs in the same exchange). Bar count is bounded by
    users x days, never by event volume, so output stays small at any SF.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    v = ev.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wa = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rn = v.select(
        "user_id", "day", "cents",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return rn.groupBy("user_id", "day").agg(
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("cents"))) / 100.0, 2).alias("open"),
        F.round(F.max("cents") / 100.0, 2).alias("high"),
        F.round(F.min("cents") / 100.0, 2).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("cents"))) / 100.0, 2).alias("close"),
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("cents") / 100.0, 2).alias("volume"),
    )


@register(
    "w_ltv_deciles",
    """
    WITH spend AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    d AS (
        SELECT cents,
               ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
        FROM spend
    ),
    agg AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
               sum(cents) AS rev_cents
        FROM d GROUP BY decile
    )
    SELECT decile, n_customers,
           round(rev_cents / 100.0, 2) AS decile_revenue,
           round(rev_cents * 1.0 / sum(rev_cents) OVER (), 6) AS revenue_share,
           round(sum(rev_cents) OVER (ORDER BY decile)
                 * 1.0 / sum(rev_cents) OVER (), 6) AS cum_share
    FROM agg
    """,
)
def w_ltv_deciles(spark, sf_dir):
    """Customer-lifetime-value decile table with Lorenz cumulative shares —
    the concentration view (complement of a_gini's scalar) marketing uses
    to answer "what fraction of revenue do the top 10% drive?".

    Spend folds to exact cents per customer first (facts never reach the
    ntile), so the global sort ranks |customers| rows, not |orders|. The
    single-partition ntile is the honest fixture shape; at 100 TB the same
    decile assignment comes from approx_percentile boundary keys + a
    range-partitioned join, which the docstring-level plan swap keeps
    output-identical. The decile rollup and both frame sums run over 10
    rows — driver-free but trivially sized.
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    d = spend.select(
        "cents",
        F.ntile(10).over(Window.orderBy("cents", "o_custkey")).alias("decile"),
    )
    agg = d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").alias("rev_cents"),
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("decile")
    return agg.select(
        "decile", "n_customers",
        F.round(F.col("rev_cents") / 100.0, 2).alias("decile_revenue"),
        f6(F.col("rev_cents") * 1.0 / F.sum("rev_cents").over(w_all)).alias("revenue_share"),
        f6(
            F.sum("rev_cents").over(w_cum) * 1.0 / F.sum("rev_cents").over(w_all)
        ).alias("cum_share"),
    )


@register(
    "w_activity_islands",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grp AS (
        SELECT user_id, d,
               CAST(d AS DATE)
               - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS BIGINT) * INTERVAL 1 DAY AS anchor
        FROM days
    ),
    islands AS (
        SELECT user_id, min(d) AS start_day, max(d) AS end_day,
               CAST(count(*) AS BIGINT) AS len_days
        FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id, start_day, end_day, len_days
    FROM islands
    ORDER BY len_days DESC, user_id, start_day
    LIMIT 20
    """,
)
def w_activity_islands(spark, sf_dir):
    """Gaps-and-islands: each user's maximal runs of CONSECUTIVE active
    days, as (start, end, length) intervals — the classic SQL shape
    behind streak badges and engagement-contiguity features
    (w_streaks reports the max length; this ENUMERATES the intervals,
    which downstream joins need).

    The date-minus-row_number anchor trick: within one user ordering,
    consecutive days share a constant anchor, so islands fall out of a
    plain groupBy. Two exchanges by design: the (user, day) distinct
    shuffles WITH map-side partial dedup (raw events never cross the
    wire), then the deduped day pairs re-key to user_id for the window
    — and the island rollup rides that same clustering free. Day
    counts are exact; ordering ties break on (user, start).
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("anchor"),
    )
    return (
        grp.groupBy("user_id", "anchor")
        .agg(
            F.min("d").alias("start_day"),
            F.max("d").alias("end_day"),
            F.count("*").cast("long").alias("len_days"),
        )
        .select("user_id", "start_day", "end_day", "len_days")
        .orderBy(F.col("len_days").desc(), "user_id", "start_day")
        .limit(20)
    )


@register(
    "w_rank_movers",
    """
    WITH bm AS (
        SELECT p.p_brand AS brand, date_trunc('month', o.o_orderdate) AS mon,
               sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS rev4
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT brand, mon,
               CAST(rank() OVER (PARTITION BY mon
                                 ORDER BY rev4 DESC, brand) AS BIGINT) AS rnk
        FROM bm
    ),
    delta AS (
        SELECT brand, mon, rnk,
               lag(rnk) OVER (PARTITION BY brand ORDER BY mon) AS prev_rnk
        FROM ranked
    )
    SELECT brand, CAST(mon AS DATE) AS mon, rnk, prev_rnk,
           CAST(prev_rnk - rnk AS BIGINT) AS moved_up
    FROM delta
    WHERE prev_rnk IS NOT NULL AND prev_rnk <> rnk
    ORDER BY abs(prev_rnk - rnk) DESC, brand, mon
    LIMIT 25
    """,
)
def w_rank_movers(spark, sf_dir):
    """Rank-churn tracker: month-over-month revenue-rank movement per
    brand, biggest movers first — the 'movers and shakers' leaderboard
    that catches a brand climbing from #18 to #5 while absolute-revenue
    views (q_yoy_growth) still show it as small.

    Two window axes over the SAME brand-month aggregate: the per-month
    rank partitions by month, the per-brand lag partitions by brand —
    both run on the brands x months-bounded fold, so the fact-table
    cost is the one (brand, month) revenue shuffle. Ranks are exact
    integers (rank() with a brand tiebreak), so movement deltas carry
    no float risk anywhere.
    """
    li, part, orders = tables(spark, sf_dir, "lineitem", "part", "orders")
    bm = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
        )
        .agg(F.sum(_rev_exact_w()).alias("rev4"))
    )
    ranked = bm.select(
        "brand",
        "mon",
        F.rank()
        .over(Window.partitionBy("mon").orderBy(F.col("rev4").desc(), "brand"))
        .cast("long")
        .alias("rnk"),
    )
    delta = ranked.withColumn(
        "prev_rnk", F.lag("rnk").over(Window.partitionBy("brand").orderBy("mon"))
    )
    return (
        delta.where(F.col("prev_rnk").isNotNull() & (F.col("prev_rnk") != F.col("rnk")))
        .select(
            "brand",
            F.col("mon").cast("date").alias("mon"),
            "rnk",
            "prev_rnk",
            (F.col("prev_rnk") - F.col("rnk")).cast("long").alias("moved_up"),
        )
        .orderBy(F.abs(F.col("prev_rnk") - F.col("rnk")).desc(), "brand", "mon")
        .limit(25)
    )


def _rev_exact_w():
    """price-cents x discount-percent exact revenue units (tpch.py's
    _rev_exact, local copy to avoid a cross-module import of a private
    helper)."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round((1 - F.col("l_discount")) * 100).cast("long")
    return cents * disc


@register(
    "w_rsi",
    """
    WITH d AS (
        SELECT o_orderdate AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
        FROM orders GROUP BY 1
    ),
    dl AS (
        SELECT day, v,
               v - lag(v) OVER (ORDER BY day) AS delta,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
        FROM d
    ),
    fr AS (
        SELECT day, rn,
               sum(CASE WHEN delta > 0 THEN delta ELSE 0 END)
                   OVER (ORDER BY rn ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                   AS gain14,
               sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END)
                   OVER (ORDER BY rn ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                   AS loss14
        FROM dl
    )
    SELECT day, CAST(gain14 AS BIGINT) AS gain14,
           CAST(loss14 AS BIGINT) AS loss14,
           round(CASE WHEN loss14 = 0 THEN 100.0
                      ELSE 100.0 - 100.0 / (1 + gain14 * 1.0 / loss14)
                 END, 6) + 0 AS rsi
    FROM fr WHERE rn >= 15 ORDER BY day
    """,
)
def w_rsi(spark, sf_dir):
    """14-period RSI (relative strength index, SMA variant) over the
    daily-revenue series: up-moves vs down-moves inside a trailing
    14-day frame, RSI = 100 - 100/(1+gain/loss) — the momentum
    oscillator standard in trading dashboards, here reading 'revenue
    momentum' (w_max_drawdown reads risk; w_control_chart reads
    stability; this reads overbought/oversold swings). Wilder's
    original uses recursive smoothing; the SMA variant is the
    windowed-relational form with identical interpretation.

    Daily deltas are exact cents; gains/losses are conditional integer
    sums sharing ONE O(1)-state frame spec over the AGGREGATED daily
    axis (the fact scan folds first — the window never sees lineitems);
    the zero-loss guard pins RSI to 100 exactly, and only full frames
    emit (rn >= 15: 14 defined deltas). Single global sort over ~2.4k
    rows, downstream of one shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("v")
    )
    wd = Window.orderBy("day")
    dl = d.select(
        "day",
        (F.col("v") - F.lag("v").over(wd)).alias("delta"),
        F.row_number().over(wd).cast("long").alias("rn"),
    )
    fr14 = Window.orderBy("rn").rowsBetween(-13, Window.currentRow)
    fr = dl.select(
        "day",
        "rn",
        F.sum(F.when(F.col("delta") > 0, F.col("delta")).otherwise(0))
        .over(fr14)
        .alias("gain14"),
        F.sum(F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0))
        .over(fr14)
        .alias("loss14"),
    )
    return (
        fr.where(F.col("rn") >= 15)
        .select(
            "day",
            F.col("gain14").cast("long").alias("gain14"),
            F.col("loss14").cast("long").alias("loss14"),
            f6(
                F.when(F.col("loss14") == 0, F.lit(100.0)).otherwise(
                    100.0 - 100.0 / (1 + F.col("gain14") * 1.0 / F.col("loss14"))
                )
            ).alias("rsi"),
        )
        .orderBy("day")
    )


@register(
    "w_merge_intervals",
    """
    WITH iv AS (
        SELECT user_id, ts AS s,
               ts + to_minutes(CAST(1 + event_id % 20 AS BIGINT)) AS e,
               event_id
        FROM events
    ),
    marked AS (
        SELECT user_id, s, e, event_id,
               CASE WHEN s > max(e) OVER (PARTITION BY user_id
                                          ORDER BY s, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND 1 PRECEDING)
                    OR max(e) OVER (PARTITION BY user_id
                                    ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) IS NULL
                    THEN 1 ELSE 0 END AS new_grp
        FROM iv
    ),
    grp AS (
        SELECT user_id, s, e,
               sum(new_grp) OVER (PARTITION BY user_id
                                  ORDER BY s, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS gid
        FROM marked
    )
    SELECT user_id, CAST(gid AS BIGINT) AS merged_id,
           min(s) AS span_start, max(e) AS span_end,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(date_diff('second', min(s), max(e)) AS BIGINT)
               AS span_seconds
    FROM grp
    GROUP BY user_id, gid
    ORDER BY user_id, merged_id
    """,
)
def w_merge_intervals(spark, sf_dir):
    """Merge overlapping intervals per user — the RANGE twin of
    w_sessionize's point-gap islands: each event opens a span of
    1+event_id%20 minutes, and any spans that touch collapse into one
    consolidated span (visit windows, on-call coverage, maintenance
    windows — anywhere durations, not instants, must be unioned). The
    classic algorithm is a sweep: a span starts a NEW group iff its
    start exceeds the running MAX of all previous ends (max, not lag —
    an early long interval can swallow many later short ones, the bug
    in every naive lag-based merge); the group id is the running sum of
    those starts.

    Both windows and the final rollup share ONE user_id exchange (the
    w_sessionize plan argument verbatim); interval ends are exact
    timestamp arithmetic from integer minutes; ties order by (s,
    event_id). At 100 TB users are the parallelism unit and no span
    logic crosses them.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0, CAST(1 + event_id % 20"
            " AS INT), 0)"
        ).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_e = F.max("e").over(w_prev)
    marked = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
        ).otherwise(0).alias("new_grp"),
    )
    # gid cumulative sum orders by the SAME total order (s, event_id) the
    # new_grp window uses — ordering by (s, e) here could place a tying
    # new_grp=0 row on the wrong side of a group boundary in one engine.
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = marked.withColumn("gid", F.sum("new_grp").over(w_cum))
    return (
        grp.groupBy("user_id", F.col("gid").cast("long").alias("merged_id"))
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
            F.count("*").cast("long").alias("n_intervals"),
            (F.unix_timestamp(F.max("e")) - F.unix_timestamp(F.min("s")))
            .cast("long")
            .alias("span_seconds"),
        )
        .orderBy("user_id", "merged_id")
    )


@register(
    "w_trailing_percentile",
    """
    WITH d AS (
        SELECT o_orderdate AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT cur.day, cur.v,
               CAST(count(*) AS BIGINT) AS n_hist,
               CAST(sum(CASE WHEN h.v < cur.v THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_below,
               CAST(sum(CASE WHEN h.v = cur.v THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_equal
        FROM d cur JOIN d h
          ON h.day >= cur.day - INTERVAL 90 DAY AND h.day < cur.day
        GROUP BY cur.day, cur.v
    )
    SELECT day, round(v / 100.0, 2) + 0 AS revenue_usd, n_hist,
           round((n_below + 0.5 * n_equal) / n_hist, 6) + 0 AS trailing_pctile,
           CAST(CASE WHEN (n_below + 0.5 * n_equal) / n_hist >= 0.99
                      AND n_hist >= 60 THEN 1 ELSE 0 END AS BIGINT)
               AS anomaly_hi
    FROM pairs
    WHERE n_hist >= 30
    ORDER BY day
    """,
)
def w_trailing_percentile(spark, sf_dir):
    """'How unusual is today?' — each day's revenue ranked as a
    mid-percentile within ITS OWN trailing 90-day history (n_below +
    half the ties, the mid-rank convention) — the self-calibrating
    anomaly score that survives trend and seasonality drift where
    w_control_chart's fixed mean±3σ goes stale (a growing business
    pushes every day over a static limit; against a rolling window only
    genuinely exceptional days cross p99). SQL windows cannot rank the
    CURRENT row against frame contents (percent_rank takes no frame),
    so the comparison is a banded self-join on the bounded daily axis —
    the j_theta_range shape, ~90 comparison rows per day regardless of
    fact volume.

    Exact integer cents compare; mid-rank uses a 0.5 literal; warm-up
    days (<30 days history) withheld, the p99 flag additionally
    requires 60. At 100 TB the daily fold is the only fact-scale work.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("v")
    )
    cur = d.select(F.col("day").alias("cday"), F.col("v").alias("cv"))
    hist = d.select(F.col("day").alias("hday"), F.col("v").alias("hv"))
    pairs = (
        cur.join(
            hist,
            (F.col("hday") >= F.col("cday") - F.expr("INTERVAL 90 DAY"))
            & (F.col("hday") < F.col("cday")),
        )
        .groupBy("cday", "cv")
        .agg(
            F.count("*").cast("long").alias("n_hist"),
            F.sum(F.when(F.col("hv") < F.col("cv"), 1).otherwise(0))
            .cast("long")
            .alias("n_below"),
            F.sum(F.when(F.col("hv") == F.col("cv"), 1).otherwise(0))
            .cast("long")
            .alias("n_equal"),
        )
    )
    pct = (F.col("n_below") + 0.5 * F.col("n_equal")) / F.col("n_hist")
    return (
        pairs.where(F.col("n_hist") >= 30)
        .select(
            F.col("cday").alias("day"),
            money2(F.col("cv") / 100.0).alias("revenue_usd"),
            "n_hist",
            f6(pct).alias("trailing_pctile"),
            F.when((pct >= 0.99) & (F.col("n_hist") >= 60), 1)
            .otherwise(0)
            .cast("long")
            .alias("anomaly_hi"),
        )
        .orderBy("day")
    )


@register(
    "w_cusum_alarm",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(x) AS BIGINT) AS total
        FROM daily GROUP BY 1
    ),
    pre AS (
        SELECT d.event_type, d.day, t.nd, t.total,
               sum(d.x * t.nd - t.total) OVER (
                   PARTITION BY d.event_type ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM daily d JOIN tot t ON d.event_type = t.event_type
    ),
    cu AS (
        SELECT event_type, day, nd, total,
               p - least(CAST(0 AS BIGINT),
                         min(p) OVER (
                             PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)) AS s
        FROM pre
    )
    SELECT event_type,
           CAST(max(nd) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN s * 20 > total * nd THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           min(CASE WHEN s * 20 > total * nd THEN day END) AS first_alarm_day,
           round(CAST(max(s) AS DOUBLE) / max(nd) / 100.0, 6) + 0
               AS peak_drift_usd
    FROM cu GROUP BY event_type ORDER BY event_type
    """,
)
def w_cusum_alarm(spark, sf_dir):
    """One-sided CUSUM drift alarm per event type — the sequential
    change detector (Page 1954, public) that complements the
    distribution monitors (a_ks_drift/a_psi_drift snapshot two eras;
    CUSUM localizes WHEN cumulative upward drift in daily volume
    crossed a budget). The textbook recursion S_t = max(0, S_{t-1} +
    x_t − k) is not a window aggregate, but its closed form IS:
    S_t = P_t − min(0, min_{s≤t} P_s) for prefix sums P of (x_t − k)
    — two stock window functions over ONE (event_type) exchange, no
    recursion, no UDF, no driver loop.

    All-integer discipline: daily cents x_t are exact BIGINTs, the
    allowance k is the per-type mean folded in by cross-multiplication
    (x_t·n_days − total, never a float mean), and the alarm test
    S·20 > total·n_days is a 5%-of-total-volume budget in the same
    scaled units. Headroom: cents·days² stays under 2^63 up to
    ~10^15 cents/day × a decade of days. The only float is the final
    display division (peak drift in USD/day, 6dp). At 100 TB the
    daily rollup is the one data-scale pass (map-side partial agg);
    everything after runs on |types|×|days| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("x").cast("long").alias("total"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = daily.join(F.broadcast(tot), "event_type").withColumn(
        "p", F.sum(F.col("x") * F.col("nd") - F.col("total")).over(wc)
    )
    cu = pre.withColumn(
        "s",
        F.col("p")
        - F.least(F.lit(0).cast("long"), F.min("p").over(wc)),
    )
    alarm = F.col("s") * 20 > F.col("total") * F.col("nd")
    return (
        cu.groupBy("event_type")
        .agg(
            F.max("nd").cast("long").alias("n_days"),
            F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarms"),
            F.min(F.when(alarm, F.col("day"))).alias("first_alarm_day"),
            f6(F.max("s").cast("double") / F.max("nd") / 100.0).alias(
                "peak_drift_usd"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "w_holt_linear",
    """
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS x,
               CAST(row_number() OVER (ORDER BY CAST(ts AS DATE)) AS BIGINT) AS rn
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
    s AS (
        SELECT d1.rn AS rn, d1.x AS x, d1.x AS l,
               round(d2.x - d1.x, 6) AS b,
               CAST(NULL AS DOUBLE) AS fc
        FROM daily d1 JOIN daily d2 ON d1.rn = 1 AND d2.rn = 2
        UNION ALL
        SELECT d.rn, d.x,
               round(0.5 * d.x + 0.5 * (s.l + s.b), 6) AS l,
               round(0.25 * (round(0.5 * d.x + 0.5 * (s.l + s.b), 6) - s.l)
                     + 0.75 * s.b, 6) AS b,
               round(s.l + s.b, 6) AS fc
        FROM s JOIN daily d ON d.rn = s.rn + 1
    )
    SELECT daily.day,
           round(s.x / 100.0, 2) + 0.0 AS actual_usd,
           round(s.fc / 100.0, 6) + 0.0 AS forecast_usd,
           round(s.l / 100.0, 6) + 0.0 AS level_usd,
           round(s.b / 100.0, 6) + 0.0 AS trend_usd,
           round(abs(s.x - s.fc) / 100.0, 6) + 0.0 AS abs_err_usd
    FROM s JOIN daily ON daily.rn = s.rn
    ORDER BY daily.day
    """,
)
def w_holt_linear(spark, sf_dir):
    """Holt's linear-trend double-exponential smoothing (Holt 1957,
    public) over daily purchase volume — level + trend + one-step-ahead
    forecast and residual per day, the classic short-horizon baseline
    next to w_ewma (level only) and w_seasonality. α=1/2, β=1/4.

    Smoothing is inherently a recursion — DuckDB runs it as a RECURSIVE
    CTE; Spark has none, and a window can't express state feeding the
    next row's state. The scale split is the q_attribution_markov
    pattern: the daily rollup is the ONLY data-scale computation (one
    partial+final agg over the scan), and the recursion runs on the
    BOUNDED day axis (≤366 rows/year at ANY corpus size) — replayed on
    the driver with arithmetic mirroring the CTE step for step: same
    association (0.5·x + 0.5·(l+b)), same 6dp half-away snap per state
    per step (_rhu — Python round() is banker's and would diverge from
    SQL round at half boundaries), exact-cents inputs. Both engines
    therefore walk identical float sequences and the oracle hash covers
    the full pipeline.
    """
    from .modern import _rhu

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("double")
            .alias("x")
        )
        .orderBy("day")
        .collect()  # bounded: one row per day at ANY scale
    )
    rows = []
    if len(daily) >= 2:
        l = daily[0]["x"]
        b = _rhu(daily[1]["x"] - daily[0]["x"], 6)
        rows.append((daily[0]["day"], daily[0]["x"], None, l, b))
        for r in daily[1:]:
            fc = _rhu(l + b, 6)
            l_new = _rhu(0.5 * r["x"] + 0.5 * (l + b), 6)
            b = _rhu(0.25 * (l_new - l) + 0.75 * b, 6)
            l = l_new
            rows.append((r["day"], r["x"], fc, l, b))
    out = spark.createDataFrame(
        [
            (
                day,
                _rhu(x / 100.0, 2),
                _rhu(fc / 100.0, 6) if fc is not None else None,
                _rhu(l / 100.0, 6),
                _rhu(b / 100.0, 6),
                _rhu(abs(x - fc) / 100.0, 6) if fc is not None else None,
            )
            for day, x, fc, l, b in rows
        ],
        "day date, actual_usd double, forecast_usd double,"
        " level_usd double, trend_usd double, abs_err_usd double",
    )
    return out.orderBy("day")


@register(
    "w_value_at_risk",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    d AS (
        SELECT event_type, day,
               x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS delta
        FROM daily
    ),
    ranked AS (
        SELECT event_type, delta,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY delta, day) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM d WHERE delta IS NOT NULL
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_days,
           round(max(CASE WHEN rn = (n + 19) // 20 THEN delta END)
                 / 100.0, 2) + 0.0 AS var95_usd,
           round(sum(CASE WHEN rn <= (n + 19) // 20 THEN delta END)
                 * 1.0 / max((n + 19) // 20) / 100.0, 6) + 0
               AS es95_usd
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def w_value_at_risk(spark, sf_dir):
    """Historical 95% Value-at-Risk and Expected Shortfall of daily
    volume swings per event type — the risk-desk pair (VaR = the
    ceil(0.05·n)-th worst day-over-day delta; ES = the mean of the
    tail at or beyond it, the coherent measure Basel moved to because
    VaR ignores how bad the tail is). On pipeline telemetry this is
    the 'how hard can a day drop' alarm threshold.

    The quantile is a RANK-BASED lower order statistic — rank deltas
    ascending, pick rank ceil(n/20) by integer arithmetic
    ((n+19)//20) — never an engine quantile function, whose
    interpolation a_tukey_fences documents as cross-engine-divergent.
    ES is an exact-BIGINT tail sum over the same ranking divided once
    at the end. Two windows + one rollup over ONE event_type exchange;
    the day axis is bounded, so everything after the daily rollup is
    metadata-scale.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    w_lag = Window.partitionBy("event_type").orderBy("day")
    d = daily.select(
        "event_type",
        "day",
        (F.col("x") - F.lag("x").over(w_lag)).alias("delta"),
    ).where(F.col("delta").isNotNull())
    w_rank = Window.partitionBy("event_type").orderBy("delta", "day")
    w_all = Window.partitionBy("event_type")
    ranked = d.select(
        "event_type",
        "delta",
        F.row_number().over(w_rank).cast("long").alias("rn"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    # ceil(n/20) in integer arithmetic — the tail rank
    k = F.floor((F.col("n") + 19) / 20).cast("long")
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            (
                F.round(
                    F.max(F.when(F.col("rn") == k, F.col("delta"))) / 100.0, 2
                )
                + 0.0
            ).alias("var95_usd"),
            f6(
                F.sum(F.when(F.col("rn") <= k, F.col("delta")))
                * 1.0
                / F.max(k)
                / 100.0
            ).alias("es95_usd"),
        )
        .orderBy("event_type")
    )


@register(
    "w_changepoint",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    pre AS (
        SELECT event_type, day, x,
               sum(x) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS sl,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                    AS BIGINT) AS nl,
               CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS st,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nt
        FROM daily
    ),
    scored AS (
        SELECT event_type, day, sl, nl, nt, st - sl AS sr, nt - nl AS nr,
               (sl * 1.0 * (nt - nl) - (st - sl) * 1.0 * nl)
             * (sl * 1.0 * (nt - nl) - (st - sl) * 1.0 * nl)
             / (nl * 1.0 * (nt - nl)) AS gain
        FROM pre WHERE nl < nt
    )
    SELECT event_type, day AS split_day,
           round(sl * 1.0 / nl / 100, 6) + 0 AS mean_before_usd,
           round(sr * 1.0 / nr / 100, 6) + 0 AS mean_after_usd,
           round(gain / nt / 10000, 6) + 0 AS gain_ss_usd2
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY gain DESC, day) AS rn
        FROM scored
    ) WHERE rn = 1 ORDER BY event_type
    """,
)
def w_changepoint(spark, sf_dir):
    """Single-changepoint detection (binary segmentation, first split —
    Scott & Knott / CUSUM-literature standard) on daily volume per
    event type: the split day t* maximizing the between-segment sum-of-
    squares gain Δ(t) = (S_l·n_r − S_r·n_l)²/(n_l·n_r·N), with the
    level means on each side — WHERE the regime changed, complementing
    w_cusum_alarm's WHEN-did-drift-accumulate view (iterate on each
    side and it's full binary segmentation, each pass this same plan).

    Everything derives from prefix sums: one cumulative window gives
    S_l/n_l, the partition totals give S_r/n_r by subtraction — no
    candidate-split self-join (the naive O(days²) formulation). Gain
    numerators exceed int64 when squared, so the scoring expression
    runs in doubles over EXACT integer inputs in one shared
    association — cross-engine identical; argmax ties break on day.
    Daily rollup is the only data-scale pass; the day axis is bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        F.sum("x").over(w_cum).alias("sl"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("nl"),
        F.sum("x").over(w_all).cast("long").alias("st"),
        F.count("*").over(w_all).cast("long").alias("nt"),
    )
    sr = F.col("st") - F.col("sl")
    nr = F.col("nt") - F.col("nl")
    num = F.col("sl") * 1.0 * nr - sr * 1.0 * F.col("nl")
    scored = pre.where(F.col("nl") < F.col("nt")).select(
        "event_type",
        "day",
        "sl",
        "nl",
        sr.alias("sr"),
        nr.alias("nr"),
        (num * num / (F.col("nl") * 1.0 * nr)).alias("gain"),
        "nt",
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("gain").desc(), "day"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            f6(F.col("sl") * 1.0 / F.col("nl") / 100).alias("mean_before_usd"),
            f6(F.col("sr") * 1.0 / F.col("nr") / 100).alias("mean_after_usd"),
            f6(F.col("gain") / F.col("nt") / 10000).alias("gain_ss_usd2"),
        )
        .orderBy("event_type")
    )


@register(
    "w_peak_detection",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    ctx AS (
        SELECT event_type, day, x,
               lag(x)  OVER (PARTITION BY event_type ORDER BY day) AS prev,
               lead(x) OVER (PARTITION BY event_type ORDER BY day) AS nxt,
               CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
        FROM daily
    ),
    peaks AS (
        SELECT event_type, day, x, tot, nd
        FROM ctx
        WHERE prev IS NOT NULL AND nxt IS NOT NULL
          AND x * 10 > prev * 11 AND x * 10 > nxt * 11
          AND x * nd * 10 > tot * 12
    )
    SELECT event_type, day AS peak_day,
           round(x / 100.0, 2) + 0.0 AS peak_usd,
           round(x * 1.0 * nd / tot, 6) + 0 AS vs_mean_ratio
    FROM peaks ORDER BY event_type, peak_day
    """,
)
def w_peak_detection(spark, sf_dir):
    """Prominent-peak detection on daily volume per event type — the
    spike finder an on-call dashboard runs (campaign landings, incident
    retries, scraper bursts): a day is a PEAK when it beats both
    neighbors by ≥10% AND sits ≥20% above the series mean — the
    two-condition prominence rule that rejects both plateau edges
    (neighbor test alone fires on noise) and globally-quiet local
    maxima (mean test alone misses sharp spikes in loud series). All
    thresholds are integer cross-multiplications (x·10 > prev·11,
    x·nd·10 > tot·12) — no float ratios in predicates.

    One lag + one lead over the (event_type)-partitioned day axis plus
    partition totals — all four windows share one exchange. Output is
    peak rows only (spike-proportional, not day-proportional); at
    100 TB the daily rollup is the only data-scale pass. The
    complement to w_changepoint (level SHIFTS) and w_cusum_alarm
    (cumulative DRIFT): this catches single-day SPIKES.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    w_day = Window.partitionBy("event_type").orderBy("day")
    w_all = Window.partitionBy("event_type")
    ctx = daily.select(
        "event_type",
        "day",
        "x",
        F.lag("x").over(w_day).alias("prev"),
        F.lead("x").over(w_day).alias("nxt"),
        F.sum("x").over(w_all).cast("long").alias("tot"),
        F.count("*").over(w_all).cast("long").alias("nd"),
    )
    return (
        ctx.where(
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("x") * 10 > F.col("prev") * 11)
            & (F.col("x") * 10 > F.col("nxt") * 11)
            & (F.col("x") * F.col("nd") * 10 > F.col("tot") * 12)
        )
        .select(
            "event_type",
            F.col("day").alias("peak_day"),
            (F.round(F.col("x") / 100.0, 2) + 0.0).alias("peak_usd"),
            f6(F.col("x") * 1.0 * F.col("nd") / F.col("tot")).alias(
                "vs_mean_ratio"
            ),
        )
        .orderBy("event_type", "peak_day")
    )


@register(
    "w_kalman_level",
    """
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS x,
               CAST(row_number() OVER (ORDER BY CAST(ts AS DATE)) AS BIGINT)
                   AS rn
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    s AS (
        SELECT rn, x, x AS l, CAST(1e10 AS DOUBLE) AS p,
               CAST(NULL AS DOUBLE) AS k, CAST(NULL AS DOUBLE) AS innov
        FROM daily WHERE rn = 1
        UNION ALL
        SELECT d.rn, d.x,
               round(s.l + round((s.p + 1e8) / (s.p + 1e8 + 1e10), 9)
                           * (d.x - s.l), 6) AS l,
               round((1.0 - round((s.p + 1e8) / (s.p + 1e8 + 1e10), 9))
                     * (s.p + 1e8), 6) AS p,
               round((s.p + 1e8) / (s.p + 1e8 + 1e10), 9) AS k,
               d.x - s.l AS innov
        FROM s JOIN daily d ON d.rn = s.rn + 1
    )
    SELECT daily.day,
           round(s.x / 100.0, 2) + 0.0 AS actual_usd,
           round(s.l / 100.0, 6) + 0.0 AS level_usd,
           s.k + 0.0 AS gain,
           round(s.innov / 100.0, 6) + 0.0 AS innovation_usd,
           round(s.p / 10000.0, 6) + 0.0 AS state_var_usd2
    FROM s JOIN daily ON daily.rn = s.rn
    ORDER BY daily.day
    """,
)
def w_kalman_level(spark, sf_dir):
    """Local-level Kalman filter (Kalman 1960, public) over daily
    purchase volume — the STATE-SPACE step past w_ewma/w_holt_linear:
    where EWMA smooths with a FIXED gain, the Kalman gain ADAPTS from
    the tracked state variance (k_t = (p+q)/(p+q+r), shrinking as the
    filter converges), and the variance itself is an output — the
    uncertainty band an alerting rule needs that no exponential
    smoother provides.  Process noise q = ($10)², observation noise
    r = ($100)² in cents² (fixed literals, the same license as Holt's
    α/β); p₀ = r.

    Scale split is the w_holt_linear pattern verbatim: the daily
    rollup is the only data-scale pass; the recursion runs on the
    bounded day axis — DuckDB as a RECURSIVE CTE, Spark as a driver
    replay mirroring it step for step (gain snapped to 9dp BEFORE use
    so both level and variance updates consume the identical float;
    level/variance snapped to 6dp per step; _rhu half-away matching
    SQL round).
    """
    from .modern import _rhu

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("double")
            .alias("x")
        )
        .orderBy("day")
        .collect()  # bounded: one row per day at ANY scale
    )
    Q, R = 1e8, 1e10
    rows = []
    if daily:
        l, p = daily[0]["x"], R
        rows.append((daily[0]["day"], daily[0]["x"], l, None, None, p))
        for r in daily[1:]:
            pp = p + Q
            k = _rhu(pp / (pp + R), 9)
            innov = r["x"] - l
            l = _rhu(l + k * (r["x"] - l), 6)
            p = _rhu((1.0 - k) * pp, 6)
            rows.append((r["day"], r["x"], l, k, innov, p))
    out = spark.createDataFrame(
        [
            (
                day,
                _rhu(x / 100.0, 2),
                _rhu(l / 100.0, 6),
                k,
                _rhu(innov / 100.0, 6) if innov is not None else None,
                _rhu(p / 10000.0, 6),
            )
            for day, x, l, k, innov, p in rows
        ],
        "day date, actual_usd double, level_usd double, gain double,"
        " innovation_usd double, state_var_usd2 double",
    )
    return out.orderBy("day")


def _hw_sql() -> str:
    """Build the Holt-Winters RECURSIVE CTE: 9 state columns (level,
    trend, 7 weekly seasonals), each step's CASE updates only the
    active seasonal slot. Generated so the level expression (which
    appears in trend and seasonal updates too) is written once."""
    sold = (
        "CASE d.rn % 7 "
        + " ".join(f"WHEN {j} THEN s.s{j}" for j in range(7))
        + " END"
    )
    lnew = f"round(0.5 * (d.x - {sold}) + 0.5 * (s.l + s.b), 6)"
    snew = ", ".join(
        f"CASE WHEN d.rn % 7 = {j} THEN"
        f" round(0.25 * (d.x - {lnew}) + 0.75 * s.s{j}, 6)"
        f" ELSE s.s{j} END AS s{j}"
        for j in range(7)
    )
    init_s = ", ".join(
        f"round(max(CASE WHEN rn % 7 = {j} AND rn <= 7"
        f" THEN x END) - sum(CASE WHEN rn <= 7 THEN x END) / 7.0, 6)"
        f" AS s{j}"
        for j in range(7)
    )
    return f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS x,
               CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                    AS BIGINT) AS rn
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    init AS (
        SELECT CAST(7 AS BIGINT) AS rn,
               round(sum(CASE WHEN rn <= 7 THEN x END) / 7.0, 6) AS l,
               round((sum(CASE WHEN rn BETWEEN 8 AND 14 THEN x END)
                      - sum(CASE WHEN rn <= 7 THEN x END)) / 49.0, 6) AS b,
               {init_s},
               CAST(NULL AS DOUBLE) AS fc, CAST(NULL AS DOUBLE) AS x
        FROM daily
    ),
    s AS (
        SELECT * FROM init
        UNION ALL
        SELECT d.rn,
               {lnew} AS l,
               round(0.25 * ({lnew} - s.l) + 0.75 * s.b, 6) AS b,
               {snew},
               round(s.l + s.b + {sold}, 6) AS fc,
               d.x AS x
        FROM s JOIN daily d ON d.rn = s.rn + 1
    )
    SELECT daily.day,
           round(s.x / 100.0, 2) + 0.0 AS actual_usd,
           round(s.fc / 100.0, 6) + 0.0 AS forecast_usd,
           round(s.l / 100.0, 6) + 0.0 AS level_usd,
           round(s.b / 100.0, 6) + 0.0 AS trend_usd,
           round(abs(s.x - s.fc) / 100.0, 6) + 0.0 AS abs_err_usd
    FROM s JOIN daily ON daily.rn = s.rn
    WHERE s.rn >= 8
    ORDER BY daily.day
    """


@register("w_holt_winters", _hw_sql())
def w_holt_winters(spark, sf_dir):
    """Holt-Winters additive TRIPLE exponential smoothing (Winters
    1960, public) — the seasonal rung above w_ewma (level) and
    w_holt_linear (level+trend): a 7-slot weekly seasonal state joins
    the recursion, so the one-step forecast l + b + s_{t mod 7}
    anticipates the weekly rhythm instead of averaging through it.
    α=1/2, β=1/4, γ=1/4; init = textbook two-week moment match
    (l₀ = week-1 mean, b₀ = (week-2 mean − week-1 mean)/7,
    s_j = x_j − l₀).

    Same scale split as w_holt_linear: ONE data-scale daily rollup,
    then a bounded-day-axis recursion — DuckDB walks a RECURSIVE CTE
    whose 9 state columns (level, trend, 7 seasonals) update via CASE
    on t mod 7 (SQL generated so the level expression is written
    once); Spark replays it on the driver with _rhu 6dp half-away
    snaps per state per step, so both engines walk identical float
    sequences.
    """
    from .modern import _rhu

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("double")
            .alias("x")
        )
        .orderBy("day")
        .collect()  # bounded: one row per day at ANY scale
    )
    rows = []
    if len(daily) >= 14:
        a1 = sum(r["x"] for r in daily[:7])
        a2 = sum(r["x"] for r in daily[7:14])
        l = _rhu(a1 / 7.0, 6)
        b = _rhu((a2 - a1) / 49.0, 6)
        seas = {}
        for rn in range(1, 8):
            seas[rn % 7] = _rhu(daily[rn - 1]["x"] - a1 / 7.0, 6)
        for rn in range(8, len(daily) + 1):
            x = daily[rn - 1]["x"]
            j = rn % 7
            sold = seas[j]
            fc = _rhu(l + b + sold, 6)
            lnew = _rhu(0.5 * (x - sold) + 0.5 * (l + b), 6)
            b = _rhu(0.25 * (lnew - l) + 0.75 * b, 6)
            seas[j] = _rhu(0.25 * (x - lnew) + 0.75 * sold, 6)
            l = lnew
            rows.append((daily[rn - 1]["day"], x, fc, l, b))
    out = spark.createDataFrame(
        [
            (
                day,
                _rhu(x / 100.0, 2),
                _rhu(fc / 100.0, 6),
                _rhu(l / 100.0, 6),
                _rhu(b / 100.0, 6),
                _rhu(abs(x - fc) / 100.0, 6),
            )
            for day, x, fc, l, b in rows
        ],
        "day date, actual_usd double, forecast_usd double,"
        " level_usd double, trend_usd double, abs_err_usd double",
    )
    return out.orderBy("day")


@register(
    "w_conformal_interval",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x,
               CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                    AS BIGINT) AS rn
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    pred AS (
        SELECT d.rn, d.day, d.x, p.x AS yhat,
               CAST(abs(d.x - p.x) AS BIGINT) AS r
        FROM daily d JOIN daily p ON p.rn = d.rn - 7
    ),
    n AS (SELECT CAST(max(rn) AS BIGINT) AS nd FROM daily),
    split AS (
        SELECT p.*, CAST(7 + ((n.nd - 7) * 3) // 5 AS BIGINT) AS cut
        FROM pred p CROSS JOIN n
    ),
    cal AS (
        SELECT r, CAST(row_number() OVER (ORDER BY r, rn) AS BIGINT)
                      AS i,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM split WHERE rn <= cut
    ),
    qhat AS (
        SELECT CAST(max(CASE WHEN i = least(
                   CAST(ceil((m + 1) * 0.8) AS BIGINT), m)
                   THEN r END) AS BIGINT) AS q
        FROM cal
    ),
    test AS (SELECT * FROM split WHERE rn > cut)
    SELECT CAST((SELECT max(m) FROM cal) AS BIGINT) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           round((SELECT q FROM qhat) / 100.0, 2) + 0.0 AS q_hat_usd,
           CAST(sum(CASE WHEN r <= (SELECT q FROM qhat)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           round(sum(CASE WHEN r <= (SELECT q FROM qhat)
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6) + 0
               AS coverage
    FROM test
    """,
)
def w_conformal_interval(spark, sf_dir):
    """Split-conformal prediction interval (Vovk; Lei et al — public)
    around a seasonal-naive forecaster — the DISTRIBUTION-FREE
    uncertainty band the forecast keys (w_holt_linear, w_holt_winters,
    q_forecast_revenue) emit point estimates without: calibrate
    |residual| on the first 60% of lag-7-predicted days, take q̂ = the
    ⌈(m+1)·0.8⌉-th order statistic, and the band ŷ ± q̂ covers ≥80% of
    FUTURE days with no assumption on the residual distribution —
    the finite-sample guarantee is the point, and the reported test
    coverage makes it checkable.

    Conformal's machinery is exactly this engine's discipline: the
    quantile is a RANK-BASED order statistic (row_number with an rn
    tiebreak — never engine interpolation), residuals are exact cent
    BIGINTs, the calibration/test split is integer arithmetic on the
    day index, and coverage is an exact count.  One day-axis window +
    one self-join (lag-7 via rn equi-join); data-scale work is the
    daily rollup alone.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
        .select(
            F.row_number().over(Window.orderBy("day")).cast("long")
            .alias("rn"),
            "day",
            "x",
        )
    )
    p = daily.select(
        (F.col("rn") + 7).alias("rn"), F.col("x").alias("yhat")
    )
    pred = daily.join(p, "rn").select(
        "rn",
        "day",
        "x",
        "yhat",
        F.abs(F.col("x") - F.col("yhat")).cast("long").alias("r"),
    )
    n = daily.agg(F.max("rn").cast("long").alias("nd"))
    split = pred.crossJoin(F.broadcast(n)).withColumn(
        "cut",
        (7 + F.floor((F.col("nd") - 7) * 3 / 5)).cast("long"),
    )
    cal = split.where(F.col("rn") <= F.col("cut")).select(
        "r",
        F.row_number().over(Window.orderBy("r", "rn")).cast("long")
        .alias("i"),
    )
    m = cal.agg(F.count("*").cast("long").alias("m"))
    cal = cal.crossJoin(F.broadcast(m))
    qhat = cal.agg(
        F.max(
            F.when(
                F.col("i")
                == F.least(
                    F.ceil((F.col("m") + 1) * 0.8).cast("long"),
                    F.col("m"),
                ),
                F.col("r"),
            )
        )
        .cast("long")
        .alias("q")
    )
    test = split.where(F.col("rn") > F.col("cut"))
    return (
        test.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(m))
        .agg(
            F.max("m").cast("long").alias("n_cal"),
            F.count("*").cast("long").alias("n_test"),
            (F.round(F.max("q") / 100.0, 2) + 0.0).alias("q_hat_usd"),
            F.sum(F.when(F.col("r") <= F.col("q"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
            f6(
                F.sum(F.when(F.col("r") <= F.col("q"), 1).otherwise(0))
                * 1.0
                / F.count("*")
            ).alias("coverage"),
        )
    )


@register(
    "w_rolling_origin_backtest",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x,
               CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                    AS BIGINT) AS rn
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    hist AS (
        SELECT rn, x,
               sum(x) OVER (ORDER BY rn
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS cums,
               CAST(rn - 1 AS BIGINT) AS nprev
        FROM daily
    ),
    fc AS (
        SELECT h.rn, h.x,
               n7.x AS yhat_naive,
               CAST(round(h.cums * 1.0 / h.nprev) AS BIGINT)
                   AS yhat_mean
        FROM hist h JOIN daily n7 ON n7.rn = h.rn - 7
        WHERE h.rn >= 8
    ),
    err AS (
        SELECT CAST(abs(x - yhat_naive) AS BIGINT) AS e_naive,
               CAST(abs(x - yhat_mean) AS BIGINT) AS e_mean
        FROM fc
    )
    SELECT CAST(count(*) AS BIGINT) AS n_origins,
           round(sum(e_naive) * 1.0 / count(*) / 100.0, 4) + 0
               AS mae_naive7_usd,
           round(sum(e_mean) * 1.0 / count(*) / 100.0, 4) + 0
               AS mae_expmean_usd,
           CAST(sum(CASE WHEN e_naive < e_mean THEN 1 ELSE 0 END)
                AS BIGINT) AS naive_wins,
           CAST(sum(CASE WHEN e_mean < e_naive THEN 1 ELSE 0 END)
                AS BIGINT) AS mean_wins,
           CAST(sum(CASE WHEN e_mean = e_naive THEN 1 ELSE 0 END)
                AS BIGINT) AS ties
    FROM err
    """,
)
def w_rolling_origin_backtest(spark, sf_dir):
    """Rolling-origin forecast backtest — the EVALUATION PROTOCOL the
    forecast keys need before anyone trusts them: every day from day
    8 on becomes a forecast origin, two honest competitors predict it
    using ONLY prior days (seasonal-naive lag-7 vs expanding mean —
    the latter via a running-sum window, so no leakage by
    construction), and the output reports per-model MAE plus the
    per-origin win/loss record (the sign-test view that is robust to
    one blown day).  This is the time-series analogue of
    t_kfold_split's discipline: walk-forward, never random, because
    shuffled CV leaks the future.

    Exactness: forecasts and errors are exact cent BIGINTs (the
    expanding mean rounds to a cent integer at each origin —
    identical in both engines); MAEs are single divisions of exact
    sums.  One ordered window + one lag-7 equi-join on the bounded
    day axis; the daily rollup is the only data-scale pass.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
        .select(
            F.row_number().over(Window.orderBy("day")).cast("long")
            .alias("rn"),
            "x",
        )
    )
    wh = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, -1)
    hist = daily.select(
        "rn",
        "x",
        F.sum("x").over(wh).alias("cums"),
        (F.col("rn") - 1).cast("long").alias("nprev"),
    )
    n7 = daily.select(
        (F.col("rn") + 7).alias("rn"), F.col("x").alias("yhat_naive")
    )
    fc = (
        hist.where(F.col("rn") >= 8)
        .join(n7, "rn")
        .select(
            "x",
            "yhat_naive",
            F.round(F.col("cums") * 1.0 / F.col("nprev"))
            .cast("long")
            .alias("yhat_mean"),
        )
    )
    err = fc.select(
        F.abs(F.col("x") - F.col("yhat_naive")).cast("long").alias("e_naive"),
        F.abs(F.col("x") - F.col("yhat_mean")).cast("long").alias("e_mean"),
    )
    return err.agg(
        F.count("*").cast("long").alias("n_origins"),
        (F.round(F.sum("e_naive") * 1.0 / F.count("*") / 100.0, 4) + 0.0)
        .alias("mae_naive7_usd"),
        (F.round(F.sum("e_mean") * 1.0 / F.count("*") / 100.0, 4) + 0.0)
        .alias("mae_expmean_usd"),
        F.sum(F.when(F.col("e_naive") < F.col("e_mean"), 1).otherwise(0))
        .cast("long")
        .alias("naive_wins"),
        F.sum(F.when(F.col("e_mean") < F.col("e_naive"), 1).otherwise(0))
        .cast("long")
        .alias("mean_wins"),
        F.sum(F.when(F.col("e_mean") == F.col("e_naive"), 1).otherwise(0))
        .cast("long")
        .alias("ties"),
    )


@register(
    "w_underwater_duration",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    eq AS (
        SELECT day, x,
               CAST(sum(x) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS equity
        FROM daily
    ),
    uw AS (
        SELECT day, equity,
               max(equity) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS peak,
               CASE WHEN equity
                         < max(equity) OVER (ORDER BY day
                                             ROWS UNBOUNDED PRECEDING)
                    THEN 1 ELSE 0 END AS under
        FROM eq
    ),
    isl AS (
        SELECT day, under,
               CAST(sum(CASE WHEN under = 0 THEN 1 ELSE 0 END)
                    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS grp
        FROM uw
    ),
    spells AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS days_under
        FROM isl WHERE under = 1 GROUP BY grp
    )
    SELECT CAST(count(*) AS BIGINT) AS n_spells,
           CAST(coalesce(max(days_under), 0) AS BIGINT)
               AS longest_underwater_days,
           CAST(coalesce(sum(days_under), 0) AS BIGINT)
               AS total_underwater_days,
           round(coalesce(sum(days_under), 0) * 1.0
                 / (SELECT count(*) FROM daily), 6) + 0
               AS underwater_share
    FROM spells
    """,
)
def w_underwater_duration(spark, sf_dir):
    """Underwater-duration census — the TIME dimension of drawdown
    that w_max_drawdown's depth number hides: how LONG does cumulative
    revenue sit below its prior peak (spell count, longest spell,
    total days under, share of history) — for a trading desk this is
    recovery time, for a revenue dashboard it is 'how long do slumps
    last', and two series with identical max drawdown can differ 10×
    here, which is why risk reviews require both.  Classic
    gaps-and-islands: the island id is the running count of at-peak
    days, so each underwater spell groups under the peak day that
    preceded it.

    Equity is an exact cent prefix sum (ordered window — no float
    accumulation anywhere); underwater flags are integer comparisons;
    ONE day-axis ordering serves the prefix sum, the running max, and
    the island numbering.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x")
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    eq = daily.select(
        "day", F.sum("x").over(wd).cast("long").alias("equity")
    )
    uw = eq.select(
        "day",
        "equity",
        F.max("equity").over(wd).alias("peak"),
    ).select(
        "day",
        F.when(F.col("equity") < F.col("peak"), 1).otherwise(0).alias(
            "under"
        ),
    )
    isl = uw.select(
        "day",
        "under",
        F.sum(F.when(F.col("under") == 0, 1).otherwise(0))
        .over(wd)
        .cast("long")
        .alias("grp"),
    )
    spells = (
        isl.where(F.col("under") == 1)
        .groupBy("grp")
        .agg(F.count("*").cast("long").alias("days_under"))
    )
    ndays = daily.agg(F.count("*").cast("long").alias("nd"))
    return (
        spells.agg(
            F.count("*").cast("long").alias("n_spells"),
            F.coalesce(F.max("days_under"), F.lit(0))
            .cast("long")
            .alias("longest_underwater_days"),
            F.coalesce(F.sum("days_under"), F.lit(0))
            .cast("long")
            .alias("total_underwater_days"),
        )
        .crossJoin(F.broadcast(ndays))
        .select(
            "n_spells",
            "longest_underwater_days",
            "total_underwater_days",
            f6(
                F.col("total_underwater_days") * 1.0 / F.col("nd")
            ).alias("underwater_share"),
        )
    )


@register(
    "w_rolling_ols",
    """
    WITH daily AS (
        SELECT o_orderpriority AS prio,
               datediff('day', DATE '1992-01-01', o_orderdate) AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    rolled AS (
        SELECT prio, d,
               count(*) OVER w AS n,
               sum(d) OVER w AS sx,
               sum(cents) OVER w AS sy,
               sum(d * cents) OVER w AS sxy,
               sum(d * d) OVER w AS sxx
        FROM daily
        WINDOW w AS (PARTITION BY prio ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    mx AS (SELECT max(d) AS maxd FROM daily)
    SELECT r.prio, CAST(r.d AS BIGINT) AS d,
           CAST(r.n AS BIGINT) AS n_days,
           round(CAST(r.n * r.sxy - r.sx * r.sy AS DOUBLE)
                 / (r.n * r.sxx - r.sx * r.sx), 6) + 0 AS slope_cents
    FROM rolled r CROSS JOIN mx
    WHERE r.n = 7 AND r.d >= mx.maxd - 9
    ORDER BY r.prio, r.d
    """,
)
def w_rolling_ols(spark, sf_dir):
    """Rolling 7-day OLS trend slope over daily revenue per order
    priority — the windowed least-squares trend detector ops dashboards
    run (is this week's revenue accelerating or decaying, per segment?).
    The slope is the closed form (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) with x =
    day index and y = exact revenue cents: all five frame sums are
    BIGINT over integers, so both engines' only float is the single
    final division — bit-identical. Frames shorter than 7 observed days
    are suppressed (n = 7 filter), output bounded to the trailing 10
    days per segment.

    Scale: one partial-agg groupBy to the (segment, day) grain — the
    axis saturates at segments x calendar, so the five running sums are
    windows over a bounded frame regardless of order count; the max-day
    bound attaches as a 1-row broadcast. The same five-sum frame gives
    intercept/R² for free if a consumer needs them.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
        .alias("d"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("cents")
    )
    w = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    rolled = daily.select(
        "prio",
        "d",
        F.count("*").over(w).alias("n"),
        F.sum("d").over(w).alias("sx"),
        F.sum("cents").over(w).alias("sy"),
        F.sum(F.col("d") * F.col("cents")).over(w).alias("sxy"),
        F.sum(F.col("d") * F.col("d")).over(w).alias("sxx"),
    )
    mx = daily.agg(F.max("d").alias("maxd"))
    return (
        rolled.crossJoin(F.broadcast(mx))
        .where((F.col("n") == 7) & (F.col("d") >= F.col("maxd") - 9))
        .select(
            "prio",
            F.col("d").cast("long").alias("d"),
            F.col("n").cast("long").alias("n_days"),
            f6(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double")
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            ).alias("slope_cents"),
        )
        .orderBy("prio", "d")
    )


def _lttb_step_sql(b):
    """One LTTB bucket step: pick the bucket-b point maximizing the
    exact-integer doubled-triangle-area against the previous selected
    point and bucket b+1's centroid (scaled by its count m so the
    whole comparison stays in BIGINT — no float ties anywhere)."""
    return f"""
    c{b} AS (
        SELECT k.idx, k.d, k.x, k.y,
               abs((s.x * ns.m - ns.sx) * (k.y - s.y)
                   - (s.x - k.x) * (ns.sy - s.y * ns.m)) AS a
        FROM bkt k, s{b} s, nstats ns
        WHERE k.bucket = {b} AND ns.bucket = {b + 1}
    ),
    s{b + 1} AS (
        SELECT idx, d, x, y FROM c{b} ORDER BY a DESC, idx LIMIT 1
    )"""


_LTTB_T = 12  # output points: first + 10 bucket picks + last

_LTTB_SQL = (
    """
    WITH pts AS (
        SELECT d, x, y, row_number() OVER (ORDER BY d) AS idx
        FROM (SELECT o_orderdate AS d,
                     CAST(date_diff('day', DATE '1995-01-01', o_orderdate)
                          AS BIGINT) AS x,
                     CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS y
              FROM orders GROUP BY 1, 2)
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
    bkt AS (
        SELECT pts.idx, pts.d, pts.x, pts.y,
               CAST(((pts.idx - 2) * """
    + str(_LTTB_T - 2)
    + """) // (nn.n - 2) AS BIGINT) AS bucket
        FROM pts, nn WHERE pts.idx >= 2 AND pts.idx <= nn.n - 1
    ),
    nstats AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
        FROM bkt GROUP BY bucket
        UNION ALL
        SELECT """
    + str(_LTTB_T - 2)
    + """, 1, pts.x, pts.y FROM pts, nn WHERE pts.idx = nn.n
    ),
    s0 AS (SELECT idx, d, x, y FROM pts WHERE idx = 1),"""
    + ",".join(_lttb_step_sql(b) for b in range(_LTTB_T - 2))
    + """,
    last_pt AS (SELECT idx, d, x, y FROM pts, nn WHERE pts.idx = nn.n),
    final AS ("""
    + " UNION ALL ".join(
        f"SELECT {i + 1} AS pos, d, x AS day_idx, y AS y_cents FROM s{i}"
        for i in range(_LTTB_T - 1)
    )
    + f""" UNION ALL SELECT {_LTTB_T}, d, x, y FROM last_pt)
    SELECT CAST(pos AS BIGINT) AS pos, d, day_idx, y_cents
    FROM final ORDER BY pos
    """
)


@register("w_lttb_downsample", _LTTB_SQL)
def w_lttb_downsample(spark, sf_dir):
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) —
    THE dashboard-serving operator: reduce the daily-revenue series to
    12 points that preserve its visual shape (peaks, crashes, trend
    reversals) far better than striding or averaging, by keeping, per
    equal-count bucket, the point that forms the largest triangle with
    the previously kept point and the NEXT bucket's centroid.  First
    and last points are always kept (the LTTB contract).

    Exactness: the doubled triangle area is scaled by the next
    bucket's count m so every comparison is pure BIGINT — argmax ties
    impossible to get wrong across engines (idx tiebreak on exact
    equality).  The oracle unrolls the 10 sequential bucket picks as
    chained CTEs (the r_pagerank pattern); the Spark side runs the
    identical integer recurrence in ONE Arrow batch over the bounded
    calendar axis (the a_raking_ipf stage-collapse shape — a
    sequential 10-step loop over ~2.4k points is Arrow-task work, not
    12 shuffle stages).

    Scale: the data-sized shuffle is the daily rollup; downsampling
    runs on the bounded axis.  At 100 TB with a finer grain (e.g.
    per-minute, 5e5 points) the same plan holds — LTTB is sequential
    by definition, so the right distributed shape is exactly this:
    aggregate to the display grain, then one task finishes the pick.
    """
    import pandas as pd  # noqa: PLC0415

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "y"
            )
        )
        .select(
            "d",
            F.datediff(F.col("d"), F.lit("1995-01-01"))
            .cast("long")
            .alias("x"),
            "y",
        )
    )

    T = _LTTB_T

    def lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        n = len(pdf)
        xs = pdf["x"].astype("int64").tolist()
        ys = pdf["y"].astype("int64").tolist()
        ds = pdf["d"].tolist()
        # interior index i (0-based 1..n-2) -> bucket via the oracle's
        # ((idx-2)*(T-2)) // (n-2) with idx = i+1 in 1-based terms
        buckets = [[] for _ in range(T - 2)]
        for i in range(1, n - 1):
            b = ((i + 1 - 2) * (T - 2)) // (n - 2)
            buckets[b].append(i)
        # (pos, idx) pairs, mirroring the oracle's chained-CTE contract
        # on DEGENERATE series (n < 12, round-16 back-sweep): step b's
        # pick (pos b+2) needs its own bucket non-empty AND the next
        # bucket's centroid row to exist, and once one step yields no
        # row every later step's chained 'previous point' is empty too
        # — the cascade leaves only the first (pos 1) and last (pos 12)
        # points, which both engines always keep. n >= 12 fills every
        # bucket, so the production path is byte-identical to before.
        sel = [(1, 0)]
        alive = True
        for b in range(T - 2):
            if b + 1 < T - 2:
                nxt = buckets[b + 1]
                m = len(nxt)
                sx = sum(xs[j] for j in nxt)
                sy = sum(ys[j] for j in nxt)
            else:
                m, sx, sy = 1, xs[n - 1], ys[n - 1]
            if not alive or not buckets[b] or m == 0:
                alive = False
                continue
            s = sel[-1][1]
            best = None
            for j in buckets[b]:
                a = abs(
                    (xs[s] * m - sx) * (ys[j] - ys[s])
                    - (xs[s] - xs[j]) * (sy - ys[s] * m)
                )
                if best is None or a > best[0] or (a == best[0] and j < best[1]):
                    best = (a, j)
            sel.append((b + 2, best[1]))
        sel.append((T, n - 1))
        return pd.DataFrame(
            {
                "pos": [p for p, _ in sel],
                "d": [ds[j] for _, j in sel],
                "day_idx": [xs[j] for _, j in sel],
                "y_cents": [ys[j] for _, j in sel],
            }
        )

    out = daily.groupBy(F.lit(1).alias("g")).applyInPandas(
        lttb, schema="pos long, d timestamp, day_idx long, y_cents long"
    )
    return out.select("pos", "d", "day_idx", "y_cents").orderBy("pos")


@register(
    "w_variance_ratio",
    """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100 AS y
        FROM orders GROUP BY 1
    ),
    tx AS (
        SELECT row_number() OVER (ORDER BY d) AS t, y FROM daily
    ),
    diffs AS (
        SELECT t, y,
               y - lag(y, 1) OVER (ORDER BY t) AS d1,
               y - lag(y, 2) OVER (ORDER BY t) AS d2,
               y - lag(y, 5) OVER (ORDER BY t) AS d5,
               y - lag(y, 10) OVER (ORDER BY t) AS d10
        FROM tx
    ),
    s AS (
        SELECT CAST(count(d1) AS BIGINT) AS n1,
               avg(CAST(d1 AS DOUBLE)) AS mu,
               var_samp(CAST(d1 AS DOUBLE)) AS v1,
               CAST(count(d2) AS BIGINT) AS n2,
               var_samp(CAST(d2 AS DOUBLE)) AS v2,
               CAST(count(d5) AS BIGINT) AS n5,
               var_samp(CAST(d5 AS DOUBLE)) AS v5,
               CAST(count(d10) AS BIGINT) AS n10,
               var_samp(CAST(d10 AS DOUBLE)) AS v10
        FROM diffs
    )
    SELECT q, n_obs, round(vr, 6) + 0 AS vr,
           round((vr - 1.0) / sqrt(2.0 * (2 * q - 1) * (q - 1)
                                   / (3.0 * q * n_obs)), 6) + 0 AS z_stat
    FROM (
        SELECT CAST(2 AS BIGINT) AS q, n2 AS n_obs, v2 / (2 * v1) AS vr
        FROM s
        UNION ALL
        SELECT CAST(5 AS BIGINT), n5, v5 / (5 * v1) FROM s
        UNION ALL
        SELECT CAST(10 AS BIGINT), n10, v10 / (10 * v1) FROM s
    ) ORDER BY q
    """,
)
def w_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance-ratio test for q ∈ {2, 5, 10} on the daily
    revenue series: VR(q) = Var(q-day overlapping differences) /
    (q · Var(1-day differences)), with the homoscedastic z-statistic
    (VR−1)/√(2(2q−1)(q−1)/(3qn)). Under a random walk VR ≈ 1 at every
    horizon; VR < 1 flags mean reversion, VR > 1 momentum — the
    aggregation-invariance diagnostic that complements a_durbin_watson
    (residual lag-1) and a_ljung_box (many-lag whiteness) by testing
    the VARIANCE scaling law instead of correlations.

    Scale: one cents-exact date rollup, then ALL four lag columns in
    one window pass over the bounded calendar axis (~2.4k days at any
    corpus size) and one 9-sum moment aggregate; the q-grid rows are
    unpivoted from that single 1-row frame, so the test costs two
    shuffles for any horizon grid. Whole-dollar integer differences
    keep both engines' variances bit-comparable under the 6dp snap.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                / F.lit(100)
            )
            .cast("long")
            .alias("y")
        )
    )
    wt = Window.orderBy("d")
    diffs = daily.select(
        (F.col("y") - F.lag("y", 1).over(wt)).alias("d1"),
        (F.col("y") - F.lag("y", 2).over(wt)).alias("d2"),
        (F.col("y") - F.lag("y", 5).over(wt)).alias("d5"),
        (F.col("y") - F.lag("y", 10).over(wt)).alias("d10"),
    )
    s = diffs.agg(
        F.count("d1").cast("long").alias("n1"),
        F.var_samp(F.col("d1").cast("double")).alias("v1"),
        F.count("d2").cast("long").alias("n2"),
        F.var_samp(F.col("d2").cast("double")).alias("v2"),
        F.count("d5").cast("long").alias("n5"),
        F.var_samp(F.col("d5").cast("double")).alias("v5"),
        F.count("d10").cast("long").alias("n10"),
        F.var_samp(F.col("d10").cast("double")).alias("v10"),
    )
    rows = s.select(
        F.explode(
            F.array(
                # try_divide: a single-day corpus has no 1-day
                # differences (v1 NULL / zero variance) — NULL ratios
                # like DuckDB, no ANSI crash (round-16 back-sweep)
                F.struct(
                    F.lit(2).cast("long").alias("q"),
                    F.col("n2").alias("n_obs"),
                    F.try_divide(F.col("v2"), 2 * F.col("v1")).alias(
                        "vr_raw"
                    ),
                ),
                F.struct(
                    F.lit(5).cast("long").alias("q"),
                    F.col("n5").alias("n_obs"),
                    F.try_divide(F.col("v5"), 5 * F.col("v1")).alias(
                        "vr_raw"
                    ),
                ),
                F.struct(
                    F.lit(10).cast("long").alias("q"),
                    F.col("n10").alias("n_obs"),
                    F.try_divide(F.col("v10"), 10 * F.col("v1")).alias(
                        "vr_raw"
                    ),
                ),
            )
        ).alias("r")
    ).select("r.q", "r.n_obs", "r.vr_raw")
    z = F.try_divide(
        F.col("vr_raw") - 1.0,
        F.sqrt(
            F.try_divide(
                2.0 * (2 * F.col("q") - 1) * (F.col("q") - 1),
                3.0 * F.col("q") * F.col("n_obs"),
            )
        ),
    )
    return rows.select(
        "q", "n_obs", f6(F.col("vr_raw")).alias("vr"), f6(z).alias("z_stat")
    ).orderBy("q")


@register(
    "w_croston",
    """
    WITH demand AS (
        SELECT l.l_partkey AS part, o.o_orderdate AS d,
               CAST(sum(l.l_quantity) AS BIGINT) AS z
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_partkey <= 8
        GROUP BY 1, 2
    ),
    seq AS (
        SELECT part, d, z,
               row_number() OVER (PARTITION BY part ORDER BY d) AS i,
               CAST(count(*) OVER (PARTITION BY part) AS BIGINT) AS m,
               date_diff('day',
                         lag(d) OVER (PARTITION BY part ORDER BY d),
                         d) AS gap
        FROM demand
    ),
    zhat AS (
        SELECT part, max(m) AS m,
               sum(CASE WHEN i = 1 THEN power(0.8, m - 1) * z
                        ELSE 0.2 * power(0.8, m - i) * z END) AS z_hat
        FROM seq GROUP BY part
    ),
    phat AS (
        SELECT part,
               sum(CASE WHEN i = 2 THEN power(0.8, m - 2) * gap
                        ELSE 0.2 * power(0.8, m - i) * gap END) AS p_hat,
               avg(CAST(gap AS DOUBLE)) AS mean_gap
        FROM seq WHERE i >= 2 GROUP BY part
    )
    SELECT z.part AS partkey, z.m AS n_demands,
           round(z.z_hat, 6) + 0 AS size_hat,
           round(p.p_hat, 6) + 0 AS interval_hat,
           round(z.z_hat / p.p_hat, 6) + 0 AS croston_rate,
           round(0.9 * z.z_hat / p.p_hat, 6) + 0 AS sba_rate,
           round(p.mean_gap, 6) + 0 AS mean_gap_days
    FROM zhat z LEFT JOIN phat p ON z.part = p.part
    ORDER BY partkey
    """,
)
def w_croston(spark, sf_dir):
    """Croston's method for intermittent demand (parts 1-8, each with
    ~1% fill on the daily axis — the regime where SES/ARIMA on the raw
    series forecast zero forever): separate exponential smoothing
    (α = 0.2) of non-zero demand SIZES and inter-demand INTERVALS,
    demand rate = ẑ/p̂, with the Syntetos-Boylan approximation
    (1 − α/2) = 0.9 bias correction beside it. The SES recursions are
    evaluated in CLOSED FORM — ẑ = (1−α)^(m−1)z₁ + αΣ(1−α)^(m−i)z_i —
    so no sequential loop exists on either engine (the w_holt_linear
    treatment applied to Croston's two series).

    Scale: demand extraction is one (part, day) rollup behind a
    pushed partkey predicate; the smoothing is a per-part weighted
    aggregate over that part's OWN demand days (~30 rows each),
    partitioned by part — embarrassingly parallel across any catalog,
    never a global window. Power weights are deterministic IEEE pow
    on both engines; the 6dp snap absorbs summation order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    demand = (
        li.where(F.col("l_partkey") <= 8)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("z"))
    )
    wp = Window.partitionBy("part").orderBy("d")
    wall = Window.partitionBy("part")
    seq = demand.select(
        "part",
        "z",
        F.row_number().over(wp).alias("i"),
        F.count("*").over(wall).cast("long").alias("m"),
        F.datediff(F.col("d"), F.lag("d").over(wp)).alias("gap"),
    )
    zhat = seq.groupBy("part").agg(
        F.max("m").alias("m"),
        F.sum(
            F.when(
                F.col("i") == 1,
                F.pow(F.lit(0.8), F.col("m") - 1) * F.col("z"),
            ).otherwise(
                0.2 * F.pow(F.lit(0.8), F.col("m") - F.col("i")) * F.col("z")
            )
        ).alias("z_hat"),
    )
    phat = (
        seq.where(F.col("i") >= 2)
        .groupBy("part")
        .agg(
            F.sum(
                F.when(
                    F.col("i") == 2,
                    F.pow(F.lit(0.8), F.col("m") - 2) * F.col("gap"),
                ).otherwise(
                    0.2
                    * F.pow(F.lit(0.8), F.col("m") - F.col("i"))
                    * F.col("gap")
                )
            ).alias("p_hat"),
            F.avg(F.col("gap").cast("double")).alias("mean_gap"),
        )
    )
    return (
        # LEFT: a part with exactly ONE demand day has no gaps, so p̂ is
        # undefined (NULL interval/rate columns) — but the part must not
        # VANISH from the catalog forecast the way the old inner join
        # dropped it (round-15 fixture-sensitivity sweep — same exclusion
        # shape as the r_katz_centrality sink-node fix; hash-neutral
        # here: parts 1-8 all have ≥2 demand days at every fixture SF,
        # pinned in tests/test_round15.py).
        zhat.join(phat, "part", "left")
        .select(
            F.col("part").alias("partkey"),
            F.col("m").alias("n_demands"),
            f6(F.col("z_hat")).alias("size_hat"),
            f6(F.col("p_hat")).alias("interval_hat"),
            f6(F.col("z_hat") / F.col("p_hat")).alias("croston_rate"),
            f6(0.9 * F.col("z_hat") / F.col("p_hat")).alias("sba_rate"),
            f6(F.col("mean_gap")).alias("mean_gap_days"),
        )
        .orderBy("partkey")
    )


@register(
    "w_theta_forecast",
    """
    WITH monthly AS (
        SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100 AS y
        FROM orders GROUP BY 1
    ),
    tx AS (
        SELECT CAST(row_number() OVER (ORDER BY ym) AS BIGINT) AS t, y,
               CAST(count(*) OVER () AS BIGINT) AS n_all
        FROM monthly
    ),
    train AS (SELECT t, y, n_all - 6 AS m FROM tx WHERE t <= n_all - 6),
    fit AS (
        SELECT m,
               (CAST(count(*) AS DOUBLE) * sum(t * y)
                - CAST(sum(t) AS DOUBLE) * sum(y))
               / (CAST(count(*) AS DOUBLE) * sum(t * t)
                  - CAST(sum(t) AS DOUBLE) * sum(t)) AS slope,
               (CAST(sum(y) AS DOUBLE)
                - ((CAST(count(*) AS DOUBLE) * sum(t * y)
                    - CAST(sum(t) AS DOUBLE) * sum(y))
                   / (CAST(count(*) AS DOUBLE) * sum(t * t)
                      - CAST(sum(t) AS DOUBLE) * sum(t)))
                  * sum(t)) / count(*) AS icept
        FROM train GROUP BY m
    ),
    ses AS (
        SELECT sum(CASE WHEN t = 1
                        THEN power(0.5, f.m - 1)
                             * (2.0 * y - (f.icept + f.slope * t))
                        ELSE 0.5 * power(0.5, f.m - t)
                             * (2.0 * y - (f.icept + f.slope * t)) END)
                   AS theta2_ses
        FROM train, fit f
    )
    SELECT CAST(t - f.m AS BIGINT) AS h,
           CAST(tx.y AS BIGINT) AS actual,
           round(0.5 * (f.icept + f.slope * tx.t) + 0.5 * s.theta2_ses,
                 2) + 0 AS forecast,
           round(abs(tx.y - (0.5 * (f.icept + f.slope * tx.t)
                             + 0.5 * s.theta2_ses)), 2) + 0 AS abs_err
    FROM tx, fit f, ses s
    WHERE tx.t > f.m
    ORDER BY h
    """,
)
def w_theta_forecast(spark, sf_dir):
    """Theta-method forecast (Assimakopoulos 2000 — the M3 competition
    winner) of the last 6 months of revenue from the preceding months:
    the series is decomposed into theta-line(0) (the linear trend) and
    theta-line(2) (2y − trend, doubled curvature), the theta2 line is
    SES-smoothed (α = 0.5, closed-form weighted sum — no sequential
    loop), and the h-step forecast is the equal-weight combination of
    the trend extrapolation and the flat SES level. Per-horizon actual
    vs forecast and absolute error are emitted for the 6-month
    holdout; the equal-weight identity forecast ≡ trend/2 + ses/2 and
    the closed-form SES are pytest-replayed.

    Scale: the monthly rollup is the only data-sized pass (cents
    BIGINT-exact); the fit is a 5-sum closed form and the SES a single
    weighted aggregate over the ~80-month bounded axis. The holdout
    join is 6 rows × a 1-row fit frame — forecasting cost is
    independent of corpus size, the w_holt_winters pattern with the
    theta decomposition instead of seasonal smoothing.
    """
    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
        )
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                / F.lit(100)
            )
            .cast("long")
            .alias("y")
        )
    )
    wt = Window.orderBy("ym")
    tx = monthly.select(
        F.row_number().over(wt).cast("long").alias("t"),
        "y",
        F.count("*").over(Window.partitionBy()).cast("long").alias("n_all"),
    )
    train = tx.where(F.col("t") <= F.col("n_all") - 6).withColumn(
        "m", F.col("n_all") - 6
    )
    nd = F.count("*").cast("double")
    sxy = F.sum(F.col("t") * F.col("y"))
    sx = F.sum("t").cast("double")
    sy = F.sum("y")
    sxx = F.sum(F.col("t") * F.col("t"))
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * F.sum("t"))
    fit = train.groupBy("m").agg(
        slope.alias("slope"),
        ((F.sum("y").cast("double") - slope * F.sum("t")) / F.count("*")).alias(
            "icept"
        ),
    )
    theta2 = 2.0 * F.col("y") - (F.col("icept") + F.col("slope") * F.col("t"))
    ses = (
        train.drop("m")  # fit carries the train length; avoid dup col
        .crossJoin(F.broadcast(fit))
        .agg(
            F.sum(
                F.when(
                    F.col("t") == 1,
                    F.pow(F.lit(0.5), F.col("m") - 1) * theta2,
                ).otherwise(
                    0.5 * F.pow(F.lit(0.5), F.col("m") - F.col("t")) * theta2
                )
            ).alias("theta2_ses")
        )
    )
    fc = 0.5 * (F.col("icept") + F.col("slope") * F.col("t")) + 0.5 * F.col(
        "theta2_ses"
    )
    return (
        tx.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(ses))
        .where(F.col("t") > F.col("m"))
        .select(
            (F.col("t") - F.col("m")).cast("long").alias("h"),
            F.col("y").cast("long").alias("actual"),
            (F.round(fc, 2) + 0).alias("forecast"),
            (F.round(F.abs(F.col("y") - fc), 2) + 0).alias("abs_err"),
        )
        .orderBy("h")
    )


@register(
    "w_hampel_filter",
    """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    nbr AS (
        SELECT a.d, b.rev AS nrev
        FROM daily a JOIN daily b
          ON date_diff('day', a.d, b.d) BETWEEN -3 AND 3
    ),
    med AS (
        SELECT d, median(nrev) AS med FROM nbr GROUP BY d
    ),
    mad AS (
        SELECT n.d, median(abs(n.nrev - m.med)) AS mad
        FROM nbr n JOIN med m ON m.d = n.d
        GROUP BY n.d
    )
    SELECT dd.d AS day, dd.rev AS rev_cents,
           round(m.med, 2) + 0 AS med_cents,
           round(a.mad, 2) + 0 AS mad_cents,
           round(abs(dd.rev - m.med) - 4.4478 * a.mad, 2) + 0 AS excess,
           CASE WHEN abs(dd.rev - m.med) > 4.4478 * a.mad
                THEN 1 ELSE 0 END AS is_outlier
    FROM daily dd JOIN med m ON m.d = dd.d JOIN mad a ON a.d = dd.d
    ORDER BY excess DESC, day LIMIT 10
    """,
)
def w_hampel_filter(spark, sf_dir):
    """Hampel filter over the daily-revenue series: each day is scored
    against the MEDIAN of its ±3-day window, scaled by the window's
    MAD (median absolute deviation) — outlier when |x − med| >
    3·1.4826·MAD = 4.4478·MAD, the robust alternative to z-score
    despiking (one genuine spike inflates a rolling MEAN and STDDEV
    enough to mask itself; it cannot move the window median or MAD).
    Top-10 days by excess = |x − med| − 4.4478·MAD, flag in-row.
    The gate is a MULTIPLICATION, never a division — a zero-MAD
    window (≥4 of 7 identical values) flags any deviation without a
    divide-by-zero on either engine.

    Exactness: daily cents are BIGINT; both medians interpolate the
    two middle values identically on the two engines (cents are
    integers, so every median is .0/.5-exact and every MAD
    .25-dyadic — exact in binary); the 2dp snap is formatting.

    Scale: the ±3-day neighbor expansion is a self-join on the
    calendar axis (~2.4k days at ANY corpus size — the data-scale
    pass is the daily rollup, map-side combinable), so the window
    median runs on a 7-wide bounded frame per day; at true scale the
    daily frame broadcasts and the filter is metadata work.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    # ±3-day neighbors as an EQUI-join: explode each day into its 7
    # probe dates, then hash-join — a BETWEEN predicate would compile
    # to a nested-loop join (O(days²) comparisons); the explode form
    # stays a hash join at any calendar length.
    probes = daily.select(
        F.col("d").alias("center"),
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("k"),
    ).select("center", F.date_add(F.col("center"), F.col("k")).alias("pd"))
    nbr = probes.join(
        F.broadcast(daily), probes.pd == daily.d
    ).select(F.col("center").alias("d"), F.col("rev").alias("nrev"))
    med = nbr.groupBy("d").agg(F.median("nrev").alias("med"))
    mad = (
        nbr.join(F.broadcast(med), "d")
        .groupBy("d")
        .agg(F.median(F.abs(F.col("nrev") - F.col("med"))).alias("mad"))
    )
    dev = F.abs(F.col("rev") - F.col("med"))
    return (
        daily.join(F.broadcast(med), "d")
        .join(F.broadcast(mad), "d")
        .select(
            F.col("d").alias("day"),
            F.col("rev").alias("rev_cents"),
            money2(F.col("med")).alias("med_cents"),
            money2(F.col("mad")).alias("mad_cents"),
            money2(dev - 4.4478 * F.col("mad")).alias("excess"),
            F.when(dev > 4.4478 * F.col("mad"), 1)
            .otherwise(0)
            .alias("is_outlier"),
        )
        .orderBy(F.col("excess").desc(), "day")
        .limit(10)
    )


@register(
    "w_page_hinkley",
    """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100 AS x
        FROM orders GROUP BY 1
    ),
    dev AS (
        SELECT d, x,
               CAST(x AS DOUBLE)
               - avg(CAST(x AS DOUBLE)) OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS dv
        FROM daily
    ),
    m AS (
        SELECT d, sum(dv) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
        FROM dev
    ),
    ph AS (
        SELECT d, mt - min(mt) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ph_t
        FROM m
    ),
    lam AS (
        SELECT 5.0 * stddev_samp(CAST(x AS DOUBLE)) AS lambda
        FROM daily
    ),
    best AS (
        SELECT d, ph_t,
               row_number() OVER (ORDER BY ph_t DESC, d) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM ph
    )
    SELECT b.n AS n_days,
           round(b.ph_t, 4) + 0 AS ph_max,
           b.d AS ph_argmax_day,
           round(l.lambda, 4) + 0 AS lambda_gate,
           CASE WHEN b.ph_t > l.lambda THEN 1 ELSE 0 END AS drift_alarm
    FROM best b, lam l WHERE b.rk = 1
    """,
)
def w_page_hinkley(spark, sf_dir):
    """Page-Hinkley drift detector on daily revenue (dollars): the
    sequential change detector streaming systems run per-batch —
    m_t = Σ_{i≤t}(x_i − x̄_i) against the RUNNING mean x̄_i, PH_t =
    m_t − min_{s≤t} m_s, alarm when PH exceeds λ (here 5·σ of the
    series, computed in-query so the gate is a declared function of
    the data, not a magic constant). PH differs from w_cusum exactly
    in the reference: CUSUM deviates from a FIXED target, PH from the
    self-updating mean — so PH fires on sustained drift even when no
    baseline was ever configured, the cold-start monitoring case.
    Reports the peak, its day, and the gate in one row.

    Exactness: daily dollars are BIGINT; the running mean is an exact
    cumulative BIGINT sum divided once per row; the cumulative
    deviation sum and running min evaluate in day order on BOTH
    engines (a cumulative window has exactly one summation order), so
    the floats agree to the 4dp snap without associativity slack.

    Scale: all four cumulative windows run on the calendar-day axis
    (~2.4k rows at ANY corpus size; the data-scale pass is the daily
    rollup). The streaming twin maintains (running sum, running min)
    as two scalars of applyInPandasWithState state — this batch key
    is its replay-exact oracle.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            / F.lit(100)
        )
        .cast("long")
        .alias("x")
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dev = daily.select(
        "d",
        "x",
        (
            F.col("x").cast("double")
            - F.avg(F.col("x").cast("double")).over(wcum)
        ).alias("dv"),
    )
    m = dev.select("d", F.sum("dv").over(wcum).alias("mt"))
    ph = m.select(
        "d", (F.col("mt") - F.min("mt").over(wcum)).alias("ph_t")
    )
    lam = daily.agg(
        (5.0 * F.stddev_samp(F.col("x").cast("double"))).alias("lambda")
    )
    best = ph.select(
        "d",
        "ph_t",
        F.row_number()
        .over(Window.orderBy(F.col("ph_t").desc(), "d"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    ).where(F.col("rk") == 1)
    return best.crossJoin(F.broadcast(lam)).select(
        F.col("n").alias("n_days"),
        (F.round(F.col("ph_t"), 4) + 0).alias("ph_max"),
        F.col("d").alias("ph_argmax_day"),
        (F.round(F.col("lambda"), 4) + 0).alias("lambda_gate"),
        F.when(F.col("ph_t") > F.col("lambda"), 1)
        .otherwise(0)
        .alias("drift_alarm"),
    )


@register(
    "w_shewhart_imr",
    """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100 AS x
        FROM orders GROUP BY 1
    ),
    mr AS (
        SELECT d, x,
               abs(x - lag(x) OVER (ORDER BY d)) AS mrange
        FROM daily
    ),
    lim AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               avg(CAST(x AS DOUBLE)) AS center,
               avg(CAST(mrange AS DOUBLE)) AS mrbar
        FROM mr
    )
    SELECT l.n AS n_days,
           round(l.center, 4) + 0 AS center_usd,
           round(l.mrbar, 4) + 0 AS mr_bar,
           round(l.center + 3 * l.mrbar / 1.128, 4) + 0 AS ucl,
           round(l.center - 3 * l.mrbar / 1.128, 4) + 0 AS lcl,
           CAST(sum(CASE WHEN m.x > l.center + 3 * l.mrbar / 1.128
                           OR m.x < l.center - 3 * l.mrbar / 1.128
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_3s,
           CAST(sum(CASE WHEN m.mrange > 3.267 * l.mrbar
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mr_signals
    FROM mr m, lim l
    GROUP BY l.n, l.center, l.mrbar
    """,
)
def w_shewhart_imr(spark, sf_dir):
    """Shewhart individuals + moving-range (I-MR) control chart on
    daily revenue — the SPC chart for unit-at-a-time processes: σ̂ =
    MR̄/d₂ with d₂(2) = 1.128 (the unbiasing constant for 2-point
    moving ranges), I-chart limits center ± 3σ̂, MR-chart upper limit
    D₄·MR̄ with D₄(2) = 3.267. Reports both charts' signal counts in
    one row. The estimator choice IS the operator's point: a global
    stddev absorbs any drift into the limits (a drifting process looks
    'in control'); the moving range sees only adjacent-day noise, so
    drift and level shifts SIGNAL. Completes the monitoring ladder —
    w_cusum (cumulative, fixed target), w_page_hinkley (self-
    baselining), w_ewma (weighted memory), I-MR (memoryless limits,
    the floor every SPC rollout starts from).

    Exactness: daily dollars BIGINT; MR̄/center are one moment pass;
    limits and signal counts are float comparisons of exact integers
    against two shared constants. Scale: the daily rollup is the only
    data-sized pass; the lag window and both signal scans run on the
    bounded calendar axis.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            / F.lit(100)
        )
        .cast("long")
        .alias("x")
    )
    w = Window.orderBy("d")
    mr = daily.select(
        "d",
        "x",
        F.abs(F.col("x") - F.lag("x").over(w)).alias("mrange"),
    )
    lim = mr.agg(
        F.count("*").cast("long").alias("n"),
        F.avg(F.col("x").cast("double")).alias("center"),
        F.avg(F.col("mrange").cast("double")).alias("mrbar"),
    )
    ucl = F.col("center") + 3 * F.col("mrbar") / 1.128
    lcl = F.col("center") - 3 * F.col("mrbar") / 1.128
    return (
        mr.crossJoin(F.broadcast(lim))
        .groupBy("n", "center", "mrbar")
        .agg(
            F.sum(
                F.when((F.col("x") > ucl) | (F.col("x") < lcl), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_beyond_3s"),
            F.sum(
                F.when(F.col("mrange") > 3.267 * F.col("mrbar"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_mr_signals"),
        )
        .select(
            F.col("n").alias("n_days"),
            (F.round(F.col("center"), 4) + 0).alias("center_usd"),
            (F.round(F.col("mrbar"), 4) + 0).alias("mr_bar"),
            (F.round(ucl, 4) + 0).alias("ucl"),
            (F.round(lcl, 4) + 0).alias("lcl"),
            "n_beyond_3s",
            "n_mr_signals",
        )
    )


@register(
    "w_holt_damped",
    """
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   AS x,
               CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                    AS BIGINT) AS rn
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    s AS (
        SELECT d1.rn AS rn, d1.x AS x, d1.x AS l,
               round(d2.x - d1.x, 6) AS b,
               CAST(NULL AS DOUBLE) AS fc
        FROM daily d1 JOIN daily d2 ON d1.rn = 1 AND d2.rn = 2
        UNION ALL
        SELECT d.rn, d.x,
               round(0.5 * d.x + 0.5 * (s.l + 0.9 * s.b), 6) AS l,
               round(0.25 * (round(0.5 * d.x + 0.5 * (s.l + 0.9 * s.b),
                                   6) - s.l)
                     + 0.75 * 0.9 * s.b, 6) AS b,
               round(s.l + 0.9 * s.b, 6) AS fc
        FROM s JOIN daily d ON d.rn = s.rn + 1
    )
    SELECT daily.day,
           round(s.x / 100.0, 2) + 0.0 AS actual_usd,
           round(s.fc / 100.0, 6) + 0.0 AS forecast_usd,
           round(s.l / 100.0, 6) + 0.0 AS level_usd,
           round(s.b / 100.0, 6) + 0.0 AS trend_usd,
           round((s.l + 9.0 * s.b) / 100.0, 6) + 0.0
               AS horizon_asymptote_usd
    FROM s JOIN daily ON daily.rn = s.rn
    ORDER BY daily.day
    """,
)
def w_holt_damped(spark, sf_dir):
    """Damped-trend Holt smoothing (Gardner & McKenzie 1985, public;
    φ = 0.9, α = 1/2, β = 1/4) over daily purchase volume — the
    forecasting-practice default that beat plain Holt across the M3
    competition: the trend is multiplied by φ at every step, so the
    h-step forecast approaches the finite asymptote l + b·φ/(1−φ)
    (printed per day as horizon_asymptote_usd = l + 9b) instead of
    extrapolating a straight line forever. The w_holt_linear plan with
    the damping literal threaded through level, trend AND forecast
    recursions; same engine split — DuckDB runs the RECURSIVE CTE,
    Spark replays the identical recursion on the driver over the
    BOUNDED day axis with the same 6dp half-away snap per state per
    step, so both engines walk identical float sequences.

    Scale: the daily rollup is the only data-scale pass; the recursion
    runs on ≤366 rows/year regardless of corpus size.
    """
    from .modern import _rhu

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("double")
            .alias("x")
        )
        .orderBy("day")
        .collect()  # bounded: one row per day at ANY scale
    )
    rows = []
    if len(daily) >= 2:
        l = daily[0]["x"]
        b = _rhu(daily[1]["x"] - daily[0]["x"], 6)
        rows.append((daily[0]["day"], daily[0]["x"], None, l, b))
        for r in daily[1:]:
            fc = _rhu(l + 0.9 * b, 6)
            l_new = _rhu(0.5 * r["x"] + 0.5 * (l + 0.9 * b), 6)
            b = _rhu(0.25 * (l_new - l) + 0.75 * 0.9 * b, 6)
            l = l_new
            rows.append((r["day"], r["x"], fc, l, b))
    out = spark.createDataFrame(
        [
            (
                day,
                _rhu(x / 100.0, 2),
                _rhu(fc / 100.0, 6) if fc is not None else None,
                _rhu(l / 100.0, 6),
                _rhu(b / 100.0, 6),
                _rhu((l + 9.0 * b) / 100.0, 6),
            )
            for day, x, fc, l, b in rows
        ],
        "day date, actual_usd double, forecast_usd double,"
        " level_usd double, trend_usd double, horizon_asymptote_usd double",
    )
    return out.orderBy("day")
