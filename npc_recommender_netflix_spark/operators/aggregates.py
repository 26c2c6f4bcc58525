"""§2.4 Aggregations.

Spark runs every groupBy as partial (map-side) + final HashAggregate — the
MapReduce combiner pattern for free. At 100 TB the key concerns are (a) key
cardinality (all groupings here are low-cardinality → tiny shuffles) and
(b) skew, which AQE's skew-join/partition-coalescing handles at runtime.
`a_approx_distinct` is the scale path for COUNT DISTINCT (HLL sketch merges
map-side; exact distinct shuffles the full key set).

Each statistics input that several keys read has one owner here, and
every key that reads it is built on it (the oracle SQL twin sits beside
each owner, and repeated oracle CTEs are built from it byte for byte):
- whole-dollar daily revenue and its OLS trend: `_usd_sum`, `_daily_rev`
  and `_daily_fit` / `_DAILY_REV_SQL`, `_DAILY_SUMS_SQL`, `_OLS_FIT_SQL`,
  `_DAILY_FIT_SQL` (a_durbin_watson, a_cooks_distance, a_breusch_pagan,
  a_newey_west; the rollup alone in a_granger_1lag, a_chow_test, w_pacf,
  a_pettitt);
- the kilodollar day index: `_kd_index` and `_kd_dev` / `_KD_DAILY_SQL`,
  `_KD_DEV_SQL` (a_ljung_box, a_hurst_exponent, a_ar2_yule_walker);
- per-event-type cent moments: `_type_moments` / `_TYPE_MOMENTS_SQL`
  (a_anova_f, a_power_sample_size, a_tukey_hsd, a_welch_anova);
- day x event-type mid-rank sums: `_mid_rank_sums` -> `_dunn_pairs`,
  with `_tie_census` / `_MID_RANKS_SQL`, `_RANK_SUMS_SQL`, `_TIE_SQL`
  (a_kruskal_wallis, a_dunn_test, a_by_fdr_pairs; the tie
  census also in a_wilcoxon_signed_rank);
- the R/N returnflag quantity census: `_rn_census` / `_RN_CENSUS_SQL`
  (a_cliffs_delta, a_cvm_twosample, a_ansari_bradley, a_brunner_munzel);
- per-nation order-price moments: `_by_nation`, `_nation_moments` /
  `_NATION_MOMENTS_SQL` (a_meta_fixed_effect, a_james_stein,
  a_neyman_allocation);
- zero-filled weekday x priority cells: `_zero_filled` /
  `_PRIO_CELLS_SQL` (a_page_trend, a_quade_test);
- purchase/view moments and daily purchase/click pairs:
  `_purchase_view_moments` / `_PV_MOMENTS_SQL` (a_cohens_d,
  a_ttest_welch) and `_purchase_click_days` / `_PC_DAILY_SQL`
  (a_wilcoxon_signed_rank, a_sign_test);
- the month percent-rank return forecaster: `_month_scored` /
  `_MONTH_SCORED_SQL` (a_brier_decomposition, a_isotonic_pav);
- the IRLS step: `_irls_moments` + `_cramer3` (a_logistic_irls,
  a_poisson_irls);
- the churn risk set oracle: `_CHURN_RISK_SQL` (a_survival_rmst,
  a_nelson_aalen, a_greenwood_ci; their DataFrames use
  modern.churn_lifetimes).
Where a key caches a frame partway through a family, the owner is split
at that frame so the key keeps its cache.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import f6, load_table, money2, tables


@register(
    "a_global",
    """
    SELECT round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS cnt,
           min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
    FROM lineitem
    """,
)
def a_global(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        money2(F.sum("l_quantity")).alias("sum_qty"),
        money2(F.sum("l_extendedprice")).alias("sum_price"),
        F.count("*").alias("cnt"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


Q1_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@register("a_groupby", Q1_ORACLE)
def a_groupby(spark, sf_dir):
    """TPC-H Q1-style pricing summary — the flagship query (SURVEY §7 P1)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money2(F.sum("l_quantity")).alias("sum_qty"),
            money2(F.sum("l_extendedprice")).alias("sum_base_price"),
            money2(F.sum(disc_price)).alias("sum_disc_price"),
            money2(F.sum(charge)).alias("sum_charge"),
            f6(F.avg("l_quantity")).alias("avg_qty"),
            f6(F.avg("l_extendedprice")).alias("avg_price"),
            f6(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "a_count_distinct",
    """
    SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_count_distinct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts")
    )


@register(
    "a_multi_distinct",
    """
    SELECT count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_supps,
           count(*) AS cnt
    FROM lineitem
    """,
)
def a_multi_distinct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count("*").alias("cnt"),
    )


@register(
    "a_having",
    """
    SELECT o_custkey, count(*) AS n_orders FROM orders
    GROUP BY o_custkey HAVING count(*) > 15
    """,
)
def a_having(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") > 15)
    )


@register(
    "a_stats",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_stats(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        f6(F.stddev_samp("l_quantity")).alias("sd_qty"),
        f6(F.var_samp("l_quantity")).alias("var_qty"),
        f6(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
    )


@register(
    "a_median",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_median(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        f6(F.percentile("l_quantity", 0.5)).alias("median_qty"),
        f6(F.percentile("l_quantity", 0.9)).alias("p90_qty"),
    )


@register(
    "a_grouping_sets",
    """
    SELECT r.r_name, n.n_name, count(*) AS cnt
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((r.r_name), (r.r_name, n.n_name), ())
    """,
)
def a_grouping_sets(spark, sf_dir):
    region, nation, cust = tables(spark, sf_dir, "region", "nation", "customer")
    region.createOrReplaceTempView("v_region")
    nation.createOrReplaceTempView("v_nation")
    cust.createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT r.r_name, n.n_name, count(*) AS cnt
        FROM v_region r JOIN v_nation n ON n.n_regionkey = r.r_regionkey
        JOIN v_customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((r.r_name), (r.r_name, n.n_name), ())
        """
    )


@register(
    "a_rollup",
    """
    SELECT r.r_name, n.n_name, count(*) AS cnt
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def a_rollup(spark, sf_dir):
    region, nation, cust = tables(spark, sf_dir, "region", "nation", "customer")
    j = region.join(nation, nation.n_regionkey == region.r_regionkey).join(
        cust, cust.c_nationkey == nation.n_nationkey
    )
    return j.rollup("r_name", "n_name").agg(F.count("*").alias("cnt"))


@register(
    "a_cube",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS cnt
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a_cube(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        money2(F.sum("l_quantity")).alias("sum_qty"), F.count("*").alias("cnt")
    )


@register(
    "a_collect_sorted",
    """
    SELECT r.r_regionkey, array_to_string(list_sort(list(n.n_name)), ',') AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_regionkey
    """,
)
def a_collect_sorted(spark, sf_dir):
    # collect_list + sort_array is the operator under test; the output is
    # serialized to a ','-joined string because raw ARRAY columns crash the
    # driver harness's pandas canonicalization (r1 err: unhashable 'list').
    region, nation = tables(spark, sf_dir, "region", "nation")
    j = region.join(nation, nation.n_regionkey == region.r_regionkey)
    return j.groupBy("r_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations")
    )


@register("a_approx_distinct")  # rows-only: HLL sketch is engine-specific
def a_approx_distinct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
    )


@register(
    "a_argmax",
    """
    SELECT c_mktsegment, o_orderkey AS best_order, round(o_totalprice, 2) AS best_price
    FROM (
        SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
               row_number() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn = 1
    """,
)
def a_argmax(spark, sf_dir):
    orders, cust = tables(spark, sf_dir, "orders", "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderkey").alias("best_order"),
            money2(F.col("o_totalprice")).alias("best_price"),
        )
    )


@register(
    "a_string_agg",
    """
    SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def a_string_agg(spark, sf_dir):
    """Ordered string aggregation (listagg): deterministic via sort_array
    before the join — collect_list order alone is partition-dependent."""
    region, nation = tables(spark, sf_dir, "region", "nation")
    j = region.join(nation, nation.n_regionkey == region.r_regionkey)
    return j.groupBy("r_name").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations_csv")
    )


@register(
    "a_bool_agg",
    """
    SELECT l_returnflag,
           bool_and(l_discount <= 0.1) AS all_small_disc,
           bool_or(l_quantity > 45) AS any_big_qty,
           count(*) FILTER (WHERE l_tax = 0) AS n_taxfree
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_bool_agg(spark, sf_dir):
    """Boolean aggregates + filtered count (FILTER clause equivalent)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_discount") <= 0.1).alias("all_small_disc"),
        F.bool_or(F.col("l_quantity") > 45).alias("any_big_qty"),
        F.count(F.when(F.col("l_tax") == 0, 1)).alias("n_taxfree"),
    )


@register(
    "a_mode_deterministic",
    """
    WITH cnt AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY user_id, event_type
    ),
    rk AS (
        SELECT user_id, event_type, c,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, event_type) AS rn
        FROM cnt
    )
    SELECT user_id, event_type AS modal_type, CAST(c AS BIGINT) AS n
    FROM rk WHERE rn = 1 ORDER BY user_id
    """,
)
def a_mode_deterministic(spark, sf_dir):
    """Deterministic mode: most frequent event_type per user, ties broken
    lexicographically — unlike the built-in mode() whose tie winner is
    engine/partitioning-dependent, this is reproducible everywhere.

    Plan shape: count rollup then a row_number window, both clustered on
    user_id (one exchange; WindowGroupLimit keeps only the top row per
    user). State is O(types) per user regardless of event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("user_id").orderBy(F.col("c").desc(), "event_type")
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"),
                F.col("c").cast("long").alias("n"))
        .orderBy("user_id")
    )


@register(
    "a_weighted_median",
    """
    WITH w AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem
    ),
    cum AS (
        SELECT l_returnflag, cents, wt,
               sum(wt) OVER (PARTITION BY l_returnflag ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw,
               sum(wt) OVER (PARTITION BY l_returnflag) AS tw
        FROM w
    )
    SELECT l_returnflag,
           round(min(cents) / 100.0, 2) + 0.0 AS weighted_median,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cw >= tw
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def a_weighted_median(spark, sf_dir):
    """Quantity-weighted median of line price per return flag: the smallest
    price whose cumulative weight reaches half the total — the weighted
    order statistic a revenue-fairness report needs.

    Exactness: prices ride as BIGINT cents and weights as BIGINT, and the
    half-total comparison is `2*cw >= tw` in integers — no float anywhere
    until the final /100 display. Equal-price runs cross the threshold at
    the same price whatever their internal order, so no tiebreak column is
    needed. Plan shape: both windows and the final min-rollup share one
    returnflag exchange; at 100 TB you'd swap in the sketch-based
    `a_approx_quantile` path — this key is the exact twin.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    win = Window.partitionBy("l_returnflag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag", "cents",
        F.sum("wt").over(win).alias("cw"),
        F.sum("wt").over(tot).alias("tw"),
    )
    return (
        cum.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            (F.round(F.min("cents") / 100.0, 2) + 0.0).alias("weighted_median"),
            F.min("tw").cast("long").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "a_mad_outliers",
    """
    WITH med AS (
        SELECT l_returnflag,
               quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)
                   AS med_cents
        FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
        SELECT l.l_returnflag,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
               abs(CAST(round(l.l_extendedprice * 100) AS BIGINT) - m.med_cents)
                   AS adev
        FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    ),
    mad AS (
        SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad_cents
        FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           round(min(m.med_cents) / 100.0, 2) + 0.0 AS median_price,
           round(min(mad.mad_cents) / 100.0, 2) + 0.0 AS mad_price,
           CAST(sum(CASE WHEN d.adev > 3 * mad.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM dev d JOIN med m ON d.l_returnflag = m.l_returnflag
               JOIN mad ON mad.l_returnflag = d.l_returnflag
    GROUP BY d.l_returnflag
    ORDER BY d.l_returnflag
    """,
)
def a_mad_outliers(spark, sf_dir):
    """Robust outlier detection: flag prices more than 3 median-absolute-
    deviations from the per-group median — the rank-based alternative to
    z-scores that heavy tails can't distort.

    Exactness: prices ride as BIGINT cents; both medians interpolate over
    integers (percentile ↔ quantile_cont, the `a_median` precedent), and
    the 3×MAD comparison multiplies an at-worst-.5-fractional median by an
    exact 3 — identical doubles both engines. Plan shape: two grouped
    percentile passes + one counting pass, all clustered on returnflag;
    the tiny med/mad tables broadcast back onto the fact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    base = li.select("l_returnflag", cents.alias("cents"))
    med = base.groupBy("l_returnflag").agg(
        F.percentile("cents", 0.5).alias("med_cents")
    )
    dev = base.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", "cents", "med_cents",
        F.abs(F.col("cents") - F.col("med_cents")).alias("adev"),
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.percentile("adev", 0.5).alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            (F.round(F.min("med_cents") / 100.0, 2) + 0.0).alias("median_price"),
            (F.round(F.min("mad_cents") / 100.0, 2) + 0.0).alias("mad_price"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad_cents"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "a_entropy",
    """
    WITH c AS (SELECT user_id, event_type, count(*) AS c
               FROM events WHERE user_id < 50 GROUP BY 1, 2),
    t AS (SELECT user_id, sum(c) AS n, count(*) AS k FROM c GROUP BY 1)
    SELECT c.user_id,
           CAST(any_value(t.n) AS BIGINT) AS n_events,
           CAST(any_value(t.k) AS BIGINT) AS n_types,
           round(sum(CAST(round((c.c * 1.0 / t.n) * ln(t.n * 1.0 / c.c)
                                / ln(2) * 1e12) AS BIGINT)) / 1e12, 6) + 0
               AS entropy_bits
    FROM c JOIN t ON t.user_id = c.user_id
    GROUP BY c.user_id
    """,
)
def a_entropy(spark, sf_dir):
    """Per-user Shannon entropy (bits) of the event-type distribution —
    the behavioral-diversity signal feature pipelines derive per entity.

    Each term p·log2(1/p) is rounded to exact 1e-12 units BEFORE the sum
    (the same pre-round-then-integer-sum trick as r_baseline_bias), so the
    per-user reduction is BIGINT arithmetic — partial-aggregation order
    can't move the final 6dp round. The oracle phrases the per-user totals
    as a self-join; here they're a window over the count table instead, so
    the plan scans events ONCE and shuffles twice ((user, type) counts,
    then user) — the final rollup reuses the window's partitioning.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    wu = Window.partitionBy("user_id")
    ct = c.select(
        "user_id", "c",
        F.sum("c").over(wu).alias("n"),
        F.count("*").over(wu).alias("k"),
    )
    term = F.round(
        (F.col("c") * 1.0 / F.col("n"))
        * F.log(F.col("n") * 1.0 / F.col("c"))
        / F.log(F.lit(2.0))
        * 1e12
    ).cast("long")
    return (
        ct.groupBy("user_id")
        .agg(
            F.any_value("n").cast("long").alias("n_events"),
            F.any_value("k").cast("long").alias("n_types"),
            (F.round(F.sum(term) / 1e12, 6) + 0.0).alias("entropy_bits"),
        )
    )


@register(
    "a_ks_drift",
    """
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    c AS (SELECT cents,
                 sum(grp) AS ca,
                 sum(1 - grp) AS cb
          FROM v GROUP BY cents),
    t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c),
    cum AS (
        SELECT cents,
               sum(ca) OVER (ORDER BY cents
                             ROWS UNBOUNDED PRECEDING) AS cca,
               sum(cb) OVER (ORDER BY cents
                             ROWS UNBOUNDED PRECEDING) AS ccb
        FROM c
    )
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           round(max(abs(cca * 1.0 / t.na - ccb * 1.0 / t.nb)), 6) AS ks_stat
    FROM cum CROSS JOIN t
    GROUP BY t.na, t.nb
    """,
)
def a_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the purchase and
    view value distributions — the classic distribution-drift test a
    training-data pipeline runs between ingest batches before trusting
    new data.

    Empirical CDFs are running sums of exact integer counts over the
    distinct-value axis (grouped to |distinct cents| rows first, so the
    global-ordered window runs over the AGGREGATED axis — bounded by value
    cardinality, not row count; at 100 TB you'd pre-bin to a fixed grid
    which keeps this window constant-size). Each CDF ratio is one exact
    division; the max runs over deterministic doubles.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    )
    v = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
    )
    # Shared by the totals and the CDF window: one materialization.
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 0.84 -> 0.98 s without it, IQR 0.10 s.
    c = v.groupBy("cents").agg(
        F.sum("grp").alias("ca"), F.sum(1 - F.col("grp")).alias("cb")
    ).cache()
    t = c.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = c.select(
        "cents",
        F.sum("ca").over(wc).alias("cca"),
        F.sum("cb").over(wc).alias("ccb"),
    )
    return (
        cum.crossJoin(F.broadcast(t))
        .groupBy("na", "nb")
        .agg(
            f6(F.max(F.abs(
                F.col("cca") * 1.0 / F.col("na")
                - F.col("ccb") * 1.0 / F.col("nb")
            ))).alias("ks_stat"),
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "ks_stat",
        )
    )


@register(
    "a_psi_drift",
    """
    WITH v AS (
        SELECT CASE WHEN year(ts) < 1997 THEN 0 ELSE 1 END AS period,
               least(greatest(CAST(floor(value / 100.0) AS BIGINT), 0), 9) AS bin
        FROM events
    ),
    c AS (SELECT bin,
                 sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) + 1 AS ca,
                 sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) + 1 AS cb
          FROM v GROUP BY bin),
    t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c)
    SELECT round(sum(CAST(round((ca * 1.0 / t.na - cb * 1.0 / t.nb)
                                * ln((ca * 1.0 / t.na) / (cb * 1.0 / t.nb))
                                * 1e12) AS BIGINT)) / 1e12, 6) + 0 AS psi,
           CAST(count(*) AS BIGINT) AS n_bins
    FROM c CROSS JOIN t
    """,
)
def a_psi_drift(spark, sf_dir):
    """Population Stability Index between the pre-1997 and 1997+ event
    value distributions over a fixed 10-bin grid — the monitoring metric
    feature stores alarm on (PSI > 0.2 = retrain).

    The fixed binning (floor(value/100), clamped to [0, 9], add-1
    smoothed) makes the aggregation axis CONSTANT-size regardless of
    corpus scale: one partial-aggregated groupBy, totals broadcast, and
    each bin's PSI term pre-rounds to exact 1e-12 units before the final
    BIGINT sum (a_entropy's reorder-safe trick).
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.when(F.year("ts") < 1997, 0).otherwise(1).alias("period"),
        F.least(
            F.greatest(F.floor(F.col("value") / 100.0).cast("long"), F.lit(0)),
            F.lit(9),
        ).alias("bin"),
    )
    c = v.groupBy("bin").agg(
        (F.sum(F.when(F.col("period") == 0, 1).otherwise(0)) + 1).alias("ca"),
        (F.sum(F.when(F.col("period") == 1, 1).otherwise(0)) + 1).alias("cb"),
    )
    t = c.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    pa = F.col("ca") * 1.0 / F.col("na")
    pb = F.col("cb") * 1.0 / F.col("nb")
    term = F.round((pa - pb) * F.log(pa / pb) * 1e12).cast("long")
    return (
        c.crossJoin(F.broadcast(t))
        .agg(
            (F.round(F.sum(term) / 1e12, 6) + 0.0).alias("psi"),
            F.count("*").cast("long").alias("n_bins"),
        )
    )


# Benford expected first-digit shares log10(1 + 1/d), d = 1..9, as exact
# double literals (both engines parse the same decimals; no engine log10).
_BENFORD = [0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
            0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
            0.05799194697768673, 0.05115252244738129, 0.04575749056067514]


@register(
    "a_benford_fit",
    f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n) AS total FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n_obs,
           round(n * 1.0 / t.total, 6) AS obs_share,
           ([{", ".join(f"CAST({w!r} AS DOUBLE)" for w in _BENFORD)}])[CAST(digit AS INTEGER)]
               AS exp_share,
           round(abs(n * 1.0 / t.total
                     - ([{", ".join(f"CAST({w!r} AS DOUBLE)" for w in _BENFORD)}])[CAST(digit AS INTEGER)]),
                 6) AS abs_dev
    FROM c CROSS JOIN t
    ORDER BY digit
    """,
)
def a_benford_fit(spark, sf_dir):
    """Benford's-law first-digit audit over order totals — the forensic
    data-quality screen for fabricated or truncated numeric columns
    (synthetic uniform data fails it loudly; organic multiplicative data
    passes).

    First digits come from the exact cents integer (no float formatting),
    the digit axis is constant-size (9 rows) at any scale, totals attach
    as a broadcast single-row join, and the expected shares are parsed
    decimal literals — no engine computes its own log10.
    """
    wlit = "array(" + ", ".join(f"CAST({w!r} AS DOUBLE)" for w in _BENFORD) + ")"
    orders = load_table(spark, sf_dir, "orders")
    d = orders.where(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        ).cast("long").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    exp = F.expr(f"element_at({wlit}, CAST(digit AS INT))")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n_obs"),
            f6(F.col("n") * 1.0 / F.col("total")).alias("obs_share"),
            exp.alias("exp_share"),
            f6(F.abs(F.col("n") * 1.0 / F.col("total") - exp)).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@register(
    "a_gini",
    """
    WITH spend AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS i
        FROM spend
    ),
    t AS (SELECT sum(cents) AS s, count(*) AS n,
                 sum(i * cents) AS ws
          FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(s / 100.0, 2) + 0.0 AS total_spend,
           round(2.0 * ws / (n * s) - (n + 1.0) / n, 6) + 0 AS gini
    FROM t
    """,
)
def a_gini(spark, sf_dir):
    """Gini coefficient of customer spend concentration — the inequality
    summary behind every 'top x% of customers drive y% of revenue' slide,
    and the q_pareto_brands curve collapsed to one number.

    The rank-weighted sum runs over the DISTINCT-SPEND axis (round 10):
    ties at spend value v with count c and cum-before b contribute ranks
    b+1..b+c, so Σi·x = Σ_v v·(c·b + c(c+1)/2) exactly — the rank
    PERMUTATION within a tie never changes the sum, which is why the
    oracle's row-level row_number form (orderkey tiebreak) produces the
    identical value. The only partitionless window is the cumulative
    count over spend cardinality, which saturates at the price domain
    instead of growing with the customer axis; rank-weighted sums stay
    exact BIGINT (cents × rank) and the Gini closed form
    2Σ(i·x)/(nΣx) − (n+1)/n evaluates in one float association.
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    byv = spend.groupBy("cents").agg(F.count("*").cast("long").alias("c"))
    wb = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = byv.select(
        "cents", "c", F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("b")
    )
    ws_term = F.col("cents") * (
        F.col("c") * F.col("b")
        # c*(c+1) is even, so integer `div` is exact BIGINT; the earlier
        # floor(·/2) routed through double division and would lose
        # exactness once c(c+1) exceeds 2^53 (round-10 advice).
        + F.expr("c * (c + 1) div 2")
    )
    t = cum.agg(
        F.sum(F.col("cents") * F.col("c")).alias("s"),
        F.sum("c").alias("n"),
        F.sum(ws_term).alias("ws"),
    )
    return t.select(
        F.col("n").cast("long").alias("n_customers"),
        (F.round(F.col("s") / 100.0, 2) + 0.0).alias("total_spend"),
        (F.round(
            2.0 * F.col("ws") / (F.col("n") * F.col("s"))
            - (F.col("n") + 1.0) / F.col("n"), 6) + 0.0).alias("gini"),
    )


@register(
    "a_cramers_v",
    """
    WITH cell AS (
        SELECT event_type AS et, dayofweek(ts) + 1 AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT et, dow, n,
               sum(n) OVER (PARTITION BY et) AS nr,
               sum(n) OVER (PARTITION BY dow) AS nc,
               sum(n) OVER () AS tot
        FROM cell
    ),
    t AS (
        SELECT CAST(round((n - nr * 1.0 * nc / tot)
                          * (n - nr * 1.0 * nc / tot)
                          / (nr * 1.0 * nc / tot) * 1e9) AS BIGINT) AS term,
               n, et, dow, tot
        FROM m
    )
    SELECT CAST(max(tot) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT et) AS BIGINT) AS n_types,
           CAST(count(DISTINCT dow) AS BIGINT) AS n_days,
           round(sum(term) / 1e9, 6) AS chi2,
           round(sqrt(sum(term) / 1e9
                      / (max(tot) * (least(count(DISTINCT et),
                                           count(DISTINCT dow)) - 1))), 6)
               AS cramers_v
    FROM t
    """,
)
def a_cramers_v(spark, sf_dir):
    """Cramér's V association between event type and day-of-week — the
    categorical-vs-categorical dependence screen (chi-square normalized to
    [0,1]) a feature-audit pipeline runs before one-hot encoding.

    The contingency table is ONE count shuffle (cells bounded by
    |types| x 7, independent of row count); margins attach via window sums
    over that tiny frame, and each chi-square term is rounded to exact
    1e-9 BIGINT units before the final sum so the reduction is
    reorder-safe across partitions. Spark dayofweek is 1-based Sunday;
    the oracle shifts DuckDB's 0-based dow to match.
    """
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("event_type").alias("et"),
        F.dayofweek("ts").cast("long").alias("dow"),
    ).agg(F.count("*").alias("n"))
    m = cell.select(
        "et", "dow", "n",
        F.sum("n").over(Window.partitionBy("et")).alias("nr"),
        F.sum("n").over(Window.partitionBy("dow")).alias("nc"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
    )
    e = F.col("nr") * 1.0 * F.col("nc") / F.col("tot")
    term = F.round((F.col("n") - e) * (F.col("n") - e) / e * 1e9).cast("long")
    t = m.select(term.alias("term"), "n", "et", "dow", "tot")
    chi2 = F.sum("term") / 1e9
    dof = F.least(F.countDistinct("et"), F.countDistinct("dow")) - 1
    return t.agg(
        F.max("tot").cast("long").alias("n_rows"),
        F.countDistinct("et").cast("long").alias("n_types"),
        F.countDistinct("dow").cast("long").alias("n_days"),
        f6(chi2).alias("chi2"),
        f6(F.sqrt(chi2 / (F.max("tot") * dof))).alias("cramers_v"),
    )


# md5 first-8-hex -> uint32 (DuckDB has no conv(); llm/dedup.py recipe).
_H32_ORD = """
    CAST(list_sum(list_transform(range(1, 9),
        j -> (strpos('0123456789abcdef',
                     substring(md5(CAST(o_orderkey AS VARCHAR)), j, 1)) - 1)
             * 16 ** (8 - j))) AS BIGINT)
"""


@register(
    "a_jackknife_ci",
    f"""
    WITH b AS (
        SELECT {_H32_ORD} % 10 AS bucket,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    g AS (SELECT bucket, sum(cents) AS s, CAST(count(*) AS BIGINT) AS n
          FROM b GROUP BY bucket),
    t AS (SELECT sum(s) AS st, sum(n) AS nt,
                 CAST(count(*) AS BIGINT) AS nb FROM g),
    loo AS (
        SELECT round((t.st - g.s) * 1.0 / (t.nt - g.n) / 100 * 1e3)
                   AS mi, t.nb, t.st, t.nt
        FROM g CROSS JOIN t
    ),
    jk AS (
        SELECT max(nb) AS nb, max(st) AS st, max(nt) AS nt,
               sum(CAST(mi AS BIGINT)) AS smi,
               sum(CAST(mi AS BIGINT) * CAST(mi AS BIGINT)) AS smi2
        FROM loo
    )
    SELECT CAST(nt AS BIGINT) AS n_orders,
           round(st * 1.0 / nt / 100, 6) AS mean_aov,
           round(sqrt((nb - 1.0) / nb
                      * (smi2 / 1e6 - smi * smi / 1e6 / nb)), 6)
               AS jk_se,
           round(st * 1.0 / nt / 100
                 - 1.96 * sqrt((nb - 1.0) / nb
                               * (smi2 / 1e6 - smi * smi / 1e6 / nb)),
                 6) AS ci_lo,
           round(st * 1.0 / nt / 100
                 + 1.96 * sqrt((nb - 1.0) / nb
                               * (smi2 / 1e6 - smi * smi / 1e6 / nb)),
                 6) AS ci_hi
    FROM jk
    """,
)
def a_jackknife_ci(spark, sf_dir):
    """Delete-one-bucket jackknife confidence interval for average order
    value — the deterministic resampling CI a metrics platform attaches to
    every mean without a random number generator (buckets come from an
    md5-derived hash of the order key, identical in both engines).

    Each leave-one-out mean divides exact BIGINT totals, is snapped to
    1e-3 currency units (BIGINT — coarse enough that its square times ten
    buckets stays far inside int64), and the 10-element variance reduction
    runs over those integers — reorder-safe end to end; only the final
    se/CI expressions touch floats, in one shared association. Bucket
    sums are one 10-group partial aggregation (map-side combine), totals
    a single-row broadcast: two tiny shuffles regardless of order count.
    """
    orders = load_table(spark, sf_dir, "orders")
    h32 = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    b = orders.select(
        (h32 % 10).alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = b.groupBy("bucket").agg(
        F.sum("cents").alias("s"), F.count("*").cast("long").alias("n")
    )
    t = g.agg(
        F.sum("s").alias("st"), F.sum("n").alias("nt"),
        F.count("*").cast("long").alias("nb"),
    )
    loo = g.crossJoin(F.broadcast(t)).select(
        F.round((F.col("st") - F.col("s")) * 1.0 / (F.col("nt") - F.col("n")) / 100 * 1e3)
        .cast("long").alias("mi"),
        "nb", "st", "nt",
    )
    jk = loo.agg(
        F.max("nb").alias("nb"), F.max("st").alias("st"), F.max("nt").alias("nt"),
        F.sum("mi").alias("smi"),
        F.sum(F.col("mi") * F.col("mi")).alias("smi2"),
    )
    mean = F.col("st") * 1.0 / F.col("nt") / 100
    var = (F.col("nb") - 1.0) / F.col("nb") * (
        F.col("smi2") / 1e6 - F.col("smi") * F.col("smi") / 1e6 / F.col("nb")
    )
    se = F.sqrt(var)
    return jk.select(
        F.col("nt").cast("long").alias("n_orders"),
        F.round(mean, 6).alias("mean_aov"),
        F.round(se, 6).alias("jk_se"),
        F.round(mean - 1.96 * se, 6).alias("ci_lo"),
        F.round(mean + 1.96 * se, 6).alias("ci_hi"),
    )


@register(
    "a_hill_tail",
    """
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, o_orderkey) AS rn
        FROM v
    ),
    xmin AS (SELECT cents AS cmin FROM ranked WHERE rn = 501)
    SELECT CAST(500 AS BIGINT) AS k,
           round(cmin / 100.0, 2) AS x_min,
           round(1.0 / avg(ln(cents * 1.0) - ln(cmin * 1.0)), 6)
               AS hill_alpha
    FROM ranked CROSS JOIN xmin
    WHERE rn <= 500
    GROUP BY cmin
    """,
)
def a_hill_tail(spark, sf_dir):
    """Hill estimator of the heavy-tail index over the top-500 order
    values — the risk-team statistic that says whether extreme order sizes
    follow a power law (α ≤ 2: infinite variance, capacity planning must
    use quantiles, not means; a_benford_fit audits digits, this audits
    the tail).

    The order statistics come from a rank over exact BIGINT cents with an
    orderkey tiebreak (deterministic under duplicates); only the top 501
    rows survive into the estimate, the threshold attaches as a broadcast
    scalar, and the per-order term is ONE difference of logs of exact
    integers inside a single avg (shared association). The top-(k+1) IS a
    TakeOrderedAndProject — orderBy().limit(501), a per-partition heap,
    never a full sort (round 10: the previous global row_number window
    pushed every order through one task; the rank window now runs over
    the already-501-row result, bounded at k+1 at any corpus size). The
    oracle keeps the window form — same rows under the same tiebreak.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    top = v.orderBy(F.col("cents").desc(), "o_orderkey").limit(501)
    w = Window.orderBy(F.col("cents").desc(), "o_orderkey")
    ranked = top.select("cents", F.row_number().over(w).alias("rn"))
    xmin = ranked.where(F.col("rn") == 501).select(F.col("cents").alias("cmin"))
    return (
        ranked.where(F.col("rn") <= 500)
        .crossJoin(F.broadcast(xmin))
        .groupBy("cmin")
        .agg(
            F.lit(500).cast("long").alias("k"),
            F.round(F.col("cmin") / 100.0, 2).alias("x_min"),
            f6(
                1.0
                / F.avg(F.log(F.col("cents") * 1.0) - F.log(F.col("cmin") * 1.0))
            ).alias("hill_alpha"),
        )
        .select("k", "x_min", "hill_alpha")
    )


@register(
    "a_mann_whitney",
    """
    WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    byval AS (
        SELECT cents,
               CAST(sum(grp) AS BIGINT) AS n_a,
               CAST(sum(1 - grp) AS BIGINT) AS n_b
        FROM v GROUP BY cents
    ),
    ranked AS (
        SELECT n_a, n_b,
               coalesce(sum(n_a + n_b) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM byval
    ),
    s AS (
        SELECT sum(n_a * (2 * cum_before + n_a + n_b + 1)) AS r1x2,
               sum(n_a) AS n1, sum(n_b) AS n2
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(r1x2 / 2.0 - n1 * (n1 + 1) / 2.0, 6) AS u1,
           round((r1x2 / 2.0 - n1 * (n1 + 1) / 2.0 - n1 * 1.0 * n2 / 2)
                 / sqrt(n1 * 1.0 * n2 * (n1 + n2 + 1) / 12), 6) + 0 AS z
    FROM s
    """,
)
def a_mann_whitney(spark, sf_dir):
    """Mann-Whitney U (rank-sum) test: purchase vs view value
    distributions — the nonparametric location-shift drift monitor that
    completes the a_ks_drift / a_psi_drift family (KS sees any shape
    change, PSI sees binned mass moves, U asks specifically "is one
    group systematically larger?").

    Mid-rank tie handling is exact: ranks come from cumulative counts
    over the DISTINCT-cents axis (the a_ks_drift shape — the window runs
    over value cardinality, not rows), and the rank-sum is carried as
    2×R₁, an exact BIGINT, so the reduction is reorder-safe; U and the
    normal approximation touch floats once in a shared association (tie
    variance correction omitted — documented, identical both engines).
    At 100 TB the doubled rank-sum needs DECIMAL(38,0) — same swap as
    the Q1 charge cells.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    )
    v = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
    )
    byval = v.groupBy("cents").agg(
        F.sum("grp").cast("long").alias("n_a"),
        F.sum(1 - F.col("grp")).cast("long").alias("n_b"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = byval.select(
        "n_a", "n_b",
        F.coalesce(F.sum(F.col("n_a") + F.col("n_b")).over(w), F.lit(0)).alias(
            "cum_before"
        ),
    )
    s = ranked.agg(
        F.sum(
            F.col("n_a")
            * (2 * F.col("cum_before") + F.col("n_a") + F.col("n_b") + 1)
        ).alias("r1x2"),
        F.sum("n_a").alias("n1"),
        F.sum("n_b").alias("n2"),
    )
    u1 = F.col("r1x2") / 2.0 - F.col("n1") * (F.col("n1") + 1) / 2.0
    z = (u1 - F.col("n1") * 1.0 * F.col("n2") / 2) / F.sqrt(
        F.col("n1") * 1.0 * F.col("n2") * (F.col("n1") + F.col("n2") + 1) / 12
    )
    return s.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(u1, 6).alias("u1"),
        f6(z).alias("z"),
    )


@register(
    "a_winsorized_mean",
    """
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    b AS (
        SELECT quantile_cont(cents, 0.05) AS lo,
               quantile_cont(cents, 0.95) AS hi
        FROM v
    ),
    cl AS (
        SELECT CAST(round(
                   CASE WHEN cents < b.lo THEN b.lo
                        WHEN cents > b.hi THEN b.hi
                        ELSE cents END) AS BIGINT) AS wc
        FROM v CROSS JOIN b
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round((SELECT lo FROM b) / 100.0, 6) AS p05,
           round((SELECT hi FROM b) / 100.0, 6) AS p95,
           round(sum(wc) * 1.0 / count(*) / 100, 6) AS winsorized_mean
    FROM cl
    """,
)
def a_winsorized_mean(spark, sf_dir):
    """5%-winsorized mean of order value: clamp both tails at the
    p5/p95 fences, then average — the robust central-tendency estimate
    dashboards use when a_hill_tail says the raw mean is hostage to the
    tail (trimming drops outliers; winsorizing keeps their count but
    caps their leverage).

    The fences are one exact interpolated percentile pass over integer
    cents (a_median semantics) and broadcast as a single row; clamped
    values snap back to BIGINT cents (the fence is at worst a .5 —
    round() resolves it identically in both engines) so the final sum is
    an exact integer reduction with ONE division. Two linear passes, no
    sort of raw data beyond the percentile's own machinery.
    """
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    b = v.agg(
        F.percentile("cents", 0.05).alias("lo"),
        F.percentile("cents", 0.95).alias("hi"),
    )
    cl = v.crossJoin(F.broadcast(b)).select(
        F.round(
            F.when(F.col("cents") < F.col("lo"), F.col("lo"))
            .when(F.col("cents") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("cents"))
        ).cast("long").alias("wc"),
        "lo", "hi",
    )
    return cl.agg(
        F.count("*").cast("long").alias("n"),
        f6(F.max("lo") / 100.0).alias("p05"),
        f6(F.max("hi") / 100.0).alias("p95"),
        f6(F.sum("wc") * 1.0 / F.count("*") / 100).alias("winsorized_mean"),
    )


@register(
    "a_spearman_corr",
    """
    WITH ax AS (
        SELECT o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    ),
    rk AS (
        SELECT o_orderkey,
               2 * rank() OVER (ORDER BY cents)
                 + count(*) OVER (PARTITION BY cents) - 1 AS rx2,
               2 * rank() OVER (ORDER BY n_lines)
                 + count(*) OVER (PARTITION BY n_lines) - 1 AS ry2
        FROM ax
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(rx2) AS sx, sum(ry2) AS sy,
               sum(rx2 * ry2) AS sxy,
               sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy
        FROM rk
    )
    SELECT n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) + 0 AS spearman
    FROM s
    """,
)
def a_spearman_corr(spark, sf_dir):
    """Spearman rank correlation between an order's total price and its
    line count — the monotone-association twin of a_corr_regr's Pearson
    (robust to the heavy right tail of order values, which is exactly
    where Pearson overweights).

    Average ranks with ties fold to exact integers by doubling:
    2*avg_rank = 2*rank + ties - 1 (rank = 1 + count-below), so every
    moment (sums, cross-products) accumulates as BIGINT and is
    reorder-safe under 100 TB partial aggregation; the Pearson-on-ranks
    closed form is scale-invariant so the doubling cancels. Round 10:
    the doubled mid-rank depends only on each DISTINCT value's count c
    and cumulative-before b (2·avg_rank = 2b + c + 1), so both rank
    maps build on the distinct-value axes (cents cardinality saturates
    at the price domain; line counts are single digits) and attach by
    value-keyed equi-joins — no row-level global window anywhere; the
    oracle's row-level rank()+count() form produces identical values.
    """
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    ax = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count("*").cast("long").alias("n_lines"))
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "n_lines",
        )
    )
    def midrank2(col):
        # 2*avg_rank per distinct value: rank()=b+1, ties=c -> 2b+c+1
        byv = ax.groupBy(col).agg(F.count("*").cast("long").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return byv.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).alias(f"{col}_r2"),
        )

    rk = (
        ax.join(midrank2("cents"), "cents")
        .join(midrank2("n_lines"), "n_lines")
        .select(
            F.col("cents_r2").alias("rx2"), F.col("n_lines_r2").alias("ry2")
        )
    )
    s = rk.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx2").alias("sx"), F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select("n", f6(num / den).alias("spearman"))


@register(
    "a_theil_index",
    """
    WITH spend AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, sum(cents) AS s FROM spend
    )
    SELECT t.n AS n_customers,
           round(sum(CAST(round(p.cents * 1.0 / t.s
                                * ln(p.cents * 1.0 * t.n / t.s)
                                * 1e12) AS BIGINT)) / 1e12, 6) + 0 AS theil
    FROM spend p CROSS JOIN tot t
    GROUP BY t.n
    """,
)
def a_theil_index(spark, sf_dir):
    """Theil T index of customer spend concentration — the
    information-theoretic twin of a_gini (decomposable across segments,
    which Gini is not: a per-nation Theil sums to within + between
    terms).

    Spend folds to exact cents per customer in one shuffle; the 1-row
    (n, total) aggregate broadcasts back (scalar cross join), so each
    customer's share term (x/S)·ln(x·n/S) is computed map-side, snapped
    to 1e-12 BIGINT units (reorder-safe — the a_entropy convention), and
    partially aggregated. Nothing global ever sorts; at 100 TB the cost
    is the per-customer agg plus one scan of the customer axis.
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    tot = spend.agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").alias("s")
    )
    term = F.round(
        F.col("cents") * 1.0 / F.col("s")
        * F.log(F.col("cents") * 1.0 * F.col("n") / F.col("s"))
        * 1e12
    ).cast("long")
    return (
        spend.crossJoin(F.broadcast(tot))
        .groupBy(F.col("n").alias("n_customers"))
        .agg(f6(F.sum(term) / 1e12).alias("theil"))
        .select("n_customers", "theil")
    )


_PV_MOMENTS_SQL = """s AS (
        SELECT
            CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n1,
            sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT) END) AS s1,
            sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT)
                          * CAST(round(value * 100) AS BIGINT) END) AS q1,
            CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n2,
            sum(CASE WHEN event_type = 'view'
                     THEN CAST(round(value * 100) AS BIGINT) END) AS s2,
            sum(CASE WHEN event_type = 'view'
                     THEN CAST(round(value * 100) AS BIGINT)
                          * CAST(round(value * 100) AS BIGINT) END) AS q2
        FROM events
        WHERE event_type IN ('purchase', 'view')
    )"""


def _purchase_view_moments(spark, sf_dir):
    """Exact cent moments of purchase (1) and view (2) event values in
    one conditional scan (the `_PV_MOMENTS_SQL` twin): one row
    (n1, s1, q1, n2, s2, q2) of counts, Σcents and Σcents²."""
    ev = load_table(spark, sf_dir, "events")
    v6 = F.round(F.col("value") * 100).cast("long")
    is1 = F.col("event_type") == "purchase"
    is2 = F.col("event_type") == "view"
    return ev.where(F.col("event_type").isin("purchase", "view")).agg(
        F.count(F.when(is1, 1)).cast("long").alias("n1"),
        F.sum(F.when(is1, v6)).alias("s1"),
        F.sum(F.when(is1, v6 * v6)).alias("q1"),
        F.count(F.when(is2, 1)).cast("long").alias("n2"),
        F.sum(F.when(is2, v6)).alias("s2"),
        F.sum(F.when(is2, v6 * v6)).alias("q2"),
    )


@register(
    "a_cohens_d",
    f"""
    WITH {_PV_MOMENTS_SQL}
    SELECT n1, n2,
           round((s1 * 1.0 / n1 - s2 * 1.0 / n2)
                 / sqrt(((q1 - s1 * 1.0 * s1 / n1) + (q2 - s2 * 1.0 * s2 / n2))
                        / (n1 + n2 - 2))
                 , 6) + 0 AS cohens_d
    FROM s
    """,
)
def a_cohens_d(spark, sf_dir):
    """Cohen's d effect size between purchase and view event values —
    the "is the difference LARGE, not just detectable" companion to
    a_mann_whitney's rank test (which at 100 TB sample sizes will call
    any hair's-width shift significant).

    All six moments (n, Σx, Σx² per group) accumulate as exact BIGINTs
    in cent units (value has 2dp; centing keeps Σx² far from BIGINT
    overflow at any fixture scale, where 1e-6 units would blow past
    2^63 by sf0.1) from ONE conditional scan — no per-group passes, no
    streaming variance — and the pooled-SD closed form evaluates in a
    single float association written identically on both engines. The
    unit scaling cancels in the ratio, so d is unit-free as defined.
    """
    s = _purchase_view_moments(spark, sf_dir)
    mean_diff = F.col("s1") * 1.0 / F.col("n1") - F.col("s2") * 1.0 / F.col("n2")
    ss1 = F.col("q1") - F.col("s1") * 1.0 * F.col("s1") / F.col("n1")
    ss2 = F.col("q2") - F.col("s2") * 1.0 * F.col("s2") / F.col("n2")
    pooled = F.sqrt((ss1 + ss2) / (F.col("n1") + F.col("n2") - 2))
    return s.select("n1", "n2", f6(mean_diff / pooled).alias("cohens_d"))


@register(
    "a_log_histogram",
    """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(length(CAST(cents AS VARCHAR)) AS BIGINT) AS magnitude,
           CAST(count(*) AS BIGINT) AS n,
           round(min(cents) / 100.0, 2) + 0 AS lo,
           round(max(cents) / 100.0, 2) + 0 AS hi
    FROM c
    GROUP BY 1 ORDER BY magnitude
    """,
)
def a_log_histogram(spark, sf_dir):
    """Order-of-magnitude histogram of order values: bin = decimal digit
    count of the exact cent amount — the log10-scale view a heavy-tailed
    money distribution needs, where a_hist_bins' linear grid crams 99%
    of rows into two buckets.

    The bin index is the STRING LENGTH of the exact integer cents — a
    pure integer/string op with zero float-log boundary risk (log10 of
    an exact power of 10 can land on either side of the bin edge in
    floating point; digit count cannot). One partial+final agg over
    ≤ ~12 magnitude cells; shuffle bytes are O(cells × partitions) at
    any fact size.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.select(cents.alias("cents"))
        .groupBy(F.length(F.col("cents").cast("string")).cast("long").alias("magnitude"))
        .agg(
            F.count("*").cast("long").alias("n"),
            money2(F.min("cents") / 100.0).alias("lo"),
            money2(F.max("cents") / 100.0).alias("hi"),
        )
        .orderBy("magnitude")
    )


@register(
    "a_count_min",
    """
    WITH seeds AS (SELECT unnest([0, 1, 2, 3, 4]) AS seed),
    cells AS (
        SELECT s.seed,
               CAST(list_sum(list_transform(range(1, 9),
        j -> (strpos('0123456789abcdef', substring(md5(CAST(s.seed AS VARCHAR) || ':' || CAST(l.l_partkey AS VARCHAR)), j, 1)) - 1)
             * 16 ** (8 - j))) AS BIGINT) % 2048 AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem l CROSS JOIN seeds s
        GROUP BY 1, 2
    ),
    top AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM lineitem GROUP BY l_partkey
        ORDER BY exact_cnt DESC, l_partkey LIMIT 20
    ),
    probes AS (
        SELECT t.l_partkey, t.exact_cnt, s.seed,
               CAST(list_sum(list_transform(range(1, 9),
        j -> (strpos('0123456789abcdef', substring(md5(CAST(s.seed AS VARCHAR) || ':' || CAST(t.l_partkey AS VARCHAR)), j, 1)) - 1)
             * 16 ** (8 - j))) AS BIGINT) % 2048 AS bucket
        FROM top t CROSS JOIN seeds s
    )
    SELECT p.l_partkey, p.exact_cnt, min(c.cnt) AS est_cnt
    FROM probes p JOIN cells c ON c.seed = p.seed AND c.bucket = p.bucket
    GROUP BY p.l_partkey, p.exact_cnt
    ORDER BY exact_cnt DESC, l_partkey
    """,
)
def a_count_min(spark, sf_dir):
    """Count-Min sketch frequency estimates for the 20 hottest parts —
    the bounded-memory heavy-hitter counter: a depth=5 x width=2048
    integer grid whose size never grows with the stream; estimates are
    biased UP only (est >= true always; over by <= e/width x N per the
    CMS bound). The point-query sketch next to a_approx_distinct's HLL
    (cardinality) and a_approx_quantile's KLL (quantiles).

    Hand-rolled as pure relational ops so the whole thing is engine-
    portable AND visibly mergeable: the grid is a groupBy((seed,
    bucket)) sum — partial/final aggregation IS the sketch merge, so
    daily partition grids union by addition at 100 TB. Bucket hashes
    are md5-derived (the house cross-engine hash convention — both
    engines agree bit-for-bit); probing joins the 20 exact-ranked hot
    keys back against the 5 x 2048-bounded grid and takes min over
    depth. Nothing driver-side anywhere.

    The grid here sums a shared per-key fold (this query also needs
    exact counts for its probe set, and one fold + 5 hashes per
    DISTINCT key beats 5 hashes per fact row ~300:1 — measured 4.7 s
    -> ~1 s at sf0.1). The grid VALUES are identical to feeding raw
    occurrences; in a true unbounded-key stream you would hash raw
    rows and skip the fold — same plan shape minus the first agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    seeds = spark.range(5).select(F.col("id").cast("long").alias("seed"))

    def bucket(seed_col, key_col):
        h = F.md5(F.concat(seed_col.cast("string"), F.lit(":"), key_col.cast("string")))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 2048

    counts = li.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    cells = (
        counts.crossJoin(F.broadcast(seeds))
        .groupBy("seed", bucket(F.col("seed"), F.col("l_partkey")).alias("bucket"))
        .agg(F.sum("exact_cnt").cast("long").alias("cnt"))
    )
    top = counts.orderBy(F.col("exact_cnt").desc(), "l_partkey").limit(20)
    probes = top.crossJoin(F.broadcast(seeds)).select(
        "l_partkey",
        "exact_cnt",
        "seed",
        bucket(F.col("seed"), F.col("l_partkey")).alias("bucket"),
    )
    return (
        probes.join(cells, ["seed", "bucket"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "l_partkey")
    )


@register("a_kll_quantiles")  # rows-only: DuckDB has no KLL sketch
def a_kll_quantiles(spark, sf_dir):
    """KLL sketch quantiles of order value (DataSketches, Spark 4 native
    `kll_sketch_agg_bigint`): p50/p90/p99 from a bounded-memory rank
    sketch — the streaming/mergeable answer where `a_median`'s exact
    sort-based percentile needs the whole axis and
    `a_approx_quantile`'s Greenwald-Khanna has no merge story across
    independent jobs.

    The sketch builds distributed (partial per-partition sketches merged
    JVM-side — the same mergeability a_count_min demonstrates for
    frequencies and a_sketch_merge for cardinality) over exact BIGINT
    cents; only the ~KB summary crosses to the final row. Rows-only key
    (no KLL in DuckDB); the rank-error bound vs the exact percentiles
    is pinned by pytest (k=200 -> ~1.65% rank error at 99% confidence).
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    sk = cents.agg(
        F.expr("kll_sketch_agg_bigint(cents, 200)").alias("sk"),
        F.count("*").cast("long").alias("n"),
    )
    return sk.select(
        "n",
        (F.expr("kll_sketch_get_quantile_bigint(sk, 0.5)") / F.lit(100.0)).alias("p50"),
        (F.expr("kll_sketch_get_quantile_bigint(sk, 0.9)") / F.lit(100.0)).alias("p90"),
        (F.expr("kll_sketch_get_quantile_bigint(sk, 0.99)") / F.lit(100.0)).alias("p99"),
    )


@register(
    "a_ttest_welch",
    f"""
    WITH {_PV_MOMENTS_SQL},
    v AS (
        SELECT n1, n2,
               (q1 - s1 * 1.0 * s1 / n1) / (n1 - 1) / n1 AS se1,
               (q2 - s2 * 1.0 * s2 / n2) / (n2 - 1) / n2 AS se2,
               s1 * 1.0 / n1 - s2 * 1.0 / n2 AS md
        FROM s
    )
    SELECT n1, n2,
           round(md / sqrt(se1 + se2) , 6) + 0 AS t_stat,
           round((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 6) + 0
               AS df_welch
    FROM v
    """,
)
def a_ttest_welch(spark, sf_dir):
    """Welch's unequal-variance t statistic (+ Satterthwaite df) for
    purchase vs view values — completing the two-sample toolkit:
    a_mann_whitney detects ANY shift rank-wise, a_cohens_d sizes it,
    this one is the parametric test (and the df formula is what makes
    it valid when group variances differ, which revenue-ish metrics
    always do).

    Same six exact-BIGINT moments as a_cohens_d from ONE conditional
    scan — in overflow-safe cent units whose scaling cancels in t (and
    in df, which is scale-free); standard errors and the df ratio evaluate in one
    float association written identically on both engines.
    """
    s = _purchase_view_moments(spark, sf_dir)
    se1 = (F.col("q1") - F.col("s1") * 1.0 * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    ) / F.col("n1")
    se2 = (F.col("q2") - F.col("s2") * 1.0 * F.col("s2") / F.col("n2")) / (
        F.col("n2") - 1
    ) / F.col("n2")
    md = F.col("s1") * 1.0 / F.col("n1") - F.col("s2") * 1.0 / F.col("n2")
    v = s.select("n1", "n2", se1.alias("se1"), se2.alias("se2"), md.alias("md"))
    return v.select(
        "n1",
        "n2",
        f6(F.col("md") / F.sqrt(F.col("se1") + F.col("se2"))).alias("t_stat"),
        f6(
            (F.col("se1") + F.col("se2")) * (F.col("se1") + F.col("se2"))
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1)
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1)
            )
        ).alias("df_welch"),
    )


@register(
    "a_theta_set_ops",
    """
    SELECT
        CAST(count(DISTINCT CASE WHEN event_type = 'view'
                            THEN user_id END) AS BIGINT) AS viewers,
        CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                            THEN user_id END) AS BIGINT) AS buyers,
        CAST(count(DISTINCT CASE WHEN event_type IN ('view', 'purchase')
                            THEN user_id END) AS BIGINT) AS either_est,
        CAST((count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
              + count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
              - count(DISTINCT CASE WHEN event_type IN ('view', 'purchase')
                               THEN user_id END)) AS BIGINT) AS both_est,
        CAST((count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
              - (count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
                 + count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
                 - count(DISTINCT CASE WHEN event_type IN ('view', 'purchase')
                                  THEN user_id END))) AS BIGINT)
            AS view_only_est
    FROM events
    """,
)
def a_theta_set_ops(spark, sf_dir):
    """Audience-overlap algebra on Theta sketches: viewers ∩ buyers,
    viewers ∪ buyers, viewers \\ buyers — the set operations HLL cannot
    do (HLL unions only; intersections need inclusion-exclusion with
    compounding error, while Theta intersects/differences natively).
    THE ad-tech / growth question: 'how many viewers never bought?'

    Each audience folds to one mergeable sketch (partial per-partition,
    JVM union — daily audience sketches union across jobs at 100 TB,
    then intersect at query time without rescanning either day). At
    test cardinalities (≤1.5k users < k=4096 entries) Theta sketches
    are in EXACT mode, so the SQL oracle compares against true distinct
    counts; past k the estimates go ±1.6% (k=4096) and the key's
    contract would relax to the pytest tolerance bound.
    """
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'view'"
            " THEN user_id END)"
        ).alias("sv"),
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'purchase'"
            " THEN user_id END)"
        ).alias("sp"),
    )
    return sk.select(
        F.expr("theta_sketch_estimate(sv)").cast("long").alias("viewers"),
        F.expr("theta_sketch_estimate(sp)").cast("long").alias("buyers"),
        F.expr("theta_sketch_estimate(theta_union(sv, sp))")
        .cast("long")
        .alias("either_est"),
        F.expr("theta_sketch_estimate(theta_intersection(sv, sp))")
        .cast("long")
        .alias("both_est"),
        F.expr("theta_sketch_estimate(theta_difference(sv, sp))")
        .cast("long")
        .alias("view_only_est"),
    )


@register(
    "a_hist2d",
    """
    WITH b AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_bin,
               CAST(least(floor(value / 50), 9) AS BIGINT) AS value_bin
        FROM events
    )
    SELECT hour_bin, value_bin, CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY hour_bin, value_bin
    ORDER BY hour_bin, value_bin
    """,
)
def a_hist2d(spark, sf_dir):
    """2-D histogram: event volume over (hour-of-day x value-decile
    grid) — the heatmap behind 'do high-value events cluster at night?',
    and the joint-distribution summary a 1-D histogram pair cannot give
    (a_hist_bins x separate hourly counts lose the correlation).

    Both bin indices are integer arithmetic on exact operands (hour
    extract; floor of value / 50 clamped to 9 — value spans [0, ~500)
    in the fixture, so the grid is ten 50-unit bands with the top band
    absorbing the tail via the clamp, identically in both engines); one partial+final agg over the
    ≤ 24 x 10 = 240-cell grid. A 100 TB scan reduces to cells x
    partitions shuffle bytes — the a_hist_bins argument squared.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.hour("ts").cast("long").alias("hour_bin"),
            F.least(F.floor(F.col("value") / 50), F.lit(9))
            .cast("long")
            .alias("value_bin"),
        )
        .groupBy("hour_bin", "value_bin")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("hour_bin", "value_bin")
    )


@register(
    "a_key_skew_census",
    """
    WITH k AS (
        SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY o_custkey
    ),
    t AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n) AS BIGINT) AS total,
               max(n) AS mx FROM k
    )
    SELECT t.n_keys, t.total AS n_rows, t.mx AS max_key_rows,
           round(t.mx * 1.0 * t.n_keys / t.total, 6) + 0 AS skew_factor,
           CAST(sum(CASE WHEN k.n * 1.0 * t.n_keys / t.total > 2.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
    FROM k CROSS JOIN t
    GROUP BY t.n_keys, t.total, t.mx
    """,
)
def a_key_skew_census(spark, sf_dir):
    """Join-key skew census on orders.o_custkey: max-key/mean-key ratio
    (skew factor) and the count of keys >2x mean — the PRE-JOIN
    diagnostic that decides between a plain shuffle join, AQE skew
    split, and explicit salting (j_skew_salted) BEFORE the 100 TB
    shuffle hits a straggler. v_cluster_balance asks the same question
    of IVF cells; this is the relational-join edition.

    One keyed fold (the same shuffle the diagnosed join would do, but
    counting only), a 1-row totals broadcast back over the key axis,
    and exact-integer comparisons against the 2x-mean line — the
    threshold quotient is computed identically in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    k = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").cast("long").alias("n")
    )
    t = k.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").alias("total"),
        F.max("n").alias("mx"),
    )
    return (
        k.crossJoin(F.broadcast(t))
        .groupBy("n_keys", "total", "mx")
        .agg(
            F.sum(
                F.when(F.col("n") * 1.0 * F.col("n_keys") / F.col("total") > 2.0, 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_hot_keys")
        )
        .select(
            "n_keys",
            F.col("total").alias("n_rows"),
            F.col("mx").alias("max_key_rows"),
            f6(F.col("mx") * 1.0 * F.col("n_keys") / F.col("total")).alias(
                "skew_factor"
            ),
            "n_hot_keys",
        )
    )


@register(
    "a_pythagorean_means",
    """
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(cents) AS sa,
               sum(CAST(round(ln(cents / 100.0) * 1e12) AS BIGINT)) AS sl,
               sum(CAST(round(1e12 / (cents / 100.0)) AS BIGINT)) AS sh
        FROM v
    )
    SELECT n,
           round(sa / 100.0 / n, 6) + 0 AS mean_arith,
           round(exp(sl / 1e12 / n), 6) + 0 AS mean_geom,
           round(n * 1e12 / sh, 6) + 0 AS mean_harm
    FROM s
    """,
)
def a_pythagorean_means(spark, sf_dir):
    """Arithmetic, geometric, and harmonic means of order value in ONE
    scan — the three centers that disagree exactly when it matters:
    AM for totals, GM for growth-rate-ish multiplicative data (one
    10,000x outlier barely moves it), HM for rate averages. Reporting
    all three (AM >= GM >= HM always) is the cheap skew smell test
    before committing to 'the average'.

    Exact cents feed three BIGINT accumulators from one conditional-
    free pass: the raw sum, ln-terms snapped to 1e-12 units (the
    a_theil_index convention), and reciprocal-terms snapped likewise —
    so all three partial aggregations are reorder-safe, and each mean
    costs exactly one float op (divide / exp / divide) on the final
    1-row result.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    v = orders.select(cents.alias("cents"))
    s = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").alias("sa"),
        F.sum(F.round(F.log(F.col("cents") / 100.0) * 1e12).cast("long")).alias("sl"),
        F.sum(F.round(1e12 / (F.col("cents") / 100.0)).cast("long")).alias("sh"),
    )
    return s.select(
        "n",
        f6(F.col("sa") / 100.0 / F.col("n")).alias("mean_arith"),
        f6(F.exp(F.col("sl") / 1e12 / F.col("n"))).alias("mean_geom"),
        f6(F.col("n") * 1e12 / F.col("sh")).alias("mean_harm"),
    )


@register(
    "a_ratio_ci_delta",
    """
    WITH per_user AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS rev6,
               CAST(count(*) AS BIGINT) AS sess
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(rev6) AS sx, sum(sess) AS sy,
               sum(rev6 * rev6) AS sxx, sum(sess * sess) AS syy,
               sum(rev6 * sess) AS sxy
        FROM per_user
    ),
    d AS (
        SELECT n, sx * 1.0 / sy AS r,
               (sxx - sx * 1.0 * sx / n) / (n - 1) AS vx,
               (syy - sy * 1.0 * sy / n) / (n - 1) AS vy,
               (sxy - sx * 1.0 * sy / n) / (n - 1) AS cxy,
               sx * 1.0 / n AS mx, sy * 1.0 / n AS my
        FROM m
    )
    SELECT n, round(r / 100, 6) + 0 AS ratio,
           round(sqrt((vx / (mx * mx) + vy / (my * my)
                       - 2 * cxy / (mx * my)) / n) * r / 100, 6) + 0
               AS se_delta
    FROM d
    """,
)
def a_ratio_ci_delta(spark, sf_dir):
    """Delta-method standard error for a RATIO metric (revenue per
    event, totals divided): the A/B-testing staple — a ratio of sums is
    NOT a mean of per-user ratios, so the naive SE is wrong; the Taylor
    expansion needs var(X), var(Y), AND cov(X, Y) across randomization
    units (users).

    One user fold builds both numerator and denominator per unit
    (cent-exact — overflow-safe squares at any fixture scale); five
    exact-BIGINT moments (the a_cohens_d pattern plus the cross term)
    come from one pass over the user axis, and the delta formula
    evaluates in a single shared float association on the 1-row result.
    Cost at 100 TB: the user fold — everything after is O(1).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("rev6"),
        F.count("*").cast("long").alias("sess"),
    )
    m = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev6").alias("sx"),
        F.sum("sess").alias("sy"),
        F.sum(F.col("rev6") * F.col("rev6")).alias("sxx"),
        F.sum(F.col("sess") * F.col("sess")).alias("syy"),
        F.sum(F.col("rev6") * F.col("sess")).alias("sxy"),
    )
    r = F.col("sx") * 1.0 / F.col("sy")
    vx = (F.col("sxx") - F.col("sx") * 1.0 * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    vy = (F.col("syy") - F.col("sy") * 1.0 * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    cxy = (F.col("sxy") - F.col("sx") * 1.0 * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    mx = F.col("sx") * 1.0 / F.col("n")
    my = F.col("sy") * 1.0 / F.col("n")
    d = m.select("n", r.alias("r"), vx.alias("vx"), vy.alias("vy"),
                 cxy.alias("cxy"), mx.alias("mx"), my.alias("my"))
    return d.select(
        "n",
        f6(F.col("r") / 100).alias("ratio"),
        f6(
            F.sqrt(
                (
                    F.col("vx") / (F.col("mx") * F.col("mx"))
                    + F.col("vy") / (F.col("my") * F.col("my"))
                    - 2 * F.col("cxy") / (F.col("mx") * F.col("my"))
                )
                / F.col("n")
            )
            * F.col("r")
            / 100
        ).alias("se_delta"),
    )


@register(
    "a_cuped",
    """
    WITH mid AS (
        SELECT epoch_us(min(ts))
               + (epoch_us(max(ts)) - epoch_us(min(ts))) // 2 AS m
        FROM events WHERE event_type = 'purchase'
    ),
    per_user AS (
        SELECT user_id,
               sum(CASE WHEN epoch_us(ts) < mid.m
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS pre,
               sum(CASE WHEN epoch_us(ts) >= mid.m
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS post
        FROM events CROSS JOIN mid
        WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(pre) AS sx, sum(post) AS sy,
               sum(pre * pre) AS sxx, sum(post * post) AS syy,
               sum(pre * post) AS sxy
        FROM per_user
    ),
    d AS (
        SELECT n,
               (sxy - sx * 1.0 * sy / n) / (n - 1) AS cxy,
               (sxx - sx * 1.0 * sx / n) / (n - 1) AS vx,
               (syy - sy * 1.0 * sy / n) / (n - 1) AS vy
        FROM m
    )
    SELECT n,
           round(cxy / vx, 6) + 0 AS theta,
           round(cxy * cxy / (vx * vy), 6) + 0 AS var_reduction
    FROM d
    """,
)
def a_cuped(spark, sf_dir):
    """CUPED variance reduction: theta = cov(pre, post)/var(pre) and the
    variance fraction removed (= corr², up to ~50%+ on sticky metrics) —
    the free experiment-sensitivity win every mature A/B platform
    applies before the a_ttest_welch / a_ratio_ci_delta machinery:
    adjust each user's metric by their PRE-period behavior and the same
    experiment detects effects weeks sooner.

    One user fold splits pre/post at the exact-µs midpoint (the
    a_diff_in_diff split) into cent-exact BIGINT pairs; five moments
    (the a_ratio_ci_delta pattern) feed theta and corr² in one shared
    float association on the 1-row result. Cost at 100 TB: the user
    fold, nothing more.
    """
    ev = load_table(spark, sf_dir, "events")
    buys = ev.where(F.col("event_type") == "purchase")
    mid = buys.agg(
        (
            F.unix_micros(F.min("ts"))
            + F.floor((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 2)
        ).cast("long").alias("m")
    )
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (
        buys.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.unix_micros(F.col("ts")) < F.col("m"), cents).otherwise(0)
            ).alias("pre"),
            F.sum(
                F.when(F.unix_micros(F.col("ts")) >= F.col("m"), cents).otherwise(0)
            ).alias("post"),
        )
    )
    m = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(F.col("pre") * F.col("pre")).alias("sxx"),
        F.sum(F.col("post") * F.col("post")).alias("syy"),
        F.sum(F.col("pre") * F.col("post")).alias("sxy"),
    )
    cxy = (F.col("sxy") - F.col("sx") * 1.0 * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    vx = (F.col("sxx") - F.col("sx") * 1.0 * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    vy = (F.col("syy") - F.col("sy") * 1.0 * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    d = m.select("n", cxy.alias("cxy"), vx.alias("vx"), vy.alias("vy"))
    return d.select(
        "n",
        f6(F.col("cxy") / F.col("vx")).alias("theta"),
        f6(F.col("cxy") * F.col("cxy") / (F.col("vx") * F.col("vy"))).alias(
            "var_reduction"
        ),
    )


@register(
    "a_chi2_uniform",
    """
    WITH cells AS (
        -- dow +1 is LABEL ALIGNMENT ONLY (DuckDB dayofweek is 0-6,
        -- Spark's 1-7); dow is a grouping key that never reaches the
        -- output (n_cells/n_events/chi2 are label-invariant), so the
        -- query is correct with or without it — kept so intermediate
        -- cells line up when debugging side by side (round-8 advice)
        SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
          CAST(count(*) AS BIGINT) AS k FROM cells)
    SELECT t.k AS n_cells, t.total AS n_events,
           round(sum(CAST(round((c.n - t.total * 1.0 / t.k)
                                * (c.n - t.total * 1.0 / t.k)
                                / (t.total * 1.0 / t.k) * 1e12) AS BIGINT))
                 / 1e12, 6) + 0 AS chi2
    FROM cells c CROSS JOIN t
    GROUP BY t.k, t.total
    """,
)
def a_chi2_uniform(spark, sf_dir):
    """Chi-square goodness-of-fit of event volume against a uniform
    day-of-week expectation — the load-balance / seasonality smell
    test (a_cramers_v measures association BETWEEN two axes; this
    tests ONE axis against a null model, the other half of the chi²
    toolkit).

    Seven cells from one partial+final agg; expected counts derive
    from the broadcast 1-row total; per-cell chi² terms snap to 1e-12
    BIGINT units before the reorder-safe sum. A 100 TB scan reduces
    to 7 cells of shuffle bytes. Compare chi2 against the chi²(k-1)
    critical value offline — the statistic is the deliverable.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(F.dayofweek("ts").cast("long").alias("dow")).agg(
        F.count("*").cast("long").alias("n")
    )
    t = cells.agg(
        F.sum("n").alias("total"), F.count("*").cast("long").alias("k")
    )
    exp = F.col("total") * 1.0 / F.col("k")
    term = F.round((F.col("n") - exp) * (F.col("n") - exp) / exp * 1e12).cast("long")
    return (
        cells.crossJoin(F.broadcast(t))
        .groupBy(F.col("k").alias("n_cells"), F.col("total").alias("n_events"))
        .agg(f6(F.sum(term) / 1e12).alias("chi2"))
        .select("n_cells", "n_events", "chi2")
    )


@register(
    "a_permutation_test",
    f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(round(avg(CASE WHEN event_type = 'purchase'
                                   THEN value END) * 1e6) AS BIGINT) AS m6
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    obs AS (
        SELECT abs(avg(CASE WHEN user_id % 2 = 1 THEN m6 * 1.0 END)
                   - avg(CASE WHEN user_id % 2 = 0 THEN m6 * 1.0 END))
                   AS d_obs
        FROM per_user
    ),
    perms AS (SELECT unnest(range(0, 200)) AS b),
    relabeled AS (
        SELECT p.b, u.m6,
               CAST(list_sum(list_transform(range(1, 9),
        j -> (strpos('0123456789abcdef', substring(md5(CAST(p.b AS VARCHAR) || ':' || CAST(u.user_id AS VARCHAR)), j, 1)) - 1)
             * 16 ** (8 - j))) AS BIGINT) % 2
                   AS grp
        FROM per_user u CROSS JOIN perms p
    ),
    null_d AS (
        SELECT b,
               abs(avg(CASE WHEN grp = 1 THEN m6 * 1.0 END)
                   - avg(CASE WHEN grp = 0 THEN m6 * 1.0 END)) AS d
        FROM relabeled GROUP BY b
    )
    SELECT CAST(200 AS BIGINT) AS n_perms,
           round(o.d_obs / 1e6, 6) + 0 AS observed_diff,
           round((sum(CASE WHEN nd.d >= o.d_obs THEN 1 ELSE 0 END) + 1)
                 / 201.0, 6)
               + 0 AS p_value
    FROM null_d nd CROSS JOIN obs o
    GROUP BY o.d_obs
    """,
)
def a_permutation_test(spark, sf_dir):
    """Permutation test for a two-group mean difference (user-parity
    split), 200 DETERMINISTIC pseudo-permutations via md5 relabeling —
    distribution-free inference with NO normality assumption
    (a_ttest_welch's escape hatch when values are weird), and
    reproducible across engines/runs because the 'random' relabels are
    content hashes (the r_bpr_triplets determinism trick applied to
    resampling).

    The fact table folds ONCE to per-user means; the 200 relabelings
    explode the USER axis (users × B rows — B scales the axis, never
    the fact scan), each permutation's null difference is one
    conditional avg, and the p-value uses the +1/(B+1) finite-sample
    correction — (count ≥ d_obs + 1)/201 — so it can never report an
    invalid p = 0 (matching a_bh_fdr's convention). Permutation count
    is the sensitivity knob; the plan shape never changes.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(
                F.avg(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                ) * 1e6
            )
            .cast("long")
            .alias("m6")
        )
    )
    obs = per_user.agg(
        F.abs(
            F.avg(F.when(F.col("user_id") % 2 == 1, F.col("m6") * 1.0))
            - F.avg(F.when(F.col("user_id") % 2 == 0, F.col("m6") * 1.0))
        ).alias("d_obs")
    )
    perms = spark.range(200).select(F.col("id").cast("long").alias("b"))
    grp = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    relabeled = per_user.crossJoin(F.broadcast(perms)).select(
        "b", "m6", grp.alias("grp")
    )
    null_d = relabeled.groupBy("b").agg(
        F.abs(
            F.avg(F.when(F.col("grp") == 1, F.col("m6") * 1.0))
            - F.avg(F.when(F.col("grp") == 0, F.col("m6") * 1.0))
        ).alias("d")
    )
    return (
        null_d.crossJoin(F.broadcast(obs))
        .groupBy("d_obs")
        .agg(
            F.sum(F.when(F.col("d") >= F.col("d_obs"), 1).otherwise(0)).alias("ge")
        )
        .select(
            F.lit(200).cast("long").alias("n_perms"),
            f6(F.col("d_obs") / 1e6).alias("observed_diff"),
            f6((F.col("ge") + 1) / 201.0).alias("p_value"),
        )
    )


_TYPE_MOMENTS_SQL = """g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(round(value * 100) AS BIGINT)) AS s,
               sum(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS q
        FROM events GROUP BY event_type
    )"""


def _type_moments(spark, sf_dir):
    """Per-event-type exact cent moments (the `_TYPE_MOMENTS_SQL` twin):
    (event_type, n, s = Σcents, q = Σcents²), BIGINT throughout."""
    c = F.round(F.col("value") * 100).cast("long")
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(c).alias("s"),
            F.sum(c * c).alias("q"),
        )
    )


@register(
    "a_anova_f",
    f"""
    WITH {_TYPE_MOMENTS_SQL},
    t AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s) AS st,
               CAST(count(*) AS BIGINT) AS k,
               sum(q) AS qt,
               sum(s * 1.0 * s / n) AS ssg
        FROM g
    )
    SELECT k AS n_groups, nt AS n_rows,
           round(((ssg - st * 1.0 * st / nt) / (k - 1))
                 / ((qt - ssg) / (nt - k)), 6) + 0 AS f_stat
    FROM t
    """,
)
def a_anova_f(spark, sf_dir):
    """One-way ANOVA F statistic across the five event types — the
    k-group generalization that closes the comparison toolkit
    (a_ttest_welch/a_mann_whitney compare TWO groups; ANOVA asks 'do
    ANY of the k differ' in one test instead of k² pairwise tests with
    multiplicity problems).

    Per-group (n, Σx, Σx²) fold to exact cent BIGINTs in one shuffle
    over k=5 cells; between/within sums of squares assemble from those
    moments in a second 1-row pass, and F is one float association.
    The same plan shape computes F for ANY grouping column at O(k)
    shuffle bytes from a 100 TB scan.
    """
    g = _type_moments(spark, sf_dir)
    t = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").alias("st"),
        F.count("*").cast("long").alias("k"),
        F.sum("q").alias("qt"),
        F.sum(F.col("s") * 1.0 * F.col("s") / F.col("n")).alias("ssg"),
    )
    between = (F.col("ssg") - F.col("st") * 1.0 * F.col("st") / F.col("nt")) / (
        F.col("k") - 1
    )
    within = (F.col("qt") - F.col("ssg")) / (F.col("nt") - F.col("k"))
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_rows"),
        f6(between / within).alias("f_stat"),
    )


@register(
    "a_capture_recapture",
    """
    WITH w1 AS (
        SELECT DISTINCT user_id FROM events
        WHERE ts < (SELECT min(ts) + INTERVAL 7 DAY FROM events)
    ),
    w2 AS (
        SELECT DISTINCT user_id FROM events
        WHERE ts >= (SELECT min(ts) + INTERVAL 7 DAY FROM events)
          AND ts < (SELECT min(ts) + INTERVAL 14 DAY FROM events)
    ),
    c AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM w1) AS n1,
               (SELECT CAST(count(*) AS BIGINT) FROM w2) AS n2,
               (SELECT CAST(count(*) AS BIGINT)
                FROM w1 JOIN w2 USING (user_id)) AS m
    )
    SELECT n1, n2, m,
           round(n1 * 1.0 * n2 / m, 6) + 0 AS n_hat
    FROM c
    """,
)
def a_capture_recapture(spark, sf_dir):
    """Lincoln-Petersen capture-recapture: estimate the TOTAL active
    population from two week-long observation windows — N̂ = n1·n2/m
    where m is the overlap. The mark-recapture estimator ecology uses
    for fish is how you estimate total-universe size from partial
    logs (bot population from two honeypots, true corpus size from
    two crawl snapshots) when a full census is impossible —
    a_approx_distinct counts what you SAW; this estimates what EXISTS.

    Each window folds to a distinct-user set (the same user_id shuffle
    twice over disjoint scans); the overlap is one equi-join of those
    deduped sets; n1/n2/m are exact BIGINTs into a single division.
    Window boundaries derive from min(ts) scalar subqueries
    (broadcast), so the whole estimator is 3 counters at any scale —
    assembled as one LAZY plan (1-row frames cross-joined), no driver
    arithmetic anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min("ts").alias("t0"))
    evb = ev.crossJoin(F.broadcast(t0))
    w1 = (
        evb.where(F.col("ts") < F.col("t0") + F.expr("INTERVAL 7 DAY"))
        .select("user_id")
        .distinct()
    )
    w2 = (
        evb.where(
            (F.col("ts") >= F.col("t0") + F.expr("INTERVAL 7 DAY"))
            & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 14 DAY"))
        )
        .select("user_id")
        .distinct()
    )
    n1d = w1.agg(F.count("*").cast("long").alias("n1"))
    n2d = w2.agg(F.count("*").cast("long").alias("n2"))
    md = w1.join(w2, "user_id").agg(F.count("*").cast("long").alias("m"))
    return (
        n1d.crossJoin(F.broadcast(n2d))
        .crossJoin(F.broadcast(md))
        .select(
            "n1", "n2", "m",
            f6(F.col("n1") * 1.0 * F.col("n2") / F.col("m")).alias("n_hat"),
        )
    )


@register(
    "a_bimodality",
    """
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n, avg(c * 1.0) AS mu,
               sum(c) AS s1, sum(c * c) AS s2
        FROM v
    ),
    cm AS (
        SELECT m.n,
               sum((v.c - m.mu) * (v.c - m.mu)) / m.n AS m2,
               sum((v.c - m.mu) * (v.c - m.mu) * (v.c - m.mu)) / m.n AS m3,
               sum((v.c - m.mu) * (v.c - m.mu) * (v.c - m.mu) * (v.c - m.mu))
                   / m.n AS m4
        FROM v CROSS JOIN m
        GROUP BY m.n
    )
    SELECT n,
           round(m3 / (m2 ^ 1.5), 6) + 0 AS skewness,
           round(m4 / (m2 * m2), 6) + 0 AS kurtosis,
           round(((m3 / (m2 ^ 1.5)) * (m3 / (m2 ^ 1.5)) + 1)
                 / (m4 / (m2 * m2)), 6) + 0 AS bimodality_coef
    FROM cm
    """,
)
def a_bimodality(spark, sf_dir):
    """Sarle's bimodality coefficient (skew²+1)/kurtosis on order
    values — the one-number 'is this actually two populations' screen
    (BC > 5/9 ≈ uniform suggests bimodality): a price distribution
    with two humps means two markets, and every mean-based statistic
    upstream (a_stats, a_cohens_d) silently averages them into a
    customer who doesn't exist.

    Central moments computed in a second pass against the broadcast
    mean (numerically stable vs raw-moment expansion at large means —
    E[x⁴] of cent values overflows doubles' precision; centered
    deviations don't); skewness/kurtosis/BC assemble from m2-m4 in
    one shared association. Two scans, O(1) state.
    """
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    m = v.agg(
        F.count("*").cast("long").alias("n"), F.avg(F.col("c") * 1.0).alias("mu")
    )
    d = F.col("c") - F.col("mu")
    cm = (
        v.crossJoin(F.broadcast(m))
        .groupBy("n")
        .agg(
            (F.sum(d * d) / F.col("n")).alias("m2"),
            (F.sum(d * d * d) / F.col("n")).alias("m3"),
            (F.sum(d * d * d * d) / F.col("n")).alias("m4"),
        )
    )
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    kurt = F.col("m4") / (F.col("m2") * F.col("m2"))
    return cm.select(
        "n",
        f6(skew).alias("skewness"),
        f6(kurt).alias("kurtosis"),
        f6((skew * skew + 1) / kurt).alias("bimodality_coef"),
    )


@register(
    "a_bh_fdr",
    """
    WITH per_user AS (
        SELECT user_id, event_type,
               CAST(round(avg(value) * 1e6) AS BIGINT) AS m6
        FROM events GROUP BY user_id, event_type
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    obs AS (
        SELECT t.event_type,
               abs(avg(CASE WHEN p.event_type = t.event_type
                            THEN p.m6 * 1.0 END)
                   - avg(CASE WHEN p.event_type <> t.event_type
                              THEN p.m6 * 1.0 END)) AS d_obs
        FROM per_user p CROSS JOIN types t
        GROUP BY t.event_type
    ),
    perms AS (SELECT unnest(range(0, 100)) AS b),
    relab AS (
        SELECT t.event_type, pm.b, p.m6,
               CASE WHEN CAST(list_sum(list_transform(range(1, 9),
                        j -> (strpos('0123456789abcdef',
                              substring(md5(CAST(pm.b AS VARCHAR) || ':'
                                  || t.event_type || ':'
                                  || CAST(p.user_id AS VARCHAR)
                                  || ':' || p.event_type), j, 1)) - 1)
                             * 16 ** (8 - j))) AS BIGINT) % 5 = 0
                    THEN 1 ELSE 0 END AS grp
        FROM per_user p CROSS JOIN types t CROSS JOIN perms pm
    ),
    null_d AS (
        SELECT event_type, b,
               abs(avg(CASE WHEN grp = 1 THEN m6 * 1.0 END)
                   - avg(CASE WHEN grp = 0 THEN m6 * 1.0 END)) AS d
        FROM relab GROUP BY event_type, b
    ),
    pvals AS (
        SELECT o.event_type,
               (sum(CASE WHEN nd.d >= o.d_obs THEN 1 ELSE 0 END) + 1)
               / 101.0 AS p
        FROM null_d nd JOIN obs o ON o.event_type = nd.event_type
        GROUP BY o.event_type, o.d_obs
    ),
    ranked AS (
        SELECT event_type, p,
               CAST(row_number() OVER (ORDER BY p, event_type) AS BIGINT)
                   AS rnk,
               CAST(count(*) OVER () AS BIGINT) AS k
        FROM pvals
    ),
    kstar AS (
        SELECT coalesce(max(CASE WHEN p * k <= 0.1 * rnk THEN rnk END), 0)
                   AS k_star
        FROM ranked
    )
    SELECT event_type, round(p, 6) + 0 AS p_value, rnk,
           CAST(CASE WHEN rnk <= ks.k_star THEN 1 ELSE 0 END AS BIGINT)
               AS discovery
    FROM ranked CROSS JOIN kstar ks
    ORDER BY rnk, event_type
    """,
)
def a_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR over five REAL permutation p-values (each
    event type's mean-vs-rest shift, 100 hash-deterministic
    relabelings) — the multiplicity correction that makes 'we tested
    everything and found 3 winners' honest at q=0.1 (run k tests
    uncorrected and k·α of them 'win' by luck; a_permutation_test is
    one test, this is the K-TESTS discipline on top).

    The user×type fold happens once; relabelings explode only the
    (user-type, test, perm) axis (hash 'randomness' — the
    a_permutation_test trick, now salted per test); p-values use the
    +1/(B+1) finite-sample correction; the BH STEP-UP rule is the
    real one: k* = max rank with p·k ≤ q·rank (an unbounded window
    max over the k=5-row rank axis), and EVERY rank ≤ k* is a
    discovery — including ranks whose own p exceeds q·rank/k.
    All heavy axes are bounded by tests × permutations, never facts.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.round(F.avg("value") * 1e6).cast("long").alias("m6")
    )
    types = ev.select("event_type").distinct()
    obs = (
        per_user.crossJoin(F.broadcast(types.withColumnRenamed("event_type", "t")))
        .groupBy("t")
        .agg(
            F.abs(
                F.avg(F.when(F.col("event_type") == F.col("t"), F.col("m6") * 1.0))
                - F.avg(
                    F.when(F.col("event_type") != F.col("t"), F.col("m6") * 1.0)
                )
            ).alias("d_obs")
        )
    )
    perms = spark.range(100).select(F.col("id").cast("long").alias("b"))
    salt = F.concat(
        F.col("b").cast("string"), F.lit(":"), F.col("t"), F.lit(":"),
        F.col("user_id").cast("string"), F.lit(":"), F.col("event_type"),
    )
    grp = (
        F.when(
            F.conv(F.substring(F.md5(salt), 1, 8), 16, 10).cast("long") % 5 == 0, 1
        ).otherwise(0)
    )
    relab = (
        per_user.crossJoin(F.broadcast(types.withColumnRenamed("event_type", "t")))
        .crossJoin(F.broadcast(perms))
        .select("t", "b", "m6", grp.alias("grp"))
    )
    null_d = relab.groupBy("t", "b").agg(
        F.abs(
            F.avg(F.when(F.col("grp") == 1, F.col("m6") * 1.0))
            - F.avg(F.when(F.col("grp") == 0, F.col("m6") * 1.0))
        ).alias("d")
    )
    pvals = (
        null_d.join(F.broadcast(obs), "t")
        .groupBy("t", "d_obs")
        .agg(
            (
                (F.sum(F.when(F.col("d") >= F.col("d_obs"), 1).otherwise(0)) + 1)
                / 101.0
            ).alias("p")
        )
        .select(F.col("t").alias("event_type"), "p")
    )
    ranked = pvals.select(
        "event_type",
        "p",
        F.row_number().over(Window.orderBy("p", "event_type")).cast("long").alias("rnk"),
        F.count("*").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("k"),
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    k_star = F.coalesce(
        F.max(
            F.when(F.col("p") * F.col("k") <= 0.1 * F.col("rnk"), F.col("rnk"))
        ).over(w_all),
        F.lit(0),
    )
    return (
        ranked.select(
            "event_type",
            f6(F.col("p")).alias("p_value"),
            "rnk",
            F.when(F.col("rnk") <= k_star, 1)
            .otherwise(0)
            .cast("long")
            .alias("discovery"),
        )
        .orderBy("rnk", "event_type")
    )


@register(
    "a_sample_size",
    """
    WITH s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               avg(CAST(round(value * 100) AS BIGINT) * 1.0) AS mu,
               var_samp(CAST(round(value * 100) AS BIGINT) * 1.0) AS v
        FROM events WHERE event_type = 'purchase'
    ),
    grid AS (SELECT unnest([1, 2, 5, 10, 20]) AS mde_pct)
    SELECT g.mde_pct,
           CAST(ceil(2.0 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
                     * s.v / (s.mu * g.mde_pct / 100.0)
                     / (s.mu * g.mde_pct / 100.0)) AS BIGINT)
               AS n_per_arm
    FROM grid g CROSS JOIN s
    ORDER BY g.mde_pct
    """,
)
def a_sample_size(spark, sf_dir):
    """A/B sample-size planning: users-per-arm required to detect a
    1/2/5/10/20% relative lift in purchase value at α=0.05 (two-sided)
    and 80% power — n = 2(z_α/2+z_β)²σ²/δ², with variance measured
    from THIS metric's actual data (the step everyone skips before
    launching an underpowered test, then 'fixes' by peeking — which
    a_cuped shrinks σ² for and a_ttest_welch later judges honestly).

    One scan folds n/μ/σ² in cent units; the five-row MDE grid crosses
    the 1-row stats broadcast; z-constants are folded literals
    (1.959964, 0.841621) written identically in both engines, and
    ceil() lands on exact comparisons. The whole planner is O(1)
    state over any event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long") * 1.0
    s = ev.where(F.col("event_type") == "purchase").agg(
        F.count("*").cast("long").alias("n"),
        F.avg(c).alias("mu"),
        F.var_samp(c).alias("v"),
    )
    grid = spark.createDataFrame([(1,), (2,), (5,), (10,), (20,)], "mde_pct INT")
    z2 = (1.959964 + 0.841621) * (1.959964 + 0.841621)
    delta = F.col("mu") * F.col("mde_pct") / 100.0
    return (
        F.broadcast(grid)
        .crossJoin(s)
        .select(
            "mde_pct",
            F.ceil(2.0 * z2 * F.col("v") / delta / delta).cast("long").alias(
                "n_per_arm"
            ),
        )
        .orderBy("mde_pct")
    )


@register(
    "a_markov_entropy_rate",
    """
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    trans AS (
        SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
        FROM seq WHERE nxt IS NOT NULL
        GROUP BY cur, nxt
    ),
    row_t AS (SELECT cur, sum(c) AS rc FROM trans GROUP BY cur),
    tot AS (SELECT sum(c) AS n FROM trans),
    terms AS (
        SELECT t.cur, t.nxt,
               CAST(round((r.rc * 1.0 / o.n)
                          * (t.c * 1.0 / r.rc)
                          * log2(r.rc * 1.0 / t.c) * 1e12) AS BIGINT) AS h12
        FROM trans t
        JOIN row_t r ON r.cur = t.cur
        CROSS JOIN tot o
    )
    SELECT CAST(count(*) AS BIGINT) AS n_transitions_kinds,
           round(sum(h12) / 1e12, 6) + 0 AS entropy_rate_bits
    FROM terms
    """,
)
def a_markov_entropy_rate(spark, sf_dir):
    """Entropy RATE of the event-type Markov chain: H = −Σᵢ πᵢ Σⱼ pᵢⱼ
    log₂ pᵢⱼ with the stationary distribution taken empirically — how
    unpredictable the NEXT event is GIVEN the current one (a_entropy
    measures the marginal type mix; the gap between the two is exactly
    the predictability q_event_transitions' matrix encodes, collapsed
    to one comparable number: H_rate ≪ H_marginal means sequences are
    predictable and a sequence model will pay off).

    Transitions come from one user-keyed lead() pass; the chain axes
    are |types|²-bounded, so every normalizer is a broadcast; each
    π·p·log(1/p) term snaps to 1e-12 BIGINT units before the
    reorder-safe sum. One number out of a 100 TB event stream.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count("*").cast("long").alias("c"))
    row_t = trans.groupBy("cur").agg(F.sum("c").alias("rc"))
    tot = trans.agg(F.sum("c").alias("n"))
    h12 = F.round(
        (F.col("rc") * 1.0 / F.col("n"))
        * (F.col("c") * 1.0 / F.col("rc"))
        * F.log2(F.col("rc") * 1.0 / F.col("c"))
        * 1e12
    ).cast("long")
    return (
        trans.join(F.broadcast(row_t), "cur")
        .crossJoin(F.broadcast(tot))
        .select(h12.alias("h12"))
        .agg(
            F.count("*").cast("long").alias("n_transitions_kinds"),
            f6(F.sum("h12") / 1e12).alias("entropy_rate_bits"),
        )
    )


@register(
    "a_qte",
    """
    SELECT CAST(0.1 AS DOUBLE) AS quantile,
           round(quantile_cont(CASE WHEN event_type = 'purchase'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.1) / 100, 6) + 0 AS q_purchase,
           round(quantile_cont(CASE WHEN event_type = 'view'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.1) / 100, 6) + 0 AS q_view,
           round((quantile_cont(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100) AS BIGINT) END,
                                0.1)
                  - quantile_cont(CASE WHEN event_type = 'view'
                                  THEN CAST(round(value * 100) AS BIGINT) END,
                                  0.1)) / 100, 6) + 0 AS qte
    FROM events WHERE event_type IN ('purchase', 'view')
    UNION ALL
    SELECT CAST(0.25 AS DOUBLE) AS quantile,
           round(quantile_cont(CASE WHEN event_type = 'purchase'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.25) / 100, 6) + 0 AS q_purchase,
           round(quantile_cont(CASE WHEN event_type = 'view'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.25) / 100, 6) + 0 AS q_view,
           round((quantile_cont(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100) AS BIGINT) END,
                                0.25)
                  - quantile_cont(CASE WHEN event_type = 'view'
                                  THEN CAST(round(value * 100) AS BIGINT) END,
                                  0.25)) / 100, 6) + 0 AS qte
    FROM events WHERE event_type IN ('purchase', 'view')
    UNION ALL
    SELECT CAST(0.5 AS DOUBLE) AS quantile,
           round(quantile_cont(CASE WHEN event_type = 'purchase'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.5) / 100, 6) + 0 AS q_purchase,
           round(quantile_cont(CASE WHEN event_type = 'view'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.5) / 100, 6) + 0 AS q_view,
           round((quantile_cont(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100) AS BIGINT) END,
                                0.5)
                  - quantile_cont(CASE WHEN event_type = 'view'
                                  THEN CAST(round(value * 100) AS BIGINT) END,
                                  0.5)) / 100, 6) + 0 AS qte
    FROM events WHERE event_type IN ('purchase', 'view')
    UNION ALL
    SELECT CAST(0.75 AS DOUBLE) AS quantile,
           round(quantile_cont(CASE WHEN event_type = 'purchase'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.75) / 100, 6) + 0 AS q_purchase,
           round(quantile_cont(CASE WHEN event_type = 'view'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.75) / 100, 6) + 0 AS q_view,
           round((quantile_cont(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100) AS BIGINT) END,
                                0.75)
                  - quantile_cont(CASE WHEN event_type = 'view'
                                  THEN CAST(round(value * 100) AS BIGINT) END,
                                  0.75)) / 100, 6) + 0 AS qte
    FROM events WHERE event_type IN ('purchase', 'view')
    UNION ALL
    SELECT CAST(0.9 AS DOUBLE) AS quantile,
           round(quantile_cont(CASE WHEN event_type = 'purchase'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.9) / 100, 6) + 0 AS q_purchase,
           round(quantile_cont(CASE WHEN event_type = 'view'
                               THEN CAST(round(value * 100) AS BIGINT) END,
                               0.9) / 100, 6) + 0 AS q_view,
           round((quantile_cont(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100) AS BIGINT) END,
                                0.9)
                  - quantile_cont(CASE WHEN event_type = 'view'
                                  THEN CAST(round(value * 100) AS BIGINT) END,
                                  0.9)) / 100, 6) + 0 AS qte
    FROM events WHERE event_type IN ('purchase', 'view')
    ORDER BY quantile
    """,
)
def a_qte(spark, sf_dir):
    """Quantile treatment effects: the purchase-vs-view value gap at
    p10/p25/p50/p75/p90 — WHERE in the distribution the difference
    lives (a mean shift of +2 can be 'everyone +2' or 'the top decile
    +20'; a_cohens_d cannot tell them apart, the QTE profile can —
    and a tail-only effect changes the product decision entirely).

    Exact cent operands feed both engines' identical linear-
    interpolation percentile (the q_conversion_lag precedent); the
    5-point quantile grid crosses the conditional columns in ONE
    grouped pass. At 100 TB swap exact percentiles for KLL sketches
    per group (a_kll_quantiles) — the grid and deltas are unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    g = ev.where(F.col("event_type").isin("purchase", "view")).select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    rows = []
    for p in (0.1, 0.25, 0.5, 0.75, 0.9):
        rows.append(
            g.agg(
                F.lit(p).alias("quantile"),
                f6(
                    F.expr(
                        f"percentile(CASE WHEN event_type = 'purchase'"
                        f" THEN c END, {p})"
                    )
                    / 100
                ).alias("q_purchase"),
                f6(
                    F.expr(
                        f"percentile(CASE WHEN event_type = 'view'"
                        f" THEN c END, {p})"
                    )
                    / 100
                ).alias("q_view"),
                f6(
                    (
                        F.expr(
                            f"percentile(CASE WHEN event_type = 'purchase'"
                            f" THEN c END, {p})"
                        )
                        - F.expr(
                            f"percentile(CASE WHEN event_type = 'view'"
                            f" THEN c END, {p})"
                        )
                    )
                    / 100
                ).alias("qte"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("quantile")


@register(
    "a_record_test",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
        FROM orders GROUP BY 1
    ),
    rec AS (
        SELECT day, v,
               max(v) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS prev_max
        FROM daily
    ),
    obs AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(CASE WHEN prev_max IS NULL OR v > prev_max
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_records
        FROM rec
    ),
    harmonic AS (
        SELECT o.n_days,
               sum(CAST(round(1e12 / g.k) AS BIGINT)) AS h12
        FROM obs o, generate_series(1, 10000) AS g(k)
        WHERE g.k <= o.n_days
        GROUP BY o.n_days
    )
    SELECT o.n_days, o.n_records,
           round(h.h12 / 1e12, 6) + 0 AS expected_records,
           round(o.n_records * 1e12 / h.h12, 6) + 0 AS record_ratio
    FROM obs o JOIN harmonic h ON h.n_days = o.n_days
    """,
)
def a_record_test(spark, sf_dir):
    """Record-statistics trend test: the observed count of record-high
    revenue days vs the H(n) = Σ1/k records an EXCHANGEABLE (trendless)
    series would produce — ratio ≫ 1 means genuine upward trend,
    ratio ≈ 1 means the 'record quarter!' press release is what
    randomness already owed you (distribution-free, needs NO variance
    estimate — the elegant cousin of w_cusum's parametric drift view).

    Records come from one running-max pass over the day axis; the
    harmonic expectation is a bounded series sum with 1e-12-snapped
    reciprocal terms (exact, and identical in both engines); the
    ratio divides two exact BIGINTs. Day-axis bounded at any order
    volume.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("v")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    rec = daily.withColumn("prev_max", F.max("v").over(w))
    obs = rec.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(
            F.when(F.col("prev_max").isNull() | (F.col("v") > F.col("prev_max")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_records"),
    )
    ks = spark.range(1, 10001).select(F.col("id").cast("long").alias("k"))
    harmonic = (
        obs.crossJoin(F.broadcast(ks))
        .where(F.col("k") <= F.col("n_days"))
        .groupBy("n_days", "n_records")
        .agg(F.sum(F.round(1e12 / F.col("k")).cast("long")).alias("h12"))
    )
    return harmonic.select(
        "n_days",
        "n_records",
        f6(F.col("h12") / 1e12).alias("expected_records"),
        f6(F.col("n_records") * 1e12 / F.col("h12")).alias("record_ratio"),
    )


@register(
    "a_seasonal_strength",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
        FROM orders GROUP BY 1, 2
    ),
    dowm AS (
        SELECT dow, avg(v * 1.0) AS dmu FROM daily GROUP BY dow
    ),
    dev AS (
        SELECT d.v, d.v - dm.dmu AS resid,
               (SELECT avg(v * 1.0) FROM daily) AS gmu
        FROM daily d JOIN dowm dm ON dm.dow = d.dow
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(var_samp(v / 1e5), 6) + 0 AS var_total_kusd,
           round(var_samp(resid / 1e5), 6) + 0 AS var_residual_kusd,
           round(greatest(0, 1 - var_samp(resid) / var_samp(v * 1.0)), 6) + 0
               AS seasonal_strength
    FROM dev
    """,
)
def a_seasonal_strength(spark, sf_dir):
    """Weekly seasonality STRENGTH: 1 − var(residual)/var(total) after
    removing day-of-week means — the fraction of daily revenue variance
    the weekly cycle explains (STL's strength statistic, weekly
    special case). ≈0 says deseasonalization (w_seasonality) and
    seasonal-naive forecasting (w_seasonal_naive_mape) are wasted
    machinery on this series; ≈1 says they're mandatory — measure
    BEFORE building either.

    The day fold and dow means are calendar-bounded; residuals join
    the 7-row mean table broadcast; both variances run over the same
    day axis in one aggregate, REPORTED in kilodollar units — raw
    cent-scale variances are ~5e15 where the two engines' float
    accumulation orders disagree in the final digits; rescaling puts
    the 6dp rounding boundary far above that noise. The strength
    ratio is scale-invariant either way.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("v"))
    dowm = daily.groupBy("dow").agg(F.avg(F.col("v") * 1.0).alias("dmu"))
    dev = daily.join(F.broadcast(dowm), "dow").select(
        "v", (F.col("v") - F.col("dmu")).alias("resid")
    )
    return dev.agg(
        F.count("*").cast("long").alias("n_days"),
        f6(F.var_samp(F.col("v") / 1e5)).alias("var_total_kusd"),
        f6(F.var_samp(F.col("resid") / 1e5)).alias("var_residual_kusd"),
        f6(
            F.greatest(
                F.lit(0.0),
                1 - F.var_samp("resid") / F.var_samp(F.col("v") * 1.0),
            )
        ).alias("seasonal_strength"),
    )


@register(
    "a_kendall_tau",
    """
    WITH d AS (
        SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS x,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1
    ),
    p AS (
        SELECT
            CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                            OR (a.x > b.x AND a.y > b.y)
                     THEN 1 ELSE 0 END) AS BIGINT) AS conc,
            CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                            OR (a.x > b.x AND a.y < b.y)
                     THEN 1 ELSE 0 END) AS BIGINT) AS disc,
            CAST(sum(CASE WHEN a.x = b.x AND a.y <> b.y
                     THEN 1 ELSE 0 END) AS BIGINT) AS tx,
            CAST(sum(CASE WHEN a.y = b.y AND a.x <> b.x
                     THEN 1 ELSE 0 END) AS BIGINT) AS ty
        FROM d a JOIN d b ON a.day < b.day
    )
    SELECT conc, disc,
           round((conc - disc)
                 / sqrt((conc + disc + ty) * 1.0 * (conc + disc + tx)),
                 6) + 0 AS tau_b
    FROM p
    """,
)
def a_kendall_tau(spark, sf_dir):
    """Kendall's tau-b rank correlation between daily order count and
    daily revenue — the robust twin of a_spearman_corr: invariant to any
    monotone transform, defined purely by pair concordance, with the
    tau-b tie correction (integer x ties constantly on a daily axis).
    The question it answers ('do busier days actually bill more, in
    RANK terms?') survives the heavy-tailed revenue distribution that
    would distort Pearson.

    Scale shape: the fact table folds to the DAILY axis first (one
    shuffle, ~|days| rows); concordance counting is a self-join on that
    BOUNDED axis — |days|² pairs of scalars, ~3M comparisons for seven
    years, independent of fact volume. All four pair classes are exact
    integer counts; tau_b divides once under a 6dp round. (The O(n log n)
    merge-sort inversion count is the further escalation if the axis
    itself ever grows unbounded — see q_sequence_inversions.)
    """
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y"),
    )
    a = d.select(F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("da") < F.col("db"))
    conc = F.sum(
        F.when(
            ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
            | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb"))),
            1,
        ).otherwise(0)
    ).cast("long")
    disc = F.sum(
        F.when(
            ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
            | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb"))),
            1,
        ).otherwise(0)
    ).cast("long")
    tx = F.sum(
        F.when((F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1).otherwise(0)
    ).cast("long")
    ty = F.sum(
        F.when((F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1).otherwise(0)
    ).cast("long")
    p = pairs.agg(conc.alias("conc"), disc.alias("disc"), tx.alias("tx"), ty.alias("ty"))
    return p.select(
        "conc",
        "disc",
        f6(
            (F.col("conc") - F.col("disc"))
            / F.sqrt(
                (F.col("conc") + F.col("disc") + F.col("ty"))
                * 1.0
                * (F.col("conc") + F.col("disc") + F.col("tx"))
            )
        ).alias("tau_b"),
    )


@register(
    "a_theil_sen",
    """
    WITH d AS (
        SELECT o_orderdate AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS x
        FROM d
    ),
    slopes AS (
        SELECT (b.y - a.y) * 1.0 / (b.x - a.x) AS s
        FROM idx a JOIN idx b ON a.x < b.x
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(s, 0.5) / 100.0, 6) + 0 AS slope_usd_per_day
    FROM slopes
    """,
)
def a_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend estimator: the MEDIAN of all pairwise
    slopes of the daily-revenue series — the rank-based companion to
    a_kendall_tau (Sen 1968 ties the two: the Theil-Sen slope is the
    value that zeroes Kendall's tau of the residuals). Up to ~29% of
    days can be arbitrarily corrupted (outages, backfill spikes) without
    moving it, where the OLS slope of q_forecast_revenue follows any
    single wild day.

    Same scale discipline as a_kendall_tau: fold the fact table to the
    bounded daily axis FIRST, then the pair self-join runs over
    |days|² scalar pairs, independent of fact volume. Slopes are exact
    integer differences ratioed once. The median is one sort of the
    whole slope set (``sort_array(collect_list(s))``) indexed the way
    Spark's ``percentile`` interpolates: ``pos = (m-1)/2``, the element
    at ``pos`` when it is whole, else the 0.5/0.5 blend of its two
    neighbours, and NULL when there are no slopes (``element_at(arr,
    0)`` raises under ANSI). The oracle's quantile_cont interpolates
    the same way; the slope is reported in dollars/day under a 6dp
    round. The set is bounded by the calendar, not by fact volume: at
    most |days|·(|days|-1)/2 doubles in one task, about 23 MB at 2,400
    days and no more than the hash map of ``percentile``, which also
    merged and sorted them on one thread.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    idx = d.select(
        "y", F.row_number().over(Window.orderBy("day")).cast("long").alias("x")
    )
    a = idx.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = idx.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = a.join(b, F.col("xa") < F.col("xb")).select(
        ((F.col("yb") - F.col("ya")) * 1.0 / (F.col("xb") - F.col("xa"))).alias("s")
    )
    m = F.col("m")
    pos = (m - 1) * 0.5
    lo, hi = F.floor(pos), F.ceil(pos)
    at_lo = F.element_at("arr", (lo + 1).cast("int"))
    at_hi = F.element_at("arr", (hi + 1).cast("int"))
    median = (
        F.when(m == 0, F.lit(None))
        .when(lo == hi, at_lo)
        .otherwise((hi - pos) * at_lo + (pos - lo) * at_hi)
    )
    return slopes.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.count("s").alias("m"),
        F.sort_array(F.collect_list("s")).alias("arr"),
    ).select("n_pairs", f6(median / 100.0).alias("slope_usd_per_day"))


@register(
    "a_bootstrap_ci",
    """
    WITH per_user AS (
        SELECT user_id,
               CAST(round(avg(value) * 1e6) AS BIGINT) AS m6
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    perms AS (SELECT unnest(range(0, 100)) AS b),
    hashed AS (
        SELECT pm.b, u.m6,
               CAST(list_sum(list_transform(range(1, 9),
                    j -> (strpos('0123456789abcdef',
                          substring(md5(CAST(pm.b AS VARCHAR) || ':'
                              || CAST(u.user_id AS VARCHAR)), j, 1)) - 1)
                         * 16 ** (8 - j))) AS BIGINT) / 4294967296.0 AS h
        FROM per_user u CROSS JOIN perms pm
    ),
    wts AS (
        SELECT b, m6,
               CASE WHEN h < 0.367879441 THEN 0
                    WHEN h < 0.735758882 THEN 1
                    WHEN h < 0.919698603 THEN 2
                    WHEN h < 0.981011843 THEN 3
                    WHEN h < 0.996340153 THEN 4
                    ELSE 5 END AS k
        FROM hashed
    ),
    means AS (
        SELECT b, sum(k * m6) * 1.0 / sum(k) AS mu FROM wts GROUP BY b
    ),
    obs AS (SELECT avg(m6 * 1.0) AS mu0 FROM per_user)
    SELECT CAST(100 AS BIGINT) AS n_boot,
           round(obs.mu0 / 1e6, 6) + 0 AS observed_mean,
           round(quantile_cont(mu, 0.025) / 1e6, 6) + 0 AS ci_lo,
           round(quantile_cont(mu, 0.975) / 1e6, 6) + 0 AS ci_hi
    FROM means CROSS JOIN obs GROUP BY obs.mu0
    """,
)
def a_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap 95% CI for the mean per-user purchase value —
    the resampling CI that works when a_ttest_welch's normality is
    suspect, and THE distributed-bootstrap trick: instead of drawing n
    users with replacement (a global operation), give every user an
    independent Poisson(1) weight per resample (the n→∞ limit of the
    multinomial), so each of the 100 resamples is a weighted mean
    computable map-side. Weights are hash-deterministic (the
    a_permutation_test md5 recipe): u = md5(b:user)/2^32 inverted
    through the exact Poisson(1) CDF thresholds — reproducible across
    engines and runs.

    The fact table folds ONCE to per-user means; resampling explodes
    only the (user × 100) axis; each resample is one conditional-sum
    pair; CDF thresholds compare exact dyadic h values against shared
    literals (no boundary drift); the CI is the a_median
    quantile-interpolation convention over a 100-row axis.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.avg("value") * 1e6).cast("long").alias("m6"))
    )
    perms = spark.range(100).select(F.col("id").cast("long").alias("b"))
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / 4294967296.0
    )
    k = (
        F.when(h < 0.367879441, 0)
        .when(h < 0.735758882, 1)
        .when(h < 0.919698603, 2)
        .when(h < 0.981011843, 3)
        .when(h < 0.996340153, 4)
        .otherwise(5)
    )
    wts = per_user.crossJoin(F.broadcast(perms)).select(
        "b", "m6", k.alias("k")
    )
    means = wts.groupBy("b").agg(
        (F.sum(F.col("k") * F.col("m6")) * 1.0 / F.sum("k")).alias("mu")
    )
    obs = per_user.agg(F.avg(F.col("m6") * 1.0).alias("mu0"))
    return (
        means.crossJoin(F.broadcast(obs))
        .groupBy("mu0")
        .agg(
            F.expr("percentile(mu, 0.025)").alias("qlo"),
            F.expr("percentile(mu, 0.975)").alias("qhi"),
        )
        .select(
            F.lit(100).cast("long").alias("n_boot"),
            f6(F.col("mu0") / 1e6).alias("observed_mean"),
            f6(F.col("qlo") / 1e6).alias("ci_lo"),
            f6(F.col("qhi") / 1e6).alias("ci_hi"),
        )
    )


@register(
    "a_jarque_bera",
    """
    WITH x AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) * 1.0 AS v
        FROM events
    ),
    mom AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               avg(v) AS mu,
               avg(v * v) AS m2r,
               avg(v * v * v) AS m3r,
               avg(v * v * v * v) AS m4r
        FROM x GROUP BY event_type
    ),
    c AS (
        SELECT event_type, n,
               m2r - mu * mu AS m2,
               m3r - 3 * mu * m2r + 2 * mu * mu * mu AS m3,
               m4r - 4 * mu * m3r + 6 * mu * mu * m2r
                   - 3 * mu * mu * mu * mu AS m4
        FROM mom
    )
    SELECT event_type, n,
           round(m3 / power(m2, 1.5), 6) + 0 AS skewness,
           round(m4 / (m2 * m2) - 3, 6) + 0 AS excess_kurtosis,
           round(n / 6.0 * (power(m3 / power(m2, 1.5), 2)
                 + power(m4 / (m2 * m2) - 3, 2) / 4.0), 6) + 0 AS jb_stat
    FROM c ORDER BY event_type
    """,
)
def a_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality statistic per event type: JB = n/6·(S² +
    K²/4) from sample skewness and excess kurtosis — the moments-based
    normality screen that tells a_ttest_welch/a_anova_f users whether
    their Gaussian assumptions are even plausible, or whether the
    rank/permutation route (a_mann_whitney, a_permutation_test) is the
    honest one. Large JB ⇒ reject normality (χ²₂ reference).

    One partial+final aggregate computes the four raw moments per group
    in a single pass over exact cent units; central moments come from
    the raw ones by the binomial expansion written IDENTICALLY in both
    engines (same association order), so the 6dp-rounded outputs agree.
    O(groups) state at any scale — the same fold shape as a_stats.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long") * 1.0
    mom = ev.select("event_type", v.alias("v")).groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("v").alias("mu"),
        F.avg(F.col("v") * F.col("v")).alias("m2r"),
        F.avg(F.col("v") * F.col("v") * F.col("v")).alias("m3r"),
        F.avg(F.col("v") * F.col("v") * F.col("v") * F.col("v")).alias("m4r"),
    )
    mu = F.col("mu")
    m2 = F.col("m2r") - mu * mu
    m3 = F.col("m3r") - 3 * mu * F.col("m2r") + 2 * mu * mu * mu
    m4 = (
        F.col("m4r")
        - 4 * mu * F.col("m3r")
        + 6 * mu * mu * F.col("m2r")
        - 3 * mu * mu * mu * mu
    )
    skew = m3 / F.pow(m2, 1.5)
    kurt = m4 / (m2 * m2) - 3
    return (
        mom.select(
            "event_type",
            "n",
            f6(skew).alias("skewness"),
            f6(kurt).alias("excess_kurtosis"),
            f6(F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt, 2) / 4.0)).alias(
                "jb_stat"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "a_bitmap_distinct",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def a_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via bitmap aggregates — the modern
    warehouse answer to COUNT(DISTINCT) at scale, sitting between the
    naive expand (a_count_distinct: shuffles every distinct value) and
    the approximate sketch (a_approx_distinct: HLL, ±2%): keys bucket
    into fixed 32768-bit bitmap segments (bitmap_bucket_number /
    bitmap_bit_position), each (group, bucket) folds to ONE bitmap via
    bitmap_construct_agg, bitmaps OR-merge map-side like any partial
    aggregate, and bitmap_count reads off the exact cardinality. The
    shuffle carries O(groups x occupied-buckets x 4KB) regardless of
    row count — HLL's mergeability with none of its error.

    The result is pure integers, so the oracle is plain
    COUNT(DISTINCT): the bitmap machinery must reproduce the exact
    answer or the hash fails — the same the-optimization-must-not-
    change-the-answer framing as t_bloom_dedup.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def exact_distinct(col):
        per_bucket = (
            li.groupBy(
                "l_returnflag",
                F.expr(f"bitmap_bucket_number({col})").alias("bucket"),
            )
            .agg(
                F.expr(
                    f"bitmap_construct_agg(bitmap_bit_position({col}))"
                ).alias("bm")
            )
        )
        return per_bucket.groupBy("l_returnflag").agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n")
        )
    parts = exact_distinct("l_partkey").withColumnRenamed("n", "n_parts")
    supps = exact_distinct("l_suppkey").withColumnRenamed("n", "n_supps")
    return parts.join(supps, "l_returnflag").orderBy("l_returnflag")


@register(
    "a_sprt",
    """
    WITH seq AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
               row_number() OVER (ORDER BY ts, event_id) AS rn
        FROM events
    ),
    cum AS (
        SELECT rn, sum(x) OVER (ORDER BY rn) AS cp FROM seq
    ),
    llr AS (
        SELECT rn,
               cp * ln(0.22 / 0.18) + (rn - cp) * ln(0.78 / 0.82) AS l
        FROM cum
    ),
    crossing AS (
        SELECT min(rn) AS cross_rn FROM llr
        WHERE l >= ln(19.0) OR l <= -ln(19.0)
    )
    SELECT CAST((SELECT count(*) FROM seq) AS BIGINT) AS n_total,
           CAST(cross_rn AS BIGINT) AS cross_rn,
           CASE WHEN cross_rn IS NULL THEN 'continue'
                WHEN (SELECT l FROM llr WHERE rn = cross_rn) >= ln(19.0)
                THEN 'h1' ELSE 'h0' END AS decision,
           round((SELECT l FROM llr WHERE rn = cross_rn), 6) + 0
               AS llr_at_cross
    FROM crossing
    """,
)
def a_sprt(spark, sf_dir):
    """Wald's Sequential Probability Ratio Test on the purchase-rate
    stream: H0 p=0.18 vs H1 p=0.22, α=β=0.05 — the always-valid
    sequential monitor that lets an experimenter STOP at the first
    decisive evidence instead of fixing n upfront (a_sample_size) and
    then peeking invalidly (the sin a_ttest_welch cannot survive but
    SPRT is built for). The log-likelihood ratio is a random walk;
    first exit through ±ln(19) is the decision.

    The walk reduces to integer algebra: LLR_n = cp·a + (n−cp)·b with
    cp the running purchase count and a, b two shared ln literals — so
    the whole test is one global-ordered prefix sum (at scale: a
    range-partitioned scan; the sum is associative so Spark's window
    computes it distributed) and a min-over-filter for the exit. The
    only floats are two ln constants scaled by exact counts, keeping
    both engines within 1e-12 — far from the exit thresholds.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
        F.row_number().over(Window.orderBy("ts", "event_id")).alias("rn"),
    )
    cum = seq.select("rn", F.sum("x").over(Window.orderBy("rn")).alias("cp"))
    a = F.log(F.lit(0.22 / 0.18))
    b = F.log(F.lit(0.78 / 0.82))
    llr = cum.select(
        "rn", (F.col("cp") * a + (F.col("rn") - F.col("cp")) * b).alias("l")
    )
    thr = F.log(F.lit(19.0))
    crossing = llr.where((F.col("l") >= thr) | (F.col("l") <= -thr)).agg(
        F.min("rn").alias("cross_rn")
    )
    n_total = seq.agg(F.count("*").cast("long").alias("n_total"))
    at_cross = crossing.join(
        llr, F.col("rn") == F.col("cross_rn"), "left"
    ).select("cross_rn", "l")
    return (
        n_total.crossJoin(at_cross)
        .select(
            "n_total",
            F.col("cross_rn").cast("long").alias("cross_rn"),
            F.when(F.col("cross_rn").isNull(), "continue")
            .when(F.col("l") >= thr, "h1")
            .otherwise("h0")
            .alias("decision"),
            f6(F.col("l")).alias("llr_at_cross"),
        )
    )


@register(
    "a_variance_merge",
    """
    WITH shard AS (
        SELECT user_id % 8 AS sid,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(round(value * 100) AS BIGINT)) AS s,
               sum(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS q
        FROM events GROUP BY user_id % 8
    ),
    merged AS (
        SELECT CAST(sum(n) AS BIGINT) AS n,
               sum(s) AS s, sum(q) AS q,
               CAST(count(*) AS BIGINT) AS n_shards
        FROM shard
    )
    SELECT n, n_shards,
           round(s * 1.0 / n / 100.0, 6) + 0 AS mean_usd,
           round((q - s * 1.0 * s / n) / (n - 1) / 10000.0, 6) + 0
               AS var_merged_usd2,
           round((SELECT var_samp(CAST(round(value * 100) AS BIGINT) * 1.0)
                  FROM events) / 10000.0, 6) + 0 AS var_direct_usd2
    FROM merged
    """,
)
def a_variance_merge(spark, sf_dir):
    """Mergeable variance — the algebra that makes distributed moments
    possible, shown explicitly: 8 shards each fold to the (n, Σx, Σx²)
    triple, triples ADD componentwise across shards, and the merged
    variance (q − s²/n)/(n−1) is emitted NEXT TO the direct global
    var_samp so the oracle proves merge == direct to 6dp. This is what
    every partial+final HashAggregate (a_stats et al.) does inside the
    engine; spelled out, it is also the cross-JOB pattern — daily
    triples persisted per partition merge into monthly variance without
    rescanning (the a_sketch_merge story with exact algebra instead of
    sketches).

    All shard sums are exact BIGINTs over cents, so the merge is exact
    integer addition; the only divisions happen once at the end in
    identical association order. Shuffle carries 8 triples — O(shards),
    not O(rows).
    """
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    shard = ev.groupBy((F.col("user_id") % 8).alias("sid")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(c).alias("s"),
        F.sum(c * c).alias("q"),
    )
    merged = shard.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").alias("s"),
        F.sum("q").alias("q"),
        F.count("*").cast("long").alias("n_shards"),
    )
    direct = ev.agg(F.var_samp(c * 1.0).alias("vd"))
    return merged.crossJoin(F.broadcast(direct)).select(
        "n",
        "n_shards",
        f6(F.col("s") * 1.0 / F.col("n") / 100.0).alias("mean_usd"),
        f6(
            (F.col("q") - F.col("s") * 1.0 * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
            / 10000.0
        ).alias("var_merged_usd2"),
        f6(F.col("vd") / 10000.0).alias("var_direct_usd2"),
    )


@register(
    "a_heavy_hitters",
    """
    WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
    exact AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    )
    SELECT l_partkey, cnt, rn FROM (
        SELECT l_partkey, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, l_partkey)
                    AS BIGINT) AS rn
        FROM exact CROSS JOIN tot WHERE cnt * 2000 > n
    ) WHERE rn <= 10
    """,
)
def a_heavy_hitters(spark, sf_dir):
    """Exact top-10 keys above a 1/2000 frequency threshold by the
    guaranteed two-phase recipe — the scale answer when the key
    cardinality is too big to rank directly and a_count_min's sketch
    error is unacceptable. Phase 1 finds CANDIDATES by pigeonhole:
    rows are sharded by a hash INDEPENDENT of the key
    (l_orderkey % 32), so a key's occurrences spread across shards,
    and any key with global frequency > N/2000 must exceed
    N/(2000·32) in at least one shard — per-(shard, key) counts
    filtered at that threshold are a guaranteed superset of every
    heavy key (a frequency-oracle cousin of Misra-Gries in two
    relational passes). Phase 2 counts ONLY candidates exactly
    (a semi-join-shrunk aggregate), re-applies the TRUE threshold
    (cnt·2000 > N — candidates are a superset), and ranks. Integer
    cross-multiplication throughout; no float threshold.

    The oracle ranks ALL keys directly (plain group-count + window),
    so a missed heavy hitter — the failure mode this recipe exists to
    prevent — breaks the hash: the cross-engine check verifies the
    pigeonhole guarantee itself, not a replay of the same pipeline.
    At sf0.01 the per-shard threshold rounds below one row, so the
    prune passes everything (891/2000 keys clear the global bar);
    the prune bites exactly when N/(2000·32) ≥ 1 — the large-N
    regime it exists for. Shuffle: phase 1 is one partial+final
    count, candidate-sized output for the distinct; phase 2
    aggregates a filtered scan. Never a global sort of the full key
    space.
    """
    li = load_table(spark, sf_dir, "lineitem")
    shard = li.groupBy(
        (F.col("l_orderkey") % 32).alias("sid"), "l_partkey"
    ).agg(F.count("*").cast("long").alias("c"))
    tot = li.agg(F.count("*").cast("long").alias("n"))
    cand = (
        shard.crossJoin(F.broadcast(tot))
        .where(F.col("c") * 2000 * 32 > F.col("n"))
        .select("l_partkey")
        .distinct()
    )
    exact = (
        li.join(F.broadcast(cand), "l_partkey")
        .groupBy("l_partkey")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), "l_partkey")
    return (
        exact.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * 2000 > F.col("n"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 10)
        .select("l_partkey", "cnt", "rn")
    )


@register(
    "a_qq_normal",
    """
    WITH x AS (
        SELECT CAST(round(value * 100) AS BIGINT) * 1.0 AS v FROM events
        WHERE event_type = 'purchase'
    ),
    s AS (SELECT avg(v) AS mu, stddev_samp(v) AS sd FROM x),
    z AS (SELECT * FROM (VALUES
            (1, -1.281551566), (2, -0.841621234), (3, -0.524400513),
            (4, -0.253347103), (5, 0.0), (6, 0.253347103),
            (7, 0.524400513), (8, 0.841621234), (9, 1.281551566))
          AS t(decile, zq)),
    emp0 AS (
        SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM x
    ),
    empx AS (
        SELECT CAST(generate_subscripts(qs, 1) AS BIGINT) AS decile,
               unnest(qs) AS q_emp
        FROM emp0
    ),
    emp AS (
        SELECT e.decile, z.zq, e.q_emp FROM empx e JOIN z ON z.decile = e.decile
    )
    SELECT e.decile,
           round(e.q_emp / 100.0, 6) + 0 AS q_empirical_usd,
           round((s.mu + e.zq * s.sd) / 100.0, 6) + 0 AS q_normal_usd,
           round((e.q_emp - (s.mu + e.zq * s.sd)) / 100.0, 6) + 0 AS gap_usd
    FROM emp e CROSS JOIN s
    ORDER BY e.decile
    """,
)
def a_qq_normal(spark, sf_dir):
    """QQ-against-normal table for purchase values: the nine deciles of
    the empirical distribution next to where a Normal(μ̂, σ̂) would put
    them, with the gap — the distribution-shape diagnostic read as a
    plot (systematic positive tail gaps = right skew), quantifying WHAT
    a_jarque_bera's single statistic rejects. The nine standard-normal
    decile quantiles are shared 9dp literals (no engine erf/probit —
    Spark has none to call), so both engines compute identical
    theoretical positions.

    Empirical deciles use the a_median percentile-interpolation
    convention over exact cents; μ/σ fold in the same pass shape as
    a_stats; the z-grid is a 9-row broadcast axis. O(1) state beyond
    the percentile buffer at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    x = ev.where(F.col("event_type") == "purchase").select(
        (F.round(F.col("value") * 100).cast("long") * 1.0).alias("v")
    )
    s = x.agg(F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd"))
    zs = [
        (1, -1.281551566), (2, -0.841621234), (3, -0.524400513),
        (4, -0.253347103), (5, 0.0), (6, 0.253347103),
        (7, 0.524400513), (8, 0.841621234), (9, 1.281551566),
    ]
    z = spark.createDataFrame(zs, "decile long, zq double")
    # Spark's percentile demands a FOLDABLE percentage: fold all nine in one
    # aggregate over a literal array, then explode back to the decile axis
    deciles = x.agg(
        F.expr(
            "percentile(v, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))"
        ).alias("qs")
    ).select(F.posexplode("qs").alias("pos", "q_emp")).select(
        (F.col("pos") + 1).cast("long").alias("decile"), "q_emp"
    )
    emp = deciles.join(F.broadcast(z), "decile")
    return (
        emp.crossJoin(F.broadcast(s))
        .select(
            "decile",
            f6(F.col("q_emp") / 100.0).alias("q_empirical_usd"),
            f6((F.col("mu") + F.col("zq") * F.col("sd")) / 100.0).alias(
                "q_normal_usd"
            ),
            f6(
                (F.col("q_emp") - (F.col("mu") + F.col("zq") * F.col("sd")))
                / 100.0
            ).alias("gap_usd"),
        )
        .orderBy("decile")
    )


@register(
    "a_proportion_ztest",
    """
    WITH assign AS (
        SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) >= 14
                    THEN 1 ELSE 0 END AS converted,
               min(user_id % 2) AS grp
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(converted) AS BIGINT) AS x
        FROM assign GROUP BY grp
    ),
    wide AS (
        SELECT max(CASE WHEN grp = 0 THEN n END) AS n0,
               max(CASE WHEN grp = 0 THEN x END) AS x0,
               max(CASE WHEN grp = 1 THEN n END) AS n1,
               max(CASE WHEN grp = 1 THEN x END) AS x1
        FROM g
    )
    SELECT n0, x0, n1, x1,
           round(x0 * 1.0 / n0, 6) + 0 AS p0,
           round(x1 * 1.0 / n1, 6) + 0 AS p1,
           round((x1 * 1.0 / n1 - x0 * 1.0 / n0)
                 / sqrt((x0 + x1) * 1.0 / (n0 + n1)
                        * (1 - (x0 + x1) * 1.0 / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) + 0 AS z_stat,
           CAST(CASE WHEN abs((x1 * 1.0 / n1 - x0 * 1.0 / n0)
                 / sqrt((x0 + x1) * 1.0 / (n0 + n1)
                        * (1 - (x0 + x1) * 1.0 / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1))) > 1.959964
                THEN 1 ELSE 0 END AS BIGINT) AS significant_05
    FROM wide
    """,
)
def a_proportion_ztest(spark, sf_dir):
    """Two-proportion z-test on user CONVERSION (heavy purchaser: >= 14
    purchase events — every fixture user buys at least once, so the
    ever-purchased flag would saturate at p=1 and zero the pooled
    variance), parity-split arms — the binary-metric member of the
    experimentation family (a_ttest_welch judges means, a_mann_whitney
    ranks, this judges rates), using the pooled-variance z under H0
    p0=p1, the textbook two-sided test at α=0.05 (|z| > 1.959964, the
    a_sample_size literal).

    Conversion collapses per USER first (max-flag — the unit of
    randomization, not the event; computing on events would
    pseudo-replicate), then two exact-integer (n, x) pairs pivot wide
    in a 2-row conditional-max; the z formula divides exact counts in
    identical association order under the 6dp snap. O(1) state past
    the user fold.
    """
    ev = load_table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ) >= 14,
            1,
        )
        .otherwise(0)
        .alias("converted"),
        F.min(F.col("user_id") % 2).alias("grp"),
    )
    g = assign.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    wide = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("x"))).alias("x1"),
    )
    p0 = F.col("x0") * 1.0 / F.col("n0")
    p1 = F.col("x1") * 1.0 / F.col("n1")
    pp = (F.col("x0") + F.col("x1")) * 1.0 / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return wide.select(
        "n0", "x0", "n1", "x1",
        f6(p0).alias("p0"),
        f6(p1).alias("p1"),
        f6(z).alias("z_stat"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).cast("long").alias(
            "significant_05"
        ),
    )


@register(
    "a_tukey_fences",
    """
    WITH x AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) * 1.0 AS v
        FROM events
    ),
    ranked AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM x
    ),
    q AS (
        SELECT event_type,
               max(CASE WHEN rn = CAST(floor((n - 1) * 0.25) AS BIGINT) + 1
                        THEN v END) AS q1,
               max(CASE WHEN rn = CAST(floor((n - 1) * 0.75) AS BIGINT) + 1
                        THEN v END) AS q3
        FROM ranked GROUP BY event_type
    ),
    f AS (
        SELECT event_type, q1, q3,
               q1 - 1.5 * (q3 - q1) AS lo,
               q3 + 1.5 * (q3 - q1) AS hi
        FROM q
    )
    SELECT x.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(f.q1 / 100.0, 6) + 0 AS q1_usd,
           round(f.q3 / 100.0, 6) + 0 AS q3_usd,
           CAST(sum(CASE WHEN x.v < f.lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_outliers,
           CAST(sum(CASE WHEN x.v > f.hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high_outliers
    FROM x JOIN f ON f.event_type = x.event_type
    GROUP BY x.event_type, f.q1, f.q3
    ORDER BY x.event_type
    """,
)
def a_tukey_fences(spark, sf_dir):
    """Tukey boxplot fences per event type: outliers = values beyond
    Q1−1.5·IQR / Q3+1.5·IQR — the third member of the outlier family
    (a_mad_outliers is the robust-scale screen, w_rolling_zscore the
    temporal one; Tukey's is THE convention dashboards draw, quartiles
    only, no moments, so a heavy tail can't inflate its own fence).

    Two passes by necessity (fences must exist before counting against
    them): the quartile fold produces one tiny per-type row that joins
    back broadcastable; the recount is a single scan with the fence
    comparison in codegen. Quartiles are the LOWER discrete order
    statistic at rank floor((n-1)·p)+1, computed by explicit window
    rank arithmetic in BOTH engines — engine quantile functions were
    measured to disagree in their interpolation on this data
    (DuckDB quantile_cont vs Spark percentile, 5e-4 apart), and a fence
    needs no interpolation anyway. Exact cent values; 1.5 shared
    literal.
    """
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        "event_type", (F.round(F.col("value") * 100).cast("long") * 1.0).alias("v")
    )
    wr = Window.partitionBy("event_type").orderBy("v")
    wn = Window.partitionBy("event_type")
    ranked = x.select(
        "event_type",
        "v",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    q = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.floor((F.col("n") - 1) * 0.25).cast("long") + 1,
                F.col("v"),
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn")
                == F.floor((F.col("n") - 1) * 0.75).cast("long") + 1,
                F.col("v"),
            )
        ).alias("q3"),
    )
    f = q.select(
        "event_type",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        x.join(F.broadcast(f), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_low_outliers"),
            F.sum(F.when(F.col("v") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_high_outliers"),
        )
        .select(
            "event_type",
            "n",
            f6(F.col("q1") / 100.0).alias("q1_usd"),
            f6(F.col("q3") / 100.0).alias("q3_usd"),
            "n_low_outliers",
            "n_high_outliers",
        )
        .orderBy("event_type")
    )


@register(
    "a_covariance_pairs",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               sum(CAST(round(value * 100) AS BIGINT)) AS v
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_days,
               covar_samp(a.v * 1.0, b.v * 1.0) AS cov,
               corr(a.v * 1.0, b.v * 1.0) AS r
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_days,
           round(cov / 10000.0, 6) + 0 AS cov_usd2,
           round(r, 6) + 0 AS pearson_r
    FROM pairs ORDER BY type_a, type_b
    """,
)
def a_covariance_pairs(spark, sf_dir):
    """Pairwise covariance/correlation matrix of the five event types'
    daily dollar volumes — the dependence structure behind portfolio-
    style questions (do error-day losses co-move with purchase-day
    revenue?), the multivariate step past a_corr_regr's single pair.
    Emitted as the 10 upper-triangle cells with day counts (the
    variances live in a_stats/a_variance_merge).

    The fact table folds ONCE to the (day, type) axis; the matrix is a
    day-keyed self-join of that bounded frame (|days|×5 rows) with
    type_a < type_b canonicalization — never a fact-table self-join.
    covar_samp/corr over integer-cent values agree across engines under
    the 6dp snap; at 100 TB this is the standard 'aggregate first,
    correlate the axis' discipline (a_ks_drift's argument, bivariate).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    a = daily.select(
        F.col("day").alias("da"), F.col("event_type").alias("type_a"),
        F.col("v").alias("va"),
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("event_type").alias("type_b"),
        F.col("v").alias("vb"),
    )
    return (
        a.join(
            b,
            (F.col("da") == F.col("db"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.covar_samp(F.col("va") * 1.0, F.col("vb") * 1.0).alias("cov"),
            F.corr(F.col("va") * 1.0, F.col("vb") * 1.0).alias("r"),
        )
        .select(
            "type_a", "type_b", "n_days",
            f6(F.col("cov") / 10000.0).alias("cov_usd2"),
            f6(F.col("r")).alias("pearson_r"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "a_ols_two_factor",
    """
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS s2,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s11,
               CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                        * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS s22,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS s12,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s1y,
               CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s2y,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS syy
        FROM lineitem GROUP BY 1
    ),
    d AS (
        SELECT l_returnflag, n,
               CAST(n AS DOUBLE) AS nD, CAST(s1 AS DOUBLE) AS s1D,
               CAST(s2 AS DOUBLE) AS s2D, CAST(sy AS DOUBLE) AS syD,
               CAST(s11 AS DOUBLE) AS s11D, CAST(s22 AS DOUBLE) AS s22D,
               CAST(s12 AS DOUBLE) AS s12D, CAST(s1y AS DOUBLE) AS s1yD,
               CAST(s2y AS DOUBLE) AS s2yD, CAST(syy AS DOUBLE) AS syyD
        FROM s
    ),
    b AS (
        SELECT l_returnflag, n, syD, s1yD, s2yD, syyD, nD,
               nD * (s11D * s22D - s12D * s12D)
                 - s1D * (s1D * s22D - s12D * s2D)
                 + s2D * (s1D * s12D - s11D * s2D) AS det,
               syD * (s11D * s22D - s12D * s12D)
                 - s1D * (s1yD * s22D - s12D * s2yD)
                 + s2D * (s1yD * s12D - s11D * s2yD) AS det0,
               nD * (s1yD * s22D - s12D * s2yD)
                 - syD * (s1D * s22D - s12D * s2D)
                 + s2D * (s1D * s2yD - s1yD * s2D) AS det1,
               nD * (s11D * s2yD - s1yD * s12D)
                 - s1D * (s1D * s2yD - s1yD * s2D)
                 + syD * (s1D * s12D - s11D * s2D) AS det2
        FROM d
    )
    SELECT l_returnflag, n,
           round(det0 / det / 100.0, 6) + 0 AS intercept_usd,
           round(det1 / det / 100.0, 6) + 0 AS per_qty_usd,
           round(det2 / det / 100.0, 6) + 0 AS per_disc_pct_usd,
           round(1.0 - (syyD - (det0 / det) * syD - (det1 / det) * s1yD
                        - (det2 / det) * s2yD)
                     / (syyD - syD * syD / nD), 6) + 0 AS r2
    FROM b ORDER BY l_returnflag
    """,
)
def a_ols_two_factor(spark, sf_dir):
    """Two-regressor OLS per return flag — price ~ β0 + β1·quantity +
    β2·discount, solved in closed form by Cramer's rule on the 3×3
    normal equations. The multi-feature step up from a_corr_regr's
    engine regr_slope/regr_intercept (single regressor only — neither
    engine has a built-in multiple regression, so the normal equations
    ARE the portable implementation).

    Cross-engine exactness discipline: the nine moment sums accumulate
    as exact BIGINTs over integer units (cents, whole quantities,
    discount percent) — reduction-order-free at any parallelism — and
    the determinant arithmetic happens AFTER casting each sum to
    DOUBLE, in an identical expression tree in both engines (IEEE ops
    are deterministic given the same association; BIGINT minors would
    overflow at ~1e21). β̂ and R² are then pure per-group scalar math,
    rounded at 6dp. One partial+final aggregate over the scan — the
    statistical model costs exactly one groupBy at 100 TB, the same
    plan as a_stats.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("long")
    x2 = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x1).cast("long").alias("s1"),
        F.sum(x2).cast("long").alias("s2"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x1 * x1).cast("long").alias("s11"),
        F.sum(x2 * x2).cast("long").alias("s22"),
        F.sum(x1 * x2).cast("long").alias("s12"),
        F.sum(x1 * y).cast("long").alias("s1y"),
        F.sum(x2 * y).cast("long").alias("s2y"),
        F.sum(y * y).cast("long").alias("syy"),
    )
    D = {c: F.col(c).cast("double") for c in
         ("n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y", "syy")}
    det = (
        D["n"] * (D["s11"] * D["s22"] - D["s12"] * D["s12"])
        - D["s1"] * (D["s1"] * D["s22"] - D["s12"] * D["s2"])
        + D["s2"] * (D["s1"] * D["s12"] - D["s11"] * D["s2"])
    )
    det0 = (
        D["sy"] * (D["s11"] * D["s22"] - D["s12"] * D["s12"])
        - D["s1"] * (D["s1y"] * D["s22"] - D["s12"] * D["s2y"])
        + D["s2"] * (D["s1y"] * D["s12"] - D["s11"] * D["s2y"])
    )
    det1 = (
        D["n"] * (D["s1y"] * D["s22"] - D["s12"] * D["s2y"])
        - D["sy"] * (D["s1"] * D["s22"] - D["s12"] * D["s2"])
        + D["s2"] * (D["s1"] * D["s2y"] - D["s1y"] * D["s2"])
    )
    det2 = (
        D["n"] * (D["s11"] * D["s2y"] - D["s1y"] * D["s12"])
        - D["s1"] * (D["s1"] * D["s2y"] - D["s1y"] * D["s2"])
        + D["sy"] * (D["s1"] * D["s12"] - D["s11"] * D["s2"])
    )
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    sse = D["syy"] - b0 * D["sy"] - b1 * D["s1y"] - b2 * D["s2y"]
    sst = D["syy"] - D["sy"] * D["sy"] / D["n"]
    return s.select(
        "l_returnflag",
        "n",
        f6(b0 / 100.0).alias("intercept_usd"),
        f6(b1 / 100.0).alias("per_qty_usd"),
        f6(b2 / 100.0).alias("per_disc_pct_usd"),
        f6(1.0 - sse / sst).alias("r2"),
    ).orderBy("l_returnflag")


_POW2_VALUES = ", ".join(f"({k}, {1 << k})" for k in range(0, 41))


@register(
    "a_hdr_histogram",
    f"""
    WITH x AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0
    ),
    pow2(k, v) AS (VALUES {_POW2_VALUES}),
    b AS (
        SELECT x.cents, CAST(max(p.k) AS BIGINT) AS bucket
        FROM x JOIN pow2 p ON p.v <= x.cents
        GROUP BY x.cents
    ),
    h AS (
        SELECT b.bucket, CAST(count(*) AS BIGINT) AS n
        FROM x JOIN b ON x.cents = b.cents
        GROUP BY b.bucket
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h)
    SELECT bucket,
           CAST(power(2, bucket) AS BIGINT) AS lo_cents,
           CAST(power(2, bucket + 1) - 1 AS BIGINT) AS hi_cents,
           n,
           round(n * 1.0 / total, 6) + 0 AS share,
           round(sum(n) OVER (ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) * 1.0 / total, 6) + 0
               AS cum_share
    FROM h CROSS JOIN tot ORDER BY bucket
    """,
)
def a_hdr_histogram(spark, sf_dir):
    """Log2-bucketed value histogram — the HdrHistogram-family fixed-
    memory distribution summary every latency/price pipeline keeps
    (bucket = floor(log2(cents)), ~40 buckets cover 12 decades; shares
    + cumulative shares read as the percentile curve). The integer
    discipline is the point: floor(log2(x)) via libm is a cross-engine
    trap at exact powers of two (log2(2^k) can land at k−ε and floor
    one bucket low, differently per engine), and this container's
    DuckDB has no 64-bit shifts — so the bucket comes from a
    broadcast-joined 41-row powers-of-two axis (bucket = max k with
    2^k ≤ x), exact BIGINT comparisons only.

    Scale shape: bucketing groups by DISTINCT cents first (bounded by
    the price domain, ≪ row count), so the powers join touches
    |distinct| rows, then one partial+final count per bucket; output
    is ≤41 rows at any corpus size. The window over 41 buckets is
    metadata-scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    x = orders.where(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    pow2 = spark.createDataFrame(
        [(k, 1 << k) for k in range(0, 41)], "k long, v long"
    )
    b = (
        x.select("cents")
        .distinct()
        .join(F.broadcast(pow2), F.col("v") <= F.col("cents"))
        .groupBy("cents")
        .agg(F.max("k").cast("long").alias("bucket"))
    )
    h = (
        x.join(b, "cents")
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = h.agg(F.sum("n").cast("long").alias("total"))
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        h.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.pow(F.lit(2.0), F.col("bucket")).cast("long").alias("lo_cents"),
            (F.pow(F.lit(2.0), F.col("bucket") + 1) - 1)
            .cast("long")
            .alias("hi_cents"),
            "n",
            f6(F.col("n") * 1.0 / F.col("total")).alias("share"),
            f6(F.sum("n").over(wc) * 1.0 / F.col("total")).alias("cum_share"),
        )
        .orderBy("bucket")
    )


@register(
    "a_two_way_anova",
    """
    WITH cell AS (
        SELECT l_returnflag AS fa, l_linestatus AS fb,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round(l_extendedprice * 100) AS BIGINT)) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    am AS (SELECT fa, CAST(sum(n) AS BIGINT) AS n, sum(s) AS s
           FROM cell GROUP BY fa),
    bm AS (SELECT fb, CAST(sum(n) AS BIGINT) AS n, sum(s) AS s
           FROM cell GROUP BY fb),
    t AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s) AS st, sum(q) AS qt,
               CAST(count(*) AS BIGINT) AS nc,
               sum(s * 1.0 * s / n) AS ssc,
               (SELECT CAST(count(*) AS BIGINT) FROM am) AS na,
               (SELECT CAST(count(*) AS BIGINT) FROM bm) AS nb,
               (SELECT sum(s * 1.0 * s / n) FROM am) AS ssa0,
               (SELECT sum(s * 1.0 * s / n) FROM bm) AS ssb0
        FROM cell
    ),
    ss AS (
        SELECT nt, nc, na, nb,
               ssa0 - st * 1.0 * st / nt AS ssa,
               ssb0 - st * 1.0 * st / nt AS ssb,
               ssc - st * 1.0 * st / nt AS sscell,
               qt - ssc AS sse
        FROM t
    )
    SELECT nt AS n_rows, nc AS n_cells,
           round((ssa / (na - 1)) / (sse / (nt - nc)), 6) + 0 AS f_returnflag,
           round((ssb / (nb - 1)) / (sse / (nt - nc)), 6) + 0 AS f_linestatus,
           round(((sscell - ssa - ssb) / (nc - na - nb + 1))
                 / (sse / (nt - nc)), 6) + 0 AS f_interaction
    FROM ss
    """,
)
def a_two_way_anova(spark, sf_dir):
    """Two-factor ANOVA of line price over returnflag × linestatus —
    main-effect F for each factor plus the interaction F, extending
    a_anova_f's one-way test to the crossed layout (sequential/Type I
    sums of squares: SS_AB = SS_cells − SS_A − SS_B, the textbook
    decomposition; exact for balanced designs, the standard first-pass
    screen for unbalanced ones — the caveat every stats package
    prints).

    Identical moment discipline: per-CELL (n, Σx, Σx²) fold to exact
    cent BIGINTs in one shuffle over ≤6 cells; marginals roll up from
    the cells (no second data pass), and the SS assembly is 1-row
    float math in one shared association. Degrees of freedom use the
    OBSERVED cell count (TPC-H's flag×status layout is structurally
    sparse — N pairs almost only with O). Same O(cells) shuffle bytes
    from a 100 TB scan as the one-way test.
    """
    li = load_table(spark, sf_dir, "lineitem")
    c = F.round(F.col("l_extendedprice") * 100).cast("long")
    cell = li.groupBy(
        F.col("l_returnflag").alias("fa"), F.col("l_linestatus").alias("fb")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(c).alias("s"),
        F.sum(c * c).alias("q"),
    )
    am = cell.groupBy("fa").agg(
        F.sum("n").cast("long").alias("n"), F.sum("s").alias("s")
    )
    bm = cell.groupBy("fb").agg(
        F.sum("n").cast("long").alias("n"), F.sum("s").alias("s")
    )
    ssg = F.sum(F.col("s") * 1.0 * F.col("s") / F.col("n"))
    t = (
        cell.agg(
            F.sum("n").cast("long").alias("nt"),
            F.sum("s").alias("st"),
            F.sum("q").alias("qt"),
            F.count("*").cast("long").alias("nc"),
            ssg.alias("ssc"),
        )
        .crossJoin(
            F.broadcast(
                am.agg(
                    F.count("*").cast("long").alias("na"), ssg.alias("ssa0")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                bm.agg(
                    F.count("*").cast("long").alias("nb"), ssg.alias("ssb0")
                )
            )
        )
    )
    cm = F.col("st") * 1.0 * F.col("st") / F.col("nt")
    ssa, ssb = F.col("ssa0") - cm, F.col("ssb0") - cm
    sscell = F.col("ssc") - cm
    sse = F.col("qt") - F.col("ssc")
    return t.select(
        F.col("nt").alias("n_rows"),
        F.col("nc").alias("n_cells"),
        f6((ssa / (F.col("na") - 1)) / (sse / (F.col("nt") - F.col("nc")))).alias(
            "f_returnflag"
        ),
        f6((ssb / (F.col("nb") - 1)) / (sse / (F.col("nt") - F.col("nc")))).alias(
            "f_linestatus"
        ),
        f6(
            ((sscell - ssa - ssb)
             / (F.col("nc") - F.col("na") - F.col("nb") + 1))
            / (sse / (F.col("nt") - F.col("nc")))
        ).alias("f_interaction"),
    )


_H32_USER = """
    CAST(list_sum(list_transform(range(1, 9),
        j -> (strpos('0123456789abcdef',
                     substring(md5(CAST(user_id AS VARCHAR)), j, 1)) - 1)
             * 16 ** (8 - j))) AS BIGINT)
"""


@register(
    "a_ab_srm_check",
    f"""
    WITH assign AS (
        SELECT DISTINCT user_id, {_H32_USER} % 2 AS arm FROM events
    ),
    c AS (
        SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM assign
    )
    SELECT na, nb,
           round((na - (na + nb) / 2.0) * (na - (na + nb) / 2.0)
                     / ((na + nb) / 2.0)
                 + (nb - (na + nb) / 2.0) * (nb - (na + nb) / 2.0)
                     / ((na + nb) / 2.0), 6) + 0 AS chi2,
           CASE WHEN (na - (na + nb) / 2.0) * (na - (na + nb) / 2.0)
                         / ((na + nb) / 2.0)
                     + (nb - (na + nb) / 2.0) * (nb - (na + nb) / 2.0)
                         / ((na + nb) / 2.0) > 3.841459 THEN 1 ELSE 0 END
               AS srm_flag
    FROM c
    """,
)
def a_ab_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guard for A/B experiments — the FIRST
    check any experiment readout must pass: hash users into two arms
    (md5, the deterministic assignment a real platform uses) and chi²-
    test the observed split against the designed 50/50. SRM is the
    highest-yield invalidity detector in practice (redirect bugs, bot
    filtering asymmetries, logging loss all surface here before any
    metric is worth reading); the 3.841 critical value is χ²₁ at
    α=.05, a shared literal so neither engine needs a CDF.

    One distinct-users pass (the only data-scale work) then a 2-cell
    census; the chi² assembly is 1-row float math in one shared
    association. Reports the arm counts, the statistic, and the
    binary gate downstream experiment keys would consume.
    """
    ev = load_table(spark, sf_dir, "events")
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    # r17 (guide §2.2 — shuffle fewer bytes): arm is a pure function of
    # user_id, so distinct on user_id FIRST, then derive the arm on the
    # deduped set: the distinct exchange carries one long instead of
    # (user_id, arm) and md5+conv run once per USER, not per event row.
    assign = ev.select("user_id").distinct().select(
        "user_id", (h32 % 2).alias("arm")
    )
    c = assign.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    exp = (F.col("na") + F.col("nb")) / 2.0
    chi2 = (F.col("na") - exp) * (F.col("na") - exp) / exp + (
        F.col("nb") - exp
    ) * (F.col("nb") - exp) / exp
    return c.select(
        "na",
        "nb",
        f6(chi2).alias("chi2"),
        F.when(chi2 > 3.841459, 1).otherwise(0).alias("srm_flag"),
    )


@register(
    "a_power_sample_size",
    f"""
    WITH {_TYPE_MOMENTS_SQL}
    SELECT event_type, n,
           round(s * 1.0 / n / 100, 6) + 0 AS mean_usd,
           round(sqrt((q - s * 1.0 * s / n) / (n - 1)) / 100, 6) + 0 AS sd_usd,
           CAST(ceil(15.698587
                     * ((q - s * 1.0 * s / n) / (n - 1))
                     / ((s * 1.0 / n) * 0.02 * (s * 1.0 / n) * 0.02))
                AS BIGINT) AS n_per_arm_2pct
    FROM g ORDER BY event_type
    """,
)
def a_power_sample_size(spark, sf_dir):
    """Experiment sample-size calculator per metric — 'how many users
    per arm to detect a 2% lift at 80% power, α=.05' for each event
    type's value metric: n = 2(z_{{α/2}}+z_β)²·σ²/δ² with
    2(1.959964+0.841621)² = 15.698587 as a shared literal (no inverse-
    normal in either engine) and δ = 2% of the observed mean. This is
    the planning half of the experimentation toolkit — a_ttest_welch /
    a_cuped / a_ab_srm_check read experiments; this sizes them, and
    CUPED users divide its output by 1−ρ² for the variance-reduced
    duration.

    Variance assembles from the same exact-BIGINT (n, Σx, Σx²) moments
    as a_stats — one partial+final aggregate over the scan, 5-row
    output, float math only in the final 1-row-per-group expressions
    with shared association.
    """
    g = _type_moments(spark, sf_dir)
    var = (F.col("q") - F.col("s") * 1.0 * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    mean = F.col("s") * 1.0 / F.col("n")
    return g.select(
        "event_type",
        "n",
        f6(mean / 100).alias("mean_usd"),
        f6(F.sqrt(var) / 100).alias("sd_usd"),
        F.ceil(15.698587 * var / (mean * 0.02 * mean * 0.02))
        .cast("long")
        .alias("n_per_arm_2pct"),
    ).orderBy("event_type")


@register(
    "a_mutual_information",
    """
    WITH cell AS (
        SELECT l_returnflag AS a, l_linestatus AS b,
               CAST(count(*) AS BIGINT) AS nab
        FROM lineitem GROUP BY 1, 2
    ),
    ma AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM cell GROUP BY a),
    mb AS (SELECT b, CAST(sum(nab) AS BIGINT) AS nb FROM cell GROUP BY b),
    t AS (SELECT CAST(sum(nab) AS BIGINT) AS n FROM cell),
    terms AS (
        SELECT CAST(round(cell.nab * ln(cell.nab * 1.0 * t.n
                                        / (ma.na * 1.0 * mb.nb)) * 1e9
                          / t.n) AS BIGINT) AS term9
        FROM cell JOIN ma ON ma.a = cell.a
                  JOIN mb ON mb.b = cell.b
                  CROSS JOIN t
    )
    SELECT round(sum(term9) / 1e9, 6) + 0 AS mi_nats,
           round(sum(term9) / 1e9 / ln(2), 6) + 0 AS mi_bits
    FROM terms
    """,
)
def a_mutual_information(spark, sf_dir):
    """Mutual information between return flag and line status — the
    information-theoretic dependence measure beside a_cramers_v's
    normalized chi² (MI answers 'how many bits does knowing one tell
    you about the other', is zero iff independent, and unlike V it
    decomposes over partitions and feeds feature-selection rankings
    directly). I(A;B) = Σ p(a,b)·ln(p(a,b)/(p(a)p(b))) over the
    observed cells.

    Each cell term nab·ln(nab·N/(na·nb))/N snaps to a 1e-9 BIGINT
    before summation (ln is libm — last-ulp risk — and the cell count
    is bounded, so snapping per term makes the reduction order-free
    at negligible bias). One ≤6-cell aggregate from the scan, the
    marginals roll up from the cells, output is two numbers. The
    identical plan computes MI for ANY categorical pair at O(cells)
    shuffle bytes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cell = li.groupBy(
        F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b")
    ).agg(F.count("*").cast("long").alias("nab"))
    ma = cell.groupBy("a").agg(F.sum("nab").cast("long").alias("na"))
    mb = cell.groupBy("b").agg(F.sum("nab").cast("long").alias("nb"))
    t = cell.agg(F.sum("nab").cast("long").alias("n"))
    terms = (
        cell.join(ma, "a")
        .join(mb, "b")
        .crossJoin(F.broadcast(t))
        .select(
            F.round(
                F.col("nab")
                * F.log(
                    F.col("nab") * 1.0 * F.col("n")
                    / (F.col("na") * 1.0 * F.col("nb"))
                )
                * 1e9
                / F.col("n")
            )
            .cast("long")
            .alias("term9")
        )
    )
    import math

    return terms.agg(
        f6(F.sum("term9") / 1e9).alias("mi_nats"),
        f6(F.sum("term9") / 1e9 / math.log(2)).alias("mi_bits"),
    )


@register(
    "a_tost_equivalence",
    f"""
    WITH assign AS (
        SELECT {_H32_USER} % 2 AS arm,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    g AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n,
               sum(cents) AS s, sum(cents * cents) AS q
        FROM assign GROUP BY arm
    ),
    w AS (
        SELECT max(CASE WHEN arm = 0 THEN n END) AS na,
               max(CASE WHEN arm = 1 THEN n END) AS nb,
               max(CASE WHEN arm = 0 THEN s END) AS sa,
               max(CASE WHEN arm = 1 THEN s END) AS sb,
               max(CASE WHEN arm = 0 THEN q END) AS qa,
               max(CASE WHEN arm = 1 THEN q END) AS qb
        FROM g
    ),
    stats AS (
        SELECT na, nb,
               sa * 1.0 / na - sb * 1.0 / nb AS diff,
               sqrt((qa - sa * 1.0 * sa / na) / (na - 1) / na
                    + (qb - sb * 1.0 * sb / nb) / (nb - 1) / nb) AS se,
               0.02 * (sa + sb) * 1.0 / (na + nb) AS delta
        FROM w
    )
    SELECT na, nb,
           round(diff / 100, 6) + 0 AS diff_usd,
           round(se / 100, 6) + 0 AS se_usd,
           round((diff + delta) / se, 6) + 0 AS t_lower,
           round((diff - delta) / se, 6) + 0 AS t_upper,
           CASE WHEN (diff + delta) / se > 1.644854
                 AND (diff - delta) / se < -1.644854
                THEN 1 ELSE 0 END AS equivalent
    FROM stats
    """,
)
def a_tost_equivalence(spark, sf_dir):
    """TOST equivalence test (two one-sided tests, Schuirmann 1987) on
    hash-assigned arms — the test a_ttest_welch CANNOT provide: failing
    to reject 'different' is not evidence of 'same', so non-inferiority
    and do-no-harm launches need TOST's inverted hypotheses (H0: the
    arms DIFFER by at least δ; rejecting BOTH one-sided tests at α=.05
    declares equivalence within ±δ = 2% of the pooled mean). On a null
    A/A split like this md5 assignment, `equivalent = 1` is the
    expected outcome — the operator doubles as the A/A harness
    validation every experimentation platform runs.

    Same exact-BIGINT (n, Σx, Σx²) moment discipline as the rest of the
    stats family; Welch SE and both t statistics assemble in one shared
    float association; 1.644854 (z at one-sided .05) is a shared
    literal — no CDF in either engine. One 2-cell aggregate at any
    scale.
    """
    ev = load_table(spark, sf_dir, "events")
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    c = F.round(F.col("value") * 100).cast("long")
    assign = ev.select((h32 % 2).alias("arm"), c.alias("cents"))
    g = assign.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("q"),
    )
    w = g.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("sa"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("sb"),
        F.max(F.when(F.col("arm") == 0, F.col("q"))).alias("qa"),
        F.max(F.when(F.col("arm") == 1, F.col("q"))).alias("qb"),
    )
    diff = F.col("sa") * 1.0 / F.col("na") - F.col("sb") * 1.0 / F.col("nb")
    se = F.sqrt(
        (F.col("qa") - F.col("sa") * 1.0 * F.col("sa") / F.col("na"))
        / (F.col("na") - 1)
        / F.col("na")
        + (F.col("qb") - F.col("sb") * 1.0 * F.col("sb") / F.col("nb"))
        / (F.col("nb") - 1)
        / F.col("nb")
    )
    delta = 0.02 * (F.col("sa") + F.col("sb")) * 1.0 / (F.col("na") + F.col("nb"))
    return w.select(
        "na",
        "nb",
        f6(diff / 100).alias("diff_usd"),
        f6(se / 100).alias("se_usd"),
        f6((diff + delta) / se).alias("t_lower"),
        f6((diff - delta) / se).alias("t_upper"),
        F.when(
            ((diff + delta) / se > 1.644854)
            & ((diff - delta) / se < -1.644854),
            1,
        )
        .otherwise(0)
        .alias("equivalent"),
    )


@register(
    "a_gumbel_maxima",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(mx) AS s, sum(mx * mx) AS q
        FROM daily
    ),
    fit AS (
        SELECT n,
               s * 1.0 / n AS mean,
               sqrt((q - s * 1.0 * s / n) / (n - 1)) AS sd
        FROM m
    )
    SELECT n AS n_days,
           round(mean / 100, 6) + 0 AS mean_daily_max_usd,
           round((sd * 0.7796968012336093) / 100, 6) + 0 AS beta_usd,
           round((mean - 0.5772156649015329 * sd * 0.7796968012336093)
                 / 100, 6) + 0 AS mu_usd,
           round((mean - 0.5772156649015329 * sd * 0.7796968012336093
                  - sd * 0.7796968012336093 * ln(-ln(0.99)))
                 / 100, 6) + 0 AS return_level_100d_usd
    FROM fit
    """,
)
def a_gumbel_maxima(spark, sf_dir):
    """Extreme-value (Gumbel) fit of daily maxima by method of moments —
    the EVT step beyond w_value_at_risk: the empirical tail can only
    quote losses it has SEEN; fitting the block-maxima distribution
    (Gumbel, the EVT type-I limit for light-tailed maxima) extrapolates
    to the 100-day return level — 'the single-event size exceeded once
    per 100 days' — capacity planning's actual question. Moment
    estimators: β̂ = s·√6/π, μ̂ = m̄ − γβ̂, return level = μ̂ −
    β̂·ln(−ln(0.99)); √6/π and Euler's γ ship as shared 16-digit
    literals so neither engine computes a constant differently.

    Daily maxima fold as exact BIGINT cents (max is order-free by
    nature); (n, Σ, Σ²) over the bounded day axis give the moments;
    everything after is 1-row float math in one shared association.
    One data-scale pass, five numbers out.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.max(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("mx")
    )
    m = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("mx").alias("s"),
        F.sum(F.col("mx") * F.col("mx")).alias("q"),
    )
    mean = F.col("s") * 1.0 / F.col("n")
    sd = F.sqrt(
        (F.col("q") - F.col("s") * 1.0 * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    beta = sd * 0.7796968012336093  # sqrt(6)/pi as a shared literal
    mu = mean - 0.5772156649015329 * beta  # Euler gamma as a shared literal
    import math

    rl = mu - beta * math.log(-math.log(0.99))
    return m.select(
        F.col("n").alias("n_days"),
        f6(mean / 100).alias("mean_daily_max_usd"),
        f6(beta / 100).alias("beta_usd"),
        f6(mu / 100).alias("mu_usd"),
        f6(
            (
                mean
                - 0.5772156649015329 * beta
                - beta * F.lit(math.log(-math.log(0.99)))
            )
            / 100
        ).alias("return_level_100d_usd"),
    )


@register(
    "a_interrupted_ts",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    seg AS (
        SELECT CASE WHEN day < DATE '2024-02-01' THEN 0 ELSE 1 END AS post,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(t * y) AS BIGINT) AS sty
        FROM daily GROUP BY 1
    ),
    fit AS (
        SELECT post, n,
               (n * 1.0 * sty - st * 1.0 * sy)
                   / (n * 1.0 * stt - st * 1.0 * st) AS slope,
               (sy * 1.0 - (n * 1.0 * sty - st * 1.0 * sy)
                               / (n * 1.0 * stt - st * 1.0 * st) * st)
                   / n AS intercept
        FROM seg
    ),
    w AS (
        SELECT max(CASE WHEN post = 0 THEN slope END) AS slope0,
               max(CASE WHEN post = 1 THEN slope END) AS slope1,
               max(CASE WHEN post = 0 THEN intercept END) AS int0,
               max(CASE WHEN post = 1 THEN intercept END) AS int1,
               max(CASE WHEN post = 0 THEN n END) AS n_pre,
               max(CASE WHEN post = 1 THEN n END) AS n_post
        FROM fit
    )
    SELECT n_pre, n_post,
           round((int0 + slope0 * 31) / 100, 6) + 0 AS expected_at_break_usd,
           round((int1 + slope1 * 31) / 100, 6) + 0 AS actual_fit_at_break_usd,
           round(((int1 + slope1 * 31) - (int0 + slope0 * 31)) / 100, 6) + 0
               AS level_change_usd,
           round((slope1 - slope0) / 100, 6) + 0 AS slope_change_usd_per_day
    FROM w
    """,
)
def a_interrupted_ts(spark, sf_dir):
    """Interrupted time-series (segmented regression) at a KNOWN
    intervention date — the pre-registered causal design next to
    w_changepoint's searched split: fit OLS level+trend separately
    before and after 2024-02-01 and report the counterfactual gap at
    the break (level change = what jumped the day the feature
    shipped) and the trend change (slope_change = how the trajectory
    bent) — the two coefficients an ITS writeup quotes
    (difference-in-differences' single-series sibling; a_did covers
    the two-group design).

    Per-segment OLS assembles from exact BIGINT moments (n, Σt, Σy,
    Σt², Σty) — one ≤2-group aggregate over the bounded day axis
    after the daily rollup; slopes/intercepts are 1-row float math in
    one shared association, both segments evaluated at the break
    (t=31) for the gap. One data-scale pass, six numbers out.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    ).select(
        "day",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("t"),
        "y",
    )
    seg = daily.groupBy(
        F.when(F.col("day") < F.lit("2024-02-01").cast("date"), 0)
        .otherwise(1)
        .alias("post")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    slope = (
        F.col("n") * 1.0 * F.col("sty") - F.col("st") * 1.0 * F.col("sy")
    ) / (F.col("n") * 1.0 * F.col("stt") - F.col("st") * 1.0 * F.col("st"))
    intercept = (F.col("sy") * 1.0 - slope * F.col("st")) / F.col("n")
    fit = seg.select(
        "post", "n", slope.alias("slope"), intercept.alias("intercept")
    )
    w = fit.agg(
        F.max(F.when(F.col("post") == 0, F.col("slope"))).alias("slope0"),
        F.max(F.when(F.col("post") == 1, F.col("slope"))).alias("slope1"),
        F.max(F.when(F.col("post") == 0, F.col("intercept"))).alias("int0"),
        F.max(F.when(F.col("post") == 1, F.col("intercept"))).alias("int1"),
        F.max(F.when(F.col("post") == 0, F.col("n"))).alias("n_pre"),
        F.max(F.when(F.col("post") == 1, F.col("n"))).alias("n_post"),
    )
    pre_at = F.col("int0") + F.col("slope0") * 31
    post_at = F.col("int1") + F.col("slope1") * 31
    return w.select(
        "n_pre",
        "n_post",
        f6(pre_at / 100).alias("expected_at_break_usd"),
        f6(post_at / 100).alias("actual_fit_at_break_usd"),
        f6((post_at - pre_at) / 100).alias("level_change_usd"),
        f6((F.col("slope1") - F.col("slope0")) / 100).alias(
            "slope_change_usd_per_day"
        ),
    )


@register(
    "a_runs_test",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    med AS (
        SELECT x AS m FROM (
            SELECT x, row_number() OVER (ORDER BY x, day) AS rn,
                   count(*) OVER () AS n
            FROM daily
        ) WHERE rn = (n + 1) // 2
    ),
    signs AS (
        SELECT day, CASE WHEN x > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
        FROM daily
    ),
    runs AS (
        SELECT s,
               CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                         OR lag(s) OVER (ORDER BY day) <> s
                    THEN 1 ELSE 0 END AS new_run
        FROM signs
    ),
    c AS (
        SELECT CAST(sum(new_run) AS BIGINT) AS r,
               CAST(sum(s) AS BIGINT) AS n1,
               CAST(count(*) - sum(s) AS BIGINT) AS n2
        FROM runs
    )
    SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
           round(1.0 + 2.0 * n1 * n2 / (n1 + n2), 6) + 0 AS expected_runs,
           round((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6) + 0
               AS z,
           CASE WHEN abs((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))))
                     > 1.959964
                THEN 1 ELSE 0 END AS nonrandom_flag
    FROM c
    """,
)
def a_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on daily volume around its median — the
    nonparametric serial-dependence check missing beside
    a_autocorr_daily (autocorrelation measures LINEAR dependence;
    runs-above/below-median catch any alternation or clustering
    pattern, distribution-free): too FEW runs = trending/sticky
    regimes, too MANY = oscillation, and |z| > 1.96 flags either. The
    median is a rank-based lower order statistic (the a_tukey_fences
    rule — never an engine quantile), run boundaries come from one
    lag() pass, and E[R]/Var[R] are the closed-form moments with
    1.959964 as the shared z literal.

    The daily rollup is the only data-scale pass; the runs machinery
    lives on the bounded day axis (one ORDER BY day window — bounded
    rows, not a data-scale sort). Integer counts throughout; floats
    only in the final 1-row z assembly, shared association.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    w_rank = Window.orderBy("x", "day")
    ranked = daily.select(
        "x",
        "day",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    med = ranked.where(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select(F.col("x").alias("m"))
    signs = daily.crossJoin(F.broadcast(med)).select(
        "day", F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("s")
    )
    w_day = Window.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(w_day).isNull()
            | (F.lag("s").over(w_day) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    c = runs.agg(
        F.sum("new_run").cast("long").alias("r"),
        F.sum("s").cast("long").alias("n1"),
        (F.count("*") - F.sum("s")).cast("long").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    er = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    vr = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    z = (r - er) / F.sqrt(vr)
    return c.select(
        r.alias("n_runs"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        f6(er).alias("expected_runs"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).alias("nonrandom_flag"),
    )


@register(
    "a_mann_kendall",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN b.x > a.x THEN 1
                    WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
        FROM daily a JOIN daily b ON b.day > a.day
    ),
    ties AS (
        SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x
    ),
    c AS (
        SELECT (SELECT CAST(sum(sgn) AS BIGINT) FROM pairs) AS s,
               (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n,
               (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                FROM ties) AS tie_corr
    )
    SELECT s AS s_stat, n AS n_days,
           round((n * (n - 1.0) * (2.0 * n + 5) - tie_corr) / 18.0, 6) + 0
               AS var_s,
           round((CASE WHEN s > 0 THEN s - 1.0
                       WHEN s < 0 THEN s + 1.0 ELSE 0.0 END)
                 / sqrt((n * (n - 1.0) * (2.0 * n + 5) - tie_corr) / 18.0),
                 6) + 0 AS z,
           CASE WHEN abs((CASE WHEN s > 0 THEN s - 1.0
                               WHEN s < 0 THEN s + 1.0 ELSE 0.0 END)
                 / sqrt((n * (n - 1.0) * (2.0 * n + 5) - tie_corr) / 18.0))
                     > 1.959964
                THEN CASE WHEN s > 0 THEN 1 ELSE -1 END ELSE 0 END
               AS trend_direction
    FROM c
    """,
)
def a_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test on daily volume — the
    distribution-free 'is this KPI actually trending' answer that
    needs no linearity assumption (a_corr_regr's slope does) and no
    symmetric noise (a runs test ignores direction): S = Σ sign(x_j −
    x_i) over all later-than pairs, z from the closed-form variance
    WITH the tie correction Σt(t−1)(2t+5), continuity-corrected, and
    a ±1/0 trend verdict at α=.05. The standard first test on any
    monitoring series (hydrology to SLO dashboards; public Mann 1945
    / Kendall).

    The O(days²) pair join is deliberate and SAFE: it runs on the
    BOUNDED day axis after the data-scale daily rollup (366 days →
    67k sign pairs — metadata-scale forever), the same bounded-axis
    argument as w_holt_linear. Exact integer S and tie terms; floats
    only in the final 1-row z assembly with the shared 1.959964
    literal.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = a.join(b, F.col("db") > F.col("da")).select(
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s_stat = pairs.agg(F.sum("sgn").cast("long").alias("s"))
    n_days = daily.agg(F.count("*").cast("long").alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_corr")
        )
    )
    c = s_stat.crossJoin(F.broadcast(n_days)).crossJoin(F.broadcast(ties))
    n, s = F.col("n"), F.col("s")
    var_s = (n * (n - 1.0) * (2.0 * n + 5) - F.col("tie_corr")) / 18.0
    s_cc = (
        F.when(s > 0, s - 1.0).when(s < 0, s + 1.0).otherwise(0.0)
    )
    z = s_cc / F.sqrt(var_s)
    return c.select(
        s.alias("s_stat"),
        n.alias("n_days"),
        f6(var_s).alias("var_s"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, F.when(s > 0, 1).otherwise(-1))
        .otherwise(0)
        .alias("trend_direction"),
    )


@register(
    "a_friedman_test",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    complete AS (
        SELECT day FROM daily GROUP BY day HAVING count(*) = 5
    ),
    ranked AS (
        SELECT d.day, d.event_type,
               CAST(rank() OVER (PARTITION BY d.day ORDER BY d.x, d.event_type)
                    AS BIGINT) AS r
        FROM daily d JOIN complete c ON c.day = d.day
    ),
    sums AS (
        SELECT event_type, CAST(sum(r) AS BIGINT) AS rsum,
               CAST(count(*) AS BIGINT) AS nb
        FROM ranked GROUP BY event_type
    ),
    c AS (
        SELECT CAST(max(nb) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(rsum * rsum) AS BIGINT) AS ss
        FROM sums
    )
    SELECT n AS n_days, k AS n_treatments,
           round(12.0 * ss / (n * k * (k + 1.0)) - 3.0 * n * (k + 1.0), 6)
               + 0 AS friedman_chi2,
           CASE WHEN 12.0 * ss / (n * k * (k + 1.0)) - 3.0 * n * (k + 1.0)
                     > 9.487729 THEN 1 ELSE 0 END AS differ_flag
    FROM c
    """,
)
def a_friedman_test(spark, sf_dir):
    """Friedman test — the nonparametric repeated-measures ANOVA the
    toolkit lacked: each day is a BLOCK, the five event types are
    TREATMENTS ranked within the day, and χ²_F = 12/(nk(k+1))·ΣR_j² −
    3n(k+1) asks whether any type systematically out-ranks the others
    across days. This is what a_anova_f cannot answer when daily
    volumes share day-level shocks (a traffic spike lifts ALL types —
    ANOVA's independence assumption breaks; within-day ranking
    differences it out, the same reason ML papers rank per-dataset
    before comparing models). 9.487729 = χ²₄ at α=.05, a shared
    literal.

    Only complete blocks rank (days with all 5 types — the standard
    Friedman requirement); ranks are exact integers with a
    deterministic type tiebreak; the statistic assembles from BIGINT
    rank sums in one shared float association. Daily rollup is the
    data-scale pass; ranking runs on the bounded day axis.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    complete = daily.groupBy("day").agg(F.count("*").alias("nt")).where(
        F.col("nt") == 5
    ).select("day")
    w = Window.partitionBy("day").orderBy("x", "event_type")
    ranked = daily.join(complete, "day").select(
        "day", "event_type", F.rank().over(w).cast("long").alias("r")
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum("r").cast("long").alias("rsum"),
        F.count("*").cast("long").alias("nb"),
    )
    c = sums.agg(
        F.max("nb").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("rsum") * F.col("rsum")).cast("long").alias("ss"),
    )
    n, k = F.col("n"), F.col("k")
    chi2 = 12.0 * F.col("ss") / (n * k * (k + 1.0)) - 3.0 * n * (k + 1.0)
    return c.select(
        n.alias("n_days"),
        k.alias("n_treatments"),
        f6(chi2).alias("friedman_chi2"),
        F.when(chi2 > 9.487729, 1).otherwise(0).alias("differ_flag"),
    )


@register(
    "a_propensity_strata",
    """
    WITH first_ev AS (
        SELECT user_id, event_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    ),
    per_user AS (
        SELECT e.user_id,
               CAST(count(*) AS BIGINT) AS activity,
               CAST(max(CASE WHEN f.event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS treated,
               CAST(sum(CASE WHEN e.event_type = 'purchase'
                             THEN CAST(round(e.value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS outcome_cents
        FROM events e JOIN first_ev f ON f.user_id = e.user_id
        GROUP BY e.user_id
    ),
    strat AS (
        SELECT *, CAST(ntile(5) OVER (ORDER BY activity, user_id) AS BIGINT)
                      AS stratum
        FROM per_user
    ),
    cell AS (
        SELECT stratum, treated,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(outcome_cents) AS BIGINT) AS s
        FROM strat GROUP BY 1, 2
    ),
    wide AS (
        SELECT stratum,
               max(CASE WHEN treated = 1 THEN n END) AS nt,
               max(CASE WHEN treated = 0 THEN n END) AS nc,
               max(CASE WHEN treated = 1 THEN s END) AS st,
               max(CASE WHEN treated = 0 THEN s END) AS sc
        FROM cell GROUP BY stratum
        HAVING max(CASE WHEN treated = 1 THEN n END) IS NOT NULL
           AND max(CASE WHEN treated = 0 THEN n END) IS NOT NULL
    )
    SELECT CAST(stratum AS BIGINT) AS stratum, nt, nc,
           round(st * 1.0 / nt / 100, 6) + 0 AS treated_mean_usd,
           round(sc * 1.0 / nc / 100, 6) + 0 AS control_mean_usd,
           round((st * 1.0 / nt - sc * 1.0 / nc) / 100, 6) + 0
               AS stratum_effect_usd
    FROM wide ORDER BY stratum
    """,
)
def a_propensity_strata(spark, sf_dir):
    """Stratified observational comparison — the propensity-bucket
    design for WHEN YOU CANNOT RANDOMIZE: does ENTERING through a
    click (the user's first event — an at-entry exposure, ~1/5 of
    users) associate with higher lifetime purchase value once
    activity level is held fixed? A naive treated-vs-untreated mean
    difference confounds entry channel with engagement; stratifying on the
    confounder (activity quintiles — deterministic ntile with id
    tiebreak) and comparing WITHIN strata is the classic Cochran
    adjustment, and the per-stratum effects are what a meta-analytic
    pool (inverse-variance or Mantel-Haenszel) would combine. Strata
    missing either arm drop (the positivity requirement, made
    visible). The experimentation keys (a_ttest_welch, a_cuped) need
    an assigned experiment; this is the observational fallback.

    One user fold (the data-scale pass), one bounded ntile window over
    |users| rows, a 10-cell census. Exact cents; two divisions per
    stratum at the end.
    """
    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_ev = (
        ev.withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_type"))
    )
    per_user = (
        ev.join(first_ev, "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("activity"),
            F.max(F.when(F.col("first_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("treated"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("outcome_cents"),
        )
    )
    w = Window.orderBy("activity", "user_id")
    strat = per_user.withColumn("stratum", F.ntile(5).over(w).cast("long"))
    cell = strat.groupBy("stratum", "treated").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("outcome_cents").cast("long").alias("s"),
    )
    wide = (
        cell.groupBy("stratum")
        .agg(
            F.max(F.when(F.col("treated") == 1, F.col("n"))).alias("nt"),
            F.max(F.when(F.col("treated") == 0, F.col("n"))).alias("nc"),
            F.max(F.when(F.col("treated") == 1, F.col("s"))).alias("st"),
            F.max(F.when(F.col("treated") == 0, F.col("s"))).alias("sc"),
        )
        .where(F.col("nt").isNotNull() & F.col("nc").isNotNull())
    )
    tm = F.col("st") * 1.0 / F.col("nt")
    cm = F.col("sc") * 1.0 / F.col("nc")
    return wide.select(
        F.col("stratum").cast("long").alias("stratum"),
        "nt",
        "nc",
        f6(tm / 100).alias("treated_mean_usd"),
        f6(cm / 100).alias("control_mean_usd"),
        f6((tm - cm) / 100).alias("stratum_effect_usd"),
    ).orderBy("stratum")


@register(
    "a_log_rank_test",
    f"""
    WITH lifes AS (
        SELECT user_id,
               {_H32_USER} % 2 AS arm,
               CAST(date_diff('day', min(CAST(ts AS DATE)),
                              max(CAST(ts AS DATE))) AS BIGINT) AS t
        FROM events GROUP BY user_id
    ),
    times AS (SELECT DISTINCT t FROM lifes),
    at_risk AS (
        SELECT tm.t,
               CAST(sum(CASE WHEN l.t >= tm.t THEN 1 ELSE 0 END) AS BIGINT)
                   AS n,
               CAST(sum(CASE WHEN l.t >= tm.t AND l.arm = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN l.t = tm.t THEN 1 ELSE 0 END) AS BIGINT)
                   AS d,
               CAST(sum(CASE WHEN l.t = tm.t AND l.arm = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS d1
        FROM times tm CROSS JOIN lifes l
        GROUP BY tm.t
    ),
    terms AS (
        SELECT d1 - d * 1.0 * n1 / n AS o_minus_e,
               CASE WHEN n > 1
                    THEN d * 1.0 * n1 / n * (1.0 - n1 * 1.0 / n)
                         * (n - d) / (n - 1.0)
                    ELSE 0.0 END AS v
        FROM at_risk WHERE n > 0
    )
    SELECT CAST((SELECT count(*) FROM lifes) AS BIGINT) AS n_users,
           CAST((SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                 FROM lifes) AS BIGINT) AS n_arm1,
           round(sum(o_minus_e), 6) + 0 AS observed_minus_expected,
           round(sum(o_minus_e) / sqrt(sum(v)), 6) + 0 AS z,
           CASE WHEN abs(sum(o_minus_e) / sqrt(sum(v))) > 1.959964
                THEN 1 ELSE 0 END AS differ_flag
    FROM terms
    """,
)
def a_log_rank_test(spark, sf_dir):
    """Log-rank test — the survival-curve comparison q_kaplan_meier was
    missing its inferential half for: do two arms (md5 hash split — an
    A/A, so differ_flag=0 is the expected, harness-validating outcome)
    have the same lifetime distribution? Lifetime = days from a user's
    first to last event; at each distinct death time the test
    accumulates observed-minus-expected arm-1 deaths under the
    hypergeometric null (E = d·n₁/n, V = d·(n₁/n)(1−n₁/n)(n−d)/(n−1)),
    and Z = ΣO−E/√ΣV. Censoring-free here (every series ends); with a
    right-censor column the same accumulation skips censored rows —
    the structure is unchanged.

    The at-risk table is the times × lifetimes cross product — both
    BOUNDED (distinct lifetimes ≤ days; one row per user after the
    data-scale first/last fold), the w_holt_linear bounded-axis
    license. Exact integer d/n counts; floats only in the per-time
    terms and the final 1-row assembly with the shared 1.959964
    literal.
    """
    ev = load_table(spark, sf_dir, "events")
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    lifes = ev.groupBy("user_id").agg(
        (h32 % 2).alias("arm"),
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
        .cast("long")
        .alias("t"),
    )
    times = lifes.select("t").distinct().select(F.col("t").alias("tt"))
    ar = (
        times.crossJoin(lifes)
        .groupBy("tt")
        .agg(
            F.sum(F.when(F.col("t") >= F.col("tt"), 1).otherwise(0))
            .cast("long")
            .alias("n"),
            F.sum(
                F.when((F.col("t") >= F.col("tt")) & (F.col("arm") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("t") == F.col("tt"), 1).otherwise(0))
            .cast("long")
            .alias("d"),
            F.sum(
                F.when((F.col("t") == F.col("tt")) & (F.col("arm") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("d1"),
        )
        .where(F.col("n") > 0)
    )
    o_minus_e = F.col("d1") - F.col("d") * 1.0 * F.col("n1") / F.col("n")
    v = F.when(
        F.col("n") > 1,
        F.col("d")
        * 1.0
        * F.col("n1")
        / F.col("n")
        * (1.0 - F.col("n1") * 1.0 / F.col("n"))
        * (F.col("n") - F.col("d"))
        / (F.col("n") - 1.0),
    ).otherwise(0.0)
    terms = ar.select(o_minus_e.alias("ome"), v.alias("v"))
    counts = lifes.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_arm1"),
    )
    z = F.sum("ome") / F.sqrt(F.sum("v"))
    return (
        terms.agg(
            f6(F.sum("ome")).alias("observed_minus_expected"),
            f6(z).alias("z"),
            F.when(F.abs(z) > 1.959964, 1).otherwise(0).alias("differ_flag"),
        )
        .crossJoin(F.broadcast(counts))
        .select(
            "n_users", "n_arm1", "observed_minus_expected", "z", "differ_flag"
        )
    )


_MID_RANKS_SQL = """daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    tt AS (
        SELECT x, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x
    ),
    ranked AS (
        SELECT d.event_type,
               CAST(2 * rank() OVER (ORDER BY d.x) + tt.t - 1 AS BIGINT)
                   AS mr2
        FROM daily d JOIN tt ON tt.x = d.x
    )"""

_RANK_SUMS_SQL = """sums AS (
        SELECT event_type, CAST(sum(mr2) AS BIGINT) AS r2,
               CAST(count(*) AS BIGINT) AS nj
        FROM ranked GROUP BY event_type
    )"""

_TIE_SQL = """tie AS (
        SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tc
        FROM tt WHERE t > 1
    )"""


def _tie_census(tt):
    """Tie correction Σ(t³ − t) over the tie groups of tt's size column t
    (0 when nothing ties): one row, tc."""
    return tt.where(F.col("t") > 1).agg(
        F.coalesce(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
            F.lit(0),
        )
        .cast("long")
        .alias("tc")
    )


def _mid_rank_sums(spark, sf_dir):
    """(sums, tie) over the exact daily cents x per (day, event type),
    pooled across event types (the `_MID_RANKS_SQL` + `_RANK_SUMS_SQL` +
    `_TIE_SQL` twin): doubled midranks mr2 = 2·rank + t − 1 stay
    integral, sums = (event_type, r2 = Σmr2, nj), and tie is the census
    of tied x values."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    tt = daily.groupBy("x").agg(F.count("*").cast("long").alias("t"))
    ranked = daily.join(tt, "x").select(
        "event_type",
        (2 * F.rank().over(Window.orderBy("x")) + F.col("t") - 1)
        .cast("long")
        .alias("mr2"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum("mr2").cast("long").alias("r2"),
        F.count("*").cast("long").alias("nj"),
    )
    return sums, _tie_census(tt)


@register(
    "a_kruskal_wallis",
    f"""
    WITH {_MID_RANKS_SQL},
    {_RANK_SUMS_SQL},
    c AS (
        SELECT CAST(sum(nj) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(round(
                   CAST(r2 AS DOUBLE) * r2 / (4.0 * nj) * 1e6
               ) AS BIGINT)) AS BIGINT) AS sterm
        FROM sums
    ),
    {_TIE_SQL}
    SELECT n AS n_obs, k AS k_groups,
           round(12.0 / (n * (n + 1.0)) * (sterm / 1e6)
                 - 3.0 * (n + 1.0), 6) + 0 AS h_stat,
           round((12.0 / (n * (n + 1.0)) * (sterm / 1e6)
                  - 3.0 * (n + 1.0))
                 / (1.0 - tc / (CAST(n AS DOUBLE) * n * n - n)), 6) + 0
               AS h_corrected,
           CASE WHEN (12.0 / (n * (n + 1.0)) * (sterm / 1e6)
                      - 3.0 * (n + 1.0))
                     / (1.0 - tc / (CAST(n AS DOUBLE) * n * n - n))
                     > 9.487729
                THEN 1 ELSE 0 END AS differ_flag
    FROM c CROSS JOIN tie
    """,
)
def a_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H — the k-group rank test between a_mann_whitney
    (k=2) and a_friedman_test (blocked): do the five event types draw
    their daily volumes from the same distribution, with NO normality
    assumption and NO day-blocking requirement?  H = 12/(N(N+1))·
    ΣR_j²/n_j − 3(N+1) on midranks, with the standard tie correction
    C = 1 − Σ(t³−t)/(N³−N) and the χ²₄ gate (9.487729 — the same
    shared literal as Friedman's).

    Rank discipline: midranks double to stay integral (mr2 = 2·minrank
    + t − 1), so rank sums are exact BIGINTs; the per-group between
    term R_j²/(4n_j) is the only float step and snaps to a 1e-6-unit
    BIGINT BEFORE the cross-group sum, making the assembly
    reduction-order-free.  The data-scale pass is the daily rollup
    (map-side combined); ranking runs on the bounded day×type axis.
    """
    sums, tie = _mid_rank_sums(spark, sf_dir)
    c = sums.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(
            F.round(
                F.col("r2").cast("double")
                * F.col("r2")
                / (4.0 * F.col("nj"))
                * 1e6
            ).cast("long")
        )
        .cast("long")
        .alias("sterm"),
    )
    n, k = F.col("n"), F.col("k")
    h = (12.0 / (n * (n + 1.0))) * (F.col("sterm") / 1e6) - 3.0 * (n + 1.0)
    corr = 1.0 - F.col("tc") / (n.cast("double") * n * n - n)
    hc = h / corr
    return c.crossJoin(F.broadcast(tie)).select(
        n.alias("n_obs"),
        k.alias("k_groups"),
        f6(h).alias("h_stat"),
        f6(hc).alias("h_corrected"),
        F.when(hc > 9.487729, 1).otherwise(0).alias("differ_flag"),
    )


_KD_DAILY_SQL = """daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          / 1e5) AS BIGINT) AS kd
        FROM orders GROUP BY 1
    )"""

_KD_DEV_SQL = f"""{_KD_DAILY_SQL},
    idx AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, kd
        FROM daily
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(kd) AS BIGINT) AS s
        FROM idx
    ),
    dev AS (
        SELECT t, CAST(tot.n * kd - tot.s AS BIGINT) AS dv
        FROM idx CROSS JOIN tot
    )"""


def _kd_index(spark, sf_dir, t="t"):
    """Daily order revenue in whole kilodollars, indexed 1..n in date
    order by a dense row_number named `t`: (t, kd)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 1e5
            )
            .cast("long")
            .alias("kd")
        )
    )
    return daily.select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias(t), "kd"
    )


def _kd_dev(spark, sf_dir):
    """(tot, dev) over `_kd_index` (the `_KD_DEV_SQL` twin): tot = one row
    (n, s = Σkd), dev = (t, dv, n) with the pre-scaled integer deviation
    dv = n·kd − s, so lag products never see a float mean."""
    idx = _kd_index(spark, sf_dir)
    tot = idx.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("kd").cast("long").alias("s"),
    )
    dev = idx.crossJoin(F.broadcast(tot)).select(
        "t",
        (F.col("n") * F.col("kd") - F.col("s")).cast("long").alias("dv"),
        "n",
    )
    return tot, dev


@register(
    "a_ljung_box",
    f"""
    WITH {_KD_DEV_SQL},
    c0 AS (
        SELECT sum(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)) AS den
        FROM dev
    ),
    lags AS (SELECT unnest(range(1, 8)) AS k),
    num AS (
        SELECT l.k,
               sum(CAST(a.dv AS HUGEINT) * CAST(b.dv AS HUGEINT)) AS nk
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON b.t = a.t + l.k
        GROUP BY l.k
    ),
    terms AS (
        SELECT CAST(round(
                   (CAST(nk AS DOUBLE) / CAST(den AS DOUBLE))
                   * (CAST(nk AS DOUBLE) / CAST(den AS DOUBLE))
                   / (tot.n - k) * 1e12
               ) AS BIGINT) AS term
        FROM num CROSS JOIN c0 CROSS JOIN tot
    )
    SELECT tot.n AS n_days,
           round((tot.n * (tot.n + 2.0))
                 * (CAST(sum(term) AS DOUBLE) / 1e12), 6) + 0
               AS ljung_box_q,
           CASE WHEN (tot.n * (tot.n + 2.0))
                     * (CAST(sum(term) AS DOUBLE) / 1e12) > 14.067140
                THEN 1 ELSE 0 END AS autocorrelated_flag
    FROM terms CROSS JOIN tot GROUP BY tot.n
    """,
)
def a_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau Q over lags 1..7 of the daily revenue
    series — the WHITE-NOISE AUDIT a_autocorr_daily (one lag) cannot
    give: Q = n(n+2)·Σ_k ρ̂_k²/(n−k) pools a week of autocorrelation
    into one χ²₇-gated number (14.067140 at α=.05), the standard
    residual diagnostic run AFTER a forecast model (w_holt_linear,
    q_forecast_revenue) to check what structure is left.

    Exactness: daily revenue snaps to kilodollar BIGINTs, deviations
    are pre-scaled integers dv_t = n·kd_t − S (no float mean), and
    every Σ dv_t·dv_{t+k} accumulates as DECIMAL/HUGEINT — exact in
    both engines regardless of reduction order.  ρ̂_k is one float
    division of exact integers; each lag's term snaps to a 1e-12-unit
    BIGINT before the 7-term sum.  Lag pairing runs on the bounded
    day axis via a dense row_number index (calendar gaps close up
    rather than dropping pairs).
    """
    tot, dev = _kd_dev(spark, sf_dir)
    dev = dev.select("t", "dv")
    c0 = dev.agg(
        F.sum(
            F.col("dv").cast("decimal(19,0)")
            * F.col("dv").cast("decimal(19,0)")
        ).alias("den")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("k"))
    a = dev.select(F.col("t").alias("ta"), F.col("dv").alias("da"))
    b = dev.select(F.col("t").alias("tb"), F.col("dv").alias("db"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("ta") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(
                F.col("da").cast("decimal(19,0)")
                * F.col("db").cast("decimal(19,0)")
            ).alias("nk")
        )
    )
    rho = F.col("nk").cast("double") / F.col("den").cast("double")
    terms = (
        num.crossJoin(F.broadcast(c0))
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(rho * rho / (F.col("n") - F.col("k")) * 1e12)
            .cast("long")
            .alias("term")
        )
    )
    q = (F.col("n") * (F.col("n") + 2.0)) * (
        F.sum("term").cast("double") / 1e12
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            f6(q).alias("ljung_box_q"),
            F.when(q > 14.067140, 1).otherwise(0).alias(
                "autocorrelated_flag"
            ),
        )
        .select(
            F.col("n").alias("n_days"), "ljung_box_q", "autocorrelated_flag"
        )
    )


@register(
    "a_levene_test",
    """
    WITH base AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    rn AS (
        SELECT event_type, cents,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY cents, event_id)
                    AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS njw
        FROM base
    ),
    med AS (
        SELECT event_type,
               CAST(sum(cents * CASE WHEN njw % 2 = 1 THEN 2 ELSE 1 END)
                    AS BIGINT) AS med2
        FROM rn
        WHERE r = (njw + 1) // 2 OR r = njw // 2 + 1
        GROUP BY event_type
    ),
    z AS (
        SELECT b.event_type,
               CAST(abs(2 * b.cents - m.med2) AS BIGINT) AS z2
        FROM base b JOIN med m ON m.event_type = b.event_type
    ),
    grp AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS nj,
               CAST(sum(z2) AS BIGINT) AS sj,
               CAST(sum(z2 * z2) AS BIGINT) AS qj
        FROM z GROUP BY event_type
    ),
    c AS (
        SELECT CAST(sum(nj) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(sj) AS BIGINT) AS s,
               CAST(sum(qj) AS BIGINT) AS q,
               CAST(sum(CAST(round(
                   CAST(sj AS DOUBLE) * sj / nj
               ) AS BIGINT)) AS BIGINT) AS sb
        FROM grp
    )
    SELECT n AS n_obs, k AS k_groups,
           round(((sb - CAST(s AS DOUBLE) * s / n) / (k - 1.0))
                 / ((q - CAST(sb AS DOUBLE)) / (n - k)), 6) + 0 AS f_stat,
           CASE WHEN ((sb - CAST(s AS DOUBLE) * s / n) / (k - 1.0))
                     / ((q - CAST(sb AS DOUBLE)) / (n - k)) > 2.371932
                THEN 1 ELSE 0 END AS heteroskedastic_flag
    FROM c
    """,
)
def a_levene_test(spark, sf_dir):
    """Brown-Forsythe Levene test — DO THE FIVE EVENT TYPES HAVE EQUAL
    SPREAD?  The variance-homogeneity gate that decides whether
    a_anova_f / a_ttest_welch assumptions hold: one-way ANOVA F run
    not on the values but on |x − median_group| deviations
    (median-centered = the Brown-Forsythe robust form), gated at
    F(4,∞) = χ²₄/4 = 2.371932 (shared literal).

    Exactness: per-group medians come from rank-based order statistics
    (row_number with an event_id tiebreak — never engine quantile
    interpolation), doubled so odd/even medians stay integral (med2);
    deviations z2 = |2x − med2| are exact BIGINTs, as are all Σz, Σz²;
    the per-group between term S_j²/n_j snaps to a unit BIGINT before
    the cross-group sum, leaving two float divisions in one shared
    association.  The data-scale passes are one window rank and one
    broadcast-joined deviation pass — both map-side-combinable aggs.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wc = Window.partitionBy("event_type")
    rn = base.select(
        "event_type",
        "cents",
        F.row_number().over(w).cast("long").alias("r"),
        F.count("*").over(wc).cast("long").alias("njw"),
    )
    lo = F.floor((F.col("njw") + 1) / 2)
    hi = F.floor(F.col("njw") / 2) + 1
    med = (
        rn.where((F.col("r") == lo) | (F.col("r") == hi))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("cents")
                * F.when(F.col("njw") % 2 == 1, 2).otherwise(1)
            )
            .cast("long")
            .alias("med2")
        )
    )
    z = base.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(2 * F.col("cents") - F.col("med2")).cast("long").alias("z2"),
    )
    grp = z.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nj"),
        F.sum("z2").cast("long").alias("sj"),
        F.sum(F.col("z2") * F.col("z2")).cast("long").alias("qj"),
    )
    c = grp.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("sj").cast("long").alias("s"),
        F.sum("qj").cast("long").alias("q"),
        F.sum(
            F.round(
                F.col("sj").cast("double") * F.col("sj") / F.col("nj")
            ).cast("long")
        )
        .cast("long")
        .alias("sb"),
    )
    n, k = F.col("n"), F.col("k")
    # try_divide on BOTH structural denominators: a single-group corpus
    # zeroes k-1, an all-singleton one zeroes n-k — NULL like DuckDB's
    # /0 instead of an ANSI crash (round-16 back-sweep residual)
    between = F.try_divide(
        F.col("sb") - F.col("s").cast("double") * F.col("s") / n, k - 1.0
    )
    within = F.try_divide(F.col("q") - F.col("sb").cast("double"), (n - k).cast("double"))
    # try_divide: a zero-spread corpus (all deviations 0) zeroes the
    # within term — NULL statistic like DuckDB's /0, no ANSI crash
    # (round-16 back-sweep; the a_bartlett_test ln(0) sibling hazard)
    fstat = F.try_divide(between, within)
    return c.select(
        n.alias("n_obs"),
        k.alias("k_groups"),
        f6(fstat).alias("f_stat"),
        F.when(fstat > 2.371932, 1)
        .otherwise(0)
        .alias("heteroskedastic_flag"),
    )


_PC_DAILY_SQL = """daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'click'
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    )"""


def _purchase_click_days(spark, sf_dir):
    """Exact purchase cents x and click cents y per day, paired on the
    same day (the `_PC_DAILY_SQL` twin): (day, x, y)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
        .cast("long")
        .alias("y"),
    )


@register(
    "a_wilcoxon_signed_rank",
    f"""
    WITH {_PC_DAILY_SQL},
    diffs AS (
        SELECT day, CAST(x - y AS BIGINT) AS d,
               CAST(abs(x - y) AS BIGINT) AS ad
        FROM daily WHERE x <> y
    ),
    tt AS (SELECT ad, CAST(count(*) AS BIGINT) AS t FROM diffs GROUP BY ad),
    ranked AS (
        SELECT d.d,
               CAST(2 * rank() OVER (ORDER BY d.ad) + tt.t - 1 AS BIGINT)
                   AS mr2
        FROM diffs d JOIN tt ON tt.ad = d.ad
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN d > 0 THEN mr2 ELSE 0 END) AS BIGINT)
                   AS w2
        FROM ranked
    ),
    {_TIE_SQL}
    SELECT n AS n_pairs, CAST(w2 / 2.0 AS DOUBLE) + 0 AS w_plus,
           round((w2 - n * (n + 1.0) / 2.0)
                 / sqrt(4.0 * (n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                               - tc / 48.0)), 6) + 0 AS z,
           CASE WHEN abs((w2 - n * (n + 1.0) / 2.0)
                         / sqrt(4.0 * (n * (n + 1.0) * (2.0 * n + 1.0)
                                       / 24.0 - tc / 48.0)))
                     > 1.959964
                THEN 1 ELSE 0 END AS differ_flag
    FROM c CROSS JOIN tie
    """,
)
def a_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank — the PAIRED two-sample test the battery
    lacked: a_mann_whitney compares independent groups, but purchase
    and click volume on the SAME day share day-level shocks; signing
    and ranking the within-day differences cancels them.  W⁺ = rank
    sum of positive differences; z = (W⁺ − n(n+1)/4)/σ with the tie
    correction σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48 and the shared
    1.959964 gate.  Zero differences drop (standard Wilcoxon
    practice).

    Rank discipline mirrors a_kruskal_wallis: midranks double to stay
    integral, so W2 = 2W⁺ and all tie terms are exact BIGINTs; the z
    assembly is one shared float association of exact integers
    (expressed in doubled units: numerator W2 − n(n+1)/2, variance
    ×4).  Daily pairing is the data-scale pass; ranking runs on the
    bounded day axis.
    """
    daily = _purchase_click_days(spark, sf_dir)
    diffs = daily.where(F.col("x") != F.col("y")).select(
        (F.col("x") - F.col("y")).cast("long").alias("d"),
        F.abs(F.col("x") - F.col("y")).cast("long").alias("ad"),
    )
    tt = diffs.groupBy("ad").agg(F.count("*").cast("long").alias("t"))
    ranked = diffs.join(tt, "ad").select(
        "d",
        (2 * F.rank().over(Window.orderBy("ad")) + F.col("t") - 1)
        .cast("long")
        .alias("mr2"),
    )
    c = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("mr2")).otherwise(0))
        .cast("long")
        .alias("w2"),
    )
    tie = _tie_census(tt)
    n, w2, tc = F.col("n"), F.col("w2"), F.col("tc")
    z = (w2 - n * (n + 1.0) / 2.0) / F.sqrt(
        4.0
        * (n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - tc / 48.0)
    )
    return c.crossJoin(F.broadcast(tie)).select(
        n.alias("n_pairs"),
        (w2 / F.lit(2.0)).cast("double").alias("w_plus"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).alias("differ_flag"),
    )


_IRLS_CELLS_SQL = """
    mx AS (
        SELECT CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS maxc
        FROM orders
    ),
    cells AS (
        SELECT CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT) * 10
                          / (mx.maxc + 1)) AS BIGINT) AS x1,
               CAST(year(o_orderdate) - 1992 AS BIGINT) AS x2,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS sy
        FROM orders CROSS JOIN mx GROUP BY 1, 2
    )
"""

_IRLS_ITER_SQL = """
    p{cur} AS (
        SELECT c.n, c.sy, c.x1, c.x2,
               CAST(greatest(least(round(
                   1e9 / (1.0 + exp(-(b.b0 + b.b1 * c.x1 + b.b2 * c.x2)))
               ), 999999999), 1) AS BIGINT) AS p9
        FROM cells c CROSS JOIN it{cur} b
    ),
    m{cur} AS (
        SELECT
            CAST(sum(CAST(n AS HUGEINT) * p9 * (1000000000 - p9))
                 AS DOUBLE) AS a00,
            CAST(sum(CAST(n AS HUGEINT) * p9 * (1000000000 - p9) * x1)
                 AS DOUBLE) AS a01,
            CAST(sum(CAST(n AS HUGEINT) * p9 * (1000000000 - p9) * x2)
                 AS DOUBLE) AS a02,
            CAST(sum(CAST(n AS HUGEINT) * p9 * (1000000000 - p9) * x1 * x1)
                 AS DOUBLE) AS a11,
            CAST(sum(CAST(n AS HUGEINT) * p9 * (1000000000 - p9) * x1 * x2)
                 AS DOUBLE) AS a12,
            CAST(sum(CAST(n AS HUGEINT) * p9 * (1000000000 - p9) * x2 * x2)
                 AS DOUBLE) AS a22,
            CAST(sum(sy * 1000000000 - n * p9) AS DOUBLE) AS g0,
            CAST(sum((sy * 1000000000 - n * p9) * x1) AS DOUBLE) AS g1,
            CAST(sum((sy * 1000000000 - n * p9) * x2) AS DOUBLE) AS g2
        FROM p{cur}
    ),
    d{cur} AS (
        SELECT *,
               a00 * (a11 * a22 - a12 * a12)
                 - a01 * (a01 * a22 - a12 * a02)
                 + a02 * (a01 * a12 - a11 * a02) AS det
        FROM m{cur}
    ),
    it{next} AS (
        SELECT round(b.b0 + 1e9 * ((g0 * (a11 * a22 - a12 * a12)
                                    - g1 * (a01 * a22 - a02 * a12)
                                    + g2 * (a01 * a12 - a02 * a11))
                                   / det), 9) AS b0,
               round(b.b1 + 1e9 * ((0.0 - g0 * (a01 * a22 - a12 * a02)
                                    + g1 * (a00 * a22 - a02 * a02)
                                    - g2 * (a00 * a12 - a02 * a01))
                                   / det), 9) AS b1,
               round(b.b2 + 1e9 * ((g0 * (a01 * a12 - a11 * a02)
                                    - g1 * (a00 * a12 - a01 * a02)
                                    + g2 * (a00 * a11 - a01 * a01))
                                   / det), 9) AS b2
        FROM d{cur} CROSS JOIN it{cur} b
    )
"""


def _irls_moments(p, w, g):
    """One IRLS pass over p's (x1, x2) cells, grouped by the current
    (b0, b1, b2): the weighted normal matrix a00..a22 = Σw·xᵢxⱼ (w a
    DECIMAL column, so the sums are exact) and the gradient g0..g2 =
    Σg·xᵢ, each cast to double."""
    dec = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    return p.groupBy("b0", "b1", "b2").agg(
        F.sum(w).cast("double").alias("a00"),
        F.sum(w * dec(F.col("x1"))).cast("double").alias("a01"),
        F.sum(w * dec(F.col("x2"))).cast("double").alias("a02"),
        F.sum(w * dec(F.col("x1")) * dec(F.col("x1")))
        .cast("double")
        .alias("a11"),
        F.sum(w * dec(F.col("x1")) * dec(F.col("x2")))
        .cast("double")
        .alias("a12"),
        F.sum(w * dec(F.col("x2")) * dec(F.col("x2")))
        .cast("double")
        .alias("a22"),
        F.sum(g).cast("double").alias("g0"),
        F.sum(g * F.col("x1")).cast("double").alias("g1"),
        F.sum(g * F.col("x2")).cast("double").alias("g2"),
    )


def _cramer3():
    """The Newton step of `_irls_moments`' 3x3 system by Cramer's rule:
    the increments (d0, d1, d2) = A⁻¹g, as columns over a00..a22 and
    g0..g2."""
    a00, a01, a02 = F.col("a00"), F.col("a01"), F.col("a02")
    a11, a12, a22 = F.col("a11"), F.col("a12"), F.col("a22")
    g0, g1, g2 = F.col("g0"), F.col("g1"), F.col("g2")
    det = (
        a00 * (a11 * a22 - a12 * a12)
        - a01 * (a01 * a22 - a12 * a02)
        + a02 * (a01 * a12 - a11 * a02)
    )
    return (
        (
            g0 * (a11 * a22 - a12 * a12)
            - g1 * (a01 * a22 - a02 * a12)
            + g2 * (a01 * a12 - a02 * a11)
        )
        / det,
        (
            F.lit(0.0)
            - g0 * (a01 * a22 - a12 * a02)
            + g1 * (a00 * a22 - a02 * a02)
            - g2 * (a00 * a12 - a02 * a01)
        )
        / det,
        (
            g0 * (a01 * a12 - a11 * a02)
            - g1 * (a00 * a12 - a01 * a02)
            + g2 * (a00 * a11 - a01 * a01)
        )
        / det,
    )


@register(
    "a_logistic_irls",
    f"""
    WITH {_IRLS_CELLS_SQL},
    it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    {_IRLS_ITER_SQL.format(cur=0, next=1)},
    {_IRLS_ITER_SQL.format(cur=1, next=2)},
    {_IRLS_ITER_SQL.format(cur=2, next=3)},
    {_IRLS_ITER_SQL.format(cur=3, next=4)},
    pf AS (
        SELECT c.n, c.sy,
               CAST(greatest(least(round(
                   1e9 / (1.0 + exp(-(b.b0 + b.b1 * c.x1 + b.b2 * c.x2)))
               ), 999999999), 1) AS BIGINT) AS p9
        FROM cells c CROSS JOIN it4 b
    ),
    ll AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_obs,
               CAST(sum(CAST(round(
                   (sy * ln(p9 / 1e9)
                    + (n - sy) * ln(1.0 - p9 / 1e9)) * 1e6
               ) AS BIGINT)) AS BIGINT) AS llsum6
        FROM pf
    )
    SELECT n_obs,
           round(b0, 6) + 0 AS b_intercept,
           round(b1, 6) + 0 AS b_price_bucket,
           round(b2, 6) + 0 AS b_year_idx,
           round(0.0 - (llsum6 / 1e6) / n_obs, 6) + 0 AS avg_log_loss
    FROM ll CROSS JOIN it4
    """,
)
def a_logistic_irls(spark, sf_dir):
    """Logistic regression fit by IRLS — the distributed GLM TRAINING
    LOOP (P(urgent-or-high priority) ~ relative price decile + order year),
    the capability step past a_ols_two_factor's closed-form normal
    equations: four Newton/IRLS iterations, each one distributed pass
    of weighted moments Σ n·w·xxᵀ / gradient Σ (y−np)·x followed by a
    3×3 Cramer solve — the exact shape MLlib's LogisticRegression
    aggregates per iteration, here made engine-exact.

    Scale-and-exactness split (the q_attribution_markov license,
    in-plan): rows collapse to GROUPED-DATA cells (≤70: price bucket ×
    year — grouped logistic likelihood is identical), so the only
    data-scale work is one map-side-combinable groupBy; every
    iteration then runs on the bounded cell axis.  The price feature
    is a RELATIVE decile — exact integer arithmetic cents·10 //
    (max+1) against the corpus max — so the design matrix stays
    full-rank at any price scale (an absolute-dollar bucketing is one
    degenerate corpus away from a singular XᵀWX).  σ(η) is the lone
    transcendental, evaluated per CELL and snapped to a 1e-9 BIGINT
    (libm's 1-ulp noise sits ~7 digits below the snap); moments
    accumulate as DECIMAL/HUGEINT exact integers; β re-snaps to 9dp
    each iteration, so the fixpoint is bit-identical across engines.
    Cell count, not row count, bounds the iteration cost — at 100 TB
    the groupBy shuffles ≤70 cells per executor.
    """
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(
        F.max(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("maxc")
    )
    cells = (
        orders.crossJoin(F.broadcast(mx))
        .select(
            F.floor(
                F.round(F.col("o_totalprice") * 100).cast("long")
                * 10
                / (F.col("maxc") + 1)
            )
            .cast("long")
            .alias("x1"),
            (F.year("o_orderdate") - 1992).cast("long").alias("x2"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("y"),
        )
        .groupBy("x1", "x2")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
        )
    )
    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"), F.lit(0.0).alias("b2")
    )

    dec = lambda col: col.cast("decimal(19,0)")  # noqa: E731

    def _p9(b0, b1, b2):
        eta = b0 + b1 * F.col("x1") + b2 * F.col("x2")
        return (
            F.greatest(
                F.least(
                    F.round(F.lit(1e9) / (1.0 + F.exp(-eta))),
                    F.lit(999999999.0),
                ),
                F.lit(1.0),
            )
        ).cast("long")

    d0, d1, d2 = _cramer3()
    for _ in range(4):
        p = cells.crossJoin(F.broadcast(beta)).select(
            "n",
            "sy",
            "x1",
            "x2",
            _p9(F.col("b0"), F.col("b1"), F.col("b2")).alias("p9"),
            "b0",
            "b1",
            "b2",
        )
        w = dec(F.col("n")) * dec(F.col("p9")) * dec(
            F.lit(1000000000) - F.col("p9")
        )
        g = F.col("sy") * F.lit(1000000000).cast("long") - F.col("n") * F.col(
            "p9"
        )
        beta = _irls_moments(p, w, g).select(
            F.round(F.col("b0") + 1e9 * d0, 9).alias("b0"),
            F.round(F.col("b1") + 1e9 * d1, 9).alias("b1"),
            F.round(F.col("b2") + 1e9 * d2, 9).alias("b2"),
        )
    pf = cells.crossJoin(F.broadcast(beta)).select(
        "n",
        "sy",
        _p9(F.col("b0"), F.col("b1"), F.col("b2")).alias("p9"),
        "b0",
        "b1",
        "b2",
    )
    llterm = F.round(
        (
            F.col("sy") * F.log(F.col("p9") / 1e9)
            + (F.col("n") - F.col("sy")) * F.log(1.0 - F.col("p9") / 1e9)
        )
        * 1e6
    ).cast("long")
    ll = pf.groupBy("b0", "b1", "b2").agg(
        F.sum("n").cast("long").alias("n_obs"),
        F.sum(llterm).cast("long").alias("llsum6"),
    )
    return ll.select(
        "n_obs",
        f6(F.col("b0")).alias("b_intercept"),
        f6(F.col("b1")).alias("b_price_bucket"),
        f6(F.col("b2")).alias("b_year_idx"),
        f6(
            F.lit(0.0) - (F.col("llsum6") / 1e6) / F.col("n_obs")
        ).alias("avg_log_loss"),
    )


@register(
    "a_poisson_rate_test",
    """
    WITH tagged AS (
        SELECT CAST(ts AS DATE) AS day,
               CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS wkend
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT CAST(sum(wkend) AS BIGINT) AS k1,
               CAST(sum(1 - wkend) AS BIGINT) AS k2
        FROM tagged
    ),
    expo AS (
        SELECT CAST(sum(CASE WHEN dayofweek(d) IN (0, 6) THEN 1 ELSE 0 END)
                    AS BIGINT) AS t1,
               CAST(sum(CASE WHEN dayofweek(d) IN (0, 6) THEN 0 ELSE 1 END)
                    AS BIGINT) AS t2
        FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    )
    SELECT k1 AS weekend_events, t1 AS weekend_days,
           k2 AS weekday_events, t2 AS weekday_days,
           round(CAST(k1 AS DOUBLE) / t1, 6) + 0 AS weekend_rate,
           round(CAST(k2 AS DOUBLE) / t2, 6) + 0 AS weekday_rate,
           round((k1 - (k1 + k2) * (CAST(t1 AS DOUBLE) / (t1 + t2)))
                 / sqrt((k1 + k2) * (CAST(t1 AS DOUBLE) / (t1 + t2))
                        * (CAST(t2 AS DOUBLE) / (t1 + t2))), 6) + 0 AS z,
           CASE WHEN abs((k1 - (k1 + k2)
                              * (CAST(t1 AS DOUBLE) / (t1 + t2)))
                         / sqrt((k1 + k2)
                                * (CAST(t1 AS DOUBLE) / (t1 + t2))
                                * (CAST(t2 AS DOUBLE) / (t1 + t2))))
                     > 1.959964
                THEN 1 ELSE 0 END AS differ_flag
    FROM c CROSS JOIN expo
    """,
)
def a_poisson_rate_test(spark, sf_dir):
    """Poisson rate comparison with EXPOSURE — do purchases arrive at a
    different per-day rate on weekends than weekdays?  a_proportion_ztest
    compares fractions of a fixed denominator; this key compares COUNT
    PER UNIT TIME with unequal exposures (t1 weekend days vs t2 weekday
    days), the epidemiology/SRE incident-rate shape.  The test is the
    exact-conditional trick: given k = k1+k2 total arrivals, k1 ~
    Binomial(k, t1/T) under H₀ (equal rates), so z needs NO rate
    estimate in the variance — only integer counts and exposures in one
    shared float association.  Gate at the shared 1.959964 literal.

    Spark's dayofweek() is 1=Sunday..7=Saturday while DuckDB's is
    0=Sunday..6=Saturday — the SQL uses (0,6) and the Spark side (1,7),
    the documented divergence pairing from SURVEY §2.7.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type") == "purchase").select(
        F.when(F.dayofweek(F.to_date("ts")).isin(1, 7), 1)
        .otherwise(0)
        .alias("wkend")
    )
    c = tagged.agg(
        F.sum("wkend").cast("long").alias("k1"),
        F.sum(1 - F.col("wkend")).cast("long").alias("k2"),
    )
    days = ev.select(F.to_date("ts").alias("d")).distinct()
    expo = days.agg(
        F.sum(
            F.when(F.dayofweek("d").isin(1, 7), 1).otherwise(0)
        )
        .cast("long")
        .alias("t1"),
        F.sum(
            F.when(F.dayofweek("d").isin(1, 7), 0).otherwise(1)
        )
        .cast("long")
        .alias("t2"),
    )
    k1, k2 = F.col("k1"), F.col("k2")
    t1, t2 = F.col("t1"), F.col("t2")
    share1 = t1.cast("double") / (t1 + t2)
    share2 = t2.cast("double") / (t1 + t2)
    z = (k1 - (k1 + k2) * share1) / F.sqrt(
        (k1 + k2) * share1 * share2
    )
    return c.crossJoin(F.broadcast(expo)).select(
        k1.alias("weekend_events"),
        t1.alias("weekend_days"),
        k2.alias("weekday_events"),
        t2.alias("weekday_days"),
        f6(k1.cast("double") / t1).alias("weekend_rate"),
        f6(k2.cast("double") / t2).alias("weekday_rate"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).alias("differ_flag"),
    )


_DUNN_THR_SQL = """CASE r WHEN 1 THEN 2.807034 WHEN 2 THEN 2.575829
                   WHEN 3 THEN 2.432379 WHEN 4 THEN 2.326348
                   WHEN 5 THEN 2.241403 WHEN 6 THEN 2.170090
                   WHEN 7 THEN 2.108358 WHEN 8 THEN 2.053749
                   WHEN 9 THEN 2.004654 ELSE 1.959964 END"""


def _dunn_pairs(sums, tie, *cols):
    """Dunn's pairwise z on `_mid_rank_sums`' pooled midranks (never
    re-ranked per pair), one row per event-type pair ta < tb, numbered
    r = 1.. by |z| descending: (ta, tb, *cols, z, r). cols may read each
    side's rank sum and size as r2a/na and r2b/nb."""
    c = sums.agg(F.sum("nj").cast("long").alias("n"))
    a = sums.select(
        F.col("event_type").alias("ta"),
        F.col("r2").alias("r2a"),
        F.col("nj").alias("na"),
    )
    b = sums.select(
        F.col("event_type").alias("tb"),
        F.col("r2").alias("r2b"),
        F.col("nj").alias("nb"),
    )
    n, tc = F.col("n"), F.col("tc")
    zexpr = (
        (
            F.col("r2a").cast("double") / F.col("na")
            - F.col("r2b").cast("double") / F.col("nb")
        )
        / 2.0
    ) / F.sqrt(
        (n * (n + 1.0) / 12.0 - tc / (12.0 * (n - 1.0)))
        * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    zs = (
        a.join(b, F.col("ta") < F.col("tb"))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(tie))
        .select("ta", "tb", *cols, zexpr.alias("z"))
    )
    return zs.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.abs(F.col("z")).desc(), "ta", "tb"))
        .cast("long")
        .alias("r"),
    )


@register(
    "a_dunn_test",
    f"""
    WITH {_MID_RANKS_SQL},
    {_RANK_SUMS_SQL},
    c AS (SELECT CAST(sum(nj) AS BIGINT) AS n FROM sums),
    {_TIE_SQL},
    zs AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(a.r2 AS DOUBLE) / (2.0 * a.nj) AS mra,
               CAST(b.r2 AS DOUBLE) / (2.0 * b.nj) AS mrb,
               ((CAST(a.r2 AS DOUBLE) / a.nj
                 - CAST(b.r2 AS DOUBLE) / b.nj) / 2.0)
               / sqrt((n * (n + 1.0) / 12.0 - tc / (12.0 * (n - 1.0)))
                      * (1.0 / a.nj + 1.0 / b.nj)) AS z
        FROM sums a JOIN sums b ON a.event_type < b.event_type
        CROSS JOIN c CROSS JOIN tie
    ),
    rk AS (
        SELECT *, CAST(row_number() OVER (ORDER BY abs(z) DESC, ta, tb)
                       AS BIGINT) AS r
        FROM zs
    ),
    thr AS (SELECT *, {_DUNN_THR_SQL} AS zthr FROM rk),
    cut AS (
        SELECT CAST(max(CASE WHEN abs(z) >= zthr THEN r ELSE 0 END)
                    AS BIGINT) AS rstar
        FROM thr
    )
    SELECT ta AS type_a, tb AS type_b,
           round(mra, 6) + 0 AS mean_rank_a,
           round(mrb, 6) + 0 AS mean_rank_b,
           round(z, 6) + 0 AS z, r AS bh_rank,
           CASE WHEN r <= rstar THEN 1 ELSE 0 END AS significant
    FROM thr CROSS JOIN cut ORDER BY type_a, type_b
    """,
)
def a_dunn_test(spark, sf_dir):
    """Dunn's post-hoc test — WHICH groups differ once a_kruskal_wallis
    says "some do": pairwise z on the SAME pooled midranks (never
    re-ranked per pair — that's Dunn's point vs 10 Mann-Whitneys),
    tie-corrected pooled variance, and Benjamini-Hochberg STEP-UP
    control over the 10 pairs.  The BH step-up runs entirely on
    z-scale: because p is monotone in |z|, "p_(r) ≤ r·α/m" is
    "|z|_(r) ≥ Φ⁻¹(1 − r·α/2m)" — ten precomputed literals shared by
    both engines (no erf needed), r* = the largest passing rank, and
    every pair ranked at or under r* flags significant.

    Midranks double to stay integral (the a_kruskal_wallis
    discipline); the 10-pair frame is a bounded self-join of the
    5-row rank-sum table; the only data-scale pass is the daily
    rollup.
    """
    sums, tie = _mid_rank_sums(spark, sf_dir)
    rk = _dunn_pairs(
        sums,
        tie,
        (F.col("r2a").cast("double") / (2.0 * F.col("na"))).alias("mra"),
        (F.col("r2b").cast("double") / (2.0 * F.col("nb"))).alias("mrb"),
    )
    thr = rk.select("*", F.expr(_DUNN_THR_SQL).alias("zthr"))
    cut = thr.agg(
        F.max(
            F.when(F.abs(F.col("z")) >= F.col("zthr"), F.col("r")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("rstar")
    )
    return (
        thr.crossJoin(F.broadcast(cut))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            f6(F.col("mra")).alias("mean_rank_a"),
            f6(F.col("mrb")).alias("mean_rank_b"),
            f6(F.col("z")).alias("z"),
            F.col("r").alias("bh_rank"),
            F.when(F.col("r") <= F.col("rstar"), 1)
            .otherwise(0)
            .alias("significant"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "a_negative_binomial_fit",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    pk AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS k
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    counts AS (
        SELECT u.user_id, CAST(coalesce(pk.k, 0) AS BIGINT) AS k
        FROM users u LEFT JOIN pk ON pk.user_id = u.user_id
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS s,
               CAST(sum(k * k) AS BIGINT) AS q
        FROM counts
    )
    SELECT n AS n_users,
           round(CAST(s AS DOUBLE) / n, 6) + 0 AS mean_purchases,
           round((q - CAST(s AS DOUBLE) * s / n) / (n - 1.0), 6) + 0
               AS var_purchases,
           round(((q - CAST(s AS DOUBLE) * s / n) / (n - 1.0))
                 / (CAST(s AS DOUBLE) / n), 6) + 0 AS dispersion_index,
           round((CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
                 / (((q - CAST(s AS DOUBLE) * s / n) / (n - 1.0))
                    - CAST(s AS DOUBLE) / n), 6) + 0 AS nb_r,
           round((CAST(s AS DOUBLE) / n)
                 / ((q - CAST(s AS DOUBLE) * s / n) / (n - 1.0)), 6) + 0
               AS nb_p,
           round(((n - 1.0) * (((q - CAST(s AS DOUBLE) * s / n)
                                / (n - 1.0))
                               / (CAST(s AS DOUBLE) / n)) - (n - 1.0))
                 / sqrt(2.0 * (n - 1.0)), 6) + 0 AS z,
           CASE WHEN ((n - 1.0) * (((q - CAST(s AS DOUBLE) * s / n)
                                    / (n - 1.0))
                                   / (CAST(s AS DOUBLE) / n)) - (n - 1.0))
                     / sqrt(2.0 * (n - 1.0)) > 1.644854
                THEN 1 ELSE 0 END AS overdispersed_flag
    FROM c
    """,
)
def a_negative_binomial_fit(spark, sf_dir):
    """Negative-binomial overdispersion fit of per-user purchase counts
    — IS A POISSON MODEL EVEN VALID for per-entity arrival counts?
    Real user activity is almost never equidispersed (a few power
    users inflate the variance), and models built on Poisson
    assumptions (a_poisson_rate_test's conditional trick is immune;
    rate FORECASTS are not) silently understate tail risk.  Reports
    the method-of-moments NB parameters r̂ = m²/(v−m), p̂ = m/v, the
    dispersion index v/m, and the one-sided dispersion-test z =
    ((n−1)D − (n−1))/√(2(n−1)) gated at 1.644854 (Φ⁻¹(0.95), shared
    literal — one-sided because only OVER-dispersion breaks Poisson
    upward).

    Zero-count users join back in (LEFT JOIN from the distinct-user
    census — dropping zeros biases m and v up); n, Σk, Σk² are exact
    BIGINTs; every reported number is one float association of those
    three integers.  Two map-side-combinable aggs + one join, all
    keyed on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    pk = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("k"))
    )
    counts = users.join(pk, "user_id", "left").select(
        F.coalesce(F.col("k"), F.lit(0)).cast("long").alias("k")
    )
    c = counts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").cast("long").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("q"),
    )
    n = F.col("n")
    m = F.col("s").cast("double") / n
    v = (F.col("q") - F.col("s").cast("double") * F.col("s") / n) / (
        n - 1.0
    )
    disp = v / m
    z = ((n - 1.0) * disp - (n - 1.0)) / F.sqrt(2.0 * (n - 1.0))
    return c.select(
        n.alias("n_users"),
        f6(m).alias("mean_purchases"),
        f6(v).alias("var_purchases"),
        f6(disp).alias("dispersion_index"),
        f6(m * m / (v - m)).alias("nb_r"),
        f6(m / v).alias("nb_p"),
        f6(z).alias("z"),
        F.when(z > 1.644854, 1).otherwise(0).alias("overdispersed_flag"),
    )


@register(
    "a_cochran_armitage",
    """
    WITH yr AS (
        SELECT CAST(year(o_orderdate) - 1992 AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM orders GROUP BY 1
    ),
    c AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(k) AS BIGINT) AS kk,
               CAST(sum(s * k) AS BIGINT) AS sk,
               CAST(sum(s * n) AS BIGINT) AS sn,
               CAST(sum(s * s * n) AS BIGINT) AS ssn,
               CAST(count(*) AS BIGINT) AS n_years
        FROM yr
    )
    SELECT n_years, nn AS n_orders, kk AS n_high,
           round((sk - CAST(sn AS DOUBLE) * kk / nn)
                 / sqrt((CAST(kk AS DOUBLE) / nn)
                        * (1.0 - CAST(kk AS DOUBLE) / nn)
                        * (ssn - CAST(sn AS DOUBLE) * sn / nn)), 6) + 0
               AS z,
           CASE WHEN abs((sk - CAST(sn AS DOUBLE) * kk / nn)
                         / sqrt((CAST(kk AS DOUBLE) / nn)
                                * (1.0 - CAST(kk AS DOUBLE) / nn)
                                * (ssn - CAST(sn AS DOUBLE) * sn / nn)))
                     > 1.959964
                THEN 1 ELSE 0 END AS trend_flag
    FROM c
    """,
)
def a_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test — is the urgent/high-priority SHARE
    drifting monotonically across order years?  The ordered-categories
    complement to a_chi2_uniform (which only asks "any difference"):
    year indices are scores s, and T = Σ s(k − n·K/N) with
    Var = p(1−p)[Σns² − (Σns)²/N] gives the one-degree-of-freedom
    trend z — the dose-response test (and the hypothesis-test view of
    the year coefficient a_logistic_irls estimates).

    One map-side-combinable groupBy produces the bounded year table;
    every reported number is a single float association of six exact
    BIGINTs (counts and score moments — s ≤ 6 keeps s²n far inside
    int64 at any SF).  Gate at the shared 1.959964 literal.
    """
    orders = load_table(spark, sf_dir, "orders")
    yr = orders.groupBy(
        (F.year("o_orderdate") - 1992).cast("long").alias("s")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("k"),
    )
    c = yr.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("k").cast("long").alias("kk"),
        F.sum(F.col("s") * F.col("k")).cast("long").alias("sk"),
        F.sum(F.col("s") * F.col("n")).cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n"))
        .cast("long")
        .alias("ssn"),
        F.count("*").cast("long").alias("n_years"),
    )
    nn, kk = F.col("nn"), F.col("kk")
    p = kk.cast("double") / nn
    z = (F.col("sk") - F.col("sn").cast("double") * kk / nn) / F.sqrt(
        p
        * (1.0 - p)
        * (F.col("ssn") - F.col("sn").cast("double") * F.col("sn") / nn)
    )
    return c.select(
        "n_years",
        nn.alias("n_orders"),
        kk.alias("n_high"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).alias("trend_flag"),
    )


@register(
    "a_bitmap_overlap",
    """
    WITH m AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM m GROUP BY event_type
    ),
    ov AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS overlap
        FROM m a JOIN m b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT o.type_a, o.type_b,
           sa.n AS n_a, sb.n AS n_b, o.overlap,
           round(CAST(o.overlap AS DOUBLE)
                 / (sa.n + sb.n - o.overlap), 6) + 0 AS jaccard
    FROM ov o
    JOIN sizes sa ON sa.event_type = o.type_a
    JOIN sizes sb ON sb.event_type = o.type_b
    ORDER BY o.type_a, o.type_b
    """,
)
def a_bitmap_overlap(spark, sf_dir):
    """Audience-overlap matrix by BITMAP set algebra — the roaring-
    bitmap pattern behind every adtech/segment platform: each event
    type's user set becomes 64-bit words keyed by user_id//64 (one
    bit_or aggregate), pairwise overlap is Σ bit_count(wa & wb) over a
    bucket-keyed equi-join, and Jaccard falls out of exact integers.
    The ORACLE deliberately runs the naive distinct-pair intersection
    instead — the hash match PROVES the bitmap plan computes exactly
    set intersection, rather than re-asserting the same algorithm
    twice (the a_bitmap_distinct precedent, extended to set algebra).

    Scale: the shuffle carries (type, bucket, word) — 64 users per
    row, an 8-byte payload — instead of raw user ids; the pair join
    keys on bucket so only co-populated buckets meet; bit_or/bit_count
    and & are all JVM intrinsics inside whole-stage codegen.  This is
    how audience overlap stays sub-linear in SHUFFLED BYTES when user
    counts reach billions (64x densification, more with run-length
    compressed bitmaps).
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.select("event_type", "user_id").distinct()
    words = m.select(
        "event_type",
        F.floor(F.col("user_id") / 64).cast("long").alias("bucket"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))"
        ).alias("bit"),
    ).groupBy("event_type", "bucket").agg(
        F.expr("bit_or(bit)").alias("w")
    )
    sizes = words.groupBy("event_type").agg(
        F.sum(F.bit_count("w")).cast("long").alias("n")
    )
    a = words.select(
        F.col("event_type").alias("type_a"),
        "bucket",
        F.col("w").alias("wa"),
    )
    b = words.select(
        F.col("event_type").alias("type_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("w").alias("wb"),
    )
    # bucket_b alias: both sides descend from `words`, and a same-name
    # bucket == bucket predicate trips Spark's trivially-true-equals
    # lineage warning (round-11 logcap tripwire).
    ov = (
        a.join(
            b,
            (F.col("type_a") < F.col("type_b"))
            & (a.bucket == F.col("bucket_b")),
        )
        .select(
            "type_a",
            "type_b",
            F.bit_count(F.expr("wa & wb")).alias("c"),
        )
        .groupBy("type_a", "type_b")
        .agg(F.sum("c").cast("long").alias("overlap"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        ov.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "overlap",
            f6(
                F.col("overlap").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("overlap"))
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "a_mcnemar_test",
    """
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    per_user AS (
        SELECT e.user_id,
               CAST(max(CASE WHEN CAST(e.ts AS DATE)
                                  < b.d0 + CAST((b.d1 - b.d0 + 1) // 2
                                                AS INTEGER)
                              AND e.value >= 200
                             THEN 1 ELSE 0 END) AS BIGINT) AS h1,
               CAST(max(CASE WHEN CAST(e.ts AS DATE)
                                  >= b.d0 + CAST((b.d1 - b.d0 + 1) // 2
                                                 AS INTEGER)
                              AND e.value >= 200
                             THEN 1 ELSE 0 END) AS BIGINT) AS h2
        FROM events e CROSS JOIN bounds b
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS both_halves
        FROM per_user
    )
    SELECT n_users, b AS only_first_half, c AS only_second_half,
           both_halves,
           round((b - c) * (b - c) * 1.0 / nullif(b + c, 0), 6) + 0
               AS mcnemar_chi2,
           CASE WHEN (b - c) * (b - c) * 1.0 / nullif(b + c, 0) > 3.841459
                THEN 1 ELSE 0 END AS changed_flag
    FROM c
    """,
)
def a_mcnemar_test(spark, sf_dir):
    """McNemar's test — PAIRED BINARY change detection: did individual
    purchasers flip their HIGH-VALUE buying (a purchase >= $200)
    between the first and second half of the window?  Marginal rates
    can stay identical while the population churns underneath (b users
    lapse, c users start — invisible to a_proportion_ztest, which
    compares unpaired marginals); McNemar looks only at the DISCORDANT
    cells: chi^2 = (b-c)^2/(b+c) against chi^2_1 = 3.841459 (shared
    literal).  The categorical sibling of a_wilcoxon_signed_rank, and
    the standard paired-model-comparison test in ML evaluation (same
    items, two classifiers).  NULLIF guards the degenerate b+c=0
    corpus (everyone concordant) with a NULL statistic rather than an
    error — both engines agree.

    The window midpoint comes from exact DATE integer arithmetic; the
    per-user half flags are one map-side-combinable groupBy over
    purchases; the statistic is one float division of exact BIGINT
    cell counts.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    mid = F.expr(
        "date_add(d0, CAST(floor((datediff(d1, d0) + 1) / 2) AS INT))"
    )
    hv = F.col("value") >= 200
    per_user = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when((F.to_date("ts") < mid) & hv, 1).otherwise(0)
            )
            .cast("long")
            .alias("h1"),
            F.max(
                F.when((F.to_date("ts") >= mid) & hv, 1).otherwise(0)
            )
            .cast("long")
            .alias("h2"),
        )
    )
    c = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(
            F.when((F.col("h1") == 1) & (F.col("h2") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when((F.col("h1") == 0) & (F.col("h2") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when((F.col("h1") == 1) & (F.col("h2") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("both_halves"),
    )
    b, cc = F.col("b"), F.col("c")
    chi2 = (b - cc) * (b - cc) * 1.0 / F.nullif(b + cc, F.lit(0))
    return c.select(
        "n_users",
        b.alias("only_first_half"),
        cc.alias("only_second_half"),
        "both_halves",
        f6(chi2).alias("mcnemar_chi2"),
        F.when(chi2 > 3.841459, 1).otherwise(0).alias("changed_flag"),
    )


@register(
    "a_partial_correlation",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(round(sum(CASE WHEN event_type = 'purchase'
                                   THEN CAST(round(value * 100) AS BIGINT)
                                   ELSE 0 END) / 1e3) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y,
               CAST(count(*) AS BIGINT) AS z
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * z) AS BIGINT) AS sxz,
               CAST(sum(y * z) AS BIGINT) AS syz,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(z * z) AS BIGINT) AS szz
        FROM daily
    ),
    r AS (
        SELECT n,
               (n * sxy - CAST(sx AS DOUBLE) * sy)
               / sqrt((n * sxx - CAST(sx AS DOUBLE) * sx)
                      * (n * syy - CAST(sy AS DOUBLE) * sy)) AS rxy,
               (n * sxz - CAST(sx AS DOUBLE) * sz)
               / sqrt((n * sxx - CAST(sx AS DOUBLE) * sx)
                      * (n * szz - CAST(sz AS DOUBLE) * sz)) AS rxz,
               (n * syz - CAST(sy AS DOUBLE) * sz)
               / sqrt((n * syy - CAST(sy AS DOUBLE) * sy)
                      * (n * szz - CAST(sz AS DOUBLE) * sz)) AS ryz
        FROM c
    )
    SELECT n AS n_days,
           round(rxy, 6) + 0 AS r_xy,
           round(rxz, 6) + 0 AS r_xz,
           round(ryz, 6) + 0 AS r_yz,
           round((rxy - rxz * ryz)
                 / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6) + 0
               AS r_xy_given_z
    FROM r
    """,
)
def a_partial_correlation(spark, sf_dir):
    """Partial correlation — does purchase REVENUE track CLICK volume
    once total daily TRAFFIC is controlled for?  Raw r_xy between two
    activity series is inflated by the shared driver (busy days lift
    everything — the a_friedman_test observation, in correlation
    form); the first-order partial r_xy·z = (r_xy − r_xz·r_yz)/
    √((1−r_xz²)(1−r_yz²)) removes the common cause and is the
    one-number confounder check run before believing any cross-metric
    correlation.  All three raw correlations are reported beside the
    partial, so the inflation is visible.

    One daily rollup (map-side combined) produces x/y/z as exact
    BIGINTs (revenue snapped to $10 units so n·Σx² stays far inside
    int64 at any SF — the a_autocorr_daily coarsening); all nine co-moment sums are exact integer reductions on
    the bounded day axis; the only float math is the final shared
    association (the a_autocorr_daily discipline, threefold).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            / 1e3
        )
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("y"),
        F.count("*").cast("long").alias("z"),
    )
    c = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("long").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("long").alias("syz"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
    )
    n = F.col("n")

    def _r(sab, sa, sb, saa, sbb):
        return (n * F.col(sab) - F.col(sa).cast("double") * F.col(sb)) / F.sqrt(
            (n * F.col(saa) - F.col(sa).cast("double") * F.col(sa))
            * (n * F.col(sbb) - F.col(sb).cast("double") * F.col(sb))
        )

    rxy = _r("sxy", "sx", "sy", "sxx", "syy")
    rxz = _r("sxz", "sx", "sz", "sxx", "szz")
    ryz = _r("syz", "sy", "sz", "syy", "szz")
    partial = (rxy - rxz * ryz) / F.sqrt(
        (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    )
    return c.select(
        n.alias("n_days"),
        f6(rxy).alias("r_xy"),
        f6(rxz).alias("r_xz"),
        f6(ryz).alias("r_yz"),
        f6(partial).alias("r_xy_given_z"),
    )


_HURST_BLOCK_SQL = """
        SELECT {m} AS m, (rn - 1) // {m} AS blk, rn, kd
        FROM idx WHERE rn <= (n_days // {m}) * {m}
"""


@register(
    "a_hurst_exponent",
    f"""
    WITH {_KD_DAILY_SQL},
    idx0 AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, kd
        FROM daily
    ),
    idx AS (
        SELECT rn, kd, (SELECT CAST(count(*) AS BIGINT) FROM idx0)
                           AS n_days
        FROM idx0
    ),
    blocks AS (
        {_HURST_BLOCK_SQL.format(m=5)}
        UNION ALL
        {_HURST_BLOCK_SQL.format(m=10)}
        UNION ALL
        {_HURST_BLOCK_SQL.format(m=15)}
    ),
    bstat AS (
        SELECT m, blk, CAST(sum(kd) AS BIGINT) AS s
        FROM blocks GROUP BY 1, 2
    ),
    dev AS (
        SELECT b.m, b.blk, b.rn,
               CAST(b.m * b.kd - t.s AS BIGINT) AS dv
        FROM blocks b JOIN bstat t ON t.m = b.m AND t.blk = b.blk
    ),
    cum AS (
        SELECT m, blk,
               CAST(sum(dv) OVER (PARTITION BY m, blk ORDER BY rn)
                    AS BIGINT) AS c,
               dv
        FROM dev
    ),
    per_block AS (
        SELECT m, blk,
               CAST(max(c) - min(c) AS BIGINT) AS rng,
               CAST(sum(dv * dv) AS BIGINT) AS sd2
        FROM cum GROUP BY 1, 2
    ),
    rs AS (
        SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(CAST(round(
                   rng * sqrt(CAST(m AS DOUBLE)) / sqrt(sd2) * 1e9
               ) AS BIGINT)) AS BIGINT) AS rs9
        FROM per_block WHERE sd2 > 0 GROUP BY m
    ),
    pts AS (
        SELECT m, n_blocks,
               CAST(rs9 AS DOUBLE) / 1e9 / n_blocks AS avg_rs,
               ln(CAST(m AS DOUBLE)) AS lx,
               ln(CAST(rs9 AS DOUBLE) / 1e9 / n_blocks) AS ly
        FROM rs
    ),
    fit AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(round(lx * 1e9) AS BIGINT)) AS BIGINT) AS sx,
               CAST(sum(CAST(round(ly * 1e9) AS BIGINT)) AS BIGINT) AS sy,
               CAST(sum(CAST(round(lx * ly * 1e9) AS BIGINT)) AS BIGINT)
                   AS sxy,
               CAST(sum(CAST(round(lx * lx * 1e9) AS BIGINT)) AS BIGINT)
                   AS sxx
        FROM pts
    )
    SELECT p.m AS window_size, p.n_blocks,
           round(p.avg_rs, 6) + 0 AS avg_rescaled_range,
           round((f.k * (f.sxy / 1e9) - (f.sx / 1e9) * (f.sy / 1e9))
                 / (f.k * (f.sxx / 1e9) - (f.sx / 1e9) * (f.sx / 1e9)),
                 6) + 0 AS hurst
    FROM pts p CROSS JOIN fit f ORDER BY window_size
    """,
)
def a_hurst_exponent(spark, sf_dir):
    """Hurst exponent by rescaled-range analysis (Hurst 1951, Mandelbrot
    — public) of daily revenue: does the series have LONG MEMORY?
    H≈0.5 = random walk (a_autocorr_daily's one-lag view, extended to
    all horizons), H>0.5 = persistent trends (momentum compounds —
    forecast horizons stretch), H<0.5 = mean-reverting.  Per window
    size m∈{{5,10,15}}: split the day axis into ⌊n/m⌋ blocks, each
    block's R/S = (range of mean-centered cumulative deviations) /
    (population std); H = the log-log OLS slope across the three
    sizes, reported beside each size's average R/S.

    Exactness is the a_ljung_box integer-deviation trick PER BLOCK:
    dv = m·x − Σx is an exact BIGINT, the cumulative deviation's
    numerator is a running BIGINT sum (ordered window — no float
    accumulation), so R/S = rng·√m/√(Σdv²) is one float of exact
    integers per block, snapped to 1e-9 before the cross-block mean;
    the ln/OLS fit runs on the 3-point bounded axis with every term
    snapped pre-sum.  Daily rollup is the only data-scale pass.
    """
    idx = _kd_index(spark, sf_dir, "rn")
    n_days = idx.agg(F.count("*").cast("long").alias("n_days"))
    # r17 (guide §2.4/§5): the day-axis frame fed the 3-size union twice
    # over (block stats + deviations) — ~8 replays of the daily rollup
    # in the plan. idx and blocks are both day-axis bounded.
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 2.07 -> 2.56 s without it, IQR 0.48 s.
    idx = idx.crossJoin(F.broadcast(n_days)).cache()
    blocks = None
    for m in (5, 10, 15):
        b = idx.where(
            F.col("rn") <= (F.floor(F.col("n_days") / m) * m)
        ).select(
            F.lit(m).cast("long").alias("m"),
            F.floor((F.col("rn") - 1) / m).cast("long").alias("blk"),
            "rn",
            "kd",
        )
        blocks = b if blocks is None else blocks.unionByName(b)
    blocks = blocks.cache()
    bstat = blocks.groupBy("m", "blk").agg(
        F.sum("kd").cast("long").alias("s")
    )
    dev = blocks.join(bstat, ["m", "blk"]).select(
        "m",
        "blk",
        "rn",
        (F.col("m") * F.col("kd") - F.col("s")).cast("long").alias("dv"),
    )
    wcum = Window.partitionBy("m", "blk").orderBy("rn")
    cum = dev.select(
        "m",
        "blk",
        F.sum("dv").over(wcum).cast("long").alias("c"),
        "dv",
    )
    per_block = cum.groupBy("m", "blk").agg(
        (F.max("c") - F.min("c")).cast("long").alias("rng"),
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("sd2"),
    )
    rs = (
        per_block.where(F.col("sd2") > 0)
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum(
                F.round(
                    F.col("rng")
                    * F.sqrt(F.col("m").cast("double"))
                    / F.sqrt(F.col("sd2"))
                    * 1e9
                ).cast("long")
            )
            .cast("long")
            .alias("rs9"),
        )
    )
    avg_rs = F.col("rs9").cast("double") / 1e9 / F.col("n_blocks")
    pts = rs.select(
        "m",
        "n_blocks",
        avg_rs.alias("avg_rs"),
        F.log(F.col("m").cast("double")).alias("lx"),
        F.log(avg_rs).alias("ly"),
    )
    fit = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.round(F.col("lx") * 1e9).cast("long"))
        .cast("long")
        .alias("sx"),
        F.sum(F.round(F.col("ly") * 1e9).cast("long"))
        .cast("long")
        .alias("sy"),
        F.sum(F.round(F.col("lx") * F.col("ly") * 1e9).cast("long"))
        .cast("long")
        .alias("sxy"),
        F.sum(F.round(F.col("lx") * F.col("lx") * 1e9).cast("long"))
        .cast("long")
        .alias("sxx"),
    )
    k = F.col("k")
    hurst = (
        k * (F.col("sxy") / 1e9)
        - (F.col("sx") / 1e9) * (F.col("sy") / 1e9)
    ) / (
        k * (F.col("sxx") / 1e9)
        - (F.col("sx") / 1e9) * (F.col("sx") / 1e9)
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("m").alias("window_size"),
            "n_blocks",
            f6(F.col("avg_rs")).alias("avg_rescaled_range"),
            f6(hurst).alias("hurst"),
        )
        .orderBy("window_size")
    )


@register(
    "a_grouping_id",
    """
    SELECT coalesce(l_returnflag, '(all)') AS flag,
           coalesce(l_linestatus, '(all)') AS status,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                AS BIGINT) AS gid,
           CASE CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                     AS BIGINT)
                WHEN 0 THEN 'detail' WHEN 1 THEN 'flag_subtotal'
                ELSE 'grand_total' END AS level,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, flag, status
    """,
)
def a_grouping_id(spark, sf_dir):
    """grouping_id() — the disambiguator that makes ROLLUP output
    machine-consumable: a NULL in a rollup row is ambiguous (real NULL
    key, or subtotal placeholder?), and every BI tool that consumes
    a_rollup's raw output eventually mislabels one as the other.  The
    grouping bitmask (bit per grouping column, 1 = rolled up) names
    each row's aggregation LEVEL exactly — detail / flag subtotal /
    grand total — independent of the key values, so the coalesced
    '(all)' labels here are cosmetic, not load-bearing.

    Same single-pass Expand + partial/final aggregate plan as
    a_rollup; the bitmask is computed per expanded row before the
    shuffle, costing nothing.  Spark's grouping()/spark_grouping_id
    and DuckDB's GROUPING() agree bit-for-bit once composed in the
    same column order (the oracle composes grouping(a)*2 +
    grouping(b) explicitly on both sides rather than trusting either
    engine's packed grouping_id order).
    """
    li = load_table(spark, sf_dir, "lineitem")
    gid = (
        F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
    ).cast("long")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            gid.alias("gid"),
            F.count("*").cast("long").alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("(all)")).alias(
                "flag"
            ),
            F.coalesce(F.col("l_linestatus"), F.lit("(all)")).alias(
                "status"
            ),
            "gid",
            F.when(F.col("gid") == 0, "detail")
            .when(F.col("gid") == 1, "flag_subtotal")
            .otherwise("grand_total")
            .alias("level"),
            "n",
        )
        .orderBy("gid", "flag", "status")
    )


_POIS_ITER_SQL = """
    pp{cur} AS (
        SELECT c.y, c.x1, c.x2,
               CAST(round(exp(b.b0 + b.b1 * c.x1 + b.b2 * c.x2) * 1e6)
                    AS BIGINT) AS mu6
        FROM pcells c CROSS JOIN pit{cur} b
    ),
    pm{cur} AS (
        SELECT
            CAST(sum(CAST(mu6 AS HUGEINT)) AS DOUBLE) AS a00,
            CAST(sum(CAST(mu6 AS HUGEINT) * x1) AS DOUBLE) AS a01,
            CAST(sum(CAST(mu6 AS HUGEINT) * x2) AS DOUBLE) AS a02,
            CAST(sum(CAST(mu6 AS HUGEINT) * x1 * x1) AS DOUBLE) AS a11,
            CAST(sum(CAST(mu6 AS HUGEINT) * x1 * x2) AS DOUBLE) AS a12,
            CAST(sum(CAST(mu6 AS HUGEINT) * x2 * x2) AS DOUBLE) AS a22,
            CAST(sum(y * 1000000 - mu6) AS DOUBLE) AS g0,
            CAST(sum((y * 1000000 - mu6) * x1) AS DOUBLE) AS g1,
            CAST(sum((y * 1000000 - mu6) * x2) AS DOUBLE) AS g2
        FROM pp{cur}
    ),
    pd{cur} AS (
        SELECT *,
               a00 * (a11 * a22 - a12 * a12)
                 - a01 * (a01 * a22 - a12 * a02)
                 + a02 * (a01 * a12 - a11 * a02) AS det
        FROM pm{cur}
    ),
    pit{next} AS (
        SELECT round(b.b0 + (g0 * (a11 * a22 - a12 * a12)
                             - g1 * (a01 * a22 - a02 * a12)
                             + g2 * (a01 * a12 - a02 * a11)) / det, 9)
                   AS b0,
               round(b.b1 + (0.0 - g0 * (a01 * a22 - a12 * a02)
                             + g1 * (a00 * a22 - a02 * a02)
                             - g2 * (a00 * a12 - a02 * a01)) / det, 9)
                   AS b1,
               round(b.b2 + (g0 * (a01 * a12 - a11 * a02)
                             - g1 * (a00 * a12 - a01 * a02)
                             + g2 * (a00 * a11 - a01 * a01)) / det, 9)
                   AS b2
        FROM pd{cur} CROSS JOIN pit{cur} b
    )
"""


@register(
    "a_poisson_irls",
    f"""
    WITH pcells AS (
        SELECT CAST(count(*) AS BIGINT) AS y,
               CAST(CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                         THEN 1 ELSE 0 END AS BIGINT) AS x1,
               CAST(CAST(ts AS DATE)
                    - (SELECT min(CAST(ts AS DATE)) FROM events)
                    AS BIGINT) AS x2
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE)
    ),
    pit0 AS (
        SELECT round(ln((SELECT sum(y) * 1.0 / count(*) FROM pcells)), 9)
                   AS b0,
               0.0 AS b1, 0.0 AS b2
    ),
    {_POIS_ITER_SQL.format(cur=0, next=1)},
    {_POIS_ITER_SQL.format(cur=1, next=2)},
    {_POIS_ITER_SQL.format(cur=2, next=3)},
    {_POIS_ITER_SQL.format(cur=3, next=4)},
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM pcells)
    SELECT n_days,
           round(b0, 6) + 0 AS b_intercept,
           round(b1, 6) + 0 AS b_weekend,
           round(b2, 6) + 0 AS b_trend,
           round(exp(b0 + b1), 6) + 0 AS weekend_day0_rate
    FROM nn CROSS JOIN pit4
    """,
)
def a_poisson_irls(spark, sf_dir):
    """Poisson regression by IRLS — the COUNT-MODEL GLM completing the
    link-function pair with a_logistic_irls (same distributed
    machinery, log link instead of logit): daily purchase arrivals ~
    weekend + linear trend, the model a_poisson_rate_test's two-group
    comparison graduates into when exposure structure matters.  Four
    Newton steps, each one pass of weighted moments (w = μ for the
    canonical log link) + a 3×3 Cramer solve; β̂_weekend exponentiates
    to the weekend rate RATIO the rate test estimated nonparametrically.

    Same engine-exactness split: the response cells are the bounded
    day axis (the only data-scale work is the daily count groupBy);
    exp(η) evaluates per CELL and snaps to a 1e-6 BIGINT; moments are
    DECIMAL/HUGEINT-exact; β re-snaps to 9dp per iteration; init
    b0 = ln(mean) snapped 9dp.  dayofweek pairing (1,7)/(0,6) per
    SURVEY §2.7.
    """
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.where(F.col("event_type") == "purchase").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    pcells = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(d0))
        .groupBy(F.to_date("ts").alias("d"), F.col("d0"))
        .agg(F.count("*").cast("long").alias("y"))
        .select(
            "y",
            F.when(F.dayofweek("d").isin(1, 7), 1)
            .otherwise(0)
            .cast("long")
            .alias("x1"),
            F.datediff(F.col("d"), F.col("d0")).cast("long").alias("x2"),
        )
    )
    init = pcells.agg(
        F.round(
            F.log(F.sum("y") * 1.0 / F.count("*")), 9
        ).alias("b0")
    ).select("b0", F.lit(0.0).alias("b1"), F.lit(0.0).alias("b2"))

    beta = init
    d0, d1, d2 = _cramer3()
    for _ in range(4):
        p = pcells.crossJoin(F.broadcast(beta)).select(
            "y",
            "x1",
            "x2",
            F.round(
                F.exp(
                    F.col("b0")
                    + F.col("b1") * F.col("x1")
                    + F.col("b2") * F.col("x2")
                )
                * 1e6
            )
            .cast("long")
            .alias("mu6"),
            "b0",
            "b1",
            "b2",
        )
        g = F.col("y") * F.lit(1000000).cast("long") - F.col("mu6")
        beta = _irls_moments(p, F.col("mu6").cast("decimal(19,0)"), g).select(
            F.round(F.col("b0") + d0, 9).alias("b0"),
            F.round(F.col("b1") + d1, 9).alias("b1"),
            F.round(F.col("b2") + d2, 9).alias("b2"),
        )
    nn = pcells.agg(F.count("*").cast("long").alias("n_days"))
    return nn.crossJoin(F.broadcast(beta)).select(
        "n_days",
        f6(F.col("b0")).alias("b_intercept"),
        f6(F.col("b1")).alias("b_weekend"),
        f6(F.col("b2")).alias("b_trend"),
        f6(F.exp(F.col("b0") + F.col("b1"))).alias("weekend_day0_rate"),
    )


_H32_CUST = """
    CAST(list_sum(list_transform(range(1, 9),
        j -> (strpos('0123456789abcdef',
                     substring(md5(CAST(o_custkey AS VARCHAR)), j, 1)) - 1)
             * CAST(16 AS BIGINT) ** (8 - j))) AS BIGINT)
"""


@register(
    "a_meta_analysis",
    f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice) AS BIGINT) AS usd,
               {_H32_CUST} % 2 AS arm
        FROM orders
    ),
    seg AS (
        SELECT r.r_name AS region, o.arm, o.usd
        FROM o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    cell AS (
        SELECT region, arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(usd) AS BIGINT) AS s,
               CAST(sum(usd * usd) AS BIGINT) AS q
        FROM seg GROUP BY 1, 2
    ),
    wide AS (
        SELECT region,
               max(CASE WHEN arm = 1 THEN n END) AS nt,
               max(CASE WHEN arm = 0 THEN n END) AS nc,
               max(CASE WHEN arm = 1 THEN s END) AS st,
               max(CASE WHEN arm = 0 THEN s END) AS sc,
               max(CASE WHEN arm = 1 THEN q END) AS qt,
               max(CASE WHEN arm = 0 THEN q END) AS qc
        FROM cell GROUP BY region
        HAVING max(CASE WHEN arm = 1 THEN n END) >= 2
           AND max(CASE WHEN arm = 0 THEN n END) >= 2
    ),
    eff AS (
        SELECT region, nt, nc,
               CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc AS d,
               ((qt - CAST(st AS DOUBLE) * st / nt) / (nt - 1.0)) / nt
               + ((qc - CAST(sc AS DOUBLE) * sc / nc) / (nc - 1.0)) / nc
                   AS v
        FROM wide
    ),
    terms AS (
        SELECT region, nt, nc, d, v,
               CAST(round(1.0 / v * 1e15) AS BIGINT) AS w15,
               CAST(round(d / v * 1e12) AS BIGINT) AS wd12,
               CAST(round(d * d / v * 1e9) AS BIGINT) AS wdd9
        FROM eff
    ),
    pool AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(w15) AS BIGINT) AS sw,
               CAST(sum(wd12) AS BIGINT) AS swd,
               CAST(sum(wdd9) AS BIGINT) AS swdd
        FROM terms
    )
    SELECT t.region, t.nt, t.nc,
           round(t.d, 6) + 0 AS effect_usd,
           round(t.v, 6) + 0 AS var_usd2,
           round((p.swd / 1e12) / (p.sw / 1e15), 6) + 0 AS pooled_usd,
           round((p.swdd / 1e9)
                 - ((p.swd / 1e12) * (p.swd / 1e12)) / (p.sw / 1e15),
                 6) + 0 AS cochran_q,
           round(greatest(0.0,
                 ((p.swdd / 1e9)
                  - ((p.swd / 1e12) * (p.swd / 1e12)) / (p.sw / 1e15)
                  - (p.k - 1.0))
                 / ((p.swdd / 1e9)
                    - ((p.swd / 1e12) * (p.swd / 1e12))
                      / (p.sw / 1e15))), 6) + 0 AS i_squared,
           CASE WHEN (p.swdd / 1e9)
                     - ((p.swd / 1e12) * (p.swd / 1e12)) / (p.sw / 1e15)
                     > 9.487729
                THEN 1 ELSE 0 END AS heterogeneous_flag
    FROM terms t CROSS JOIN pool p
    ORDER BY t.region
    """,
)
def a_meta_analysis(spark, sf_dir):
    """Fixed-effect meta-analysis with heterogeneity — POOLING
    segmented experiment readouts the way the per-segment keys can't:
    each region contributes its arm-difference in mean order value
    (md5 A/A split, so pooled≈0 is the harness-validating outcome)
    with inverse-variance weight; the pooled effect, Cochran's Q and
    I² = (Q−(k−1))/Q answer 'is there ONE effect or do regions truly
    differ' — the question a_diff_in_diff (one segment) and
    a_propensity_strata (stratified means) both stop short of.  Q
    gates on χ²₄ = 9.487729 (5 regions − 1, shared literal).

    Per-segment moments are exact BIGINTs (whole-dollar order values
    keep Σusd² inside int64 at any SF); d_j and v_j are single float
    associations; each segment's THREE pooled terms (w, wd, wd²) snap
    to scaled BIGINTs BEFORE the cross-segment sums, so pooling is
    reduction-order-free.  One fact-dim join chain (broadcast dims) +
    one groupBy — the per-segment pass is the only data-scale work.
    """
    orders, customer, nation, region = tables(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    h32 = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
        16,
        10,
    ).cast("long")
    o = orders.select(
        "o_custkey",
        F.round(F.col("o_totalprice")).cast("long").alias("usd"),
        (h32 % 2).alias("arm"),
    )
    seg = (
        o.join(
            F.broadcast(customer),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select(F.col("r_name").alias("region"), "arm", "usd")
    )
    cell = seg.groupBy("region", "arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("usd").cast("long").alias("s"),
        F.sum(F.col("usd") * F.col("usd")).cast("long").alias("q"),
    )
    wide = (
        cell.groupBy("region")
        .agg(
            F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("nt"),
            F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("nc"),
            F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("st"),
            F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("sc"),
            F.max(F.when(F.col("arm") == 1, F.col("q"))).alias("qt"),
            F.max(F.when(F.col("arm") == 0, F.col("q"))).alias("qc"),
        )
        .where((F.col("nt") >= 2) & (F.col("nc") >= 2))
    )
    d = (
        F.col("st").cast("double") / F.col("nt")
        - F.col("sc").cast("double") / F.col("nc")
    )
    v = (
        (F.col("qt") - F.col("st").cast("double") * F.col("st") / F.col("nt"))
        / (F.col("nt") - 1.0)
    ) / F.col("nt") + (
        (F.col("qc") - F.col("sc").cast("double") * F.col("sc") / F.col("nc"))
        / (F.col("nc") - 1.0)
    ) / F.col("nc")
    terms = wide.select(
        "region",
        "nt",
        "nc",
        d.alias("d"),
        v.alias("v"),
        F.round(1.0 / v * 1e15).cast("long").alias("w15"),
        F.round(d / v * 1e12).cast("long").alias("wd12"),
        F.round(d * d / v * 1e9).cast("long").alias("wdd9"),
    )
    pool = terms.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("w15").cast("long").alias("sw"),
        F.sum("wd12").cast("long").alias("swd"),
        F.sum("wdd9").cast("long").alias("swdd"),
    )
    pooled = (F.col("swd") / 1e12) / (F.col("sw") / 1e15)
    q_stat = (F.col("swdd") / 1e9) - (
        (F.col("swd") / 1e12) * (F.col("swd") / 1e12)
    ) / (F.col("sw") / 1e15)
    i2 = F.greatest(
        F.lit(0.0), (q_stat - (F.col("k") - 1.0)) / q_stat
    )
    return (
        terms.crossJoin(F.broadcast(pool))
        .select(
            "region",
            "nt",
            "nc",
            f6(F.col("d")).alias("effect_usd"),
            f6(F.col("v")).alias("var_usd2"),
            f6(pooled).alias("pooled_usd"),
            f6(q_stat).alias("cochran_q"),
            f6(i2).alias("i_squared"),
            F.when(q_stat > 9.487729, 1)
            .otherwise(0)
            .alias("heterogeneous_flag"),
        )
        .orderBy("region")
    )


@register(
    "a_cmh_test",
    f"""
    WITH o AS (
        SELECT o_custkey,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS hi,
               {_H32_CUST} % 2 AS arm
        FROM orders
    ),
    seg AS (
        SELECT r.r_name AS region, o.arm, o.hi
        FROM o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    tab AS (
        SELECT region,
               CAST(sum(CASE WHEN arm = 1 AND hi = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN hi = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS m1,
               CAST(count(*) AS BIGINT) AS n
        FROM seg GROUP BY region
        HAVING count(*) >= 4
    ),
    terms AS (
        SELECT region, a, n1, m1, n,
               CAST(round((a - CAST(n1 AS DOUBLE) * m1 / n) * 1e9)
                    AS BIGINT) AS ome9,
               CAST(round((CAST(n1 AS DOUBLE) * (n - n1) * m1 * (n - m1))
                          / (CAST(n AS DOUBLE) * n * (n - 1.0)) * 1e9)
                    AS BIGINT) AS v9
        FROM tab
    ),
    pool AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(ome9) AS BIGINT) AS s_ome,
               CAST(sum(v9) AS BIGINT) AS sv
        FROM terms
    )
    SELECT k AS n_strata,
           round(s_ome / 1e9, 6) + 0 AS observed_minus_expected,
           round(((s_ome / 1e9) * (s_ome / 1e9)) / (sv / 1e9), 6) + 0
               AS cmh_chi2,
           CASE WHEN ((s_ome / 1e9) * (s_ome / 1e9)) / (sv / 1e9)
                     > 3.841459
                THEN 1 ELSE 0 END AS assoc_flag
    FROM pool
    """,
)
def a_cmh_test(spark, sf_dir):
    """Cochran-Mantel-Haenszel — stratified CATEGORICAL association,
    completing the stratification trio (a_propensity_strata pools
    means, a_meta_analysis pools continuous effects; CMH pools 2×2
    tables): is arm membership (md5 A/A split) associated with
    urgent/high priority CONTROLLING for region?  Per stratum the
    hypergeometric null gives E = n₁m₁/n and V = n₁n₀m₁m₀/(n²(n−1));
    CMH χ² = (ΣO−E)²/ΣV against χ²₁ = 3.841459 — one degree of
    freedom no matter how many strata, which is the whole point
    (power against a CONSISTENT association, immunity to Simpson
    flips that fool a pooled 2×2).

    One fact-dim join chain + one stratum rollup (exact BIGINT
    cells); each stratum's O−E and V snap to 1e-9 BIGINTs before the
    cross-stratum sums (the a_log_rank_test accumulation pattern, on
    tables instead of death times).
    """
    orders, customer, nation, region = tables(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    h32 = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
        16,
        10,
    ).cast("long")
    o = orders.select(
        "o_custkey",
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("hi"),
        (h32 % 2).alias("arm"),
    )
    seg = (
        o.join(
            F.broadcast(customer),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select(F.col("r_name").alias("region"), "arm", "hi")
    )
    tab = (
        seg.groupBy("region")
        .agg(
            F.sum(
                F.when((F.col("arm") == 1) & (F.col("hi") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("hi") == 1, 1).otherwise(0))
            .cast("long")
            .alias("m1"),
            F.count("*").cast("long").alias("n"),
        )
        .where(F.col("n") >= 4)
    )
    n, n1, m1, a = F.col("n"), F.col("n1"), F.col("m1"), F.col("a")
    ome = a - n1.cast("double") * m1 / n
    v = (n1.cast("double") * (n - n1) * m1 * (n - m1)) / (
        n.cast("double") * n * (n - 1.0)
    )
    terms = tab.select(
        F.round(ome * 1e9).cast("long").alias("ome9"),
        F.round(v * 1e9).cast("long").alias("v9"),
    )
    pool = terms.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ome9").cast("long").alias("s_ome"),
        F.sum("v9").cast("long").alias("sv"),
    )
    chi2 = ((F.col("s_ome") / 1e9) * (F.col("s_ome") / 1e9)) / (
        F.col("sv") / 1e9
    )
    return pool.select(
        F.col("k").alias("n_strata"),
        f6(F.col("s_ome") / 1e9).alias("observed_minus_expected"),
        f6(chi2).alias("cmh_chi2"),
        F.when(chi2 > 3.841459, 1).otherwise(0).alias("assoc_flag"),
    )


@register(
    "a_odds_ratio",
    f"""
    WITH o AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS hi,
               {_H32_CUST} % 2 AS arm
        FROM orders
    ),
    c AS (
        SELECT CAST(sum(CASE WHEN arm = 1 AND hi = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(sum(CASE WHEN arm = 1 AND hi = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(sum(CASE WHEN arm = 0 AND hi = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(sum(CASE WHEN arm = 0 AND hi = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM o
    )
    SELECT a, b, c, d,
           round((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c), 6)
               + 0 AS odds_ratio,
           round((CAST(a AS DOUBLE) / (a + b))
                 / (CAST(c AS DOUBLE) / (c + d)), 6) + 0 AS relative_risk,
           round(exp(ln((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c))
                     - 1.959964 * sqrt(1.0 / a + 1.0 / b
                                       + 1.0 / c + 1.0 / d)), 6) + 0
               AS or_ci_lo,
           round(exp(ln((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c))
                     + 1.959964 * sqrt(1.0 / a + 1.0 / b
                                       + 1.0 / c + 1.0 / d)), 6) + 0
               AS or_ci_hi,
           CASE WHEN exp(ln((CAST(a AS DOUBLE) * d)
                            / (CAST(b AS DOUBLE) * c))
                         - 1.959964 * sqrt(1.0 / a + 1.0 / b
                                           + 1.0 / c + 1.0 / d)) > 1.0
                     OR exp(ln((CAST(a AS DOUBLE) * d)
                               / (CAST(b AS DOUBLE) * c))
                            + 1.959964 * sqrt(1.0 / a + 1.0 / b
                                              + 1.0 / c + 1.0 / d)) < 1.0
                THEN 1 ELSE 0 END AS significant_flag
    FROM c
    """,
)
def a_odds_ratio(spark, sf_dir):
    """Odds ratio and relative risk with a Woolf log-CI — the EFFECT
    SIZE the 2×2 test keys stop short of: a_proportion_ztest and
    a_cmh_test answer 'is there an association'; decision-makers need
    HOW BIG with uncertainty, and OR vs RR is the classic trap this
    key makes explicit by reporting both (they diverge as the outcome
    gets common — RR is the interpretable one, OR the one logistic
    regression's coefficients exponentiate to, tying back to
    a_logistic_irls).  CI by Woolf: exp(ln OR ± 1.96·√(1/a+1/b+1/c
    +1/d)); the md5 A/A split means CI-covers-1 is the expected,
    harness-validating outcome.

    One conditional-aggregate pass builds the exact 2×2; every output
    is one shared float association of the four BIGINTs (ln/exp on the
    single bounded row, 1.959964 the shared literal).
    """
    orders = load_table(spark, sf_dir, "orders")
    h32 = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
        16,
        10,
    ).cast("long")
    o = orders.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("hi"),
        (h32 % 2).alias("arm"),
    )
    cdf = o.agg(
        F.sum(F.when((F.col("arm") == 1) & (F.col("hi") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("hi") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("hi") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("hi") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    orx = (a.cast("double") * d) / (b.cast("double") * c)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    lo = F.exp(F.log(orx) - 1.959964 * se)
    hi = F.exp(F.log(orx) + 1.959964 * se)
    return cdf.select(
        "a",
        "b",
        "c",
        "d",
        f6(orx).alias("odds_ratio"),
        f6(
            (a.cast("double") / (a + b)) / (c.cast("double") / (c + d))
        ).alias("relative_risk"),
        f6(lo).alias("or_ci_lo"),
        f6(hi).alias("or_ci_hi"),
        F.when((lo > 1.0) | (hi < 1.0), 1)
        .otherwise(0)
        .alias("significant_flag"),
    )


_HUBER_ITER_SQL = """
    h{next} AS (
        SELECT round(
            CAST(sum(CASE WHEN abs(x - h{cur}.mu) <= h{cur}.k
                          THEN CAST(round(x * 1e2) AS BIGINT)
                          ELSE CAST(round((h{cur}.mu + CASE WHEN x
                                          > h{cur}.mu THEN h{cur}.k
                                          ELSE -h{cur}.k END) * 1e2)
                                    AS BIGINT) END) AS DOUBLE)
            / 1e2 / count(*), 6) AS mu,
            any_value(h{cur}.k) AS k
        FROM base CROSS JOIN h{cur}
        GROUP BY h{cur}.mu, h{cur}.k
    )
"""


@register(
    "a_huber_mean",
    f"""
    WITH base AS (
        SELECT CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE)
                   / 100.0 AS x,
               o_orderkey
        FROM orders
    ),
    med AS (
        SELECT max(CASE WHEN rn = (n + 1) // 2 THEN x END) AS m
        FROM (SELECT x, row_number() OVER (ORDER BY x, o_orderkey) AS rn,
                     count(*) OVER () AS n
              FROM base)
    ),
    mad AS (
        SELECT round(max(CASE WHEN rn = (n + 1) // 2 THEN d END), 6)
                   AS mad
        FROM (SELECT abs(b.x - med.m) AS d,
                     row_number() OVER (ORDER BY abs(b.x - med.m),
                                        b.o_orderkey) AS rn,
                     count(*) OVER () AS n
              FROM base b CROSS JOIN med)
    ),
    h0 AS (
        SELECT round(med.m, 6) AS mu,
               round(1.345 * 1.4826 * mad.mad, 6) AS k
        FROM med CROSS JOIN mad
    ),
    {_HUBER_ITER_SQL.format(cur=0, next=1)},
    {_HUBER_ITER_SQL.format(cur=1, next=2)},
    {_HUBER_ITER_SQL.format(cur=2, next=3)},
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(round(x * 1e2) AS BIGINT)) AS DOUBLE)
                     / 1e2 / count(*), 6) AS plain_mean
        FROM base
    )
    SELECT s.n AS n_orders,
           s.plain_mean + 0 AS mean_usd,
           h3.mu + 0 AS huber_mean_usd,
           h3.k + 0 AS huber_k_usd,
           round(s.plain_mean - h3.mu, 6) + 0 AS outlier_pull_usd
    FROM stats s CROSS JOIN h3
    """,
)
def a_huber_mean(spark, sf_dir):
    """Huber M-estimated mean — ROBUST LOCATION by iterative clipping
    (Huber 1964, public): the plain mean follows the tail, the median
    throws information away; Huber's estimator keeps every
    observation but WINSORIZES residuals beyond k = 1.345·σ̂ (the
    95%-efficiency tuning constant; σ̂ = 1.4826·MAD), iterated three
    times from the median — the textbook robust-statistics rung
    between a_winsorized_mean (fixed quantile clip) and a_mad_outliers
    (detection only).  The reported outlier_pull is the dollar gap
    the tail exerts on the naive mean.

    Exactness: median and MAD are rank-based order statistics
    (orderkey tiebreaks); each iteration clips x to [μ±k] per row and
    sums CENTS as exact BIGINTs (the clipped value is a finite
    decimal, so the snap is lossless); μ re-snaps to 6dp per
    iteration; the oracle unrolls the same three clipped-sum steps.
    Each iteration is one map-side-combinable aggregate — three data
    passes total, the honest cost of robustness at scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        (
            F.round(F.col("o_totalprice") * 100).cast("long").cast("double")
            / 100.0
        ).alias("x"),
        "o_orderkey",
    )
    # Median and MAD over the DISTINCT-VALUE cumulative axis (round 10):
    # the value at rank k is the smallest distinct value whose cumulative
    # count reaches k — the orderkey tiebreak picks a row, never a
    # different value — so no row-level global sort; the partitionless
    # cumulative window runs over value cardinality (price domain), and
    # the oracle keeps the row-rank form with identical values.
    tot = base.agg(F.count("*").cast("long").alias("n"))
    byx = base.groupBy("x").agg(F.count("*").cast("long").alias("cnt"))
    wx = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cumx = byx.select("x", F.sum("cnt").over(wx).alias("cum"))
    med = (
        cumx.crossJoin(F.broadcast(tot))
        .where(F.col("cum") >= F.floor((F.col("n") + 1) / 2))
        .agg(F.min("x").alias("m"))
    )
    dd = base.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("x") - F.col("m")).alias("d")
    )
    byd = dd.groupBy("d").agg(F.count("*").cast("long").alias("cnt"))
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cumd = byd.select("d", F.sum("cnt").over(wd).alias("cum"))
    mad = (
        cumd.crossJoin(F.broadcast(tot))
        .where(F.col("cum") >= F.floor((F.col("n") + 1) / 2))
        .agg(F.round(F.min("d"), 6).alias("mad"))
    )
    h = med.crossJoin(F.broadcast(mad)).select(
        F.round(F.col("m"), 6).alias("mu"),
        F.round(1.345 * 1.4826 * F.col("mad"), 6).alias("k"),
    )
    for _ in range(3):
        joined = base.crossJoin(F.broadcast(h))
        clipped = F.when(
            F.abs(F.col("x") - F.col("mu")) <= F.col("k"),
            F.round(F.col("x") * 1e2).cast("long"),
        ).otherwise(
            F.round(
                (
                    F.col("mu")
                    + F.when(
                        F.col("x") > F.col("mu"), F.col("k")
                    ).otherwise(-F.col("k"))
                )
                * 1e2
            ).cast("long")
        )
        h = joined.groupBy("mu", "k").agg(
            F.round(
                F.sum(clipped).cast("double") / 1e2 / F.count("*"), 6
            ).alias("mu2")
        ).select(F.col("mu2").alias("mu"), "k")
    stats = base.agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            F.sum(F.round(F.col("x") * 1e2).cast("long")).cast("double")
            / 1e2
            / F.count("*"),
            6,
        ).alias("plain_mean"),
    )
    return stats.crossJoin(F.broadcast(h)).select(
        F.col("n").alias("n_orders"),
        (F.col("plain_mean") + 0.0).alias("mean_usd"),
        (F.col("mu") + 0.0).alias("huber_mean_usd"),
        (F.col("k") + 0.0).alias("huber_k_usd"),
        (F.round(F.col("plain_mean") - F.col("mu"), 6) + 0.0).alias(
            "outlier_pull_usd"
        ),
    )


@register(
    "a_beta_binomial",
    """
    WITH per_user AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM events GROUP BY user_id
    ),
    seg AS (
        SELECT CASE WHEN n < 63 THEN 'light'
                    WHEN n < 70 THEN 'mid' ELSE 'heavy' END AS segment,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n) AS BIGINT) AS trials,
               CAST(sum(k) AS BIGINT) AS successes
        FROM per_user GROUP BY 1
    )
    SELECT segment, n_users, trials, successes,
           round(CAST(successes AS DOUBLE) / trials, 6) + 0 AS raw_rate,
           round((successes + 1.0) / (trials + 2.0), 6) + 0
               AS posterior_mean,
           round(sqrt((successes + 1.0) * (trials - successes + 1.0)
                      / ((trials + 2.0) * (trials + 2.0)
                         * (trials + 3.0))), 6) + 0 AS posterior_sd,
           round((successes + 1.0) / (trials + 2.0)
                 - 1.959964 * sqrt((successes + 1.0)
                                   * (trials - successes + 1.0)
                                   / ((trials + 2.0) * (trials + 2.0)
                                      * (trials + 3.0))), 6) + 0
               AS cred_lo,
           round((successes + 1.0) / (trials + 2.0)
                 + 1.959964 * sqrt((successes + 1.0)
                                   * (trials - successes + 1.0)
                                   / ((trials + 2.0) * (trials + 2.0)
                                      * (trials + 3.0))), 6) + 0
               AS cred_hi
    FROM seg ORDER BY segment
    """,
)
def a_beta_binomial(spark, sf_dir):
    """Beta-binomial conjugate posterior — the BAYESIAN estimation
    surface the frequentist battery lacks: per activity segment, the
    purchase rate's posterior under a uniform Beta(1,1) prior has
    CLOSED-FORM mean (k+1)/(n+2), sd √(αβ/((α+β)²(α+β+1))), and a
    normal-approximation 95% credible band (1.959964 shared literal —
    exact Beta quantiles need an incomplete-beta inverse neither
    engine ships; the approximation is explicit, not smuggled).  The
    point made visible: posterior_mean vs raw_rate shows Laplace
    shrinkage doing more work exactly where trials are few — the
    small-segment regularization every dashboard rate should get
    (r_wilson_lcb is the frequentist cousin on item ranking).

    Two map-side-combinable aggregates (user rollup → segment
    rollup); every reported number is one float association of exact
    BIGINT trials/successes.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    seg = per_user.groupBy(
        F.when(F.col("n") < 63, "light")
        .when(F.col("n") < 70, "mid")
        .otherwise("heavy")
        .alias("segment")
    ).agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("trials"),
        F.sum("k").cast("long").alias("successes"),
    )
    t, k = F.col("trials"), F.col("successes")
    pm = (k + 1.0) / (t + 2.0)
    psd = F.sqrt(
        (k + 1.0) * (t - k + 1.0) / ((t + 2.0) * (t + 2.0) * (t + 3.0))
    )
    return seg.select(
        "segment",
        "n_users",
        "trials",
        "successes",
        f6(k.cast("double") / t).alias("raw_rate"),
        f6(pm).alias("posterior_mean"),
        f6(psd).alias("posterior_sd"),
        f6(pm - 1.959964 * psd).alias("cred_lo"),
        f6(pm + 1.959964 * psd).alias("cred_hi"),
    ).orderBy("segment")


@register(
    "a_cross_correlation",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, x, y
        FROM daily
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
        FROM idx
    ),
    dev AS (
        SELECT t, CAST(tot.n * x - tot.sx AS BIGINT) AS dx,
               CAST(tot.n * y - tot.sy AS BIGINT) AS dy
        FROM idx CROSS JOIN tot
    ),
    den AS (
        SELECT sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS dxx,
               sum(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS dyy
        FROM dev
    ),
    lags AS (SELECT unnest(range(-7, 8)) AS lag),
    num AS (
        SELECT l.lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               sum(CAST(a.dx AS HUGEINT) * CAST(b.dy AS HUGEINT)) AS nk
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON b.t = a.t + l.lag
        GROUP BY l.lag
    )
    SELECT CAST(num.lag AS BIGINT) AS lag_days, num.n_pairs,
           round(CAST(nk AS DOUBLE)
                 / sqrt(CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 6)
               + 0 AS ccf
    FROM num CROSS JOIN den ORDER BY lag_days
    """,
)
def a_cross_correlation(spark, sf_dir):
    """Cross-correlation function at lags −7..+7 between daily clicks
    (x) and purchases (y) — LEAD-LAG detection: the lag whose ccf
    peaks says whether clicks lead purchases (marketing works with a
    delay), purchases lead clicks (post-purchase browsing), or
    neither.  a_partial_correlation answers 'same-day, confounder-
    adjusted'; this key scans the time axis — the prerequisite for
    any transfer-function or ad-stock model, with the full 15-lag
    profile reported so the peak is read, not asserted.

    Exactness is the a_ljung_box machinery doubled: pre-scaled
    integer deviations n·x−Σx and n·y−Σy (no float means), lag
    products accumulated as HUGEINT/DECIMAL exact integers via the
    dense day-index equi-join, one float division per lag against the
    √(Σdx²·Σdy²) normalizer.  Daily rollup is the only data-scale
    pass; the lag join runs on the bounded day axis.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
        "x",
        "y",
    )
    tot = idx.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
    )
    dev = idx.crossJoin(F.broadcast(tot)).select(
        "t",
        (F.col("n") * F.col("x") - F.col("sx")).cast("long").alias("dx"),
        (F.col("n") * F.col("y") - F.col("sy")).cast("long").alias("dy"),
    )
    den = dev.agg(
        F.sum(
            F.col("dx").cast("decimal(19,0)")
            * F.col("dx").cast("decimal(19,0)")
        ).alias("dxx"),
        F.sum(
            F.col("dy").cast("decimal(19,0)")
            * F.col("dy").cast("decimal(19,0)")
        ).alias("dyy"),
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("long").alias("lag"))
    a = dev.select(F.col("t").alias("ta"), F.col("dx").alias("da"))
    b = dev.select(F.col("t").alias("tb"), F.col("dy").alias("db"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(
                F.col("da").cast("decimal(19,0)")
                * F.col("db").cast("decimal(19,0)")
            ).alias("nk"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").alias("lag_days"),
            "n_pairs",
            f6(
                F.col("nk").cast("double")
                / F.sqrt(
                    F.col("dxx").cast("double")
                    * F.col("dyy").cast("double")
                )
            ).alias("ccf"),
        )
        .orderBy("lag_days")
    )


@register(
    "a_group_sequential",
    f"""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    assign AS (
        SELECT DISTINCT user_id, {_H32_USER} % 2 AS arm FROM events
    ),
    looks AS (SELECT unnest(range(1, 4)) AS look),
    ev AS (
        SELECT e.user_id, CAST(e.ts AS DATE) AS d,
               CASE WHEN e.event_type = 'purchase' AND e.value >= 300
                    THEN 1 ELSE 0 END AS conv
        FROM events e
    ),
    cum AS (
        SELECT l.look, a.arm,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n,
               CAST(count(DISTINCT CASE WHEN e.conv = 1
                                        THEN e.user_id END) AS BIGINT)
                   AS k
        FROM looks l
        CROSS JOIN bounds b
        JOIN ev e
          ON e.d < b.d0 + CAST(((b.d1 - b.d0 + 1) * l.look) // 3
                               AS INTEGER)
        JOIN assign a ON a.user_id = e.user_id
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT look,
               max(CASE WHEN arm = 1 THEN n END) AS n1,
               max(CASE WHEN arm = 0 THEN n END) AS n0,
               max(CASE WHEN arm = 1 THEN k END) AS k1,
               max(CASE WHEN arm = 0 THEN k END) AS k0
        FROM cum GROUP BY look
    ),
    z AS (
        SELECT look, n1, n0, k1, k0,
               (CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0)
               / sqrt(nullif((CAST(k1 + k0 AS DOUBLE) / (n1 + n0))
                      * (1.0 - CAST(k1 + k0 AS DOUBLE) / (n1 + n0)), 0.0)
                      * (1.0 / n1 + 1.0 / n0)) AS zv,
               CASE look WHEN 1 THEN 3.471 WHEN 2 THEN 2.454
                         ELSE 2.004 END AS obf_bound
        FROM wide
    )
    SELECT CAST(look AS BIGINT) AS look, n1 AS n_treat, n0 AS n_ctrl,
           round(zv, 6) + 0 AS z,
           CAST(obf_bound AS DOUBLE) + 0 AS obf_bound,
           CASE WHEN abs(zv) > obf_bound THEN 1 ELSE 0 END AS stop_flag
    FROM z ORDER BY look
    """,
)
def a_group_sequential(spark, sf_dir):
    """Group-sequential interim analysis with O'Brien-Fleming
    boundaries — the experimentation-platform discipline a_sprt's
    per-observation test doesn't give: three scheduled LOOKS (thirds
    of the window), each testing the cumulative high-value-conversion gap
    against an alpha-spending bound (3.471 / 2.454 / 2.004 — the
    classic K=3 OBF values, conservative early so peeking doesn't
    inflate α; the final bound ≈ the fixed-sample 1.96).  Under the
    md5 A/A split any stop is a budgeted 5% false alarm — and this
    fixture's draw lands at z≈2.21, flagging at the FINAL look only:
    the conservative early bounds (3.47, 2.45) correctly refuse the
    same evidence at looks 1-2, which is precisely the peeking
    protection the schedule buys.  The per-look table is the artifact
    a review board reads.

    Each look is a date-bounded cumulative rollup off the SAME scan
    (one pass joined to the 3-row look axis — no per-look rescans);
    conversion counts are exact distinct-user BIGINTs; z is one float
    association per bounded look row.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    assign = ev.select("user_id", (h32 % 2).alias("arm")).distinct()
    looks = spark.range(1, 4).select(F.col("id").cast("long").alias("look"))
    span = F.datediff(F.col("d1"), F.col("d0")) + 1
    cut = F.expr(
        "date_add(d0, CAST(floor((datediff(d1, d0) + 1) * look / 3)"
        " AS INT))"
    )
    evd = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") >= 300),
            1,
        )
        .otherwise(0)
        .alias("conv"),
    )
    cum = (
        looks.crossJoin(F.broadcast(b))
        .join(evd, evd.d < cut)
        .join(assign, "user_id")
        .groupBy("look", "arm")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n"),
            F.countDistinct(
                F.when(F.col("conv") == 1, F.col("user_id"))
            )
            .cast("long")
            .alias("k"),
        )
    )
    wide = cum.groupBy("look").agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("k"))).alias("k1"),
        F.max(F.when(F.col("arm") == 0, F.col("k"))).alias("k0"),
    )
    n1, n0, k1, k0 = (
        F.col("n1"),
        F.col("n0"),
        F.col("k1"),
        F.col("k0"),
    )
    p = (k1 + k0).cast("double") / (n1 + n0)
    zv = (k1.cast("double") / n1 - k0.cast("double") / n0) / F.sqrt(
        F.nullif(p * (1.0 - p), F.lit(0.0)) * (1.0 / n1 + 1.0 / n0)
    )
    obf = (
        F.when(F.col("look") == 1, 3.471)
        .when(F.col("look") == 2, 2.454)
        .otherwise(2.004)
    )
    return wide.select(
        F.col("look").cast("long").alias("look"),
        n1.alias("n_treat"),
        n0.alias("n_ctrl"),
        f6(zv).alias("z"),
        (obf + 0.0).alias("obf_bound"),
        F.when(F.abs(zv) > obf, 1).otherwise(0).alias("stop_flag"),
    ).orderBy("look")


@register(
    "a_process_capability",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    c AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS q
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           round(CAST(s AS DOUBLE) / n, 6) + 0 AS mean_daily,
           round(sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1.0)), 6)
               + 0 AS sigma,
           round((120.0 - 20.0)
                 / (6.0 * sqrt((q - CAST(s AS DOUBLE) * s / n)
                               / (n - 1.0))), 6) + 0 AS cp,
           round(least(120.0 - CAST(s AS DOUBLE) / n,
                       CAST(s AS DOUBLE) / n - 20.0)
                 / (3.0 * sqrt((q - CAST(s AS DOUBLE) * s / n)
                               / (n - 1.0))), 6) + 0 AS cpk,
           CASE WHEN least(120.0 - CAST(s AS DOUBLE) / n,
                           CAST(s AS DOUBLE) / n - 20.0)
                     / (3.0 * sqrt((q - CAST(s AS DOUBLE) * s / n)
                                   / (n - 1.0))) >= 1.33
                THEN 1 ELSE 0 END AS capable_flag
    FROM c ORDER BY event_type
    """,
)
def a_process_capability(spark, sf_dir):
    """Process capability Cp/Cpk — the OTHER half of SPC the control
    charts (w_control_chart, w_p_chart, w_cusum_alarm) don't answer:
    charts ask 'is the process stable'; capability asks 'is a STABLE
    process good enough for the spec'.  With daily per-type volume
    specs [20, 120] (shared literals — the load band a capacity plan
    provisions for), Cp = (USL−LSL)/6σ is the potential if centered,
    Cpk = min(USL−μ, μ−LSL)/3σ the reality including off-center drift
    — the 1.33 gate is the classic four-sigma capability bar.  Cp ≫
    Cpk is the actionable signature: the process is tight but
    mis-centered, fix the mean not the variance.

    One daily rollup + one per-type fold; μ and σ come from exact
    BIGINT n/Σx/Σx² in single float associations (sample σ, n−1) —
    the a_stats discipline pointed at a decision gate.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    c = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    n = F.col("n")
    mu = F.col("s").cast("double") / n
    sigma = F.sqrt(
        (F.col("q") - F.col("s").cast("double") * F.col("s") / n)
        / (n - 1.0)
    )
    cpk = F.least(120.0 - mu, mu - 20.0) / (3.0 * sigma)
    return c.select(
        "event_type",
        n.alias("n_days"),
        f6(mu).alias("mean_daily"),
        f6(sigma).alias("sigma"),
        f6((120.0 - 20.0) / (6.0 * sigma)).alias("cp"),
        f6(cpk).alias("cpk"),
        F.when(cpk >= 1.33, 1).otherwise(0).alias("capable_flag"),
    ).orderBy("event_type")


@register(
    "a_mde_curve",
    """
    WITH daily AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                         AND value >= 200
                                        THEN user_id END) AS BIGINT)
                   AS n_conv,
               CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        FROM events
    ),
    weeks AS (SELECT unnest(range(1, 9)) AS wk),
    curve AS (
        SELECT w.wk,
               CAST(round(CAST(d.n_users AS DOUBLE) / d.n_days * 7
                          * w.wk / 2.0) AS BIGINT) AS n_per_arm,
               CAST(d.n_conv AS DOUBLE) / d.n_users AS p
        FROM weeks w CROSS JOIN daily d
    )
    SELECT CAST(wk AS BIGINT) AS weeks, n_per_arm,
           round(p, 6) + 0 AS base_rate,
           round((1.959964 + 0.841621)
                 * sqrt(2.0 * p * (1.0 - p) / n_per_arm), 6) + 0
               AS mde_abs,
           round((1.959964 + 0.841621)
                 * sqrt(2.0 * p * (1.0 - p) / n_per_arm) / p, 6) + 0
               AS mde_rel
    FROM curve ORDER BY weeks
    """,
)
def a_mde_curve(spark, sf_dir):
    """Minimum-detectable-effect curve vs runtime — the experiment
    PLANNING view a_power_sample_size inverts: instead of 'how many
    users for effect X', answer 'running K weeks at OUR traffic, what
    is the smallest high-value-conversion lift we could detect' (80%
    power, α=.05 two-sided: MDE = (z_{.975}+z_{.80})·√(2p(1−p)/n),
    shared literals 1.959964 and 0.841621).  The 8-week curve is the
    artifact that ends 'just run it another week' debates: MDE shrinks
    with √t, so doubling runtime buys only a 29% finer effect — the
    sqrt wall made visible in both absolute and relative terms.

    One distinct-user scan yields traffic and base rate as exact
    BIGINTs; the curve is bounded literal math per week row — the
    planner costs one aggregation at any corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.countDistinct(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 200),
                F.col("user_id"),
            )
        )
        .cast("long")
        .alias("n_conv"),
        F.countDistinct(F.to_date("ts")).cast("long").alias("n_days"),
    )
    weeks = spark.range(1, 9).select(F.col("id").cast("long").alias("wk"))
    curve = weeks.crossJoin(F.broadcast(daily)).select(
        "wk",
        F.round(
            F.col("n_users").cast("double")
            / F.col("n_days")
            * 7
            * F.col("wk")
            / 2.0
        )
        .cast("long")
        .alias("n_per_arm"),
        (F.col("n_conv").cast("double") / F.col("n_users")).alias("p"),
    )
    mde = (1.959964 + 0.841621) * F.sqrt(
        2.0 * F.col("p") * (1.0 - F.col("p")) / F.col("n_per_arm")
    )
    return curve.select(
        F.col("wk").alias("weeks"),
        "n_per_arm",
        f6(F.col("p")).alias("base_rate"),
        f6(mde).alias("mde_abs"),
        f6(mde / F.col("p")).alias("mde_rel"),
    ).orderBy("weeks")


@register(
    "a_ar2_yule_walker",
    f"""
    WITH {_KD_DEV_SQL},
    moms AS (
        SELECT
            (SELECT sum(CAST(a.dv AS HUGEINT) * a.dv) FROM dev a) AS c0,
            (SELECT sum(CAST(a.dv AS HUGEINT) * b.dv)
             FROM dev a JOIN dev b ON b.t = a.t + 1) AS c1,
            (SELECT sum(CAST(a.dv AS HUGEINT) * b.dv)
             FROM dev a JOIN dev b ON b.t = a.t + 2) AS c2
    ),
    rho AS (
        SELECT CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
               CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2
        FROM moms
    )
    SELECT (SELECT n FROM tot) AS n_days,
           round(r1, 6) + 0 AS rho1,
           round(r2, 6) + 0 AS rho2,
           round(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6) + 0 AS phi1,
           round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) + 0 AS phi2,
           round(1.0 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1
                     - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2, 6) + 0
               AS resid_var_ratio
    FROM rho
    """,
)
def a_ar2_yule_walker(spark, sf_dir):
    """AR(2) fit by Yule-Walker — the PARAMETRIC time-series rung
    between the diagnostics (a_autocorr_daily, a_ljung_box tell you
    structure exists) and the smoothers (EWMA/Holt/Kalman track it
    without modeling it): the autoregressive coefficients come in
    closed form from the first two autocorrelations — φ₁ = ρ₁(1−ρ₂)/
    (1−ρ₁²), φ₂ = (ρ₂−ρ₁²)/(1−ρ₁²) — and the residual-variance
    ratio 1 − φ₁ρ₁ − φ₂ρ₂ says how much of tomorrow the last two
    days explain (≈1 means the AR model buys nothing — the honest
    answer on a white-noise fixture).  No iteration, no gradient:
    Yule-Walker IS the normal equations of lag regression.

    Integer discipline verbatim from a_ljung_box: kilodollar daily
    snaps, pre-scaled deviations n·x−Σx, HUGEINT/DECIMAL lag
    products, autocorrelations as single divisions of exact integers,
    one shared float association for each coefficient.
    """
    _, dev = _kd_dev(spark, sf_dir)
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    c0 = dev.agg(
        F.sum(dec(F.col("dv")) * dec(F.col("dv"))).alias("c0"),
        F.max("n").cast("long").alias("n"),
    )
    a = dev.select(F.col("t").alias("ta"), F.col("dv").alias("da"))
    b = dev.select(F.col("t").alias("tb"), F.col("dv").alias("db"))
    c1 = (
        a.join(b, F.col("tb") == F.col("ta") + 1)
        .agg(F.sum(dec(F.col("da")) * dec(F.col("db"))).alias("c1"))
    )
    c2 = (
        a.join(b, F.col("tb") == F.col("ta") + 2)
        .agg(F.sum(dec(F.col("da")) * dec(F.col("db"))).alias("c2"))
    )
    j = c0.crossJoin(F.broadcast(c1)).crossJoin(F.broadcast(c2))
    r1 = F.col("c1").cast("double") / F.col("c0").cast("double")
    r2 = F.col("c2").cast("double") / F.col("c0").cast("double")
    phi1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    return j.select(
        F.col("n").alias("n_days"),
        f6(r1).alias("rho1"),
        f6(r2).alias("rho2"),
        f6(phi1).alias("phi1"),
        f6(phi2).alias("phi2"),
        f6(1.0 - phi1 * r1 - phi2 * r2).alias("resid_var_ratio"),
    )


@register(
    "a_period_detect",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    idx AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, x
        FROM daily
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s
        FROM idx
    ),
    dev AS (
        SELECT t, CAST(tot.n * x - tot.s AS BIGINT) AS dv
        FROM idx CROSS JOIN tot
    ),
    c0 AS (
        SELECT sum(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)) AS den
        FROM dev
    ),
    lags AS (SELECT unnest(range(2, 15)) AS lag),
    acf AS (
        SELECT l.lag,
               CAST(round(CAST(sum(CAST(a.dv AS HUGEINT) * b.dv)
                               AS DOUBLE) / CAST(c0.den AS DOUBLE)
                          * 1e9) AS BIGINT) AS rho9
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON b.t = a.t + l.lag
        CROSS JOIN c0
        GROUP BY l.lag, c0.den
    ),
    best AS (
        SELECT CAST(min(lag) AS BIGINT) AS lag_star
        FROM acf WHERE rho9 = (SELECT max(rho9) FROM acf)
    )
    SELECT CAST(a.lag AS BIGINT) AS lag_days,
           round(a.rho9 / 1e9, 6) + 0 AS acf,
           CASE WHEN a.lag = b.lag_star THEN 1 ELSE 0 END
               AS dominant_flag
    FROM acf a CROSS JOIN best b
    ORDER BY lag_days
    """,
)
def a_period_detect(spark, sf_dir):
    """Dominant-period DISCOVERY via the autocorrelation profile — the
    step every seasonal key quietly skips: w_seasonality,
    w_holt_winters, and w_seasonal_naive_mape all ASSUME the cycle is
    7 days; this key scans ACF over lags 2..14 and flags the argmax
    (min-lag tiebreak), so the weekly assumption is checked against
    the data rather than imported from the calendar — on a corpus
    with a genuine weekly rhythm lag 7 wins, on white noise the
    argmax is arbitrary and the flat profile says so.  The full
    profile prints, so a secondary harmonic (lag 14 echoing lag 7) is
    visible too.

    Machinery is a_ljung_box's: pre-scaled integer deviations,
    HUGEINT lag products on the dense day index, ACF snapped to 1e-9
    BIGINTs so the argmax is an integer comparison — no float
    tie ambiguity across engines.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
        "x",
    )
    tot = idx.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = idx.crossJoin(F.broadcast(tot)).select(
        "t",
        (F.col("n") * F.col("x") - F.col("s")).cast("long").alias("dv"),
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    c0 = dev.agg(F.sum(dec(F.col("dv")) * dec(F.col("dv"))).alias("den"))
    lags = spark.range(2, 15).select(F.col("id").cast("long").alias("lag"))
    a = dev.select(F.col("t").alias("ta"), F.col("dv").alias("da"))
    b = dev.select(F.col("t").alias("tb"), F.col("dv").alias("db"))
    acf = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(dec(F.col("da")) * dec(F.col("db"))).alias("nk"))
        .crossJoin(F.broadcast(c0))
        .select(
            "lag",
            F.round(
                F.col("nk").cast("double") / F.col("den").cast("double")
                * 1e9
            )
            .cast("long")
            .alias("rho9"),
        )
    )
    # deterministic argmax: max rho9, min lag tiebreak
    best = (
        acf.orderBy(F.col("rho9").desc(), "lag")
        .limit(1)
        .select(F.col("lag").alias("lag_star"))
    )
    return (
        acf.crossJoin(F.broadcast(best))
        .select(
            F.col("lag").alias("lag_days"),
            f6(F.col("rho9") / 1e9).alias("acf"),
            F.when(F.col("lag") == F.col("lag_star"), 1)
            .otherwise(0)
            .alias("dominant_flag"),
        )
        .orderBy("lag_days")
    )


@register(
    "a_bland_altman",
    """
    WITH line_sums AS (
        SELECT l_orderkey,
               CAST(sum(CAST(round(l_extendedprice
                                   * (1 - l_discount) * (1 + l_tax)
                                   * 100) AS BIGINT)) AS BIGINT)
                   AS line_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    pairs AS (
        SELECT o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS hdr,
               ls.line_cents AS det,
               CAST(round(o.o_totalprice * 100) AS BIGINT)
                   - ls.line_cents AS diff
        FROM orders o JOIN line_sums ls
          ON ls.l_orderkey = o.o_orderkey
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(diff) AS BIGINT) AS s,
               sum(CAST(diff AS HUGEINT) * diff) AS q
        FROM pairs
    ),
    band AS (
        SELECT n,
               CAST(s AS DOUBLE) / n AS bias,
               sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                    / (n - 1.0)) AS sd
        FROM c
    )
    SELECT b.n AS n_orders,
           round(b.bias / 100.0, 4) + 0.0 AS bias_usd,
           round(b.sd / 100.0, 4) + 0.0 AS sd_usd,
           round((b.bias - 1.959964 * b.sd) / 100.0, 4) + 0.0 AS loa_lo_usd,
           round((b.bias + 1.959964 * b.sd) / 100.0, 4) + 0.0 AS loa_hi_usd,
           CAST((SELECT count(*) FROM pairs p, band bb
                 WHERE p.diff < bb.bias - 1.959964 * bb.sd
                    OR p.diff > bb.bias + 1.959964 * bb.sd) AS BIGINT)
               AS n_outside
    FROM band b
    """,
)
def a_bland_altman(spark, sf_dir):
    """Bland-Altman agreement limits — the CONTINUOUS-measure twin of
    t_labeler_kappa's binary agreement, applied to the two ways this
    schema states an order's value (header o_totalprice vs the
    tax-and-discount line reconstruction): mean bias says which
    source runs systematically high, the limits of agreement
    bias ± 1.96σ_d say how far an individual order can disagree under
    normal operation, and n_outside counts the orders breaching the
    band — the statistical upgrade over q_order_reconciliation's
    fixed-tolerance census (a tolerance is a guess; LoA are measured).
    The method is THE medical-measurement standard for 'do two
    instruments agree', which is exactly what dual-sourced warehouse
    columns are.

    Exact cent differences from one join, exact integer moments, two
    float associations and the shared 1.959964; the band breach count
    re-scans the bounded pair table against the computed limits. The
    squared-difference sum is DECIMAL(38,0): at sf0.1 it passes 2^63.
    """
    orders, li = tables(spark, sf_dir, "orders", "lineitem")
    line_sums = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            ).cast("long")
        )
        .cast("long")
        .alias("line_cents")
    )
    pairs = orders.join(
        line_sums, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        (
            F.round(F.col("o_totalprice") * 100).cast("long")
            - F.col("line_cents")
        ).alias("diff")
    )
    c = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("diff").cast("long").alias("s"),
        F.sum(F.col("diff").cast("decimal(38,0)") * F.col("diff")).alias("q"),
    )
    n = F.col("n")
    bias = F.col("s").cast("double") / n
    sd = F.sqrt(
        (
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s") / n
        )
        / (n - 1.0)
    )
    band = c.select(
        "n", bias.alias("bias"), sd.alias("sd")
    )
    outside = (
        pairs.crossJoin(F.broadcast(band))
        .where(
            (F.col("diff") < F.col("bias") - 1.959964 * F.col("sd"))
            | (F.col("diff") > F.col("bias") + 1.959964 * F.col("sd"))
        )
        .agg(F.count("*").cast("long").alias("n_outside"))
    )
    return band.crossJoin(F.broadcast(outside)).select(
        F.col("n").alias("n_orders"),
        (F.round(F.col("bias") / 100.0, 4) + 0.0).alias("bias_usd"),
        (F.round(F.col("sd") / 100.0, 4) + 0.0).alias("sd_usd"),
        (
            F.round(
                (F.col("bias") - 1.959964 * F.col("sd")) / 100.0, 4
            )
            + 0.0
        ).alias("loa_lo_usd"),
        (
            F.round(
                (F.col("bias") + 1.959964 * F.col("sd")) / 100.0, 4
            )
            + 0.0
        ).alias("loa_hi_usd"),
        "n_outside",
    )


@register(
    "a_lognormal_fit",
    """
    WITH x AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders WHERE o_totalprice > 0
    ),
    lns AS (
        SELECT CAST(round(ln(cents / 100.0) * 1e9) AS BIGINT) AS l9,
               cents, o_orderkey
        FROM x
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(l9) AS BIGINT) AS s,
               sum(CAST(l9 AS HUGEINT) * l9) AS q
        FROM lns
    ),
    emp AS (
        SELECT max(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END)
                   AS p99c
        FROM (SELECT cents,
                     row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
                     count(*) OVER () AS n
              FROM lns)
    )
    SELECT c.n AS n_orders,
           round(CAST(c.s AS DOUBLE) / 1e9 / c.n, 6) + 0 AS mu_log,
           round(sqrt((CAST(c.q AS DOUBLE) / 1e18
                       - (CAST(c.s AS DOUBLE) / 1e9)
                         * (CAST(c.s AS DOUBLE) / 1e9) / c.n)
                      / (c.n - 1.0)), 6) + 0 AS sigma_log,
           round(exp(CAST(c.s AS DOUBLE) / 1e9 / c.n
                     + 2.326348
                       * sqrt((CAST(c.q AS DOUBLE) / 1e18
                               - (CAST(c.s AS DOUBLE) / 1e9)
                                 * (CAST(c.s AS DOUBLE) / 1e9) / c.n)
                              / (c.n - 1.0))), 2) + 0.0
               AS implied_p99_usd,
           round(emp.p99c / 100.0, 2) + 0.0 AS empirical_p99_usd,
           round(exp(CAST(c.s AS DOUBLE) / 1e9 / c.n
                     + 2.326348
                       * sqrt((CAST(c.q AS DOUBLE) / 1e18
                               - (CAST(c.s AS DOUBLE) / 1e9)
                                 * (CAST(c.s AS DOUBLE) / 1e9) / c.n)
                              / (c.n - 1.0)))
                 / (emp.p99c / 100.0), 6) + 0 AS tail_ratio
    FROM c CROSS JOIN emp
    """,
)
def a_lognormal_fit(spark, sf_dir):
    """Lognormal fit of order values with a TAIL REALITY CHECK —
    completing the distribution-fitting shelf (a_gumbel_maxima for
    extremes, q_weibull_fit for lifetimes, a_negative_binomial_fit
    for counts; amounts are the lognormal's home turf): μ̂, σ̂ on the
    log scale, the implied P99 exp(μ̂ + 2.326348·σ̂), and the ratio
    against the rank-based EMPIRICAL P99 — the one-number answer to
    'can I use the lognormal for capacity/fraud thresholds here'
    (ratio ≈ 1) or 'the tail is fatter/thinner than lognormal'
    (a_hill_tail's territory).  TPC-H totals are roughly uniform, so
    the honest expected outcome is a ratio visibly off 1 — the check
    working, not failing.

    Per-row ln snaps to a 1e-9 BIGINT before the sums (HUGEINT for
    Σl²), so the log moments are reduction-order-free; the empirical
    P99 is the usual rank order statistic with an orderkey tiebreak.
    Round 10: the P99 runs over the DISTINCT-CENTS cumulative axis, not
    a row-level global sort — the value at rank k is the smallest
    distinct cents whose cumulative count reaches k (tiebreaks pick a
    row, never a different value), so the only partitionless window is
    over value cardinality, which saturates at the price domain. The
    oracle keeps the row-rank form; values are identical.
    """
    orders = load_table(spark, sf_dir, "orders")
    x = orders.where(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    lns = x.select(
        F.round(F.log(F.col("cents") / 100.0) * 1e9)
        .cast("long")
        .alias("l9"),
        "cents",
        "o_orderkey",
    )
    dec = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    c = lns.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("l9").cast("long").alias("s"),
        F.sum(dec(F.col("l9")) * dec(F.col("l9"))).alias("q"),
    )
    byc = lns.groupBy("cents").agg(F.count("*").cast("long").alias("cnt"))
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = byc.select("cents", F.sum("cnt").over(wc).alias("cum"))
    emp = (
        cum.crossJoin(F.broadcast(c.select("n")))
        .where(F.col("cum") >= F.floor((F.col("n") * 99 + 99) / 100))
        .agg(F.min("cents").alias("p99c"))
    )
    n = F.col("n")
    mu = F.col("s").cast("double") / 1e9 / n
    var = (
        F.col("q").cast("double") / 1e18
        - (F.col("s").cast("double") / 1e9)
        * (F.col("s").cast("double") / 1e9)
        / n
    ) / (n - 1.0)
    sigma = F.sqrt(var)
    implied = F.exp(mu + 2.326348 * sigma)
    return c.crossJoin(F.broadcast(emp)).select(
        n.alias("n_orders"),
        f6(mu).alias("mu_log"),
        f6(sigma).alias("sigma_log"),
        (F.round(implied, 2) + 0.0).alias("implied_p99_usd"),
        (F.round(F.col("p99c") / 100.0, 2) + 0.0).alias(
            "empirical_p99_usd"
        ),
        f6(implied / (F.col("p99c") / 100.0)).alias("tail_ratio"),
    )


# -- HyperLogLog with an EXACT SQL oracle -------------------------------------
#
# a_approx_distinct demonstrates Spark's built-in HLL++ (rows-only by
# contract: its hash family is engine-internal). These two keys implement
# HyperLogLog ITSELF (Flajolet et al. 2007, public) from md5-derived
# register hashes, so the sketch replays bit-identically in DuckDB and the
# oracle hash covers the full estimator, not just a row count. m = 64
# registers (p = 6): bucket = first 2 md5 hex chars mod 64, rank = leading
# zeros of the next 48 bits + 1 (w = 0 -> 49). alpha_64 = 0.709 per the
# paper; 2904.064 = alpha * m^2 and 562949953421312.0 = 2^49 below.
# Z = sum(2^-M_j) is computed as the EXACT integer S = sum(2^(49 - M_j))
# (every term a power of two <= 2^49, BIGINT-safe), so the only floats are
# the final division and the bounded-axis ln of the linear-counting branch.

_HLL_RANK_SQL = "CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END"


@register(
    "a_hll_manual",
    f"""
    WITH h AS (SELECT md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders),
    br AS (
        SELECT ('0x' || substring(hx, 1, 2))::BIGINT % 64 AS bucket,
               ('0x' || substring(hx, 3, 12))::BIGINT AS w
        FROM h
    ),
    regs AS (
        SELECT bucket, max({_HLL_RANK_SQL}) AS m FROM br GROUP BY bucket
    ),
    axis AS (SELECT unnest(range(0, 64)) AS bucket),
    fullr AS (
        SELECT a.bucket, coalesce(r.m, 0) AS m
        FROM axis a LEFT JOIN regs r ON r.bucket = a.bucket
    ),
    s AS (
        SELECT CAST(sum(1::BIGINT << CAST(49 - m AS INTEGER)) AS BIGINT) AS s2,
               CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
        FROM fullr
    ),
    est AS (
        SELECT CASE WHEN 2904.064 * (562949953421312.0 / s2) <= 160.0
                         AND v0 > 0
                    THEN 64.0 * ln(64.0 / v0)
                    ELSE 2904.064 * (562949953421312.0 / s2) END AS e
        FROM s
    ),
    ex AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
           FROM orders)
    SELECT round(e, 6) + 0 AS est_distinct, exact_distinct,
           round((e - exact_distinct) / exact_distinct, 6) + 0 AS rel_err
    FROM est CROSS JOIN ex
    """,
)
def a_hll_manual(spark, sf_dir):
    """HyperLogLog distinct-customer estimate with an EXACT SQL oracle
    (see the block comment above for the register construction). The
    honesty columns are the point: exact_distinct / rel_err report what
    the sketch actually missed — at 100 TB you would of course NOT
    compute the exact side; it exists here because a sketch whose error
    is never measured is a sketch you cannot trust.

    Scale: the sketch is ONE linear scan emitting (bucket, rank) pairs
    that partial-aggregate map-side to <= 64 rows per task — the shuffle
    is 64 registers TOTAL regardless of corpus size, and register merge
    is max() (associative + commutative + idempotent), which is the
    entire reason HLL is the distributed-counting workhorse: per-split
    sketches union for free across files, days, or executors. The
    small-range linear-counting branch (E <= 2.5m with empty registers)
    is implemented in both engines; its ln runs on the bounded V in
    1..64 axis, snapped at output per the house float discipline. BOTH
    branches are exercised and hash-verified: sf0.001's ~100-150
    distinct customers take the linear-counting path (and the pure-
    Python replay pytest pins Spark/DuckDB/math.log three-way ln
    agreement there), while sf0.01 takes the raw-estimator path.
    """
    orders = load_table(spark, sf_dir, "orders")
    br = orders.select(
        F.md5(F.col("o_custkey").cast("string")).alias("hx")
    ).select(
        (F.conv(F.substring("hx", 1, 2), 16, 10).cast("long") % 64).alias(
            "bucket"
        ),
        F.conv(F.substring("hx", 3, 12), 16, 10).cast("long").alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(49)).otherwise(
        F.lit(49) - F.length(F.bin("w"))
    )
    regs = br.select("bucket", rank.alias("r")).groupBy("bucket").agg(
        F.max("r").alias("m")
    )
    axis = spark.range(64).select(F.col("id").alias("bucket"))
    fullr = axis.join(regs, "bucket", "left").select(
        F.coalesce("m", F.lit(0)).alias("m")
    )
    s = fullr.agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(49 - m as int))"))
        .cast("long")
        .alias("s2"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).cast("long").alias("v0"),
    )
    raw = F.lit(2904.064) * (F.lit(562949953421312.0) / F.col("s2"))
    e = F.when(
        (raw <= 160.0) & (F.col("v0") > 0),
        F.lit(64.0) * F.log(F.lit(64.0) / F.col("v0")),
    ).otherwise(raw)
    ex = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return (
        s.select(e.alias("e"))
        .crossJoin(F.broadcast(ex))
        .select(
            f6(F.col("e")).alias("est_distinct"),
            "exact_distinct",
            f6((F.col("e") - F.col("exact_distinct")) / F.col("exact_distinct"))
            .alias("rel_err"),
        )
    )


@register(
    "a_hll_window_merge",
    f"""
    WITH br AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
                   % 64 AS bucket,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 3, 12))::BIGINT
                   AS w
        FROM events
    ),
    regs AS (
        SELECT d, bucket, max({_HLL_RANK_SQL}) AS m
        FROM br GROUP BY d, bucket
    ),
    days AS (SELECT DISTINCT d FROM regs),
    axis AS (SELECT unnest(range(0, 64)) AS bucket),
    grid AS (
        SELECT days.d, axis.bucket, coalesce(r.m, 0) AS m,
               CAST(days.d - DATE '1992-01-01' AS INTEGER) AS di
        FROM days CROSS JOIN axis
        LEFT JOIN regs r ON r.d = days.d AND r.bucket = axis.bucket
    ),
    merged AS (
        SELECT d, bucket,
               max(m) OVER (PARTITION BY bucket ORDER BY di
                            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS m7
        FROM grid
    ),
    s AS (
        SELECT d,
               CAST(sum(1::BIGINT << CAST(49 - m7 AS INTEGER)) AS BIGINT) AS s2,
               CAST(sum(CASE WHEN m7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
        FROM merged GROUP BY d
    ),
    est AS (
        SELECT d, CASE WHEN 2904.064 * (562949953421312.0 / s2) <= 160.0
                            AND v0 > 0
                       THEN 64.0 * ln(64.0 / v0)
                       ELSE 2904.064 * (562949953421312.0 / s2) END AS e
        FROM s
    ),
    pairs AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
        FROM events
    ),
    anchors AS (
        SELECT d + CAST(i AS INTEGER) AS a_day, user_id
        FROM pairs, unnest(range(0, 7)) AS t(i)
    ),
    exact7 AS (
        SELECT a.a_day AS d,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS exact_users7
        FROM anchors a JOIN days ON days.d = a.a_day
        GROUP BY 1
    )
    SELECT est.d AS day, round(est.e, 6) + 0 AS est_users7,
           x.exact_users7,
           round((est.e - x.exact_users7) / x.exact_users7, 6) + 0 AS rel_err
    FROM est JOIN exact7 x ON x.d = est.d
    ORDER BY day
    """,
)
def a_hll_window_merge(spark, sf_dir):
    """Trailing-7-day distinct users per day via HLL REGISTER MERGE — the
    mergeability demo a_hll_manual's docstring promises: per-day sketches
    (64 registers each) merge across any window by register-wise max(),
    so a rolling distinct over 7 days costs a 64-row window per day
    instead of re-scanning 7 days of raw events — the reason streaming /
    OLAP engines store per-partition HLL registers and union them at
    query time. q_dau_wau computes the same WAU exactly (explode-to-
    anchor + countDistinct); this key is its sketch sibling, with the
    exact rolling distinct kept as honesty columns (exact_users7 /
    rel_err) so the estimator's error is measured, not asserted.

    Scale: the register build is one scan with map-side combine to
    (days x 64) rows; the merge window runs over the bounded day axis
    partitioned by bucket (64 partitions of |days| rows — never event-
    scale). Day-grid and anchors explode only COLLAPSED (day, user) or
    (day, bucket) pairs. Estimator constants and the bounded-axis
    linear-counting branch are identical to a_hll_manual.
    """
    ev = load_table(spark, sf_dir, "events")
    hx = F.md5(F.col("user_id").cast("string"))
    br = ev.select(
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        (F.conv(F.substring(hx, 1, 2), 16, 10).cast("long") % 64).alias(
            "bucket"
        ),
        F.conv(F.substring(hx, 3, 12), 16, 10).cast("long").alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(49)).otherwise(
        F.lit(49) - F.length(F.bin("w"))
    )
    regs = (
        br.select("d", "bucket", rank.alias("r"))
        .groupBy("d", "bucket")
        .agg(F.max("r").alias("m"))
    )
    days = regs.select("d").distinct()
    axis = spark.range(64).select(F.col("id").alias("bucket"))
    grid = (
        days.crossJoin(F.broadcast(axis))
        .join(regs, ["d", "bucket"], "left")
        .select(
            "d",
            "bucket",
            F.coalesce("m", F.lit(0)).alias("m"),
            F.datediff("d", F.lit("1992-01-01").cast("date")).alias("di"),
        )
    )
    w7 = (
        Window.partitionBy("bucket").orderBy("di").rangeBetween(-6, 0)
    )
    merged = grid.select("d", F.max("m").over(w7).alias("m7"))
    s = merged.groupBy("d").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(49 - m7 as int))"))
        .cast("long")
        .alias("s2"),
        F.sum(F.when(F.col("m7") == 0, 1).otherwise(0))
        .cast("long")
        .alias("v0"),
    )
    raw = F.lit(2904.064) * (F.lit(562949953421312.0) / F.col("s2"))
    e = F.when(
        (raw <= 160.0) & (F.col("v0") > 0),
        F.lit(64.0) * F.log(F.lit(64.0) / F.col("v0")),
    ).otherwise(raw)
    pairs = ev.select(
        F.to_date(F.date_trunc("day", "ts")).alias("d"), "user_id"
    ).distinct()
    anchors = pairs.select(
        F.explode(F.expr("sequence(0, 6)")).alias("i"), "d", "user_id"
    ).select(F.expr("date_add(d, i)").alias("a_day"), "user_id")
    exact7 = (
        anchors.join(days.select(F.col("d").alias("a_day")), "a_day")
        .groupBy("a_day")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users7"))
        .select(F.col("a_day").alias("d"), "exact_users7")
    )
    return (
        s.select("d", e.alias("e"))
        .join(exact7, "d")
        .select(
            F.col("d").alias("day"),
            f6(F.col("e")).alias("est_users7"),
            "exact_users7",
            f6((F.col("e") - F.col("exact_users7")) / F.col("exact_users7"))
            .alias("rel_err"),
        )
        .orderBy("day")
    )


_MONTH_SCORED_SQL = """ret AS (
        SELECT l_orderkey,
               max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS y
        FROM lineitem GROUP BY 1
    ),
    scored AS (
        SELECT round(percent_rank() OVER (
                   PARTITION BY year(o_orderdate) * 12 + month(o_orderdate)
                   ORDER BY o_totalprice, o_orderkey), 1) AS p,
               ret.y
        FROM orders JOIN ret ON ret.l_orderkey = o_orderkey
    )"""


def _month_scored(spark, sf_dir):
    """The 11-bin return forecaster (the `_MONTH_SCORED_SQL` twin): per
    order, p = its within-month total-price percent rank rounded to 0.1,
    and y = 1 when any of its lineitems was returned: (p, y)."""
    ret = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("y")
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy(
        F.year("o_orderdate") * 12 + F.month("o_orderdate")
    ).orderBy("o_totalprice", "o_orderkey")
    return orders.join(ret, orders.o_orderkey == ret.l_orderkey).select(
        F.round(F.percent_rank().over(w), 1).alias("p"), "y"
    )


@register(
    "a_brier_decomposition",
    f"""
    WITH {_MONTH_SCORED_SQL},
    g AS (
        SELECT p, CAST(count(*) AS BIGINT) AS nk, avg(y) AS ybar_k,
               sum((p - y) * (p - y)) AS sq
        FROM scored GROUP BY p
    ),
    tot AS (
        SELECT CAST(sum(nk) AS BIGINT) AS n,
               sum(nk * ybar_k) / sum(nk) AS ybar,
               sum(sq) / sum(nk) AS brier
        FROM g
    )
    SELECT tot.n, round(tot.brier, 6) + 0 AS brier,
           round(sum(g.nk * (g.p - g.ybar_k) * (g.p - g.ybar_k)) / tot.n, 6)
               + 0 AS reliability,
           round(sum(g.nk * (g.ybar_k - tot.ybar) * (g.ybar_k - tot.ybar))
                 / tot.n, 6) + 0 AS resolution,
           round(tot.ybar * (1 - tot.ybar), 6) + 0 AS uncertainty,
           round(tot.brier
                 - (sum(g.nk * (g.p - g.ybar_k) * (g.p - g.ybar_k)) / tot.n
                    - sum(g.nk * (g.ybar_k - tot.ybar)
                          * (g.ybar_k - tot.ybar)) / tot.n
                    + tot.ybar * (1 - tot.ybar)), 9) + 0 AS identity_gap
    FROM g CROSS JOIN tot
    GROUP BY tot.n, tot.ybar, tot.brier
    """,
)
def a_brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the Brier score (Murphy 1973):
    brier = reliability - resolution + uncertainty, over a 11-bin
    forecaster (p = an order's within-month total-price percent rank,
    rounded to 0.1) predicting a binary outcome (the order contains a
    returned lineitem).  The decomposition is what a raw Brier score
    hides: this forecaster is roughly CALIBRATED (low reliability —
    bin means track bin forecasts about as well as chance allows) yet
    UNINFORMATIVE (resolution ~= 0 — every bin's outcome rate sits at
    the base rate), so its Brier rides ~entirely on the outcome's
    irreducible uncertainty ybar*(1-ybar).  identity_gap pins the
    algebraic identity at 9dp as an in-row self-audit — the
    within-bin-constant-forecast condition that makes Murphy exact
    holds by construction (p IS the bin).

    Scale: one window rank over orders (month-partitioned), one
    groupBy on 11 forecast bins, then 1-row arithmetic — the grouped
    frame is 11 rows regardless of data size, so the decomposition
    costs one shuffle more than the Brier score itself.
    """
    scored = _month_scored(spark, sf_dir)
    g = scored.groupBy("p").agg(
        F.count("*").cast("long").alias("nk"),
        F.avg("y").alias("ybar_k"),
        F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias(
            "sq"
        ),
    )
    tot = g.agg(
        F.sum("nk").cast("long").alias("n"),
        (F.sum(F.col("nk") * F.col("ybar_k")) / F.sum("nk")).alias("ybar"),
        (F.sum("sq") / F.sum("nk")).alias("brier"),
    )
    rel = F.sum(
        F.col("nk") * (F.col("p") - F.col("ybar_k")) * (F.col("p") - F.col("ybar_k"))
    ) / F.first("n")
    res = F.sum(
        F.col("nk")
        * (F.col("ybar_k") - F.col("ybar"))
        * (F.col("ybar_k") - F.col("ybar"))
    ) / F.first("n")
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy("n", "ybar", "brier")
        .agg(
            rel.alias("rel_raw"),
            res.alias("res_raw"),
        )
        .select(
            "n",
            f6(F.col("brier")).alias("brier"),
            f6(F.col("rel_raw")).alias("reliability"),
            f6(F.col("res_raw")).alias("resolution"),
            f6(F.col("ybar") * (1 - F.col("ybar"))).alias("uncertainty"),
            F.round(
                F.col("brier")
                - (
                    F.col("rel_raw")
                    - F.col("res_raw")
                    + F.col("ybar") * (1 - F.col("ybar"))
                ),
                9,
            ).alias("identity_gap"),
        )
    )


_RN_CENSUS_SQL = """vals AS (
        SELECT {v} AS v,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
        GROUP BY 1
    )"""


def _rn_census(spark, sf_dir, v):
    """Returned (R) and kept (N) lineitem counts per quantity value v
    (the `_RN_CENSUS_SQL` twin): (v, a, b), one row per distinct v."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag").isin("R", "N"))
        .groupBy(v.alias("v"))
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )


@register(
    "a_cliffs_delta",
    f"""
    WITH {_RN_CENSUS_SQL.format(v='l_quantity')},
    cum AS (
        SELECT v, a, b,
               coalesce(sum(b) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS b_below,
               coalesce(sum(a) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS a_below
        FROM vals
    ),
    tot AS (
        SELECT CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b,
               CAST(sum(a * b_below) AS BIGINT) AS n_gt,
               CAST(sum(b * a_below) AS BIGINT) AS n_lt,
               CAST(sum(a * b) AS BIGINT) AS n_tie
        FROM cum
    )
    SELECT n_a, n_b, n_gt, n_lt, n_tie,
           round((n_gt - n_lt) * 1.0 / (n_a * n_b), 6) + 0 AS cliffs_delta,
           CASE WHEN abs((n_gt - n_lt) * 1.0 / (n_a * n_b)) < 0.147
                    THEN 'negligible'
                WHEN abs((n_gt - n_lt) * 1.0 / (n_a * n_b)) < 0.33
                    THEN 'small'
                WHEN abs((n_gt - n_lt) * 1.0 / (n_a * n_b)) < 0.474
                    THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM tot
    """,
)
def a_cliffs_delta(spark, sf_dir):
    """Cliff's delta — the ordinal, tie-robust effect size that should
    accompany every Mann-Whitney p-value (a_mann_whitney says WHETHER
    the groups differ; this says HOW MUCH): delta = (#(X>Y) - #(X<Y))
    / (n_a * n_b) over returned-vs-shipped lineitem quantities, with
    the conventional |0.147/0.33/0.474| magnitude bands (Romano 2006).
    Small integer quantities make ties massive — exactly the data
    where Cohen's d misleads and delta's pair-dominance reading stays
    honest.

    Scale: NOT the naive n_a*n_b pair join — group counts per distinct
    value (one shuffle, cardinality = the value domain, ~50 here),
    then one cumulative window over that tiny frame turns pair
    dominance into sum(a_v * b_below_v) — all BIGINT-exact until the
    final 6dp ratio.  The same trick a_mann_whitney uses for U; at
    100 TB the value-domain frame is still tiny for any discrete
    measure, and for continuous ones you bucket first (the delta of
    the binned distribution bounds the true delta within bin mass).
    """
    li = _rn_census(spark, sf_dir, F.col("l_quantity"))
    w = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = li.select(
        "v",
        "a",
        "b",
        F.coalesce(F.sum("b").over(w), F.lit(0)).alias("b_below"),
        F.coalesce(F.sum("a").over(w), F.lit(0)).alias("a_below"),
    )
    tot = cum.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
        F.sum(F.col("a") * F.col("b_below")).cast("long").alias("n_gt"),
        F.sum(F.col("b") * F.col("a_below")).cast("long").alias("n_lt"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_tie"),
    )
    delta = (F.col("n_gt") - F.col("n_lt")) * 1.0 / (
        F.col("n_a") * F.col("n_b")
    )
    return tot.select(
        "n_a",
        "n_b",
        "n_gt",
        "n_lt",
        "n_tie",
        f6(delta).alias("cliffs_delta"),
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


@register(
    "a_isotonic_pav",
    f"""
    WITH {_MONTH_SCORED_SQL},
    bins AS (
        SELECT p, CAST(count(*) AS BIGINT) AS k,
               CAST(sum(y) AS BIGINT) AS s
        FROM scored GROUP BY p
    ),
    ivl AS (
        SELECT a.p AS pj, b.p AS pl,
               sum(c.s) * 1.0 / sum(c.k) AS mean_jl
        FROM bins a JOIN bins b ON a.p <= b.p
        JOIN bins c ON c.p BETWEEN a.p AND b.p
        GROUP BY a.p, b.p
    ),
    inner_min AS (
        SELECT g.p, i.pj, min(i.mean_jl) AS mn
        FROM bins g JOIN ivl i ON i.pj <= g.p AND i.pl >= g.p
        GROUP BY g.p, i.pj
    ),
    iso AS (SELECT p, max(mn) AS iso_raw FROM inner_min GROUP BY p)
    SELECT bins.p, bins.k AS n_k,
           round(bins.s * 1.0 / bins.k, 6) + 0 AS raw_rate,
           round(iso.iso_raw, 6) + 0 AS iso_rate
    FROM bins JOIN iso ON iso.p = bins.p
    ORDER BY bins.p
    """,
)
def a_isotonic_pav(spark, sf_dir):
    """Isotonic regression (pool-adjacent-violators) over the 11-bin
    forecaster of a_brier_decomposition — the calibration map every
    score-producing model ships behind: fitted rates are the CLOSEST
    monotone sequence to the raw bin rates in weighted L2.  Computed
    by PAV's minimax closed form instead of the sequential pooling
    loop: iso(i) = max_{j<=i} min_{l>=i} mean(y over bins j..l) —
    mathematically identical to PAV (Robertson et al. 1988) but
    expressed as two bounded aggregations over the interval lattice,
    so it is order-free and engine-portable.

    Scale: the data-sized work is ONE groupBy to the bin frame; the
    interval lattice is bins^2 = 121 rows and the minimax two more
    tiny aggregations — at 100 TB you'd still calibrate on a bounded
    bin axis (that is what calibration bins are FOR), so the closed
    form never touches data scale.  pytest pins the PAV invariants:
    monotone output, weighted-mean preservation, and fixed-point on
    already-monotone prefixes.
    """
    scored = _month_scored(spark, sf_dir)
    # r17 (guide §2.4/§5): the 11-row bin frame fed all three lattice
    # aliases uncached — 3 replays of the orders⋈returns rank chain.
    # Kept, measured at sf0.1 (5 alternating pairs, 4 cores, cache
    # cleared per run): median 2.91 -> 3.22 s without it, IQR 0.31 s.
    bins = scored.groupBy("p").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("y").cast("long").alias("s"),
    ).cache()
    # interval lattice over the bounded bin axis (121 rows at 11 bins)
    a, b, c = bins.alias("a"), bins.alias("b"), bins.alias("c")
    ivl = (
        a.join(b, F.col("a.p") <= F.col("b.p"))
        .join(
            c,
            F.col("c.p").between(F.col("a.p"), F.col("b.p")),
        )
        .groupBy(F.col("a.p").alias("pj"), F.col("b.p").alias("pl"))
        .agg((F.sum("c.s") * 1.0 / F.sum("c.k")).alias("mean_jl"))
    )
    g = bins.alias("g")
    inner_min = (
        g.join(
            ivl,
            (F.col("pj") <= F.col("g.p")) & (F.col("pl") >= F.col("g.p")),
        )
        .groupBy(F.col("g.p").alias("p"), "pj")
        .agg(F.min("mean_jl").alias("mn"))
    )
    iso = inner_min.groupBy("p").agg(F.max("mn").alias("iso_raw"))
    return (
        bins.join(iso, "p")
        .select(
            "p",
            F.col("k").alias("n_k"),
            f6(F.col("s") * 1.0 / F.col("k")).alias("raw_rate"),
            f6(F.col("iso_raw")).alias("iso_rate"),
        )
        .orderBy("p")
    )


@register(
    "a_tail_dependence",
    """
    WITH oq AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS x,
               CAST(qty.y AS BIGINT) AS y
        FROM orders JOIN (
            SELECT l_orderkey, sum(l_quantity) AS y
            FROM lineitem GROUP BY 1
        ) qty ON qty.l_orderkey = o_orderkey
    ),
    thr AS (
        SELECT 0.90 AS q, quantile_cont(x, 0.90) AS tx,
               quantile_cont(y, 0.90) AS ty FROM oq
        UNION ALL
        SELECT 0.95, quantile_cont(x, 0.95), quantile_cont(y, 0.95) FROM oq
        UNION ALL
        SELECT 0.99, quantile_cont(x, 0.99), quantile_cont(y, 0.99) FROM oq
    ),
    cnt AS (
        SELECT thr.q, thr.tx, thr.ty,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN oq.x > thr.tx AND oq.y > thr.ty
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_joint,
               CAST(sum(CASE WHEN oq.y > thr.ty THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cond,
               CAST(sum(CASE WHEN oq.x > thr.tx THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_x_exceed
        FROM oq CROSS JOIN thr
        GROUP BY thr.q, thr.tx, thr.ty
    )
    SELECT round(CAST(q AS DOUBLE), 2) + 0 AS q,
           round(tx / 100.0, 2) + 0 AS thr_price,
           round(ty, 2) + 0 AS thr_qty,
           n_joint, n_cond, n_x_exceed,
           round(n_joint * 1.0 / greatest(n_cond, 1), 6) + 0 AS lambda_u,
           round(n_x_exceed * 1.0 / n, 6) + 0 AS indep_baseline
    FROM cnt
    ORDER BY q
    """,
)
def a_tail_dependence(spark, sf_dir):
    """Empirical upper-tail dependence lambda_U(q) = P(X > x_q | Y >
    y_q) between an order's price and its total quantity at q in
    {0.90, 0.95, 0.99} — the dependence-in-extremes number that
    correlation structurally misses: two variables can be rho ~= 0.8
    yet asymptotically tail-independent (Gaussian copula), or weakly
    correlated yet co-crash (t copula).  Risk, fraud, and capacity
    models live on this distinction; the indep_baseline column
    (P(X > x_q), ~= 1-q) is the no-dependence reference the lambda
    should be read against.

    Scale: thresholds are ONE exact interpolated-percentile aggregate
    (a_median semantics, no global sort window), broadcast as a 3-row
    frame; the census is a single conditional-aggregation pass over
    the joined data — two shuffles total regardless of q-grid size,
    all counts BIGINT-exact against interpolated thresholds.
    """
    qty = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("y"))
    )
    oq = (
        load_table(spark, sf_dir, "orders")
        .join(qty, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
            F.col("y").cast("long").alias("y"),
        )
    )
    pt = oq.agg(
        F.expr("percentile(x, array(0.90D, 0.95D, 0.99D))").alias("txs"),
        F.expr("percentile(y, array(0.90D, 0.95D, 0.99D))").alias("tys"),
    )
    thr = pt.select(
        F.explode(
            F.arrays_zip(
                F.array(F.lit(0.90), F.lit(0.95), F.lit(0.99)).alias("q"),
                F.col("txs").alias("tx"),
                F.col("tys").alias("ty"),
            )
        ).alias("z")
    ).select("z.q", "z.tx", "z.ty")
    cnt = (
        oq.crossJoin(F.broadcast(thr))
        .groupBy("q", "tx", "ty")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(
                    (F.col("x") > F.col("tx")) & (F.col("y") > F.col("ty")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_joint"),
            F.sum(F.when(F.col("y") > F.col("ty"), 1).otherwise(0))
            .cast("long")
            .alias("n_cond"),
            F.sum(F.when(F.col("x") > F.col("tx"), 1).otherwise(0))
            .cast("long")
            .alias("n_x_exceed"),
        )
    )
    return cnt.select(
        (F.round(F.col("q"), 2) + 0).alias("q"),
        (F.round(F.col("tx") / 100.0, 2) + 0).alias("thr_price"),
        (F.round(F.col("ty"), 2) + 0).alias("thr_qty"),
        "n_joint",
        "n_cond",
        "n_x_exceed",
        f6(F.col("n_joint") * 1.0 / F.greatest(F.col("n_cond"), F.lit(1))).alias(
            "lambda_u"
        ),
        f6(F.col("n_x_exceed") * 1.0 / F.col("n")).alias("indep_baseline"),
    ).orderBy("q")


@register(
    "a_pinball_eval",
    """
    WITH daily AS (
        SELECT o_orderdate AS d,
               ((date_diff('day', DATE '1995-01-01', o_orderdate) % 7)
                + 7) % 7 AS dow,
               sum(o_totalprice) AS rev
        FROM orders GROUP BY 1, 2
    ),
    mx AS (SELECT max(d) AS maxd FROM daily),
    train AS (SELECT daily.* FROM daily, mx
              WHERE d < maxd - INTERVAL 27 DAY),
    holdout AS (SELECT daily.* FROM daily, mx
                WHERE d >= maxd - INTERVAL 27 DAY),
    taus AS (SELECT unnest([0.1, 0.5, 0.9]) AS tau),
    dowq AS (
        SELECT dow, t.tau,
               CASE t.tau WHEN 0.1 THEN quantile_cont(rev, 0.1)
                          WHEN 0.5 THEN quantile_cont(rev, 0.5)
                          ELSE quantile_cont(rev, 0.9) END AS f
        FROM train CROSS JOIN taus t GROUP BY dow, t.tau
    ),
    globq AS (
        SELECT t.tau,
               CASE t.tau WHEN 0.1 THEN quantile_cont(rev, 0.1)
                          WHEN 0.5 THEN quantile_cont(rev, 0.5)
                          ELSE quantile_cont(rev, 0.9) END AS f
        FROM train CROSS JOIN taus t GROUP BY t.tau
    ),
    scored AS (
        SELECT 'dow_quantile' AS model, q.tau, h.d,
               greatest(q.tau * (h.rev - q.f),
                        (q.tau - 1) * (h.rev - q.f)) AS loss
        FROM holdout h JOIN dowq q ON q.dow = h.dow
        UNION ALL
        SELECT 'global_quantile', g.tau, h.d,
               greatest(g.tau * (h.rev - g.f),
                        (g.tau - 1) * (h.rev - g.f))
        FROM holdout h CROSS JOIN globq g
    )
    SELECT model, round(CAST(tau AS DOUBLE), 1) + 0 AS tau,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(loss), 4) + 0 AS avg_pinball
    FROM scored GROUP BY model, tau
    ORDER BY model, tau
    """,
)
def a_pinball_eval(spark, sf_dir):
    """Pinball (quantile) loss evaluation — THE proper scoring rule for
    quantile forecasts, the one that actually ranks P10/P50/P90 bands
    (MAPE and RMSE silently reward median-only forecasters): two
    models forecast daily revenue quantiles for a 28-day holdout — a
    day-of-week-conditional empirical quantile (fitted on the training
    days of the same weekday) and an unconditional global quantile —
    and each is charged L_tau(y, f) = max(tau*(y-f), (tau-1)*(y-f))
    averaged over the holdout.  Reading the table: the conditional
    model should win wherever weekday seasonality is real, and the
    tau = 0.1 / 0.9 rows reward bands that are SHARP as well as
    calibrated — exactly what interval-width rules of thumb miss.

    Scale: one date rollup, exact-percentile aggregates on the train
    split (bounded: 7 dow groups x 3 taus), and a broadcast join of
    those few quantile rows onto the holdout — the eval costs two
    shuffles no matter the horizon or tau grid.  The dow key is
    engine-portable by construction (days-since-epoch-anchor % 7,
    never the locale-dependent dayofweek builtin).
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .withColumn(
            # pmod: sign-safe weekday key — % is truncated modulo on
            # both engines and goes negative for pre-anchor dates
            "dow",
            F.pmod(F.datediff(F.col("d"), F.lit("1995-01-01")), F.lit(7)),
        )
    )
    mx = daily.agg(F.max("d").alias("maxd"))
    daily_b = daily.crossJoin(F.broadcast(mx))
    train = daily_b.where(F.col("d") < F.date_sub(F.col("maxd"), 27))
    holdout = daily_b.where(F.col("d") >= F.date_sub(F.col("maxd"), 27))
    tau_arr = F.array(F.lit(0.1), F.lit(0.5), F.lit(0.9)).alias("tau")

    dowq = (
        train.groupBy("dow")
        .agg(F.expr("percentile(rev, array(0.1D, 0.5D, 0.9D))").alias("fs"))
        .select(
            "dow",
            F.explode(F.arrays_zip(tau_arr, F.col("fs").alias("f"))).alias(
                "z"
            ),
        )
        .select("dow", "z.tau", "z.f")
    )
    globq = (
        train.agg(
            F.expr("percentile(rev, array(0.1D, 0.5D, 0.9D))").alias("fs")
        )
        .select(
            F.explode(F.arrays_zip(tau_arr, F.col("fs").alias("f"))).alias(
                "z"
            )
        )
        .select("z.tau", "z.f")
    )
    err = F.col("rev") - F.col("f")
    loss = F.greatest(
        F.col("tau") * err, (F.col("tau") - 1) * err
    ).alias("loss")
    scored = (
        holdout.join(F.broadcast(dowq), "dow")
        .select(F.lit("dow_quantile").alias("model"), "tau", loss)
        .unionByName(
            holdout.crossJoin(F.broadcast(globq)).select(
                F.lit("global_quantile").alias("model"), "tau", loss
            )
        )
    )
    return (
        scored.groupBy("model", "tau")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            (F.round(F.avg("loss"), 4) + 0).alias("avg_pinball"),
        )
        .select(
            "model",
            (F.round(F.col("tau"), 1) + 0).alias("tau"),
            "n_days",
            "avg_pinball",
        )
        .orderBy("model", "tau")
    )


@register(
    "a_chatterjee_xi",
    """
    WITH daily AS (
        SELECT o_orderdate AS d, sum(o_totalprice) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT d, x, y,
               CAST(count(*) OVER (ORDER BY y
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS r,
               CAST(count(*) OVER (ORDER BY y DESC
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS l
        FROM daily
    ),
    seq AS (
        SELECT r, l,
               lag(r) OVER (ORDER BY x, d) AS r_prev
        FROM ranked
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN r_prev IS NULL THEN 0
                        ELSE abs(r - r_prev) END) AS BIGINT) AS s1,
               CAST(sum(l * (count_n - l)) AS BIGINT) AS s2
        FROM seq CROSS JOIN (SELECT count(*) AS count_n FROM seq)
    ),
    p AS (SELECT corr(x, y) AS pearson FROM daily)
    SELECT s.n AS n_days,
           round(1.0 - s.n * s.s1 * 1.0 / (2.0 * s.s2), 6) + 0 AS xi,
           round(p.pearson, 6) + 0 AS pearson
    FROM s CROSS JOIN p
    """,
)
def a_chatterjee_xi(spark, sf_dir):
    """Chatterjee's xi (2020) — the modern dependence coefficient that
    detects ANY functional relationship, not just monotone ones:
    order the (X = daily revenue, Y = daily order count) pairs by X
    and measure how wildly Y's cumulative ranks jump between
    neighbors; xi = 1 - n*sum|r_{i+1}-r_i| / (2*sum l_i(n-l_i)) in
    the ties-robust general form (r_i = #{y_j <= y_i}, l_i = #{y_j >=
    y_i}).  xi ~ 0 for independence, -> 1 as Y becomes a measurable
    function of X — including relationships where Pearson (printed
    alongside) reads ~0, which is the whole point of shipping both.

    Scale: the data-sized shuffle is the daily rollup; the rank
    machinery runs on the bounded calendar axis (~2.4k days —
    whitelisted, the a_runs_test daily-series pattern) with two
    RANGE-frame cumulative counts (tie-correct on both engines by
    frame semantics, no midrank arithmetic) and one lag.  All
    integers until the final ratio.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum("o_totalprice").alias("x"),
            F.count("*").cast("long").alias("y"),
        )
    )
    wr = Window.orderBy("y").rangeBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy(F.col("y").desc()).rangeBetween(
        Window.unboundedPreceding, 0
    )
    ranked = daily.select(
        "d",
        "x",
        "y",
        F.count("*").over(wr).cast("long").alias("r"),
        F.count("*").over(wl).cast("long").alias("l"),
    )
    seq = ranked.select(
        "r",
        "l",
        F.lag("r").over(Window.orderBy("x", "d")).alias("r_prev"),
    )
    n_tot = seq.agg(F.count("*").alias("count_n"))
    s = seq.crossJoin(F.broadcast(n_tot)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(F.col("r_prev").isNull(), 0).otherwise(
                F.abs(F.col("r") - F.col("r_prev"))
            )
        )
        .cast("long")
        .alias("s1"),
        F.sum(F.col("l") * (F.col("count_n") - F.col("l")))
        .cast("long")
        .alias("s2"),
    )
    p = daily.agg(F.corr("x", "y").alias("pearson"))
    return s.crossJoin(F.broadcast(p)).select(
        F.col("n").alias("n_days"),
        f6(1.0 - F.col("n") * F.col("s1") * 1.0 / (2.0 * F.col("s2"))).alias(
            "xi"
        ),
        f6(F.col("pearson")).alias("pearson"),
    )


def _ipf_iter_sql(i):
    """One IPF iteration: row-scale to uniform priority margins, then
    col-scale to uniform dow margins (targets t/np and t/nd)."""
    return f"""
    r{i} AS (SELECT pri, sum(w) AS rs FROM w{2 * i - 2} GROUP BY pri),
    w{2 * i - 1} AS (
        SELECT w{2 * i - 2}.pri, w{2 * i - 2}.dow,
               w{2 * i - 2}.w * (tot.t * 1.0 / tot.np) / r{i}.rs AS w
        FROM w{2 * i - 2} JOIN r{i} ON r{i}.pri = w{2 * i - 2}.pri
        CROSS JOIN tot
    ),
    c{i} AS (SELECT dow, sum(w) AS cs FROM w{2 * i - 1} GROUP BY dow),
    w{2 * i} AS (
        SELECT w{2 * i - 1}.pri, w{2 * i - 1}.dow,
               w{2 * i - 1}.w * (tot.t * 1.0 / tot.nd) / c{i}.cs AS w
        FROM w{2 * i - 1} JOIN c{i} ON c{i}.dow = w{2 * i - 1}.dow
        CROSS JOIN tot
    )"""


@register(
    "a_raking_ipf",
    f"""
    WITH cells AS (
        SELECT o_orderpriority AS pri,
               ((date_diff('day', DATE '1995-01-01', o_orderdate) % 7)
                + 7) % 7 AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS t, count(DISTINCT pri) AS np,
                   count(DISTINCT dow) AS nd
            FROM cells),
    w0 AS (SELECT pri, dow, n * 1.0 AS w FROM cells),
    {_ipf_iter_sql(1)},
    {_ipf_iter_sql(2)},
    {_ipf_iter_sql(3)}
    SELECT c.pri, c.dow, c.n AS n_obs,
           round(w6.w, 6) + 0 AS fitted,
           round(w6.w / c.n, 6) + 0 AS weight
    FROM cells c JOIN w6 ON w6.pri = c.pri AND w6.dow = c.dow
    ORDER BY c.pri, c.dow
    """,
)
def a_raking_ipf(spark, sf_dir):
    """Survey raking (iterative proportional fitting, Deming-Stephan
    1940): re-weight the (order priority x day-of-week) contingency
    table so BOTH margins hit uniform population targets while cell
    interactions are preserved — the weighting step every survey,
    panel, and observational-bias correction runs before estimating
    anything.  Three IPF iterations (row-scale, col-scale) — unrolled
    CTEs on the oracle side, ONE Arrow batch on the Spark side (the
    margin table is 35 cells; shipping it to pandas replaces ~12 tiny
    sequential shuffle stages with one) — and with margins this size
    IPF's
    geometric convergence makes iteration 3 exact to well under the
    6dp snap (the final col-scale leaves dow margins EXACT by
    construction — the pytest pin — and priority margins within the
    convergence residual).

    Scale: the data-sized work is ONE groupBy to the 35-cell census;
    the iterations cost one Arrow batch of margin-table size — at any
    corpus size production raking (census weighting at national
    scale) runs on exactly this plan with the census as the only big
    shuffle.
    """
    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            # pmod keeps the weekday key non-negative for pre-anchor
            # dates (truncated % would split each dow into two keys)
            F.pmod(
                F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")),
                F.lit(7),
            ).alias("dow"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    # The lattice is 35 cells: ship it as ONE Arrow batch and run all
    # six IPF scale steps in pandas — one census shuffle + one Arrow
    # stage, instead of ~12 tiny sequential shuffle stages whose fixed
    # latency dwarfs the arithmetic (the u_grouped_model_fit shape:
    # per-group closed-form fitting, group = the whole margin table).
    import pandas as pd  # noqa: PLC0415

    def ipf(pdf: pd.DataFrame) -> pd.DataFrame:
        t = float(pdf["n"].sum())
        n_pri = float(pdf["pri"].nunique())
        n_dow = float(pdf["dow"].nunique())
        w = pdf["n"].astype("float64")
        for _ in range(3):
            w = w * (t / n_pri) / w.groupby(pdf["pri"]).transform("sum")
            w = w * (t / n_dow) / w.groupby(pdf["dow"]).transform("sum")
        return pd.DataFrame(
            {
                "pri": pdf["pri"],
                "dow": pdf["dow"],
                "n_obs": pdf["n"],
                "x": w,
            }
        )

    fitted = cells.groupBy(F.lit(1).alias("g")).applyInPandas(
        ipf, schema="pri string, dow long, n_obs long, x double"
    )
    return fitted.select(
        "pri",
        "dow",
        "n_obs",
        f6(F.col("x")).alias("fitted"),
        f6(F.col("x") / F.col("n_obs")).alias("weight"),
    ).orderBy("pri", "dow")


@register(
    "a_mcc_confusion",
    """
    WITH ret AS (
        SELECT l_orderkey,
               max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS y
        FROM lineitem GROUP BY 1
    ),
    base AS (
        SELECT ret.y,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS pred_priority,
               CASE WHEN o.o_totalprice > 200000 THEN 1 ELSE 0 END
                   AS pred_price
        FROM orders o JOIN ret ON ret.l_orderkey = o.o_orderkey
    ),
    rules AS (
        SELECT 'high_priority' AS rule, y, pred_priority AS p FROM base
        UNION ALL
        SELECT 'high_price', y, pred_price FROM base
    ),
    cm AS (
        SELECT rule,
               CAST(sum(CASE WHEN p = 1 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(sum(CASE WHEN p = 1 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(sum(CASE WHEN p = 0 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn,
               CAST(sum(CASE WHEN p = 0 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tn
        FROM rules GROUP BY rule
    )
    SELECT rule, tp, fp, fn, tn,
           round((tp * tn - fp * fn) * 1.0
                 / greatest(sqrt((tp + fp) * 1.0) * sqrt((tp + fn) * 1.0)
                            * sqrt((tn + fp) * 1.0) * sqrt((tn + fn) * 1.0),
                            1e-12), 6) + 0 AS mcc,
           round((tp * 1.0 / greatest(tp + fn, 1)
                  + tn * 1.0 / greatest(tn + fp, 1)) / 2, 6) + 0
               AS balanced_acc,
           round(2.0 * tp / greatest(2 * tp + fp + fn, 1), 6) + 0 AS f1
    FROM cm ORDER BY rule
    """,
)
def a_mcc_confusion(spark, sf_dir):
    """Matthews correlation + the confusion-matrix metric surface for
    two candidate business rules predicting has-returned-lineitem
    (high order priority; high order value) — the classifier-audit
    table that catches what accuracy hides on imbalanced outcomes:
    MCC is the only single number here that goes to 0 for
    constant/chance predictors REGARDLESS of class balance (it is the
    Pearson correlation of the binary variables), while balanced
    accuracy and F1 are shown alongside because each can look healthy
    on a chance rule.  On this corpus both rules are independent of
    returns, so MCC ~ 0 — the honest no-signal verdict a rule-mining
    pipeline must be able to print.

    Exactness: the sqrt of the product is factored into four scalar
    sqrts (the raw product of four ~n-sized BIGINTs overflows at
    ~60k orders; sqrt-per-factor keeps every intermediate in double
    range with identical association on both engines).

    Scale: one map-side flag projection + a 2x4-cell conditional
    aggregation — the whole audit is one shuffle regardless of rule
    count, and adding rules is adding CASE columns, not passes.
    """
    ret = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("y")
        )
    )
    base = (
        load_table(spark, sf_dir, "orders")
        .join(ret, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "y",
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("pred_priority"),
            F.when(F.col("o_totalprice") > 200000, 1)
            .otherwise(0)
            .alias("pred_price"),
        )
    )
    rules = base.select(
        F.lit("high_priority").alias("rule"),
        "y",
        F.col("pred_priority").alias("p"),
    ).unionByName(
        base.select(
            F.lit("high_price").alias("rule"), "y", F.col("pred_price").alias("p")
        )
    )

    def cell(pv, yv, name):
        return (
            F.sum(F.when((F.col("p") == pv) & (F.col("y") == yv), 1).otherwise(0))
            .cast("long")
            .alias(name)
        )

    cm = rules.groupBy("rule").agg(
        cell(1, 1, "tp"), cell(1, 0, "fp"), cell(0, 1, "fn"), cell(0, 0, "tn")
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    denom = F.greatest(
        F.sqrt((tp + fp) * 1.0)
        * F.sqrt((tp + fn) * 1.0)
        * F.sqrt((tn + fp) * 1.0)
        * F.sqrt((tn + fn) * 1.0),
        F.lit(1e-12),
    )
    return cm.select(
        "rule",
        "tp",
        "fp",
        "fn",
        "tn",
        f6((tp * tn - fp * fn) * 1.0 / denom).alias("mcc"),
        f6(
            (
                tp * 1.0 / F.greatest(tp + fn, F.lit(1))
                + tn * 1.0 / F.greatest(tn + fp, F.lit(1))
            )
            / 2
        ).alias("balanced_acc"),
        f6(2.0 * tp / F.greatest(2 * tp + fp + fn, F.lit(1))).alias("f1"),
    ).orderBy("rule")


# The customer-churn risk set (oracle twin of modern.churn_lifetimes +
# churn_risk_set): a customer dies when its last order is over 90 days
# before the corpus end; n is the number still at risk at lifetime t.
_CHURN_RISK_SQL = """bounds AS (SELECT max(o_orderdate) AS tmax FROM orders),
    life AS (
        SELECT o_custkey,
               CAST(datediff('day', min(o_orderdate), max(o_orderdate))
                    AS BIGINT) AS t,
               CASE WHEN datediff('day', max(o_orderdate),
                                  (SELECT tmax FROM bounds)) > 90
                    THEN 1 ELSE 0 END AS died
        FROM orders GROUP BY o_custkey
    ),
    counts AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(died) AS BIGINT) AS d
        FROM life GROUP BY t
    ),
    at_risk AS (
        SELECT t, d,
               sum(c) OVER (ORDER BY t DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS n
        FROM counts
    )"""


@register(
    "a_survival_rmst",
    f"""
    WITH {_CHURN_RISK_SQL},
    km AS (
        SELECT t,
               sum(CAST(round(ln(1.0 - d * 1.0 / n) * 1e12) AS BIGINT))
                   OVER (ORDER BY t) AS logs12
        FROM at_risk WHERE d > 0 AND d < n
    ),
    capped AS (
        SELECT least(t, 365) AS tc,
               exp(logs12 / 1e12) AS s_after,
               coalesce(lag(least(t, 365)) OVER (ORDER BY t), 0) AS tc_prev,
               coalesce(lag(exp(logs12 / 1e12)) OVER (ORDER BY t), 1.0)
                   AS s_before
        FROM km WHERE t <= 365
    ),
    pieces AS (
        SELECT sum(s_before * (tc - tc_prev)) AS area,
               max(tc) AS t_last, min(s_after) AS s_floor,
               CAST(count(*) AS BIGINT) AS n_events
        FROM capped
    ),
    naive AS (
        SELECT avg(least(t, 365) * 1.0) AS naive_mean,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM life
    )
    SELECT CAST(365 AS BIGINT) AS tau,
           p.n_events, nv.n_customers,
           round(p.area + p.s_floor * (365 - p.t_last), 6) + 0
               AS rmst_days,
           round(p.s_floor, 6) + 0 AS s_at_tau,
           round(nv.naive_mean, 6) + 0 AS naive_mean_days
    FROM pieces p CROSS JOIN naive nv
    """,
)
def a_survival_rmst(spark, sf_dir):
    """Restricted mean survival time (RMST, tau = 365 days) — the
    estimand regulators and trialists moved to when median survival
    is undefined or hazards cross: the AREA under the Kaplan-Meier
    curve up to tau, i.e. expected active days in the first year,
    computed as the exact stepwise integral sum S(t_{i-1}) * (t_i -
    t_{i-1}) + S(last) * (tau - t_last) over q_kaplan_meier's
    1e-12-snapped product-limit curve (same customer-activity
    lifetimes, same censoring rule).  naive_mean_days — the mean of
    min(lifetime, tau) that treats censored customers as dead at
    their last order — is printed alongside: RMST minus naive IS the
    censoring bias in day units, the concrete number the KM machinery
    buys.

    Scale: identical cost profile to q_kaplan_meier (per-customer
    fold + windows on the calendar-bounded event-time axis); the
    integral adds one lag window and a 1-row sum.
    """
    # imported here: a module-level import would register modern's keys
    # ahead of this module's and reorder the registry
    from .modern import churn_lifetimes, churn_risk_set

    life = churn_lifetimes(spark, sf_dir)
    w_fwd = Window.orderBy("t")
    km = churn_risk_set(life).select(
        "t",
        F.sum(
            F.round(F.log(1.0 - F.col("d") * 1.0 / F.col("n")) * 1e12).cast(
                "long"
            )
        )
        .over(w_fwd)
        .alias("logs12"),
    )
    s_after = F.exp(F.col("logs12") / 1e12)
    capped = km.where(F.col("t") <= 365).select(
        F.least(F.col("t"), F.lit(365)).alias("tc"),
        s_after.alias("s_after"),
        F.coalesce(
            F.lag(F.least(F.col("t"), F.lit(365))).over(w_fwd), F.lit(0)
        ).alias("tc_prev"),
        F.coalesce(F.lag(s_after).over(w_fwd), F.lit(1.0)).alias("s_before"),
    )
    pieces = capped.agg(
        F.sum(F.col("s_before") * (F.col("tc") - F.col("tc_prev"))).alias(
            "area"
        ),
        F.max("tc").alias("t_last"),
        F.min("s_after").alias("s_floor"),
        F.count("*").cast("long").alias("n_events"),
    )
    naive = life.agg(
        F.avg(F.least(F.col("t"), F.lit(365)) * 1.0).alias("naive_mean"),
        F.count("*").cast("long").alias("n_customers"),
    )
    return pieces.crossJoin(F.broadcast(naive)).select(
        F.lit(365).cast("long").alias("tau"),
        "n_events",
        "n_customers",
        f6(
            F.col("area") + F.col("s_floor") * (365 - F.col("t_last"))
        ).alias("rmst_days"),
        f6(F.col("s_floor")).alias("s_at_tau"),
        f6(F.col("naive_mean")).alias("naive_mean_days"),
    )


@register(
    "a_atkinson_index",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               avg(cents * 1.0) AS mean_c,
               exp(avg(ln(cents * 1.0))) AS geo_c,
               count(*) / sum(1.0 / cents) AS harm_c
        FROM spend WHERE cents > 0
    )
    SELECT n,
           round(mean_c / 100, 2) + 0 AS mean_spend,
           round(geo_c / 100, 2) + 0 AS geomean_spend,
           round(harm_c / 100, 2) + 0 AS harmonic_spend,
           round(1.0 - geo_c / mean_c, 6) + 0 AS atkinson_e1,
           round(1.0 - harm_c / mean_c, 6) + 0 AS atkinson_e2
    FROM m
    """,
)
def a_atkinson_index(spark, sf_dir):
    """Atkinson inequality index of customer spend at the two standard
    aversion levels — the member of the inequality family (a_gini,
    a_theil_index) with an explicit WELFARE reading: A(eps) is the
    fraction of total spend society could discard and be equally well
    off IF it were distributed equally, under aversion eps.  Both
    levels are closed-form mean ratios (the generalized-mean
    collapse): A(1) = 1 - geomean/mean, A(2) = 1 - harmonic/mean —
    so the whole index family costs ONE aggregation pass (sum, sum of
    logs, sum of reciprocals), unlike Gini's sorted prefix machinery.
    The ordering A(2) >= A(1) >= 0 (generalized-mean inequality) is
    the pytest pin.

    Scale: one customer rollup + one global aggregate — every moment
    is map-side combinable; at 100 TB this is the cheapest inequality
    audit there is, which is exactly why it belongs next to the Gini
    whose exact form needs a sort.
    """
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents")
        )
        .where(F.col("cents") > 0)
    )
    m = spend.agg(
        F.count("*").cast("long").alias("n"),
        F.avg(F.col("cents") * 1.0).alias("mean_c"),
        F.exp(F.avg(F.log(F.col("cents") * 1.0))).alias("geo_c"),
        (F.count("*") / F.sum(1.0 / F.col("cents"))).alias("harm_c"),
    )
    return m.select(
        "n",
        (F.round(F.col("mean_c") / 100, 2) + 0).alias("mean_spend"),
        (F.round(F.col("geo_c") / 100, 2) + 0).alias("geomean_spend"),
        (F.round(F.col("harm_c") / 100, 2) + 0).alias("harmonic_spend"),
        f6(1.0 - F.col("geo_c") / F.col("mean_c")).alias("atkinson_e1"),
        f6(1.0 - F.col("harm_c") / F.col("mean_c")).alias("atkinson_e2"),
    )


@register(
    "a_somers_d",
    """
    WITH lc AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS y
        FROM lineitem GROUP BY 1
    ),
    b AS (
        SELECT quantile_cont(o_totalprice,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM orders
    ),
    cells AS (
        SELECT CAST(1
                 + (CASE WHEN o_totalprice > qs[1] THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice > qs[2] THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice > qs[3] THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice > qs[4] THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice > qs[5] THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice > qs[6] THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice > qs[7] THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice > qs[8] THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice > qs[9] THEN 1 ELSE 0 END)
               AS BIGINT) AS xb,
               lc.y AS y, CAST(count(*) AS BIGINT) AS n
        FROM orders JOIN lc ON lc.l_orderkey = o_orderkey CROSS JOIN b
        GROUP BY 1, 2
    ),
    pairstats AS (
        SELECT
            CAST(sum(CASE WHEN a.xb < c.xb AND a.y < c.y
                          THEN a.n * c.n ELSE 0 END) AS BIGINT) AS conc,
            CAST(sum(CASE WHEN a.xb < c.xb AND a.y > c.y
                          THEN a.n * c.n ELSE 0 END) AS BIGINT) AS disc,
            CAST(sum(CASE WHEN a.xb = c.xb AND a.y < c.y
                          THEN a.n * c.n ELSE 0 END) AS BIGINT) AS tiex_cross,
            CAST(sum(CASE WHEN a.y = c.y AND a.xb < c.xb
                          THEN a.n * c.n ELSE 0 END) AS BIGINT) AS tiey_cross
        FROM cells a, cells c
    ),
    within AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(n * (n - 1) / 2) AS BIGINT) AS tboth
        FROM cells
    )
    SELECT w.nn AS n,
           p.conc, p.disc,
           CAST(p.tiex_cross + w.tboth AS BIGINT) AS tied_x,
           CAST(p.tiey_cross + w.tboth AS BIGINT) AS tied_y,
           round((p.conc - p.disc) * 1.0
                 / (w.nn * (w.nn - 1) / 2 - (p.tiex_cross + w.tboth)),
                 6) + 0 AS somers_d_yx,
           round((p.conc - p.disc) * 1.0
                 / (w.nn * (w.nn - 1) / 2 - (p.tiey_cross + w.tboth)),
                 6) + 0 AS somers_d_xy,
           round((p.conc - p.disc)
                 / sqrt((w.nn * (w.nn - 1) / 2.0
                         - (p.tiex_cross + w.tboth))
                        * (w.nn * (w.nn - 1) / 2.0
                           - (p.tiey_cross + w.tboth))),
                 6) + 0 AS kendall_tau_b
    FROM pairstats p, within w
    """,
)
def a_somers_d(spark, sf_dir):
    """Somers' D (both directions) + Kendall tau-b between order price
    decile (X) and the order's lineitem count (Y) — the asymmetric
    ordinal-association statistic for "does X predict Y's ORDER":
    D_yx = (C − D) / (pairs not tied on X). Deciles come from exact
    interpolated percentile boundaries (the a_tail_dependence idiom),
    never a global sort window. The synthetic fixtures draw header
    totals independently of basket composition, so the HONEST
    expected D here is ≈ 0 (chance) — the key's deliverable is the
    exact tie-aware pair census itself; the tau-b² = D_yx·D_xy
    geometric-mean identity and a full pandas pair replay are
    pytest-pinned.

    Scale: the pair concordance is computed on the (decile × basket
    size) CENSUS — ≤ 10 × 7 cells at any corpus size — so the
    O(N²)-pair definition collapses to one data-sized groupBy plus a
    70×70 broadcast cell cross join; every count BIGINT-exact until
    the final three 6dp ratios (a_cliffs_delta's value-domain trick
    lifted to two ordinal axes).
    """
    orders = load_table(spark, sf_dir, "orders")
    lc = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").cast("long").alias("y"))
    )
    qs = orders.agg(
        F.expr(
            "percentile(o_totalprice, array(0.1D, 0.2D, 0.3D, 0.4D,"
            " 0.5D, 0.6D, 0.7D, 0.8D, 0.9D))"
        ).alias("qs")
    )
    xb = F.lit(1)
    for i in range(9):
        xb = xb + F.when(F.col("o_totalprice") > F.col("qs")[i], 1).otherwise(0)
    cells = (
        orders.join(lc, orders.o_orderkey == lc.l_orderkey)
        .crossJoin(F.broadcast(qs))
        .groupBy(xb.cast("long").alias("xb"), F.col("y"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    a = cells.select(
        F.col("xb").alias("xa"), F.col("y").alias("ya"), F.col("n").alias("na")
    )
    c = cells.select(
        F.col("xb").alias("xc"), F.col("y").alias("yc"), F.col("n").alias("nc")
    )
    # census self-cross: <=70x70 cells, broadcast — the O(N^2) pair
    # definition never touches row-grain data
    ps = (
        a.crossJoin(F.broadcast(c))
        .agg(
            F.sum(
                F.when(
                    (F.col("xa") < F.col("xc")) & (F.col("ya") < F.col("yc")),
                    F.col("na") * F.col("nc"),
                ).otherwise(0)
            ).cast("long").alias("conc"),
            F.sum(
                F.when(
                    (F.col("xa") < F.col("xc")) & (F.col("ya") > F.col("yc")),
                    F.col("na") * F.col("nc"),
                ).otherwise(0)
            ).cast("long").alias("disc"),
            F.sum(
                F.when(
                    (F.col("xa") == F.col("xc")) & (F.col("ya") < F.col("yc")),
                    F.col("na") * F.col("nc"),
                ).otherwise(0)
            ).cast("long").alias("tiex_cross"),
            F.sum(
                F.when(
                    (F.col("ya") == F.col("yc")) & (F.col("xa") < F.col("xc")),
                    F.col("na") * F.col("nc"),
                ).otherwise(0)
            ).cast("long").alias("tiey_cross"),
        )
    )
    w = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("tboth"),
    )
    half = F.col("nn") * (F.col("nn") - 1) / 2
    denom_x = half - (F.col("tiex_cross") + F.col("tboth"))
    denom_y = half - (F.col("tiey_cross") + F.col("tboth"))
    cd = F.col("conc") - F.col("disc")
    return (
        ps.crossJoin(F.broadcast(w))
        .select(
            F.col("nn").alias("n"),
            "conc",
            "disc",
            (F.col("tiex_cross") + F.col("tboth")).cast("long").alias("tied_x"),
            (F.col("tiey_cross") + F.col("tboth")).cast("long").alias("tied_y"),
            # try_divide: an all-tied axis (constant-price corpus) zeroes
            # the untied-pair denominator — NULL like DuckDB, no ANSI
            # crash (round-16 degenerate back-sweep)
            f6(F.try_divide(cd * 1.0, denom_x)).alias("somers_d_yx"),
            f6(F.try_divide(cd * 1.0, denom_y)).alias("somers_d_xy"),
            f6(F.try_divide(cd, F.sqrt(denom_x * denom_y))).alias(
                "kendall_tau_b"
            ),
        )
    )


@register(
    "a_lins_ccc",
    """
    WITH line_sums AS (
        SELECT l_orderkey,
               CAST(sum(CAST(round(l_extendedprice
                                   * (1 - l_discount) * (1 + l_tax)
                                   * 100) AS BIGINT)) AS BIGINT)
                   AS line_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    pairs AS (
        SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) / 100.0 AS x,
               ls.line_cents / 100.0 AS y
        FROM orders o JOIN line_sums ls ON ls.l_orderkey = o.o_orderkey
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               avg(x) AS mx, avg(y) AS my,
               avg(x * x) AS mxx, avg(y * y) AS myy, avg(x * y) AS mxy
        FROM pairs
    )
    SELECT n,
           round((2 * (mxy - mx * my))
                 / ((mxx - mx * mx) + (myy - my * my)
                    + (mx - my) * (mx - my)), 6) + 0 AS ccc,
           round((mxy - mx * my)
                 / sqrt((mxx - mx * mx) * (myy - my * my)), 6) + 0
               AS pearson_r,
           round(((2 * (mxy - mx * my))
                  / ((mxx - mx * mx) + (myy - my * my)
                     + (mx - my) * (mx - my)))
                 / ((mxy - mx * my)
                    / sqrt((mxx - mx * mx) * (myy - my * my))), 6) + 0
               AS bias_correction_cb,
           round(mx - my, 4) + 0 AS location_shift_usd
    FROM m
    """,
)
def a_lins_ccc(spark, sf_dir):
    """Lin's concordance correlation coefficient between the order
    header total and the tax/discount line-item reconstruction —
    agreement with the 45° line, not just linearity: CCC =
    2·s_xy / (s_x² + s_y² + (x̄−ȳ)²). Pearson r (precision) and the
    bias-correction factor C_b = CCC/r (accuracy) are printed beside
    it, so a perfectly correlated but systematically shifted
    reconstruction is visibly penalized — the continuous agreement
    statistic a_bland_altman's limits-of-agreement band pairs with
    (same header/detail pairing, same cents-exact reconstruction).
    The synthetic fixtures draw header totals independently of the
    lines, so the honest expected CCC here is ≈ 0 — consistent with
    a_bland_altman's wide LoA band on the same pairs; on reconciled
    books CCC → 1 and C_b isolates the systematic part of any gap.

    Scale: one lineitem rollup (map-side combinable) + one broadcast-
    size moment aggregation — five averages in a single pass; the CCC
    arithmetic happens on a 1-row frame. Ratios of population moments
    are scale-free, so the 6dp snap absorbs both engines' double
    summation-order drift.
    """
    orders = load_table(spark, sf_dir, "orders")
    ls = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                ).cast("long")
            )
            .cast("long")
            .alias("line_cents")
        )
    )
    pairs = orders.join(
        ls, orders.o_orderkey == ls.l_orderkey
    ).select(
        (F.round(F.col("o_totalprice") * 100).cast("long") / 100.0).alias("x"),
        (F.col("line_cents") / 100.0).alias("y"),
    )
    m = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
    )
    sxy = F.col("mxy") - F.col("mx") * F.col("my")
    sxx = F.col("mxx") - F.col("mx") * F.col("mx")
    syy = F.col("myy") - F.col("my") * F.col("my")
    dm = F.col("mx") - F.col("my")
    # try_divide: a constant-side corpus (zero variance) NULLs r / C_b
    # like DuckDB's /0 instead of ANSI-crashing (round-16 back-sweep);
    # ccc's denominator additionally needs dm == 0 to degenerate.
    ccc = F.try_divide(2 * sxy, sxx + syy + dm * dm)
    r = F.try_divide(sxy, F.sqrt(sxx * syy))
    return m.select(
        "n",
        f6(ccc).alias("ccc"),
        f6(r).alias("pearson_r"),
        f6(F.try_divide(ccc, r)).alias("bias_correction_cb"),
        (F.round(dm, 4) + 0).alias("location_shift_usd"),
    )


@register(
    "a_pr_auc",
    """
    WITH ret AS (
        SELECT l_orderkey,
               max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS y
        FROM lineitem GROUP BY 1
    ),
    scored AS (
        SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS s, ret.y
        FROM orders JOIN ret ON l_orderkey = o_orderkey
    ),
    g AS (
        SELECT s, CAST(sum(y) AS BIGINT) AS pos,
               CAST(count(*) - sum(y) AS BIGINT) AS neg
        FROM scored GROUP BY 1
    ),
    cum AS (
        SELECT s, pos, neg,
               CAST(sum(pos) OVER (ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS tp,
               CAST(sum(pos + neg) OVER (ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS k,
               CAST(coalesce(sum(neg) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS neg_below
        FROM g
    ),
    tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS p_tot,
               CAST(sum(neg) AS BIGINT) AS n_tot
        FROM g
    )
    SELECT t.p_tot AS n_pos, t.n_tot AS n_neg,
           round(t.p_tot * 1.0 / (t.p_tot + t.n_tot), 6) + 0
               AS prevalence,
           round(sum((tp * 1.0 / k) * (pos * 1.0 / t.p_tot)), 6) + 0
               AS avg_precision,
           round(sum(pos * (neg_below + neg / 2.0))
                 / (t.p_tot * 1.0 * t.n_tot), 6) + 0 AS roc_auc
    FROM cum, tot t
    GROUP BY t.p_tot, t.n_tot
    """,
)
def a_pr_auc(spark, sf_dir):
    """Average precision (step-wise PR-AUC) and ROC-AUC of order price
    as a has-returned-lineitem classifier, swept at $1000 price-band
    granularity: AP = Σ_k precision@k · ΔR_k over score bands in
    descending order, beside the rank-formula ROC-AUC computed on the
    SAME band frame. For an uninformative score both sit at their
    chance levels (AP ≈ prevalence, AUC ≈ 0.5) — the pair a_mcc_confusion's
    threshold-bound metrics cannot express (AP/AUC are threshold-FREE
    rankings of the whole sweep; pytest pins AP within its theoretical
    AUC-prevalence envelope).

    Scale: the score axis is the $1000 price grid — bounded by the
    price domain (~500 bands), NOT the corpus — so the sweep is one
    map-side-combinable (band → pos/neg) census plus two cumulative
    windows on the tiny band frame; BIGINT-exact counts until the
    three final 6dp ratios. The standard percent-rank scoring would
    need a global sort; the fixed grid is the 100 TB form.
    """
    ret = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("y")
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    g = (
        orders.join(ret, orders.o_orderkey == ret.l_orderkey)
        .groupBy(
            F.floor(F.col("o_totalprice") / 1000).cast("long").alias("s")
        )
        .agg(
            F.sum("y").cast("long").alias("pos"),
            (F.count("*") - F.sum("y")).cast("long").alias("neg"),
        )
    )
    wdesc = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wasc = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = g.select(
        "s",
        "pos",
        "neg",
        F.sum("pos").over(wdesc).cast("long").alias("tp"),
        F.sum(F.col("pos") + F.col("neg")).over(wdesc).cast("long").alias("k"),
        F.coalesce(F.sum("neg").over(wasc), F.lit(0))
        .cast("long")
        .alias("neg_below"),
    )
    tot = g.agg(
        F.sum("pos").cast("long").alias("p_tot"),
        F.sum("neg").cast("long").alias("n_tot"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("p_tot", "n_tot")
        .agg(
            # p_tot = 0 (a corpus with NO returned lineitems — the
            # positive class is a fixture property, not a law) must
            # yield SQL NULL like the DuckDB oracle, not an ANSI
            # divide-by-zero crash (round-15 fixture-sensitivity sweep).
            F.sum(
                (F.col("tp") * 1.0 / F.col("k"))
                * F.try_divide(F.col("pos") * 1.0, F.col("p_tot"))
            ).alias("ap_raw"),
            F.sum(
                F.col("pos") * (F.col("neg_below") + F.col("neg") / 2.0)
            ).alias("u_raw"),
        )
        .select(
            F.col("p_tot").alias("n_pos"),
            F.col("n_tot").alias("n_neg"),
            f6(F.col("p_tot") * 1.0 / (F.col("p_tot") + F.col("n_tot"))).alias(
                "prevalence"
            ),
            f6(F.col("ap_raw")).alias("avg_precision"),
            # single-class corpora (p_tot or n_tot = 0) leave AUC
            # undefined: NULL on both engines, never a crash.
            f6(
                F.try_divide(
                    F.col("u_raw"), F.col("p_tot") * 1.0 * F.col("n_tot")
                )
            ).alias("roc_auc"),
        )
    )


_DAILY_REV_SQL = """daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100 AS rev
        FROM orders GROUP BY 1
    )"""

_DAILY_SUMS_SQL = f"""{_DAILY_REV_SQL},
    tx AS (
        SELECT d, rev,
               CAST(date_diff('day', (SELECT min(d) FROM daily), d)
                    AS BIGINT) AS t
        FROM daily
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t) AS BIGINT) AS sx,
               CAST(sum(rev) AS BIGINT) AS sy,
               CAST(sum(t * t) AS BIGINT) AS sxx,
               CAST(sum(t * rev) AS BIGINT) AS sxy
        FROM tx
    )"""

# slope and intercept of the closed-form fit over s
_OLS_FIT_SQL = """(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   AS slope,
               (CAST(sy AS DOUBLE)
                - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                  * sx) / n AS icept
        FROM s
    )"""

_DAILY_FIT_SQL = f"""
    {_DAILY_SUMS_SQL},
    fit AS (
        SELECT n, CAST(sx AS DOUBLE) / n AS xbar,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c,
               {_OLS_FIT_SQL},
    resid AS (
        SELECT d, t,
               CAST(round(rev - f.icept - f.slope * t) AS BIGINT) AS e,
               f.n, f.xbar, f.sxx_c
        FROM tx, fit f
    )
"""


def _usd_sum():
    """Whole-dollar sum of o_totalprice: exact BIGINT cents, // 100."""
    return (
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long")
        / F.lit(100)
    ).cast("long")


def _daily_rev(spark, sf_dir):
    """Whole-dollar order revenue per order date: (d, rev)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(_usd_sum().alias("rev"))
    )


def _daily_fit(spark, sf_dir):
    """The daily-revenue OLS trend (the `_DAILY_FIT_SQL` twin):
    (tx, fit) with tx = (d, t, rev), t the day offset from the first
    date, and fit = one row (n, xbar, sxx_c, slope, icept) from the
    closed-form 5-sum moments, all BIGINT until the slope division."""
    daily = _daily_rev(spark, sf_dir)
    d0 = daily.agg(F.min("d").alias("d0"))
    tx = daily.crossJoin(F.broadcast(d0)).select(
        "d", F.datediff(F.col("d"), F.col("d0")).cast("long").alias("t"), "rev"
    )
    s = tx.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("sx"),
        F.sum("rev").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("sxx"),
        F.sum(F.col("t") * F.col("rev")).cast("long").alias("sxy"),
    )
    # try_divide: a single-day corpus has zero time variance
    # (n*sxx - sx^2 = 0) -> NULL fit like DuckDB's /0, no ANSI crash
    # (round-16 degenerate back-sweep)
    slope = F.try_divide(
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy"),
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx"),
    )
    fit = s.select(
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.col("n")
        ).alias("sxx_c"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
        ).alias("icept"),
    )
    return tx, fit


@register(
    "a_durbin_watson",
    f"""
    WITH {_DAILY_SUMS_SQL},
    fit AS (
        SELECT n,
               {_OLS_FIT_SQL},
    resid AS (
        SELECT t,
               CAST(round(rev - f.icept - f.slope * t) AS BIGINT) AS e
        FROM tx, fit f
    ),
    lagged AS (
        SELECT e, lag(e) OVER (ORDER BY t) AS e_prev FROM resid
    )
    SELECT f.n AS n_days,
           round(f.slope, 2) + 0 AS slope_usd_per_day,
           round(f.icept, 2) + 0 AS intercept_usd,
           round(sum(CASE WHEN e_prev IS NULL THEN 0
                          ELSE CAST((e - e_prev) AS DOUBLE) * (e - e_prev)
                     END)
                 / sum(CAST(e AS DOUBLE) * e), 6) + 0 AS dw,
           round(1.0 - (sum(CASE WHEN e_prev IS NULL THEN 0
                                 ELSE CAST((e - e_prev) AS DOUBLE)
                                      * (e - e_prev) END)
                        / sum(CAST(e AS DOUBLE) * e)) / 2.0, 6) + 0
               AS rho_hat
    FROM lagged, fit f
    GROUP BY f.n, f.slope, f.icept
    """,
)
def a_durbin_watson(spark, sf_dir):
    """Durbin-Watson first-order autocorrelation test on the residuals
    of the daily-revenue-vs-time OLS trend: DW = Σ(e_t − e_{t−1})² /
    Σe_t², with ρ̂ ≈ 1 − DW/2 printed beside the trend fit itself.
    DW ≈ 2 means the trend line's errors are white — the regression
    diagnostic that tells you whether a_interrupted_ts-style OLS
    inference can be trusted or needs Newey-West/ARIMA treatment
    (companions: a_ljung_box tests MANY lags on raw values; this
    tests lag 1 on the RESIDUALS of a fitted model).

    Scale: one date rollup (map-side combinable, cents BIGINT-exact),
    one 5-sum moment aggregate for the closed-form fit, one lag
    window on the bounded calendar axis (~2.4k days at any corpus
    size). Residuals snap to whole dollars BEFORE the quadratic sums,
    so both engines square identical integers — the only floats are
    the slope/intercept division (same BIGINT operands → same IEEE
    result) and the final two 6dp ratios.
    """
    tx, fit = _daily_fit(spark, sf_dir)
    resid = tx.crossJoin(F.broadcast(fit)).select(
        "t",
        "n",
        "slope",
        "icept",
        F.round(
            F.col("rev") - F.col("icept") - F.col("slope") * F.col("t")
        )
        .cast("long")
        .alias("e"),
    )
    wlag = Window.orderBy("t")
    lagged = resid.select(
        "n",
        "slope",
        "icept",
        "e",
        F.lag("e").over(wlag).alias("e_prev"),
    )
    num = F.sum(
        F.when(F.col("e_prev").isNull(), 0.0).otherwise(
            (F.col("e") - F.col("e_prev")).cast("double")
            * (F.col("e") - F.col("e_prev"))
        )
    )
    den = F.sum(F.col("e").cast("double") * F.col("e"))
    return lagged.groupBy("n", "slope", "icept").agg(
        num.alias("num"), den.alias("den")
    ).select(
        F.col("n").alias("n_days"),
        (F.round(F.col("slope"), 2) + 0).alias("slope_usd_per_day"),
        (F.round(F.col("icept"), 2) + 0).alias("intercept_usd"),
        f6(F.try_divide(F.col("num"), F.col("den"))).alias("dw"),
        f6(
            1.0 - F.try_divide(F.col("num"), F.col("den")) / 2.0
        ).alias("rho_hat"),
    )


@register(
    "a_cooks_distance",
    f"""
    WITH {_DAILY_FIT_SQL},
    sse AS (
        SELECT sum(CAST(e AS DOUBLE) * e) / (max(n) - 2) AS s2 FROM resid
    )
    SELECT d AS day,
           e AS resid_usd,
           round(1.0 / r.n + (r.t - r.xbar) * (r.t - r.xbar) / r.sxx_c,
                 9) + 0 AS leverage,
           round((CAST(r.e AS DOUBLE) * r.e
                  * (1.0 / r.n + (r.t - r.xbar) * (r.t - r.xbar) / r.sxx_c))
                 / (2.0 * sse.s2
                    * (1.0 - (1.0 / r.n
                              + (r.t - r.xbar) * (r.t - r.xbar) / r.sxx_c))
                    * (1.0 - (1.0 / r.n
                              + (r.t - r.xbar) * (r.t - r.xbar)
                                / r.sxx_c))),
                 9) + 0 AS cooks_d
    FROM resid r, sse
    ORDER BY cooks_d DESC, day LIMIT 10
    """,
)
def a_cooks_distance(spark, sf_dir):
    """Cook's distance for the daily-revenue trend regression: the ten
    most INFLUENTIAL days, D_i = e_i²·h_i / (p·s²·(1−h_i)²) with the
    closed-form simple-regression leverage h_i = 1/n + (t_i−t̄)²/Sxx —
    the observation-level diagnostic completing the residual suite
    (a_durbin_watson asks "are errors correlated", a_tukey_fences
    flags outliers by VALUE; Cook's D flags points that BEND THE FIT,
    which end-of-window days do even with modest residuals because
    leverage peaks at the time extremes).

    Scale: the same cents-exact daily rollup + 5-sum fit as
    a_durbin_watson; leverage and D are per-row closed forms (no
    window at all), top-10 is TakeOrdered. Residuals snap to whole
    dollars before squaring; only s² and the final 9dp ratios float.
    """
    tx, fit = _daily_fit(spark, sf_dir)
    resid = tx.crossJoin(F.broadcast(fit)).select(
        "d",
        "t",
        "n",
        "xbar",
        "sxx_c",
        F.round(
            F.col("rev") - F.col("icept") - F.col("slope") * F.col("t")
        )
        .cast("long")
        .alias("e"),
    )
    s2f = resid.agg(
        F.try_divide(
            F.sum(F.col("e").cast("double") * F.col("e")),
            F.max("n") - 2,
        ).alias("s2")
    )
    # try_divide: a single-day corpus has zero centered time variance
    # (sxx_c = 0) and a 2-day corpus puts h = 1 at both ends — NULL
    # leverage/D like DuckDB's /0, no ANSI crash (round-16 back-sweep)
    h = 1.0 / F.col("n") + F.try_divide(
        (F.col("t") - F.col("xbar")) * (F.col("t") - F.col("xbar")),
        F.col("sxx_c"),
    )
    cd = F.try_divide(
        F.col("e").cast("double") * F.col("e") * h,
        2.0 * F.col("s2") * (1.0 - h) * (1.0 - h),
    )
    return (
        resid.crossJoin(F.broadcast(s2f))
        .select(
            F.col("d").alias("day"),
            F.col("e").alias("resid_usd"),
            (F.round(h, 9) + 0).alias("leverage"),
            (F.round(cd, 9) + 0).alias("cooks_d"),
        )
        .orderBy(F.col("cooks_d").desc(), "day")
        .limit(10)
    )


@register(
    "a_breusch_pagan",
    f"""
    WITH {_DAILY_FIT_SQL},
    aux AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               regr_r2(CAST(e AS DOUBLE) * e, t) AS r2,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(t * t) AS BIGINT) AS stt,
               sum(CAST(e AS HUGEINT) * e) AS sy,
               sum(t * CAST(e AS HUGEINT) * e) AS sty
        FROM resid
    ),
    ls AS (
        SELECT n, r2, n * sty - st * sy AS num, n * stt - st * st AS den
        FROM aux
    )
    SELECT n,
           CAST(CASE WHEN den <> 0 THEN
                    (CASE WHEN num < 0 THEN -1 ELSE 1 END)
                    * ((abs(num) * 2000000 + den) // (2 * den)) END
                AS DOUBLE) / 1000000 AS e2_trend_slope,
           round(n * r2, 6) + 0 AS lm_stat,
           CAST(CASE WHEN n * r2 > 3.841459 THEN 1 ELSE 0 END AS BIGINT)
               AS heteroscedastic_95
    FROM ls
    """,
)
def a_breusch_pagan(spark, sf_dir):
    """Breusch-Pagan (Koenker studentized form) heteroscedasticity test
    on the daily-revenue trend residuals: the auxiliary regression of
    e² on t gives R², and LM = n·R² ~ χ²(1) under homoscedasticity
    (95% critical value 3.841 — a mathematical constant, flagged
    in-row). The third leg of the residual-diagnostics stool:
    a_durbin_watson asks "correlated?", a_cooks_distance "who bends
    the fit?", this asks "does error VARIANCE drift with the
    regressor?" — the condition that silently invalidates every OLS
    confidence interval a dashboard prints.

    Scale: same daily rollup + closed-form fit; the auxiliary
    regression's R² is the engines' own regr_r2 aggregate over the
    bounded calendar axis. Two shuffles total.

    The e² trend slope is exact: its moment sums are DECIMAL(38,0)
    (HUGEINT in the oracle), so num = n·Σte² − Σt·Σe² and
    den = n·Σt² − (Σt)² are exact integers, and the slope rounded half
    away from zero to 6dp is the integer (2·|num|·10⁶ + den) div 2·den,
    signed, over one final division by 10⁶. A double ``regr_slope`` over
    e² (about 10¹³ at sf0.1) kept fewer digits than the 15 significant
    ones a 6dp slope of about −6.2e8 shows, and its last digit moved
    with the summation order.
    """
    tx, fit = _daily_fit(spark, sf_dir)
    resid = tx.crossJoin(F.broadcast(fit)).select(
        "t",
        F.round(
            F.col("rev") - F.col("icept") - F.col("slope") * F.col("t")
        )
        .cast("long")
        .alias("e"),
    )
    e2 = F.col("e").cast("decimal(38,0)") * F.col("e")
    aux = resid.agg(
        F.count("*").cast("long").alias("n"),
        F.expr("regr_r2(CAST(e AS DOUBLE) * e, t)").alias("r2"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(e2).alias("sy"),
        F.sum(F.col("t") * e2).alias("sty"),
    ).select(
        "n", "r2",
        F.expr("n * sty - st * sy").alias("num"),
        F.expr("n * stt - st * st").alias("den"),
    )
    slope6 = F.expr(
        "CASE WHEN den <> 0 THEN (CASE WHEN num < 0 THEN -1 ELSE 1 END)"
        " * ((abs(num) * 2000000 + den) div (2 * den)) END"
    )
    return aux.select(
        "n",
        (slope6.cast("double") / 1000000).alias("e2_trend_slope"),
        f6(F.col("n") * F.col("r2")).alias("lm_stat"),
        F.when(F.col("n") * F.col("r2") > 3.841459, 1)
        .otherwise(0)
        .cast("long")
        .alias("heteroscedastic_95"),
    )


@register(
    "a_newey_west",
    f"""
    WITH {_DAILY_FIT_SQL},
    u AS (
        SELECT t, (r.t - r.xbar) * CAST(r.e AS DOUBLE) AS ut, r.sxx_c, r.n
        FROM resid r
    ),
    lagd AS (
        SELECT t, ut, sxx_c, n,
               lag(ut, 1) OVER (ORDER BY t) AS u1,
               lag(ut, 2) OVER (ORDER BY t) AS u2,
               lag(ut, 3) OVER (ORDER BY t) AS u3,
               lag(ut, 4) OVER (ORDER BY t) AS u4,
               lag(ut, 5) OVER (ORDER BY t) AS u5
        FROM u
    ),
    sand AS (
        SELECT max(n) AS n, max(sxx_c) AS sxx_c,
               sum(ut * ut) AS s0,
               sum(ut * coalesce(u1, 0)) AS g1,
               sum(ut * coalesce(u2, 0)) AS g2,
               sum(ut * coalesce(u3, 0)) AS g3,
               sum(ut * coalesce(u4, 0)) AS g4,
               sum(ut * coalesce(u5, 0)) AS g5
        FROM lagd
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(sqrt((s0 + 2 * ((1 - 1/6.0) * g1 + (1 - 2/6.0) * g2
                                 + (1 - 3/6.0) * g3 + (1 - 4/6.0) * g4
                                 + (1 - 5/6.0) * g5))
                      / (sxx_c * sxx_c)), 6) + 0 AS se_nw,
           round(sqrt((s0 / (sxx_c * sxx_c)) * n / (n - 2.0)), 6) + 0
               AS se_white,
           round(sqrt((s0 + 2 * ((1 - 1/6.0) * g1 + (1 - 2/6.0) * g2
                                 + (1 - 3/6.0) * g3 + (1 - 4/6.0) * g4
                                 + (1 - 5/6.0) * g5))
                      / (sxx_c * sxx_c))
                 / sqrt((s0 / (sxx_c * sxx_c)) * n / (n - 2.0)), 6) + 0
               AS nw_inflation
    FROM sand
    """,
)
def a_newey_west(spark, sf_dir):
    """Newey-West HAC standard error (Bartlett kernel, 5 lags) for the
    daily-revenue trend slope, beside the White/HC0-style no-lag
    sandwich SE — the FIX a_durbin_watson's verdict demands: when
    residuals autocorrelate, the naive slope SE understates risk and
    the NW sandwich Var(β̂) = Σw_ℓγ_ℓ/Sxx² repairs it; nw_inflation
    (se_nw / se_white) IS the honesty multiplier for every trend
    t-statistic downstream. Scores u_t = (t−t̄)e_t, autocovariances
    γ_ℓ from five lag columns, Bartlett weights 1−ℓ/6.

    Scale: one daily rollup + the closed-form fit, then all five lag
    columns in ONE window pass over the bounded calendar axis and one
    8-sum aggregate — the lag depth changes column count, not pass
    count. Whole-dollar residuals keep the scores engine-comparable
    under the 6dp snap.
    """
    tx, fit = _daily_fit(spark, sf_dir)
    u = tx.crossJoin(F.broadcast(fit)).select(
        "t",
        "n",
        "sxx_c",
        (
            (F.col("t") - F.col("xbar"))
            * F.round(
                F.col("rev") - F.col("icept") - F.col("slope") * F.col("t")
            ).cast("long")
        ).alias("ut"),
    )
    wlag = Window.orderBy("t")
    lagd = u.select(
        "n",
        "sxx_c",
        "ut",
        *[F.lag("ut", k).over(wlag).alias(f"u{k}") for k in range(1, 6)],
    )
    sand = lagd.agg(
        F.max("n").alias("n"),
        F.max("sxx_c").alias("sxx_c"),
        F.sum(F.col("ut") * F.col("ut")).alias("s0"),
        *[
            F.sum(F.col("ut") * F.coalesce(F.col(f"u{k}"), F.lit(0.0))).alias(
                f"g{k}"
            )
            for k in range(1, 6)
        ],
    )
    s_hac = F.col("s0") + 2 * (
        (1 - 1 / 6.0) * F.col("g1")
        + (1 - 2 / 6.0) * F.col("g2")
        + (1 - 3 / 6.0) * F.col("g3")
        + (1 - 4 / 6.0) * F.col("g4")
        + (1 - 5 / 6.0) * F.col("g5")
    )
    se_nw = F.sqrt(s_hac / (F.col("sxx_c") * F.col("sxx_c")))
    se_w = F.sqrt(
        (F.col("s0") / (F.col("sxx_c") * F.col("sxx_c")))
        * F.col("n")
        / (F.col("n") - 2.0)
    )
    return sand.select(
        F.col("n").cast("long").alias("n_days"),
        f6(se_nw).alias("se_nw"),
        f6(se_w).alias("se_white"),
        # try_divide: an exactly-linear daily series has zero residuals,
        # so BOTH SEs are 0 and the inflation ratio is 0/0 — NULL like
        # DuckDB, no ANSI crash (caught by test_litpins' exact-fit pin)
        f6(F.try_divide(se_nw, se_w)).alias("nw_inflation"),
    )


@register(
    "a_granger_1lag",
    """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100 AS y,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    lagd AS (
        SELECT y, x,
               lag(y) OVER (ORDER BY d) AS yl,
               lag(x) OVER (ORDER BY d) AS xl
        FROM daily
    ),
    z AS (SELECT CAST(y AS DOUBLE) AS y, CAST(x AS DOUBLE) AS x,
                 CAST(yl AS DOUBLE) AS yl, CAST(xl AS DOUBLE) AS xl
          FROM lagd WHERE yl IS NOT NULL),
    f AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               var_pop(y) * count(*) * (1 - regr_r2(y, yl)) AS sse_r_y,
               var_pop(x) * count(*) * (1 - regr_r2(x, xl)) AS sse_r_x,
               count(*) * (var_pop(y)
                 - (covar_pop(y, yl) * (var_pop(xl) * covar_pop(y, yl)
                        - covar_pop(yl, xl) * covar_pop(y, xl))
                    + covar_pop(y, xl) * (var_pop(yl) * covar_pop(y, xl)
                        - covar_pop(yl, xl) * covar_pop(y, yl)))
                   / (var_pop(yl) * var_pop(xl)
                      - covar_pop(yl, xl) * covar_pop(yl, xl)))
                   AS sse_u_y,
               count(*) * (var_pop(x)
                 - (covar_pop(x, xl) * (var_pop(yl) * covar_pop(x, xl)
                        - covar_pop(yl, xl) * covar_pop(x, yl))
                    + covar_pop(x, yl) * (var_pop(xl) * covar_pop(x, yl)
                        - covar_pop(yl, xl) * covar_pop(x, xl)))
                   / (var_pop(yl) * var_pop(xl)
                      - covar_pop(yl, xl) * covar_pop(yl, xl)))
                   AS sse_u_x,
               var_pop(yl) * var_pop(xl)
                   - covar_pop(yl, xl) * covar_pop(yl, xl) AS det,
               var_pop(yl) * var_pop(xl) AS vp
        FROM z
    )
    SELECT direction, n,
           round(f_stat, 6) + 0 AS f_stat,
           CAST(CASE WHEN f_stat > 3.8415 THEN 1 ELSE 0 END AS BIGINT)
               AS significant_95
    FROM (
        SELECT 'x_causes_y' AS direction, n,
               CASE WHEN round(det / vp, 12) > 1e-9
                    THEN (sse_r_y - sse_u_y) / (sse_u_y / (n - 3)) END
                   AS f_stat
        FROM f
        UNION ALL
        SELECT 'y_causes_x', n,
               CASE WHEN round(det / vp, 12) > 1e-9
                    THEN (sse_r_x - sse_u_x) / (sse_u_x / (n - 3)) END
        FROM f
    ) ORDER BY direction
    """,
)
def a_granger_1lag(spark, sf_dir):
    """Granger causality at lag 1, BOTH directions, between daily
    revenue (y) and daily order count (x): does adding x_{t−1} to the
    AR(1) of y reduce SSE more than chance — F = (SSE_r − SSE_u) /
    (SSE_u/(n−3)), and symmetrically for y→x. The two-regressor
    unrestricted SSE comes from the 2×2 normal equations in covariance
    form (Cramer's rule on centered moments — the a_ols_two_factor
    discipline, one regressor smaller), the restricted SSE from the
    engines' own regr_r2. Large-F direction = the series that LEADS;
    the honest expected result on the synthetic fixtures is neither
    (both F near the χ²/F noise floor), flagged in-row at the 95%
    asymptotic cutoff.

    Scale: one cents-exact daily rollup, ONE lag window on the bounded
    calendar axis, then a single covariance-aggregate pass — both
    directions priced by the same 10 moments; no second scan, no
    iteration. The lag-p generalization adds columns, not passes.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            _usd_sum().alias("y"),
            F.count("*").cast("long").alias("x"),
        )
    )
    wl = Window.orderBy("d")
    z = (
        daily.select(
            "y",
            "x",
            F.lag("y").over(wl).alias("yl"),
            F.lag("x").over(wl).alias("xl"),
        )
        .where(F.col("yl").isNotNull())
        .select(
            F.col("y").cast("double").alias("y"),
            F.col("x").cast("double").alias("x"),
            F.col("yl").cast("double").alias("yl"),
            F.col("xl").cast("double").alias("xl"),
        )
    )

    def sse_u(dep):
        det = F.expr(
            "var_pop(yl) * var_pop(xl) - covar_pop(yl, xl) * covar_pop(yl, xl)"
        )
        num = F.expr(
            f"covar_pop({dep}, yl) * (var_pop(xl) * covar_pop({dep}, yl)"
            f" - covar_pop(yl, xl) * covar_pop({dep}, xl))"
            f" + covar_pop({dep}, xl) * (var_pop(yl) * covar_pop({dep}, xl)"
            f" - covar_pop(yl, xl) * covar_pop({dep}, yl))"
        )
        return F.count("*") * (
            F.expr(f"var_pop({dep})") - F.try_divide(num, det)
        )

    f = z.agg(
        F.count("*").cast("long").alias("n"),
        (
            F.expr("var_pop(y)") * F.count("*") * (1 - F.expr("regr_r2(y, yl)"))
        ).alias("sse_r_y"),
        (
            F.expr("var_pop(x)") * F.count("*") * (1 - F.expr("regr_r2(x, xl)"))
        ).alias("sse_r_x"),
        sse_u("y").alias("sse_u_y"),
        sse_u("x").alias("sse_u_x"),
        F.expr(
            "var_pop(yl) * var_pop(xl)"
            " - covar_pop(yl, xl) * covar_pop(yl, xl)"
        ).alias("det"),
        F.expr("var_pop(yl) * var_pop(xl)").alias("vp"),
    )
    # Singularity gate (round-16 degenerate back-sweep): on an exactly
    # collinear corpus (constant price makes y = 1000·x day-for-day) the
    # 2x2 system's determinant is analytically 0 but computes as float
    # NOISE whose value differs between engines — the F ratio amplifies
    # that noise into a visible divergence. det <= 1e-9·var(yl)·var(xl)
    # declares the unrestricted fit unidentified -> NULL on BOTH engines
    # (1−ρ² ≈ 1e-9 is far below any identifiable design, far above ulp
    # noise, so the gate evaluates identically on both engines). The
    # det/vp RATIO is snapped to 12 dp before the compare (round-16
    # advice): det and vp are float sums whose reduction order differs
    # between engines, so a corpus sitting within ulps of the boundary
    # could otherwise flip the gate on one engine only; after the snap
    # both engines compare the identical double (engine ulp noise is
    # ~1e-16 relative, 7 orders below the snap grain at the boundary).
    gate = F.round(F.try_divide(F.col("det"), F.col("vp")), 12) > 1e-9

    def f_raw(sse_r, sse_u_c):
        return F.when(
            gate,
            F.try_divide(
                F.col(sse_r) - F.col(sse_u_c),
                F.col(sse_u_c) / (F.col("n") - 3),
            ),
        )

    rows = f.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("x_causes_y").alias("direction"),
                    F.col("n"),
                    f_raw("sse_r_y", "sse_u_y").alias("f_raw"),
                ),
                F.struct(
                    F.lit("y_causes_x").alias("direction"),
                    F.col("n"),
                    f_raw("sse_r_x", "sse_u_x").alias("f_raw"),
                ),
            )
        ).alias("r")
    ).select("r.direction", "r.n", "r.f_raw")
    return rows.select(
        "direction",
        "n",
        f6(F.col("f_raw")).alias("f_stat"),
        F.when(F.col("f_raw") > 3.8415, 1)
        .otherwise(0)
        .cast("long")
        .alias("significant_95"),
    ).orderBy("direction")


@register(
    "a_chow_test",
    f"""
    WITH {_DAILY_REV_SQL},
    tx AS (
        SELECT CAST(date_diff('day', (SELECT min(d) FROM daily), d)
                    AS BIGINT) AS t,
               rev,
               CASE WHEN d < DATE '1997-01-01' THEN 0 ELSE 1 END AS seg
        FROM daily
    ),
    fits AS (
        SELECT seg, CAST(count(*) AS BIGINT) AS n,
               count(*) * var_pop(CAST(rev AS DOUBLE))
                   * (1 - regr_r2(CAST(rev AS DOUBLE), t)) AS sse
        FROM tx GROUP BY seg
    ),
    pooled AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               count(*) * var_pop(CAST(rev AS DOUBLE))
                   * (1 - regr_r2(CAST(rev AS DOUBLE), t)) AS sse
        FROM tx
    )
    SELECT p.n AS n_days,
           (SELECT n FROM fits WHERE seg = 0) AS n_pre,
           (SELECT n FROM fits WHERE seg = 1) AS n_post,
           round((SELECT sum(sse) FROM fits) / p.sse, 6) + 0
               AS sse_ratio,
           round(((p.sse - (SELECT sum(sse) FROM fits)) / 2)
                 / ((SELECT sum(sse) FROM fits) / (p.n - 4)), 6) + 0
               AS chow_f,
           CAST(CASE WHEN ((p.sse - (SELECT sum(sse) FROM fits)) / 2)
                          / ((SELECT sum(sse) FROM fits) / (p.n - 4))
                          > 2.9957 THEN 1 ELSE 0 END AS BIGINT)
               AS break_95
    FROM pooled p
    """,
)
def a_chow_test(spark, sf_dir):
    """Chow structural-break test at the known 1997-01-01 cutover (the
    same date s_partition_evolution's spec change uses): fit the daily
    revenue trend pooled and separately per segment, F = ((SSE_p −
    SSE_1 − SSE_2)/k) / ((SSE_1+SSE_2)/(n−2k)) with k = 2 parameters —
    the TEST companion to a_interrupted_ts (which ESTIMATES the level/
    trend shift at the break) and w_changepoint (which SEARCHES for an
    unknown break): given a deployment/policy date, did the
    data-generating process actually change? 95% cutoff F(2,∞)≈3.00
    flagged in-row.

    Fixture assumption (declared): the break date is a PARAMETER of the
    test — the corpus must straddle it. A fixture with all data on one
    side leaves one segment empty: that side's n goes SQL NULL on both
    engines and the F degenerates (split fit = pooled fit), never a
    crash — the visible-NULL honest answer for an untestable break.
    tests/test_round15.py pins that the fixture straddles (n_pre > 0
    AND n_post > 0), so a silent fixture drift re-surfaces there.

    Scale: each SSE is one regr_r2/var_pop aggregate over the bounded
    calendar axis — the pooled and per-segment fits are ONE grouped
    pass plus one global pass; no windows, no joins, and the k-break
    generalization adds groups, not scans.
    """
    daily = _daily_rev(spark, sf_dir)
    d0 = daily.agg(F.min("d").alias("d0"))
    tx = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff(F.col("d"), F.col("d0")).cast("long").alias("t"),
        F.col("rev").cast("double").alias("rev"),
        F.when(F.col("d") < F.lit("1997-01-01").cast("date"), 0)
        .otherwise(1)
        .alias("seg"),
    )
    sse_expr = (
        F.count("*")
        * F.expr("var_pop(rev)")
        * (1 - F.expr("regr_r2(rev, t)"))
    )
    fits = tx.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"), sse_expr.alias("sse")
    )
    pooled = tx.agg(
        F.count("*").cast("long").alias("n"), sse_expr.alias("sse")
    )
    split = fits.agg(
        F.sum("sse").alias("sse_split"),
        F.sum(F.when(F.col("seg") == 0, F.col("n"))).cast("long").alias(
            "n_pre"
        ),
        F.sum(F.when(F.col("seg") == 1, F.col("n"))).cast("long").alias(
            "n_post"
        ),
    )
    chow = (F.col("sse") - F.col("sse_split")) / 2 / (
        F.col("sse_split") / (F.col("n") - 4)
    )
    return (
        pooled.crossJoin(F.broadcast(split))
        .select(
            F.col("n").alias("n_days"),
            "n_pre",
            "n_post",
            f6(F.col("sse_split") / F.col("sse")).alias("sse_ratio"),
            f6(chow).alias("chow_f"),
            F.when(chow > 2.9957, 1).otherwise(0).cast("long").alias(
                "break_95"
            ),
        )
    )


@register(
    "a_ridge_path",
    """
    WITH m AS (
        SELECT corr(l_quantity, round(l_discount * 100)) AS r12,
               corr(l_quantity, round(l_extendedprice * 100)) AS r1y,
               corr(round(l_discount * 100),
                    round(l_extendedprice * 100)) AS r2y,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
    )
    SELECT lam, n,
           round((r1y * (1 + lam) - r12 * r2y)
                 / ((1 + lam) * (1 + lam) - r12 * r12), 6) + 0
               AS beta_qty_std,
           round((r2y * (1 + lam) - r12 * r1y)
                 / ((1 + lam) * (1 + lam) - r12 * r12), 6) + 0
               AS beta_disc_std,
           round((sqrt(((r1y * (1 + lam) - r12 * r2y)
                        * (r1y * (1 + lam) - r12 * r2y)
                        + (r2y * (1 + lam) - r12 * r1y)
                        * (r2y * (1 + lam) - r12 * r1y)))
                  / ((1 + lam) * (1 + lam) - r12 * r12))
                 / sqrt(((r1y - r12 * r2y) * (r1y - r12 * r2y)
                         + (r2y - r12 * r1y) * (r2y - r12 * r1y))
                        / ((1 - r12 * r12) * (1 - r12 * r12))), 6) + 0
               AS shrinkage
    FROM m, (SELECT CAST(unnest([0.0, 0.1, 1.0]) AS DOUBLE) AS lam)
    ORDER BY lam
    """,
)
def a_ridge_path(spark, sf_dir):
    """Ridge regularization path in closed form: standardized two-
    regressor coefficients β(λ) = (R + λI)⁻¹ r for λ ∈ {0, 0.1, 1} on
    the price ~ quantity + discount model — in correlation space the
    normal equations are the 2×2 [[1+λ, r₁₂],[r₁₂, 1+λ]] system, so
    the whole path is Cramer's rule on THREE corr() aggregates; λ = 0
    reproduces the OLS solution exactly and the shrinkage column
    (‖β(λ)‖/‖β(0)‖, monotone ↓ in λ — pytest-pinned) prices the bias
    the penalty buys. The regularization rung the regression family
    lacked (a_ols_two_factor = unpenalized, r_ease = ridge on the
    item gram; this is ridge on the MOMENT form with the path
    visible).

    Scale: ONE corr-aggregate pass over the scan (three correlations,
    map-side combinable); the path arithmetic runs per-λ on a 1-row
    frame — a 100-point λ grid would cost the same single shuffle.
    Correlations are scale-free, so the 6dp snap absorbs both
    engines' summation-order drift.

    Degenerate-corpus guard (round-16 back-sweep): Spark's corr()
    CRASHES under ANSI when a regressor has zero variance (constant
    quantity/discount corpus) while DuckDB's corr returns NULL, so the
    correlations are assembled from covar/stddev moments via
    try_divide — NULL on a zero-variance column, hash-neutral
    otherwise (same double arithmetic as corr's own definition).
    """
    li = load_table(spark, sf_dir, "lineitem")

    def _corr(x, y):
        return F.try_divide(
            F.covar_samp(x, y), F.stddev_samp(x) * F.stddev_samp(y)
        )

    m = li.agg(
        _corr(F.col("l_quantity"), F.round(F.col("l_discount") * 100)).alias(
            "r12"
        ),
        _corr(
            F.col("l_quantity"), F.round(F.col("l_extendedprice") * 100)
        ).alias("r1y"),
        _corr(
            F.round(F.col("l_discount") * 100),
            F.round(F.col("l_extendedprice") * 100),
        ).alias("r2y"),
        F.count("*").cast("long").alias("n"),
    )
    lam = F.col("lam")
    det = (1 + lam) * (1 + lam) - F.col("r12") * F.col("r12")
    b1 = F.try_divide(
        F.col("r1y") * (1 + lam) - F.col("r12") * F.col("r2y"), det
    )
    b2 = F.try_divide(
        F.col("r2y") * (1 + lam) - F.col("r12") * F.col("r1y"), det
    )
    det0 = 1 - F.col("r12") * F.col("r12")
    b10 = F.try_divide(F.col("r1y") - F.col("r12") * F.col("r2y"), det0)
    b20 = F.try_divide(F.col("r2y") - F.col("r12") * F.col("r1y"), det0)
    return (
        m.select(
            F.explode(
                F.array(F.lit(0.0), F.lit(0.1), F.lit(1.0))
            ).alias("lam"),
            "n",
            "r12",
            "r1y",
            "r2y",
        )
        .select(
            "lam",
            "n",
            f6(b1).alias("beta_qty_std"),
            f6(b2).alias("beta_disc_std"),
            f6(
                F.try_divide(
                    F.sqrt(b1 * b1 + b2 * b2),
                    F.sqrt(b10 * b10 + b20 * b20),
                )
            ).alias("shrinkage"),
        )
        .orderBy("lam")
    )


@register(
    "a_gpd_pot",
    """
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS hb
        FROM orders
    ),
    u AS (
        SELECT quantile_cont(hb, 0.95) AS uq,
               CAST(count(*) AS BIGINT) AS n_all
        FROM cents
    ),
    exc AS (
        SELECT hb - uq AS e FROM cents, u WHERE hb > uq
    ),
    census AS (
        SELECT e, CAST(count(*) AS BIGINT) AS c FROM exc GROUP BY e
    ),
    cum AS (
        SELECT e, c,
               CAST(coalesce(sum(c) OVER (ORDER BY e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS below,
               CAST(sum(c) OVER () AS BIGINT) AS k
        FROM census
    ),
    pwm AS (
        SELECT CAST(max(k) AS BIGINT) AS k,
               sum(e * c) * 1.0 / max(k) AS b0,
               sum(e * (c * (1.0 - (below + (c + 1) / 2.0 - 0.35) / k)))
                   / max(k) AS b1
        FROM cum
    )
    SELECT p.k AS n_exceed, u.n_all,
           round(u.uq * 100, 2) + 0 AS threshold_usd,
           round(2.0 - p.b0 / (p.b0 - 2 * p.b1), 6) + 0 AS gpd_shape,
           round(2.0 * p.b0 * p.b1 / (p.b0 - 2 * p.b1) * 100, 2) + 0
               AS gpd_scale_usd,
           round(p.b0 * 100, 2) + 0 AS mean_excess_usd
    FROM pwm p, u
    """,
)
def a_gpd_pot(spark, sf_dir):
    """Peaks-over-threshold GPD fit by probability-weighted moments
    (Hosking-Wallis 1987): order totals banded to $100, threshold =
    exact P95 of the banded values, and the Generalized Pareto shape/
    scale from the two PWMs — ξ = 2 − b₀/(b₀−2b₁), σ = 2b₀b₁/(b₀−2b₁)
    — where b₁ = E[X(1−F(X))] is computed EXACTLY on the exceedance
    value census via the arithmetic-series closed form for each tied
    band (Landwehr plotting position (i−0.35)/n). The third member of
    the extreme-value family: a_gumbel_maxima fits block maxima,
    a_hill_tail estimates the tail index, THIS fits the excess
    distribution that capacity planning and risk sizing actually
    integrate (mean-excess column = the e(u) diagnostic).

    Scale: one banded projection (map-side), an exact-percentile
    aggregate, then the census + ONE cumulative window over the
    bounded $100-band axis — the 5% exceedance mass never sorts at
    row grain. All counts BIGINT; the PWM ratio floats once at 6dp.
    """
    cents = load_table(spark, sf_dir, "orders").select(
        (F.round(F.col("o_totalprice") * 100).cast("long") / F.lit(10000))
        .cast("long")
        .alias("hb")
    )
    u = cents.agg(
        F.expr("percentile(hb, 0.95D)").alias("uq"),
        F.count("*").cast("long").alias("n_all"),
    )
    exc = (
        cents.crossJoin(F.broadcast(u))
        .where(F.col("hb") > F.col("uq"))
        .select((F.col("hb") - F.col("uq")).alias("e"), "n_all")
    )
    census = exc.groupBy("e", "n_all").agg(
        F.count("*").cast("long").alias("c")
    )
    wb = Window.orderBy("e").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    cum = census.select(
        "e",
        "c",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).cast("long").alias("below"),
        F.sum("c").over(wall).cast("long").alias("k"),
    )
    # arithmetic-series closed form: sum over the c tied items at ranks
    # below+1 .. below+c of (1 - (i - 0.35)/k)
    w_mass = F.col("c") * (
        1.0
        - (F.col("below") + (F.col("c") + 1) / 2.0 - 0.35) / F.col("k")
    )
    # GLOBAL aggregate (not a groupBy) so a no-exceedance corpus — every
    # order priced at the threshold band — yields ONE NULL-moment row,
    # matching the oracle's ungrouped `SELECT ... FROM cum`; the old
    # groupBy("k") emitted ZERO rows there (round-16 degenerate
    # back-sweep). try_divide mirrors DuckDB's NULL-on-/0.
    pwm = cum.agg(
        F.max("k").cast("long").alias("k"),
        F.try_divide(F.sum(F.col("e") * F.col("c")), F.max("k")).alias("b0"),
        F.try_divide(F.sum(F.col("e") * w_mass), F.max("k")).alias("b1"),
    )
    shape = 2.0 - F.try_divide(
        F.col("b0"), F.col("b0") - 2 * F.col("b1")
    )
    scale = F.try_divide(
        2.0 * F.col("b0") * F.col("b1"), F.col("b0") - 2 * F.col("b1")
    )
    return (
        pwm.crossJoin(F.broadcast(u))
        .select(
            F.col("k").alias("n_exceed"),
            "n_all",
            (F.round(F.col("uq") * 100, 2) + 0).alias("threshold_usd"),
            f6(shape).alias("gpd_shape"),
            (F.round(scale * 100, 2) + 0).alias("gpd_scale_usd"),
            (F.round(F.col("b0") * 100, 2) + 0).alias("mean_excess_usd"),
        )
    )


@register(
    "a_cvm_twosample",
    f"""
    WITH {_RN_CENSUS_SQL.format(v='l_quantity')},
    cum AS (
        SELECT v, a, b,
               CAST(sum(a) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS ca,
               CAST(sum(b) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cb
        FROM vals
    ),
    tot AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
                   CAST(sum(b) AS BIGINT) AS n_b
            FROM vals),
    stat AS (
        SELECT t.n_a, t.n_b,
               sum((CAST(c.ca AS DOUBLE) / t.n_a
                    - CAST(c.cb AS DOUBLE) / t.n_b)
                   * (CAST(c.ca AS DOUBLE) / t.n_a
                      - CAST(c.cb AS DOUBLE) / t.n_b)
                   * (c.a + c.b)) AS isum,
               max(abs(CAST(c.ca AS DOUBLE) / t.n_a
                       - CAST(c.cb AS DOUBLE) / t.n_b)) AS ks_d
        FROM cum c, tot t
        GROUP BY t.n_a, t.n_b
    )
    SELECT n_a, n_b,
           round(CAST(n_a AS DOUBLE) * n_b / ((n_a + n_b) * (n_a + n_b))
                 * isum, 6) + 0 AS cvm_t,
           round(ks_d, 6) + 0 AS ks_d
    FROM stat
    """,
)
def a_cvm_twosample(spark, sf_dir):
    """Two-sample Cramér-von Mises statistic between returned and
    shipped lineitem quantities — the INTEGRAL distance between the
    two empirical CDFs, T = (nm/(n+m)²)·Σ_x (F(x)−G(x))²·h(x) over
    the combined step points — with the KS supremum printed from the
    SAME cumulative frame. CvM weights every quantile equally where
    KS sees only the single worst gap, so tail-spread differences
    that KS under-powers show up here — the distributional-drift
    pair a_ks_drift (sup) and a_psi_drift (binned KL-proxy) lacked.

    Scale: a_cliffs_delta's value-domain discipline verbatim — one
    (value, group) census groupBy (~50 rows at any sf for discrete
    quantities), one cumulative window, one weighted sum; every count
    BIGINT until the two final 6dp statistics. Continuous measures
    bucket first, same argument as the delta.
    """
    vals = _rn_census(spark, sf_dir, F.col("l_quantity"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        "a",
        "b",
        F.sum("a").over(w).cast("long").alias("ca"),
        F.sum("b").over(w).cast("long").alias("cb"),
    )
    tot = vals.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
    )
    gap = F.col("ca").cast("double") / F.col("n_a") - F.col("cb").cast(
        "double"
    ) / F.col("n_b")
    stat = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(
            F.sum(gap * gap * (F.col("a") + F.col("b"))).alias("isum"),
            F.max(F.abs(gap)).alias("ks_d"),
        )
    )
    return stat.select(
        "n_a",
        "n_b",
        f6(
            F.col("n_a").cast("double")
            * F.col("n_b")
            / ((F.col("n_a") + F.col("n_b")) * (F.col("n_a") + F.col("n_b")))
            * F.col("isum")
        ).alias("cvm_t"),
        f6(F.col("ks_d")).alias("ks_d"),
    )


@register(
    "w_pacf",
    """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100 AS y
        FROM orders GROUP BY 1
    ),
    lagd AS (
        SELECT CAST(y AS DOUBLE) AS y,
               CAST(lag(y, 1) OVER (ORDER BY d) AS DOUBLE) AS y1,
               CAST(lag(y, 2) OVER (ORDER BY d) AS DOUBLE) AS y2,
               CAST(lag(y, 3) OVER (ORDER BY d) AS DOUBLE) AS y3
        FROM daily
    ),
    rho AS (
        SELECT round(corr(y, y1), 9) AS r1,
               round(corr(y, y2), 9) AS r2,
               round(corr(y, y3), 9) AS r3,
               CAST(count(y3) AS BIGINT) AS n
        FROM lagd
    ),
    lvl2 AS (
        SELECT n, r1, r2, r3,
               (r2 - r1 * r1) / (1 - r1 * r1) AS p22,
               r1 * (1 - (r2 - r1 * r1) / (1 - r1 * r1)) AS p21
        FROM rho
    )
    SELECT lag_k, n, round(acf, 6) + 0 AS acf,
           round(pacf, 6) + 0 AS pacf,
           round(1.959964 / sqrt(n), 6) + 0 AS white_noise_band
    FROM (
        SELECT CAST(1 AS BIGINT) AS lag_k, n, r1 AS acf, r1 AS pacf
        FROM lvl2
        UNION ALL
        SELECT CAST(2 AS BIGINT), n, r2, p22 FROM lvl2
        UNION ALL
        SELECT CAST(3 AS BIGINT), n, r3,
               (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2)
        FROM lvl2
    ) ORDER BY lag_k
    """,
)
def w_pacf(spark, sf_dir):
    """Partial autocorrelation of daily revenue at lags 1-3 via the
    Durbin-Levinson recursion in CLOSED FORM from the first three
    autocorrelations (φ₁₁ = ρ₁; φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²); φ₃₃ from the
    level-2 coefficients), with the raw ACF and the ±1.96/√n white-
    noise band beside each lag — the ARIMA order-identification
    ladder (ACF tails ⇒ AR; the lag where PACF cuts off IS the AR
    order p) that a_ar2_yule_walker ASSUMES p = 2 for; this key is
    how you'd justify that choice. ρ's snap to 9dp before the
    recursion so both engines run the identical rational arithmetic.

    Scale: one cents-exact daily rollup, one 3-lag window pass over
    the bounded calendar axis, one corr-aggregate — the recursion is
    scalar math on a 1-row frame; lag depth adds columns, not passes.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            _usd_sum().alias("y")
        )
    )
    wl = Window.orderBy("d")
    lagd = daily.select(
        F.col("y").cast("double").alias("y"),
        F.lag("y", 1).over(wl).cast("double").alias("y1"),
        F.lag("y", 2).over(wl).cast("double").alias("y2"),
        F.lag("y", 3).over(wl).cast("double").alias("y3"),
    )
    # moment-form corr via try_divide: Spark's corr() ANSI-crashes on a
    # zero-variance / empty lag frame (single-day corpus) where DuckDB's
    # corr returns NULL (round-16 degenerate back-sweep); the ratio is
    # mathematically identical and the 9dp snap absorbs ulp drift.
    def _corr9(a, b):
        # pairwise-complete like corr: mask a where the lag is NULL so
        # its stddev runs over exactly the pairs covar_samp sees
        a_mask = F.when(F.col(b).isNotNull(), F.col(a))
        return F.round(
            F.try_divide(
                F.covar_samp(a, b),
                F.stddev_samp(a_mask) * F.stddev_samp(b),
            ),
            9,
        )

    rho = lagd.agg(
        _corr9("y", "y1").alias("r1"),
        _corr9("y", "y2").alias("r2"),
        _corr9("y", "y3").alias("r3"),
        F.count("y3").cast("long").alias("n"),
    )
    p22 = F.try_divide(
        F.col("r2") - F.col("r1") * F.col("r1"),
        1 - F.col("r1") * F.col("r1"),
    )
    p21 = F.col("r1") - p22 * F.col("r1")  # phi_{2,1} after level 2
    p33 = F.try_divide(
        F.col("r3") - p21 * F.col("r2") - p22 * F.col("r1"),
        1 - p21 * F.col("r1") - p22 * F.col("r2"),
    )
    rows = rho.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("lag_k"),
                    F.col("n"),
                    F.col("r1").alias("acf"),
                    F.col("r1").alias("pacf"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("lag_k"),
                    F.col("n"),
                    F.col("r2").alias("acf"),
                    p22.alias("pacf"),
                ),
                F.struct(
                    F.lit(3).cast("long").alias("lag_k"),
                    F.col("n"),
                    F.col("r3").alias("acf"),
                    p33.alias("pacf"),
                ),
            )
        ).alias("r")
    ).select("r.lag_k", "r.n", "r.acf", "r.pacf")
    return rows.select(
        "lag_k",
        "n",
        f6(F.col("acf")).alias("acf"),
        f6(F.col("pacf")).alias("pacf"),
        f6(F.try_divide(F.lit(1.959964), F.sqrt(F.col("n")))).alias(
            "white_noise_band"
        ),
    ).orderBy("lag_k")


@register(
    "a_pettitt",
    f"""
    WITH {_DAILY_REV_SQL},
    census AS (
        SELECT rev AS v, CAST(count(*) AS BIGINT) AS c
        FROM daily GROUP BY 1
    ),
    ranks AS (
        SELECT v,
               2 * CAST(coalesce(sum(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) + c + 1 AS r2
        FROM census
    ),
    seq AS (
        SELECT d.d, r.r2,
               CAST(row_number() OVER (ORDER BY d.d) AS BIGINT) AS t,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM daily d JOIN ranks r ON r.v = d.rev
    ),
    u AS (
        SELECT d, t, n,
               CAST(sum(r2) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) - t * (n + 1) AS u2
        FROM seq WHERE t < n
    )
    SELECT n AS n_days,
           CAST(max(abs(u2)) AS BIGINT) AS k_stat,
           (SELECT min(d) FROM u u1, (SELECT max(abs(u2)) AS m FROM u) mm
            WHERE abs(u1.u2) = mm.m) AS break_day,
           round(2 * exp(-6.0 * CAST(max(abs(u2)) AS DOUBLE)
                               * max(abs(u2))
                         / (CAST(n AS DOUBLE) * n * n
                            + CAST(n AS DOUBLE) * n)), 6) + 0
               AS p_approx
    FROM u GROUP BY n
    """,
)
def a_pettitt(spark, sf_dir):
    """Pettitt change-point test on daily revenue — the NONPARAMETRIC
    break search completing the structural-break triple (a_chow_test
    TESTS a known date, w_changepoint searches with OLS segment fits,
    THIS searches with rank statistics immune to outliers and
    distribution shape): U_t = 2·Σ_{i≤t} r_i − t(n+1) with tie-averaged
    ranks, K = max|U_t| at the most probable break day, and the
    classic p ≈ 2·exp(−6K²/(n³+n²)) approximation. Doubled ranks
    (2·below + ties + 1) keep EVERY statistic a BIGINT until the final
    exp — k2_stat = 2K is exact on both engines by construction.

    Scale: one cents-exact daily rollup; ranks come from a value
    census + one cumulative window (≤ n_days rows — the calendar
    bounds both axes), the U_t sweep is one more cumulative window in
    time order, and the argmax is an aggregate. Nothing row-grain
    ever sorts; the same two-window shape serves any rank-based CUSUM.
    """
    daily = _daily_rev(spark, sf_dir)
    census = daily.groupBy(F.col("rev").alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranks = census.select(
        "v",
        (
            2 * F.coalesce(F.sum("c").over(wv), F.lit(0)).cast("long")
            + F.col("c")
            + 1
        ).alias("r2"),
    )
    wt = Window.orderBy("d")
    seq = (
        daily.join(ranks, daily.rev == ranks.v)
        .select(
            "d",
            "r2",
            F.row_number().over(wt).cast("long").alias("t"),
            F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
        )
    )
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    u = seq.where(F.col("t") < F.col("n")).select(
        "d",
        "n",
        (
            F.sum("r2").over(wc).cast("long")
            - F.col("t") * (F.col("n") + 1)
        ).alias("u2"),
    )
    mx = u.groupBy("n").agg(F.max(F.abs(F.col("u2"))).alias("kmax"))
    brk = (
        u.crossJoin(F.broadcast(mx.select("kmax")))
        .where(F.abs(F.col("u2")) == F.col("kmax"))
        .agg(F.min("d").alias("break_day"))
    )
    k = F.col("kmax").cast("double")
    nd = F.col("n").cast("double")
    return (
        mx.crossJoin(F.broadcast(brk))
        .select(
            F.col("n").alias("n_days"),
            F.col("kmax").cast("long").alias("k_stat"),
            "break_day",
            f6(
                2 * F.exp(-6.0 * k * k / (nd * nd * nd + nd * nd))
            ).alias("p_approx"),
        )
    )


@register(
    "a_cochran_q",
    """
    WITH subj AS (
        SELECT o_custkey AS cust,
               max(CASE WHEN quarter(o_orderdate) = 1 THEN 1 ELSE 0 END)
                   AS q1,
               max(CASE WHEN quarter(o_orderdate) = 2 THEN 1 ELSE 0 END)
                   AS q2,
               max(CASE WHEN quarter(o_orderdate) = 3 THEN 1 ELSE 0 END)
                   AS q3,
               max(CASE WHEN quarter(o_orderdate) = 4 THEN 1 ELSE 0 END)
                   AS q4
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_subj,
               CAST(sum(q1) AS BIGINT) AS c1,
               CAST(sum(q2) AS BIGINT) AS c2,
               CAST(sum(q3) AS BIGINT) AS c3,
               CAST(sum(q4) AS BIGINT) AS c4,
               CAST(sum(q1 + q2 + q3 + q4) AS BIGINT) AS sr,
               CAST(sum((q1 + q2 + q3 + q4) * (q1 + q2 + q3 + q4))
                    AS BIGINT) AS sr2
        FROM subj
    )
    SELECT n_subj, c1, c2, c3, c4,
           round(3.0 * 4 * ((c1 - sr / 4.0) * (c1 - sr / 4.0)
                            + (c2 - sr / 4.0) * (c2 - sr / 4.0)
                            + (c3 - sr / 4.0) * (c3 - sr / 4.0)
                            + (c4 - sr / 4.0) * (c4 - sr / 4.0))
                 / (4.0 * sr - sr2), 6) + 0 AS cochran_q,
           CAST(CASE WHEN 3.0 * 4 * ((c1 - sr / 4.0) * (c1 - sr / 4.0)
                                     + (c2 - sr / 4.0) * (c2 - sr / 4.0)
                                     + (c3 - sr / 4.0) * (c3 - sr / 4.0)
                                     + (c4 - sr / 4.0) * (c4 - sr / 4.0))
                          / (4.0 * sr - sr2) > 7.814728
                THEN 1 ELSE 0 END AS BIGINT) AS seasonal_95
    FROM s
    """,
)
def a_cochran_q(spark, sf_dir):
    """Cochran's Q across k = 4 matched treatments: does the same
    customer's buy/no-buy flag differ across calendar quarters —
    Q = k(k−1)·Σ_j(C_j − R̄)² / (k·ΣR_i − ΣR_i²) against χ²(3)
    (95% cutoff 7.815, flagged in-row). The k-treatment
    generalization of a_mcnemar_test (k = 2 discordant pairs) and the
    binary sibling of a_friedman_test (ranks) — the question unpaired
    per-quarter proportions (a_proportion_ztest's view) cannot
    answer, because each customer is their own control. Every
    building block (column totals, row-total sum, row-total square
    sum) is a BIGINT; the single float association is the final Q.

    Scale: ONE customer-keyed groupBy with four conditional max flags
    (map-side combinable) + a 7-sum aggregate — adding treatments
    adds columns, not passes; the subject axis shuffles once at any
    corpus size.
    """
    subj = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            *[
                F.max(
                    F.when(F.quarter("o_orderdate") == q, 1).otherwise(0)
                ).alias(f"q{q}")
                for q in (1, 2, 3, 4)
            ]
        )
    )
    r = F.col("q1") + F.col("q2") + F.col("q3") + F.col("q4")
    s = subj.agg(
        F.count("*").cast("long").alias("n_subj"),
        *[F.sum(f"q{q}").cast("long").alias(f"c{q}") for q in (1, 2, 3, 4)],
        F.sum(r).cast("long").alias("sr"),
        F.sum(r * r).cast("long").alias("sr2"),
    )
    rbar = F.col("sr") / 4.0
    num = sum(
        (F.col(f"c{q}") - rbar) * (F.col(f"c{q}") - rbar)
        for q in (1, 2, 3, 4)
    )
    # k·ΣR − ΣR² = ΣR_i(4−R_i) is 0 exactly when every subject bought in
    # ALL four quarters or NONE (Q undefined). ANSI Spark would CRASH on
    # that corpus while the DuckDB oracle returns NULL — try_divide
    # matches the oracle's NULL (round-15 fixture-sensitivity sweep;
    # hash-neutral here: TPC-H customers always split quarters).
    qstat = F.try_divide(
        3.0 * 4 * num, 4.0 * F.col("sr") - F.col("sr2")
    )
    return s.select(
        "n_subj",
        "c1",
        "c2",
        "c3",
        "c4",
        f6(qstat).alias("cochran_q"),
        F.when(qstat > 7.814728, 1).otherwise(0).cast("long").alias(
            "seasonal_95"
        ),
    )


@register(
    "a_bartlett_test",
    """
    WITH base AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    grp AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS nj,
               CAST(sum(cents) AS BIGINT) AS sj,
               CAST(sum(cents * cents) AS BIGINT) AS qj
        FROM base GROUP BY event_type
    ),
    v AS (
        SELECT nj,
               (qj - CAST(sj AS DOUBLE) * sj / nj) / (nj - 1) AS s2
        FROM grp
    ),
    c AS (
        SELECT CAST(sum(nj) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               sum((nj - 1) * s2) AS ssw,
               sum((nj - 1) * CASE WHEN s2 > 0 THEN ln(s2) END) AS sln,
               sum(1.0 / (nj - 1)) AS sinv,
               min(s2) AS min_s2
        FROM v
    )
    SELECT n AS n_obs, k AS k_groups,
           round(CASE WHEN min_s2 > 0 THEN
               ((n - k) * ln(ssw / (n - k)) - sln)
               / (1 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1))) END, 6)
               + 0 AS bartlett_t,
           CASE WHEN min_s2 > 0
                 AND ((n - k) * ln(ssw / (n - k)) - sln)
                     / (1 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1)))
                     > 9.487729 THEN 1 ELSE 0 END AS heteroskedastic_flag
    FROM c
    """,
)
def a_bartlett_test(spark, sf_dir):
    """Bartlett's test — the PARAMETRIC variance-homogeneity sibling of
    a_levene_test (same five event-type groups, deliberately): T =
    [(N−k)·ln(s²_p) − Σ(n_j−1)·ln(s²_j)] / C with the Box correction
    C = 1 + (Σ1/(n_j−1) − 1/(N−k)) / (3(k−1)), gated at χ²₄ 95% =
    9.487729. Bartlett is more powerful than Brown-Forsythe Levene
    when the groups ARE normal and anti-conservative when they are
    not — shipping both is how a stats battery lets the analyst see
    WHICH assumption is doing the work (the two keys disagreeing is
    itself the non-normality signal).

    Exactness: per-group moments (n, Σc, Σc²) are BIGINT-exact from
    the cents snap; each group variance is one float division of
    exact integers, and ln/Σ run over exactly five group rows — the
    only data-scale pass is the map-side-combinable moment groupBy.

    Scale: ONE grouped aggregate over the events table (k = 5 rows
    out), then a 5-row reduction — adding groups adds rows to a tiny
    frame, never a second data pass.
    """
    ev = load_table(spark, sf_dir, "events")
    grp = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).groupBy("event_type").agg(
        F.count("*").cast("long").alias("nj"),
        F.sum("cents").cast("long").alias("sj"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("qj"),
    )
    s2 = (
        F.col("qj") - F.col("sj").cast("double") * F.col("sj") / F.col("nj")
    ) / (F.col("nj") - 1)
    v = grp.select("nj", s2.alias("s2"))
    # A zero-variance group (all-identical cents) leaves ln(s2)
    # undefined: DuckDB ERRORS on ln(0) while Spark's log returns NULL
    # — the round-15 degenerate-corpus lens applied to this round's own
    # keys. Guard BOTH sides to a well-defined NULL statistic (Bartlett
    # is undefined there; hash-neutral on any corpus with spread).
    c = v.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum((F.col("nj") - 1) * F.col("s2")).alias("ssw"),
        F.sum(
            (F.col("nj") - 1)
            * F.when(F.col("s2") > 0, F.log(F.col("s2")))
        ).alias("sln"),
        F.sum(1.0 / (F.col("nj") - 1)).alias("sinv"),
        F.min("s2").alias("min_s2"),
    )
    n, k = F.col("n"), F.col("k")
    t = F.when(
        F.col("min_s2") > 0,
        ((n - k) * F.log(F.col("ssw") / (n - k)) - F.col("sln"))
        / (1 + (F.col("sinv") - 1.0 / (n - k)) / (3.0 * (k - 1))),
    )
    return c.select(
        n.alias("n_obs"),
        k.alias("k_groups"),
        f6(t).alias("bartlett_t"),
        F.when(t > 9.487729, 1).otherwise(0).alias("heteroskedastic_flag"),
    )


@register(
    "a_mood_median",
    """
    WITH base AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    census AS (
        SELECT cents, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY cents
    ),
    cum AS (
        SELECT cents,
               CAST(sum(cnt) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM census
    ),
    med AS (
        SELECT min(cents) AS gm FROM cum WHERE cum >= (n + 1) // 2
    ),
    cells AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS nj,
               CAST(sum(CASE WHEN cents > m.gm THEN 1 ELSE 0 END)
                    AS BIGINT) AS aj
        FROM base, med m GROUP BY event_type, m.gm
    ),
    tot AS (
        SELECT CAST(sum(nj) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(aj) AS BIGINT) AS a
        FROM cells
    )
    SELECT t.n AS n_obs, t.k AS k_groups, m.gm AS grand_median_cents,
           round(sum(
               (c.aj - c.nj * (CAST(t.a AS DOUBLE) / t.n))
               * (c.aj - c.nj * (CAST(t.a AS DOUBLE) / t.n))
               / (c.nj * (CAST(t.a AS DOUBLE) / t.n))
               + ((c.nj - c.aj) - c.nj * (1.0 - CAST(t.a AS DOUBLE) / t.n))
                 * ((c.nj - c.aj) - c.nj * (1.0 - CAST(t.a AS DOUBLE) / t.n))
                 / (c.nj * (1.0 - CAST(t.a AS DOUBLE) / t.n))
           ), 6) + 0 AS chi2,
           CASE WHEN sum(
               (c.aj - c.nj * (CAST(t.a AS DOUBLE) / t.n))
               * (c.aj - c.nj * (CAST(t.a AS DOUBLE) / t.n))
               / (c.nj * (CAST(t.a AS DOUBLE) / t.n))
               + ((c.nj - c.aj) - c.nj * (1.0 - CAST(t.a AS DOUBLE) / t.n))
                 * ((c.nj - c.aj) - c.nj * (1.0 - CAST(t.a AS DOUBLE) / t.n))
                 / (c.nj * (1.0 - CAST(t.a AS DOUBLE) / t.n))
           ) > 9.487729 THEN 1 ELSE 0 END AS differ_flag
    FROM cells c, tot t, med m
    GROUP BY t.n, t.k, m.gm
    """,
)
def a_mood_median(spark, sf_dir):
    """Mood's median test — do the five event types share a MEDIAN?
    The rank-free nonparametric k-group location test: dichotomize
    every value at the GRAND median and χ²-test the resulting
    k × 2 contingency table (above vs at-or-below), gated at χ²₄ 95%
    = 9.487729. The median sibling of a_kruskal_wallis (which
    compares full rank distributions): Mood throws away everything
    but the side of the median, which costs power yet survives ANY
    monotone transformation and arbitrary outliers — the robustness
    extreme of the location battery.

    Exactness: the grand median is an exact order statistic read off
    the cents value census (smallest cents with cumulative count ≥
    ⌈N/2⌉ — the lower median, never engine interpolation); every cell
    count is BIGINT; χ² is one float association of exact integers.

    Scale: the census groupBy is the only data-sized shuffle; its
    cumulative window runs on the price-domain-bounded cents axis
    (≤ ~49k rows at ANY corpus size — value ∈ [0, 490]), and the
    dichotomize pass is a broadcast-scalar comparison folded into the
    same grouped aggregate that builds the k × 2 table.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    census = base.groupBy("cents").agg(F.count("*").cast("long").alias("cnt"))
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = census.select(
        "cents",
        F.sum("cnt").over(wcum).cast("long").alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).cast("long").alias("n"),
    )
    med = cum.where(
        F.col("cum") >= F.floor((F.col("n") + 1) / 2)
    ).agg(F.min("cents").alias("gm"))
    cells = (
        base.crossJoin(F.broadcast(med))
        .groupBy("event_type", "gm")
        .agg(
            F.count("*").cast("long").alias("nj"),
            F.sum(F.when(F.col("cents") > F.col("gm"), 1).otherwise(0))
            .cast("long")
            .alias("aj"),
        )
    )
    tot = cells.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("aj").cast("long").alias("a"),
    )
    pa = F.col("a").cast("double") / F.col("n")
    ea = F.col("nj") * pa
    eb = F.col("nj") * (1.0 - pa)
    # try_divide: a corpus where NO value exceeds the grand median
    # (constant-ish data, a = 0) zeroes every expected-above cell —
    # the per-cell terms go NULL like the DuckDB oracle's div-by-zero
    # and chi2 comes back NULL, never an ANSI crash.
    term = F.try_divide(
        (F.col("aj") - ea) * (F.col("aj") - ea), ea
    ) + F.try_divide(
        ((F.col("nj") - F.col("aj")) - eb)
        * ((F.col("nj") - F.col("aj")) - eb),
        eb,
    )
    chi2 = F.sum(term)
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("n", "k", "gm")
        .agg(
            f6(chi2).alias("chi2"),
            F.when(chi2 > 9.487729, 1).otherwise(0).alias("differ_flag"),
        )
        .select(
            F.col("n").alias("n_obs"),
            F.col("k").alias("k_groups"),
            F.col("gm").alias("grand_median_cents"),
            "chi2",
            "differ_flag",
        )
    )


@register(
    "a_sign_test",
    f"""
    WITH {_PC_DAILY_SQL},
    c AS (
        SELECT CAST(sum(CASE WHEN x <> y THEN 1 ELSE 0 END) AS BIGINT)
                   AS n,
               CAST(sum(CASE WHEN x > y THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos
        FROM daily
    )
    SELECT n AS n_pairs, n_pos,
           CAST(n - n_pos AS BIGINT) AS n_neg,
           round((2.0 * n_pos - n) / sqrt(CAST(n AS DOUBLE)), 6) + 0 AS z,
           CASE WHEN abs((2.0 * n_pos - n) / sqrt(CAST(n AS DOUBLE)))
                     > 1.959964 THEN 1 ELSE 0 END AS differ_flag
    FROM c
    """,
)
def a_sign_test(spark, sf_dir):
    """Paired sign test on the SAME daily purchase-vs-click pairing as
    a_wilcoxon_signed_rank (deliberately): count days where purchase
    cents exceed click cents, z = (2·n⁺ − n)/√n against the shared
    1.959964 gate, zero differences dropped. The sign test uses ONLY
    the direction of each pair — the robustness floor below Wilcoxon
    (which adds magnitude ranks) and the t-test (which adds raw
    magnitudes): the three agreeing is the textbook robustness
    ladder, and the sign test diverging from Wilcoxon flags a few
    huge-magnitude days doing all the work.

    Exactness: the pairing rollup is BIGINT cents; n and n⁺ are exact
    counts; the z is the only float. Scale: one day-keyed rollup
    (map-side combinable) and a two-counter reduction — strictly
    cheaper than Wilcoxon (no rank window at all).
    """
    daily = _purchase_click_days(spark, sf_dir)
    c = daily.agg(
        F.sum(F.when(F.col("x") != F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("n"),
        F.sum(F.when(F.col("x") > F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    )
    # try_divide: a pairing where every day ties (n = 0) leaves z
    # undefined — NULL on both engines (DuckDB 0/0 is NULL), never an
    # ANSI crash (round-15 degenerate-corpus lens on the round's own
    # keys).
    z = F.try_divide(
        2.0 * F.col("n_pos") - F.col("n"),
        F.sqrt(F.col("n").cast("double")),
    )
    return c.select(
        F.col("n").alias("n_pairs"),
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).alias("differ_flag"),
    )


@register(
    "a_js_divergence",
    """
    WITH banded AS (
        SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS band,
               CASE WHEN o_orderdate < DATE '1997-01-01' THEN 1 ELSE 0 END
                   AS pre
        FROM orders
    ),
    cells AS (
        SELECT band,
               CAST(sum(pre) AS BIGINT) AS cp,
               CAST(count(*) - sum(pre) AS BIGINT) AS cq
        FROM banded GROUP BY band
    ),
    tot AS (
        SELECT CAST(sum(cp) AS BIGINT) AS np,
               CAST(sum(cq) AS BIGINT) AS nq,
               CAST(count(*) AS BIGINT) AS nb
        FROM cells
    )
    SELECT t.nb AS n_bands, t.np AS n_pre, t.nq AS n_post,
           round(sum(
               0.5 * CASE WHEN c.cp > 0 THEN (CAST(c.cp AS DOUBLE) / t.np)
                   * log2(2.0 * (CAST(c.cp AS DOUBLE) / t.np)
                          / (CAST(c.cp AS DOUBLE) / t.np
                             + CAST(c.cq AS DOUBLE) / t.nq)) ELSE 0 END
               + 0.5 * CASE WHEN c.cq > 0 THEN (CAST(c.cq AS DOUBLE) / t.nq)
                   * log2(2.0 * (CAST(c.cq AS DOUBLE) / t.nq)
                          / (CAST(c.cp AS DOUBLE) / t.np
                             + CAST(c.cq AS DOUBLE) / t.nq)) ELSE 0 END
           ), 6) + 0 AS js_bits,
           round(0.5 * sum(abs(CAST(c.cp AS DOUBLE) / t.np
                               - CAST(c.cq AS DOUBLE) / t.nq)), 6) + 0
               AS total_variation
    FROM cells c, tot t
    GROUP BY t.nb, t.np, t.nq
    """,
)
def a_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence (bits) + total-variation distance
    between the pre- and post-1997 order-price distributions on the
    $1000 band axis (a_pr_auc's grid): JS = ½Σp·log₂(2p/(p+q)) +
    ½Σq·log₂(2q/(p+q)), always finite (unlike raw KL, which blows up
    on any band one side lacks — exactly why production drift gates
    use JS), bounded [0, 1] in bits; TV = ½Σ|p−q| beside it as the
    worst-case-event distance. Completes the drift battery:
    a_psi_drift is the banded log-ratio heuristic, a_ks_drift the
    max-CDF-gap test, JS/TV the information-theoretic pair.

    Zero-band handling is structural, not numeric: a band missing
    from one side contributes only the OTHER side's ½q·log₂2 term
    (the CASE/when guards), so no log(0) is ever evaluated on either
    engine. Band counts are BIGINT-exact; the two statistics are the
    only floats.

    Scale: one map-side-combinable (band, pre) census over the
    bounded $1000 price grid (~500 bands at any corpus size), then a
    band-frame reduction — the same shape PSI ships; the break date
    is a declared parameter like a_chow_test's.
    """
    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.select(
            F.floor(F.col("o_totalprice") / 1000).cast("long").alias("band"),
            F.when(
                F.col("o_orderdate") < F.lit("1997-01-01").cast("date"), 1
            )
            .otherwise(0)
            .alias("pre"),
        )
        .groupBy("band")
        .agg(
            F.sum("pre").cast("long").alias("cp"),
            (F.count("*") - F.sum("pre")).cast("long").alias("cq"),
        )
    )
    tot = cells.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cq").cast("long").alias("nq"),
        F.count("*").cast("long").alias("nb"),
    )
    # try_divide: a corpus entirely on ONE side of the break leaves that
    # side's total 0 — the statistics must go SQL NULL like the DuckDB
    # oracle's div-by-zero, not ANSI-crash (the round-15 sweep rule).
    p = F.try_divide(F.col("cp").cast("double"), F.col("np"))
    q = F.try_divide(F.col("cq").cast("double"), F.col("nq"))
    js_term = 0.5 * F.when(
        F.col("cp") > 0, p * F.log2(2.0 * p / (p + q))
    ).otherwise(0.0) + 0.5 * F.when(
        F.col("cq") > 0, q * F.log2(2.0 * q / (p + q))
    ).otherwise(0.0)
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("nb", "np", "nq")
        .agg(
            f6(F.sum(js_term)).alias("js_bits"),
            f6(0.5 * F.sum(F.abs(p - q))).alias("total_variation"),
        )
        .select(
            F.col("nb").alias("n_bands"),
            F.col("np").alias("n_pre"),
            F.col("nq").alias("n_post"),
            "js_bits",
            "total_variation",
        )
    )


@register(
    "a_jonckheere",
    """
    WITH census AS (
        SELECT CAST(substring(o.o_orderpriority, 1, 1) AS BIGINT) AS g,
               CAST(l.l_quantity AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    sizes AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS n FROM census GROUP BY g
    ),
    j2 AS (
        SELECT sum(CASE WHEN a.v < b.v THEN 2.0 * CAST(a.c AS DOUBLE) * b.c
                        WHEN a.v = b.v THEN CAST(a.c AS DOUBLE) * b.c
                        ELSE 0.0 END) AS j2
        FROM census a JOIN census b ON a.g < b.g
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(n * n) AS BIGINT) AS sn2,
               CAST(sum(CAST(n AS HUGEINT) * n * (2 * n + 3)) AS DOUBLE)
                   AS sn23
        FROM sizes
    )
    SELECT t.nn AS n_obs,
           CAST(j.j2 / 2.0 AS DOUBLE) + 0 AS jt_stat,
           CAST((CAST(t.nn AS DOUBLE) * t.nn - t.sn2) / 4.0 AS DOUBLE) + 0
               AS jt_mean,
           round((j.j2 / 2.0
                  - (CAST(t.nn AS DOUBLE) * t.nn - t.sn2) / 4.0)
                 / sqrt((CAST(t.nn AS DOUBLE) * t.nn * (2.0 * t.nn + 3)
                         - t.sn23) / 72.0), 6) + 0 AS z,
           CASE WHEN abs((j.j2 / 2.0
                          - (CAST(t.nn AS DOUBLE) * t.nn - t.sn2) / 4.0)
                         / sqrt((CAST(t.nn AS DOUBLE) * t.nn
                                 * (2.0 * t.nn + 3) - t.sn23) / 72.0))
                     > 1.959964 THEN 1 ELSE 0 END AS trend_flag
    FROM j2 j, tot t
    """,
)
def a_jonckheere(spark, sf_dir):
    """Jonckheere-Terpstra ordered-alternative trend test: does line
    quantity shift MONOTONICALLY across the five ordered priority
    classes (1-URGENT < … < 5-LOW)? J = Σ_{i<j} U_ij (pairwise
    Mann-Whitney counts between every ordered group pair, ties ½),
    z = (J − (N²−Σn_i²)/4) / √((N²(2N+3) − Σn_i²(2n_i+3))/72) — the
    classical no-tie-correction form, shared 1.959964 gate. Kruskal-
    Wallis asks "do the groups differ AT ALL"; J-T spends its power on
    the ordered alternative the priority axis actually encodes, which
    is why it detects monotone shifts K-W dilutes.

    Exactness: the (group, quantity) census is bounded by 5 × the
    quantity domain (~250 cells at any corpus size); J is assembled in
    DOUBLED units (2·[x<y] + [x=y]) so every tie contributes an exact
    integer, and the cell cross-join is ≤250² broadcast rows. Both J2
    (≈N² in doubled units) and Σn²(2n+3) exceed int64 in the billions-
    of-rows regime, so BOTH moments accumulate in DOUBLE on both
    engines (the oracle additionally widens sn23 via HUGEINT): exact
    while < 2^53, identical rounding on both engines beyond, no ANSI
    overflow crash at any N.

    Scale: one map-side-combinable census groupBy is the only
    data-sized pass — the same cells-not-rows discipline as
    a_somers_d's concordance census; groups add census rows, never
    passes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    census = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    sizes = census.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    a, b = census.alias("a"), census.alias("b")
    j2 = (
        a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))
        .agg(
            F.sum(
                F.when(
                    F.col("a.v") < F.col("b.v"),
                    2.0 * F.col("a.c").cast("double") * F.col("b.c"),
                )
                .when(
                    F.col("a.v") == F.col("b.v"),
                    F.col("a.c").cast("double") * F.col("b.c"),
                )
                .otherwise(0.0)
            ).alias("j2")
        )
    )
    tot = sizes.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sn2"),
        F.sum(
            F.col("n").cast("double")
            * F.col("n")
            * (2 * F.col("n") + 3)
        ).alias("sn23"),
    )
    nn = F.col("nn").cast("double")
    jt = F.col("j2") / 2.0
    mean = (nn * F.col("nn") - F.col("sn2")) / 4.0
    sd = F.sqrt((nn * F.col("nn") * (2.0 * F.col("nn") + 3) - F.col("sn23")) / 72.0)
    z = (jt - mean) / sd
    return j2.crossJoin(F.broadcast(tot)).select(
        F.col("nn").alias("n_obs"),
        (jt + 0).cast("double").alias("jt_stat"),
        (mean + 0).cast("double").alias("jt_mean"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).alias("trend_flag"),
    )


@register(
    "a_robust_location",
    """
    WITH base AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    census AS (
        SELECT cents, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY cents
    ),
    cum AS (
        SELECT cents, cnt,
               CAST(sum(cnt) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS hi,
               CAST(sum(cnt) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - cnt AS BIGINT) AS lo,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM census
    ),
    bounds AS (
        SELECT max(n) AS n,
               CAST((max(n) + 9) // 10 AS BIGINT) AS k,
               min(CASE WHEN hi > (n + 9) // 10 THEN cents END) AS lo_val,
               max(CASE WHEN lo < n - (n + 9) // 10 THEN cents END)
                   AS hi_val,
               min(CASE WHEN hi >= (n + 1) // 2 THEN cents END) AS med
        FROM cum
    ),
    sums AS (
        SELECT b.n, b.k, b.lo_val, b.hi_val, b.med,
               CAST(sum(c.cnt * c.cents) AS BIGINT) AS s_all,
               CAST(sum(GREATEST(LEAST(c.hi, b.n - b.k)
                                 - GREATEST(c.lo, b.k), 0) * c.cents)
                    AS BIGINT) AS s_trim
        FROM cum c, bounds b
        GROUP BY b.n, b.k, b.lo_val, b.hi_val, b.med
    )
    SELECT n AS n_obs, k AS k_trimmed_each_side,
           round(s_all * 1.0 / n, 4) + 0 AS mean_cents,
           round(s_trim * 1.0 / (n - 2 * k), 4) + 0 AS trimmed_mean_cents,
           round((s_trim + k * lo_val + k * hi_val) * 1.0 / n, 4) + 0
               AS winsorized_mean_cents,
           CAST(med AS BIGINT) AS median_cents
    FROM sums
    """,
)
def a_robust_location(spark, sf_dir):
    """Robust-location battery in one row: mean, 10%-trimmed mean,
    10%-winsorized mean, and the exact lower median of event cents —
    the four estimators whose DISAGREEMENT is the outlier/skew
    diagnostic (mean >> trimmed => a heavy right tail is doing the
    work; trimmed ~ winsorized ~ median => the tail is thin). Trimming
    DROPS the k = ceil(N/10) most extreme values each side; winsorizing
    CLAMPS them to the surviving boundary values, so the winsorized sum
    is EXACTLY s_trim + k*lo_val + k*hi_val — an identity, not a second
    pass. Each census cell contributes min(hi, N-k) - max(lo, k)
    surviving rows via cumulative-count interval arithmetic; no row
    ever sorts.

    Exactness: every sum is BIGINT over exact cents; the boundary
    values and the median are order statistics read off the census
    (the a_mood_median discipline); the three means are the only
    floats, 4dp-snapped.

    Scale: ONE census groupBy (value-domain-bounded, <= ~49k cells at
    any corpus size) + one cumulative window on the census + a 1-group
    reduction. The classic sort-based trimmed mean is O(N log N) with
    a global sort barrier; the census form is one shuffle and a
    bounded window — the same reason a_gini prefix-sums a census.
    """
    ev = load_table(spark, sf_dir, "events")
    census = (
        ev.select(F.round(F.col("value") * 100).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = census.select(
        "cents",
        "cnt",
        F.sum("cnt").over(wcum).cast("long").alias("hi"),
        (F.sum("cnt").over(wcum) - F.col("cnt")).cast("long").alias("lo"),
        F.sum("cnt").over(Window.partitionBy()).cast("long").alias("n"),
    )
    k = F.floor((F.col("n") + 9) / 10).cast("long")
    bounds = cum.agg(
        F.max("n").alias("n"),
        F.floor((F.max("n") + 9) / 10).cast("long").alias("k"),
        F.min(F.when(F.col("hi") > k, F.col("cents"))).alias("lo_val"),
        F.max(F.when(F.col("lo") < F.col("n") - k, F.col("cents"))).alias(
            "hi_val"
        ),
        F.min(
            F.when(
                F.col("hi") >= F.floor((F.col("n") + 1) / 2), F.col("cents")
            )
        ).alias("med"),
    )
    bk = F.col("k")
    surv = F.greatest(
        F.least(F.col("hi"), F.col("n") - bk) - F.greatest(F.col("lo"), bk),
        F.lit(0),
    )
    sums = (
        cum.drop("n")
        .crossJoin(F.broadcast(bounds))
        .groupBy("n", "k", "lo_val", "hi_val", "med")
        .agg(
            F.sum(F.col("cnt") * F.col("cents")).cast("long").alias("s_all"),
            F.sum(surv * F.col("cents")).cast("long").alias("s_trim"),
        )
    )
    return sums.select(
        F.col("n").alias("n_obs"),
        F.col("k").alias("k_trimmed_each_side"),
        (F.round(F.col("s_all") * 1.0 / F.col("n"), 4) + 0).alias(
            "mean_cents"
        ),
        (
            F.round(F.col("s_trim") * 1.0 / (F.col("n") - 2 * F.col("k")), 4)
            + 0
        ).alias("trimmed_mean_cents"),
        (
            F.round(
                (
                    F.col("s_trim")
                    + F.col("k") * F.col("lo_val")
                    + F.col("k") * F.col("hi_val")
                )
                * 1.0
                / F.col("n"),
                4,
            )
            + 0
        ).alias("winsorized_mean_cents"),
        F.col("med").cast("long").alias("median_cents"),
    )


_NATION_MOMENTS_SQL = """grp AS (
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS nj,
               avg(o.o_totalprice) AS xbar,
               var_samp(o.o_totalprice) AS s2
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    )"""


def _by_nation(spark, sf_dir, *aggs):
    """Orders joined to their customer's nation, grouped by nation name:
    (nation, *aggs)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(*aggs)
    )


def _nation_moments(spark, sf_dir):
    """Per-nation order-price moments (the `_NATION_MOMENTS_SQL` twin):
    (nation, nj, xbar, s2)."""
    return _by_nation(
        spark,
        sf_dir,
        F.count("*").cast("long").alias("nj"),
        F.avg("o_totalprice").alias("xbar"),
        F.var_samp("o_totalprice").alias("s2"),
    )


@register(
    "a_meta_fixed_effect",
    f"""
    WITH {_NATION_MOMENTS_SQL},
    pool AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(nj) AS BIGINT) AS n,
               sum(nj / s2 * xbar) / sum(nj / s2) AS pooled,
               sum(nj / s2) AS wsum
        FROM grp
    ),
    het AS (
        SELECT p.k, p.n, p.pooled, p.wsum,
               sum(g.nj / g.s2 * (g.xbar - p.pooled)
                   * (g.xbar - p.pooled)) AS q
        FROM grp g, pool p
        GROUP BY p.k, p.n, p.pooled, p.wsum
    )
    SELECT k AS k_studies, n AS n_obs,
           round(pooled, 4) + 0 AS pooled_mean,
           round(1.959964 / sqrt(wsum), 4) + 0 AS ci_halfwidth,
           round(q, 4) + 0 AS cochran_q_het,
           round(GREATEST((q - (k - 1)) / q, 0.0), 6) + 0 AS i_squared
    FROM het
    """,
)
def a_meta_fixed_effect(spark, sf_dir):
    """Fixed-effect (inverse-variance) meta-analysis across the 25
    nations treated as independent studies of mean order price:
    pooled = Σwⱼx̄ⱼ/Σwⱼ with wⱼ = nⱼ/s²ⱼ (the precision weight), 95%
    CI half-width 1.959964/√Σw, Cochran's heterogeneity Q_het =
    Σwⱼ(x̄ⱼ − pooled)², and I² = max((Q − df)/Q, 0) — the share of
    between-study variance that is REAL rather than sampling noise.
    I² ≈ 0 says one global mean describes every nation (pool away);
    I² large says the per-nation means genuinely differ and a pooled
    number misleads — the aggregate-or-stratify decision every
    multi-segment readout needs, stated as one auditable row. (The
    OTHER Cochran statistic, a_cochran_q, tests paired binary
    treatments; the shared name is historical.)

    Exactness: per-nation moments come from one grouped pass; the
    pooling and Q are reductions over 25 study rows. Means/variances
    are the engines' shared avg/var_samp on identical doubles; the
    6dp/4dp snaps absorb summation order.

    Scale: one 3-table join + nation groupBy (25 rows out) — the
    a_anova_f shape; studies add rows to a tiny frame. At 100 TB
    "studies" are shards/регions/experiments and this exact plan
    pools them without moving row-grain data twice.
    """
    grp = _nation_moments(spark, sf_dir)
    w = F.col("nj") / F.col("s2")
    pool = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("nj").cast("long").alias("n"),
        (F.sum(w * F.col("xbar")) / F.sum(w)).alias("pooled"),
        F.sum(w).alias("wsum"),
    )
    het = (
        grp.crossJoin(F.broadcast(pool))
        .groupBy("k", "n", "pooled", "wsum")
        .agg(
            F.sum(
                w
                * (F.col("xbar") - F.col("pooled"))
                * (F.col("xbar") - F.col("pooled"))
            ).alias("q")
        )
    )
    return het.select(
        F.col("k").alias("k_studies"),
        F.col("n").alias("n_obs"),
        (F.round(F.col("pooled"), 4) + 0).alias("pooled_mean"),
        (F.round(1.959964 / F.sqrt(F.col("wsum")), 4) + 0).alias(
            "ci_halfwidth"
        ),
        (F.round(F.col("q"), 4) + 0).alias("cochran_q_het"),
        f6(
            F.greatest(
                (F.col("q") - (F.col("k") - 1)) / F.col("q"), F.lit(0.0)
            )
        ).alias("i_squared"),
    )


@register(
    "a_james_stein",
    f"""
    WITH {_NATION_MOMENTS_SQL},
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               avg(xbar) AS grand,
               avg(s2 / nj) AS vbar,
               sum((xbar - (SELECT avg(xbar) FROM grp))
                   * (xbar - (SELECT avg(xbar) FROM grp))) AS ss
        FROM grp
    )
    SELECT grp.nation,
           grp.nj AS n_obs,
           round(grp.xbar, 4) + 0 AS raw_mean,
           round(g.grand + GREATEST(1 - (g.k - 3) * g.vbar / g.ss, 0.0)
                 * (grp.xbar - g.grand), 4) + 0 AS shrunk_mean,
           round(GREATEST(1 - (g.k - 3) * g.vbar / g.ss, 0.0), 6) + 0
               AS shrink_factor
    FROM grp, g
    ORDER BY nation
    """,
)
def a_james_stein(spark, sf_dir):
    """James-Stein shrinkage of the 25 per-nation mean order prices
    toward the grand mean: x̂ⱼ = x̿ + B·(x̄ⱼ − x̿) with B = max(1 −
    (k−3)·v̄/Σ(x̄ⱼ−x̿)², 0) (the positive-part estimator, v̄ = the
    average squared standard error). Stein's paradox operationalized:
    for k ≥ 4 groups the shrunk vector DOMINATES the raw means in
    total squared error, every time — the one-line empirical-Bayes
    fix for the "small segments have noisy means" problem every
    per-segment dashboard has. The PARTIAL-pooling rung between
    a_meta_fixed_effect (full pooling when I² ≈ 0) and raw per-group
    means (no pooling): B near 0 says the segment differences are
    noise, B near 1 says they are real.

    Exactness: per-nation moments from one grouped pass; the
    shrinkage factor is one reduction over 25 study rows, shared by
    every output row (identical float association on both engines).

    Scale: the a_meta_fixed_effect plan exactly — one 3-table join +
    25-row frame + a broadcast scalar join back; segments add rows to
    a tiny frame.
    """
    grp = _nation_moments(spark, sf_dir)
    grand = grp.agg(F.avg("xbar").alias("grand"))
    g = (
        grp.crossJoin(F.broadcast(grand))
        .agg(
            F.count("*").cast("long").alias("k"),
            F.max("grand").alias("grand"),
            F.avg(F.col("s2") / F.col("nj")).alias("vbar"),
            F.sum(
                (F.col("xbar") - F.col("grand"))
                * (F.col("xbar") - F.col("grand"))
            ).alias("ss"),
        )
    )
    # try_divide: identical group means (constant-price corpus) zero the
    # between-group SS — 1 - NULL stays NULL and greatest() skips NULLs
    # on BOTH engines, so B degenerates to 0 (full shrink) instead of an
    # ANSI crash (round-16 degenerate back-sweep)
    b = F.greatest(
        1 - F.try_divide((F.col("k") - 3) * F.col("vbar"), F.col("ss")),
        F.lit(0.0),
    )
    return (
        grp.crossJoin(F.broadcast(g))
        .select(
            "nation",
            F.col("nj").alias("n_obs"),
            (F.round(F.col("xbar"), 4) + 0).alias("raw_mean"),
            (
                F.round(
                    F.col("grand") + b * (F.col("xbar") - F.col("grand")), 4
                )
                + 0
            ).alias("shrunk_mean"),
            f6(b).alias("shrink_factor"),
        )
        .orderBy("nation")
    )


@register(
    "a_decision_stump",
    """
    WITH ret AS (
        SELECT l_orderkey,
               max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS y
        FROM lineitem GROUP BY 1
    ),
    g AS (
        SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS band,
               CAST(sum(ret.y) AS BIGINT) AS pos,
               CAST(count(*) AS BIGINT) AS tot
        FROM orders JOIN ret ON l_orderkey = o_orderkey
        GROUP BY 1
    ),
    cum AS (
        SELECT band,
               CAST(sum(pos) OVER (ORDER BY band
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS lp,
               CAST(sum(tot) OVER (ORDER BY band
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS ln,
               CAST(sum(pos) OVER () AS BIGINT) AS p,
               CAST(sum(tot) OVER () AS BIGINT) AS n
        FROM g
    ),
    scored AS (
        SELECT band, lp, ln, p, n,
               (CAST(ln AS DOUBLE) / n)
                   * 2.0 * (CAST(lp AS DOUBLE) / ln)
                   * (1.0 - CAST(lp AS DOUBLE) / ln)
               + (CAST(n - ln AS DOUBLE) / n)
                   * 2.0 * (CAST(p - lp AS DOUBLE) / (n - ln))
                   * (1.0 - CAST(p - lp AS DOUBLE) / (n - ln)) AS gini_w
        FROM cum WHERE ln < n
    ),
    best AS (
        SELECT band, lp, ln, p, n, gini_w,
               row_number() OVER (ORDER BY gini_w, band) AS rk
        FROM scored
    )
    SELECT CAST((band + 1) * 1000 AS BIGINT) AS split_price_usd,
           ln AS n_left, CAST(n - ln AS BIGINT) AS n_right,
           round(CAST(lp AS DOUBLE) / ln, 6) + 0 AS p_left,
           round(CAST(p - lp AS DOUBLE) / (n - ln), 6) + 0 AS p_right,
           round(gini_w, 6) + 0 AS weighted_gini,
           round(2.0 * (CAST(p AS DOUBLE) / n)
                 * (1.0 - CAST(p AS DOUBLE) / n) - gini_w, 6) + 0
               AS gini_gain
    FROM best WHERE rk = 1
    """,
)
def a_decision_stump(spark, sf_dir):
    """Best single-split decision stump of order price against the
    has-returned label — CART's inner loop (the exhaustive split
    search every tree/GBM node runs) executed EXACTLY on the bounded
    band census: for each candidate threshold, the weighted Gini
    impurity of the two sides from cumulative (pos, tot) prefix sums;
    the reported row is the argmin split with both leaf rates and the
    impurity gain over the root. A near-zero gain (price barely
    predicts returns on TPC-H) is itself the measurement — the stump
    is the feature-screening primitive that says which columns are
    worth a tree at all.

    Exactness: the split sweep is closed-form arithmetic on exact
    BIGINT prefix counts — every candidate's impurity from ONE
    cumulative window, no per-split rescans (the textbook O(N log N)
    sort-and-sweep collapsed to O(bands) on the census); argmin by
    (gini, band) tiebreak is deterministic.

    Scale: the same $1000-band census as a_pr_auc/q_lift_curve
    (~500 rows at any corpus size) + one cumulative window + a
    TakeOrdered-style rank-1 filter. A full tree level at 100 TB is
    this plan per (node, feature) — all map-side censuses, which is
    exactly how distributed GBM implementations (public XGBoost/
    LightGBM papers) structure the split search.
    """
    ret = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("y")
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    g = (
        orders.join(ret, orders.o_orderkey == ret.l_orderkey)
        .groupBy(
            F.floor(F.col("o_totalprice") / 1000).cast("long").alias("band")
        )
        .agg(
            F.sum("y").cast("long").alias("pos"),
            F.count("*").cast("long").alias("tot"),
        )
    )
    wasc = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = g.select(
        "band",
        F.sum("pos").over(wasc).cast("long").alias("lp"),
        F.sum("tot").over(wasc).cast("long").alias("ln"),
        F.sum("pos").over(wall).cast("long").alias("p"),
        F.sum("tot").over(wall).cast("long").alias("n"),
    ).where(F.col("ln") < F.col("n"))
    pl = F.col("lp").cast("double") / F.col("ln")
    pr = (F.col("p") - F.col("lp")).cast("double") / (
        F.col("n") - F.col("ln")
    )
    gini_w = (F.col("ln").cast("double") / F.col("n")) * 2.0 * pl * (
        1.0 - pl
    ) + ((F.col("n") - F.col("ln")).cast("double") / F.col("n")) * 2.0 * pr * (
        1.0 - pr
    )
    scored = cum.select(
        "band", "lp", "ln", "p", "n", gini_w.alias("gini_w")
    )
    best = scored.withColumn(
        "rk", F.row_number().over(Window.orderBy("gini_w", "band"))
    ).where(F.col("rk") == 1)
    proot = F.col("p").cast("double") / F.col("n")
    return best.select(
        ((F.col("band") + 1) * 1000).cast("long").alias("split_price_usd"),
        F.col("ln").alias("n_left"),
        (F.col("n") - F.col("ln")).cast("long").alias("n_right"),
        f6(F.col("lp").cast("double") / F.col("ln")).alias("p_left"),
        f6(
            (F.col("p") - F.col("lp")).cast("double")
            / (F.col("n") - F.col("ln"))
        ).alias("p_right"),
        f6(F.col("gini_w")).alias("weighted_gini"),
        f6(2.0 * proot * (1.0 - proot) - F.col("gini_w")).alias(
            "gini_gain"
        ),
    )


@register(
    "a_hotelling_t2",
    """
    WITH base AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp,
               CAST(l_quantity AS DOUBLE) AS x,
               l_discount AS y
        FROM lineitem
    ),
    mom AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               avg(x) AS mx, avg(y) AS my,
               var_samp(x) AS sxx, var_samp(y) AS syy,
               covar_samp(x, y) AS sxy
        FROM base GROUP BY grp
    ),
    two AS (
        SELECT
            max(CASE WHEN grp = 1 THEN n END) AS n1,
            max(CASE WHEN grp = 0 THEN n END) AS n0,
            max(CASE WHEN grp = 1 THEN mx END)
                - max(CASE WHEN grp = 0 THEN mx END) AS dx,
            max(CASE WHEN grp = 1 THEN my END)
                - max(CASE WHEN grp = 0 THEN my END) AS dy,
            (max(CASE WHEN grp = 1 THEN (n - 1) * sxx END)
             + max(CASE WHEN grp = 0 THEN (n - 1) * sxx END))
                / (max(CASE WHEN grp = 1 THEN n END)
                   + max(CASE WHEN grp = 0 THEN n END) - 2) AS pxx,
            (max(CASE WHEN grp = 1 THEN (n - 1) * syy END)
             + max(CASE WHEN grp = 0 THEN (n - 1) * syy END))
                / (max(CASE WHEN grp = 1 THEN n END)
                   + max(CASE WHEN grp = 0 THEN n END) - 2) AS pyy,
            (max(CASE WHEN grp = 1 THEN (n - 1) * sxy END)
             + max(CASE WHEN grp = 0 THEN (n - 1) * sxy END))
                / (max(CASE WHEN grp = 1 THEN n END)
                   + max(CASE WHEN grp = 0 THEN n END) - 2) AS pxy
        FROM mom
    )
    SELECT n1 AS n_returned, n0 AS n_kept,
           round(dx, 6) + 0 AS dmean_qty,
           round(dy, 6) + 0 AS dmean_disc,
           round((CAST(n1 AS DOUBLE) * n0 / (n1 + n0))
                 * (dx * (pyy * dx - pxy * dy)
                    + dy * (pxx * dy - pxy * dx))
                 / (pxx * pyy - pxy * pxy), 6) + 0 AS t2,
           CASE WHEN (CAST(n1 AS DOUBLE) * n0 / (n1 + n0))
                     * (dx * (pyy * dx - pxy * dy)
                        + dy * (pxx * dy - pxy * dx))
                     / (pxx * pyy - pxy * pxy) > 5.991465
                THEN 1 ELSE 0 END AS differ_flag
    FROM two
    """,
)
def a_hotelling_t2(spark, sf_dir):
    """Two-sample Hotelling's T² — the MULTIVARIATE mean test the
    battery lacked: do returned and kept lineitems differ in the
    JOINT (quantity, discount) mean vector? T² = (n₁n₀/(n₁+n₀))·
    d'S⁻¹d with the pooled 2×2 covariance inverted in CLOSED FORM
    (S⁻¹ = [[s_yy, −s_xy], [−s_xy, s_xx]]/det — no linear algebra
    library on either engine), large-sample gate χ²₂ 95% = 5.991.
    Two separate t-tests can BOTH be insignificant while T² rejects
    (a correlated shift along the minor axis) — the reason
    multivariate QC uses T² control charts instead of per-variable
    ones; this is the one-shot form of that chart.

    Exactness: per-group moments from one grouped pass (the engines'
    shared var_samp/covar_samp on identical doubles); pooling, the
    2×2 inverse and the quadratic form are scalar math on a 2-row
    frame, 6dp-snapped.

    Scale: ONE map-side-combinable moment groupBy (2 rows out) —
    adding dimensions adds covariance COLUMNS (p(p+1)/2 of them),
    never passes; the closed-form inverse generalizes to small p via
    the adjugate, which is all a control chart ever needs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    mom = (
        li.select(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias(
                "grp"
            ),
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_discount").alias("y"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.avg("x").alias("mx"),
            F.avg("y").alias("my"),
            F.var_samp("x").alias("sxx"),
            F.var_samp("y").alias("syy"),
            F.covar_samp("x", "y").alias("sxy"),
        )
    )
    def pick(g, c):
        return F.max(F.when(F.col("grp") == g, F.col(c)))

    two = mom.agg(
        pick(1, "n").alias("n1"),
        pick(0, "n").alias("n0"),
        (pick(1, "mx") - pick(0, "mx")).alias("dx"),
        (pick(1, "my") - pick(0, "my")).alias("dy"),
        *[
            (
                (
                    F.max(
                        F.when(
                            F.col("grp") == 1,
                            (F.col("n") - 1) * F.col(c),
                        )
                    )
                    + F.max(
                        F.when(
                            F.col("grp") == 0,
                            (F.col("n") - 1) * F.col(c),
                        )
                    )
                )
                / (pick(1, "n") + pick(0, "n") - 2)
            ).alias(p)
            for c, p in (("sxx", "pxx"), ("syy", "pyy"), ("sxy", "pxy"))
        ],
    )
    det = F.col("pxx") * F.col("pyy") - F.col("pxy") * F.col("pxy")
    quad = F.col("dx") * (
        F.col("pyy") * F.col("dx") - F.col("pxy") * F.col("dy")
    ) + F.col("dy") * (
        F.col("pxx") * F.col("dy") - F.col("pxy") * F.col("dx")
    )
    # try_divide: a constant quantity/discount corpus makes the pooled
    # covariance singular (det 0) — NULL T² like DuckDB's /0 instead of
    # an ANSI crash (round-16 degenerate back-sweep)
    t2 = F.try_divide(
        (
            F.col("n1").cast("double")
            * F.col("n0")
            / (F.col("n1") + F.col("n0"))
        )
        * quad,
        det,
    )
    return two.select(
        F.col("n1").alias("n_returned"),
        F.col("n0").alias("n_kept"),
        f6(F.col("dx")).alias("dmean_qty"),
        f6(F.col("dy")).alias("dmean_disc"),
        f6(t2).alias("t2"),
        F.when(t2 > 5.991465, 1).otherwise(0).alias("differ_flag"),
    )


@register(
    "a_confidence_sequence",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS s
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT d,
               CAST(sum(n) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS t,
               CAST(sum(s) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS k,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
               CAST(count(*) OVER () AS BIGINT) AS n_days
        FROM daily
    ),
    scored AS (
        SELECT d, t, k, i, n_days,
               CAST(k AS DOUBLE) / t AS mean,
               sqrt(ln(2.0 * i * i * (i + 1) / 0.05) / (2.0 * t))
                   AS width
        FROM cum
    ),
    hit AS (
        SELECT min(d) AS first_exclude
        FROM scored
        WHERE mean - width > 0.2 OR mean + width < 0.2
    )
    SELECT max(s.n_days) AS n_days,
           max(s.t) AS n_orders,
           round(max(CASE WHEN s.i = s.n_days THEN s.mean END), 6) + 0
               AS final_mean,
           round(max(CASE WHEN s.i = s.n_days THEN s.width END), 6) + 0
               AS final_width,
           max(h.first_exclude) AS first_exclude_day,
           CAST(CASE WHEN max(h.first_exclude) IS NOT NULL
                THEN 1 ELSE 0 END AS BIGINT) AS null_rejected
    FROM scored s CROSS JOIN hit h
    """,
)
def a_confidence_sequence(spark, sf_dir):
    """Anytime-valid confidence sequence for the urgent-order share —
    the modern always-valid-inference primitive (Ramdas et al.,
    public): a Hoeffding-style CS whose day-i half-width
    √(ln(2i²(i+1)/α)/(2t)) holds SIMULTANEOUSLY over all days at
    α = 0.05 (union bound over the day index), so the dashboard may
    peek every day and stop the moment the band excludes the declared
    null p₀ = 0.2 — no peeking penalty, unlike a fixed-n z-test
    where daily looks inflate false positives ~5×. Reports the first
    exclusion day, the final running mean ± width, and the rejection
    flag. The always-valid counterpart of a_sprt (which needs a
    simple alternative; the CS needs none).

    Exactness: daily (n, urgent) counts are BIGINT; the cumulative
    ratios and the log-width are evaluated per day on the bounded
    calendar axis with one ordering, identical on both engines.

    Scale: one day rollup (map-side combinable) + three cumulative
    windows on the ~2.4k-day axis; the streaming twin keeps (t, k, i)
    as three scalars of state — st_page_hinkley's shape.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast("long")
        .alias("s"),
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.sum("n").over(wcum).cast("long").alias("t"),
        F.sum("s").over(wcum).cast("long").alias("k"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("i"),
        F.count("*").over(Window.partitionBy()).cast("long").alias(
            "n_days"
        ),
    )
    mean = F.col("k").cast("double") / F.col("t")
    width = F.sqrt(
        F.log(2.0 * F.col("i") * F.col("i") * (F.col("i") + 1) / 0.05)
        / (2.0 * F.col("t"))
    )
    scored = cum.select(
        "d", "t", "i", "n_days", mean.alias("mean"), width.alias("width")
    )
    hit = scored.where(
        (F.col("mean") - F.col("width") > 0.2)
        | (F.col("mean") + F.col("width") < 0.2)
    ).agg(F.min("d").alias("first_exclude"))
    last = F.when(F.col("i") == F.col("n_days"), F.col("mean"))
    lastw = F.when(F.col("i") == F.col("n_days"), F.col("width"))
    return (
        scored.crossJoin(F.broadcast(hit))
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("t").alias("n_orders"),
            f6(F.max(last)).alias("final_mean"),
            f6(F.max(lastw)).alias("final_width"),
            F.max("first_exclude").alias("first_exclude_day"),
            F.when(F.max("first_exclude").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("null_rejected"),
        )
    )


@register(
    "a_neyman_allocation",
    """
    WITH grp AS (
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS nh,
               stddev_samp(o.o_totalprice) AS sh,
               avg(o.o_totalprice) AS mh
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(nh) AS BIGINT) AS n,
               sum(nh * sh) AS nsh,
               sum(CAST(nh AS DOUBLE) * sh * sh) AS prop_core
        FROM grp
    )
    SELECT g.nation, g.nh AS stratum_size,
           round(g.sh, 4) + 0 AS stratum_sd,
           CAST(round(0.01 * t.n * (g.nh * g.sh) / t.nsh) AS BIGINT)
               AS neyman_n,
           CAST(round(0.01 * g.nh) AS BIGINT) AS proportional_n,
           round((g.nh * g.sh) / t.nsh, 6) + 0 AS alloc_share,
           round(t.prop_core / (t.nsh * t.nsh / t.n), 6) + 0
               AS design_effect_vs_neyman
    FROM grp g, tot t
    ORDER BY nation
    """,
)
def a_neyman_allocation(spark, sf_dir):
    """Neyman optimal allocation for a 1% stratified sample of orders
    by nation: n_h ∝ N_h·S_h (big AND variable strata get more
    budget), printed beside the proportional allocation and the
    design effect Var_prop/Var_neyman = ΣN_h S_h² / ((ΣN_h S_h)²/N) —
    the factor by which Neyman beats proportional for estimating mean
    order value at the same sample size. This is the DESIGN
    calculator in front of every subsampling execution op
    (t_weighted_sample_aes draws the rows; this key decides HOW MANY
    per stratum): training-data pipelines that downsample by source
    without this math systematically over-sample their low-variance
    boilerplate strata.

    Exactness: per-stratum (N_h, S_h, mean) from one grouped pass
    using the engines' shared stddev_samp; the allocation and design
    effect are reductions over 25 stratum rows, 4/6dp-snapped;
    allocations round half-up identically from identical doubles.

    Scale: the a_meta_fixed_effect plan — one 3-table join + 25-row
    stratum frame + broadcast totals back; strata add rows to a tiny
    frame, and the sample EXECUTION stays a hash-threshold scan
    (t_weighted_sample_aes) fed by these counts.
    """
    grp = _by_nation(
        spark,
        sf_dir,
        F.count("*").cast("long").alias("nh"),
        F.stddev_samp("o_totalprice").alias("sh"),
        F.avg("o_totalprice").alias("mh"),
    )
    tot = grp.agg(
        F.sum("nh").cast("long").alias("n"),
        F.sum(F.col("nh") * F.col("sh")).alias("nsh"),
        F.sum(F.col("nh").cast("double") * F.col("sh") * F.col("sh")).alias(
            "prop_core"
        ),
    )
    return (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("nh").alias("stratum_size"),
            (F.round(F.col("sh"), 4) + 0).alias("stratum_sd"),
            F.round(
                0.01 * F.col("n") * (F.col("nh") * F.col("sh")) / F.col("nsh")
            )
            .cast("long")
            .alias("neyman_n"),
            F.round(0.01 * F.col("nh")).cast("long").alias("proportional_n"),
            f6((F.col("nh") * F.col("sh")) / F.col("nsh")).alias(
                "alloc_share"
            ),
            f6(
                F.col("prop_core")
                / (F.col("nsh") * F.col("nsh") / F.col("n"))
            ).alias("design_effect_vs_neyman"),
        )
        .orderBy("nation")
    )


@register(
    "a_nelson_aalen",
    f"""
    WITH {_CHURN_RISK_SQL},
    na AS (
        SELECT t, d, n,
               sum(CAST(round(d * 1e12 / n) AS BIGINT))
                   OVER (ORDER BY t) AS h12,
               sum(CAST(round(ln(1.0 - d * 1.0 / n) * 1e12) AS BIGINT))
                   OVER (ORDER BY t) AS logs12
        FROM at_risk WHERE d > 0 AND d < n
    )
    SELECT t AS day, d AS n_churned, CAST(n AS BIGINT) AS n_at_risk,
           round(h12 / 1e12, 6) + 0 AS cum_hazard,
           round(exp(-h12 / 1e12), 6) + 0 AS breslow_survival,
           round(exp(logs12 / 1e12), 6) + 0 AS km_survival
    FROM na ORDER BY day DESC LIMIT 25
    """,
)
def a_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative-hazard estimator on q_kaplan_meier's
    customer-dormancy setup (identical lifetimes, deaths, censoring and
    risk sets): H(t) = Σ dᵢ/nᵢ, with the Breslow survival exp(−H)
    printed BESIDE the KM product-limit so the classical inequality
    S_KM ≤ exp(−H_NA) is visible row by row. The hazard, not the
    survival, is what regression models (Cox, additive-hazards) are
    built on — this is the estimator layer between the KM curve and
    a_log_rank_test's hypergeometric increments (which are exactly
    dᵢ·n₁ᵢ/nᵢ terms of this H split by arm).

    Exactness: the running hazard and log-survival sums snap each
    increment to 1e-12 BIGINT units before the window (reorder-safe —
    the q_kaplan_meier additive trick, applied to BOTH sums), with one
    exp() per output row on identical int64 operands.

    Scale: identical plan to q_kaplan_meier — one customer rollup
    (map-side combinable), one reverse cumulative window over the
    calendar-bounded lifetime axis, no new data-sized pass.
    """
    from .modern import churn_lifetimes, churn_risk_set

    risk = churn_risk_set(churn_lifetimes(spark, sf_dir))
    h12 = F.round(F.col("d") * 1e12 / F.col("n")).cast("long")
    log12 = F.round(
        F.log(1.0 - F.col("d") * 1.0 / F.col("n")) * 1e12
    ).cast("long")
    wt = Window.orderBy("t")
    na = risk.select(
        "t",
        "d",
        "n",
        F.sum(h12).over(wt).alias("h12"),
        F.sum(log12).over(wt).alias("logs12"),
    )
    return (
        na.select(
            F.col("t").alias("day"),
            F.col("d").alias("n_churned"),
            F.col("n").cast("long").alias("n_at_risk"),
            f6(F.col("h12") / 1e12).alias("cum_hazard"),
            f6(F.exp(-F.col("h12") / 1e12)).alias("breslow_survival"),
            f6(F.exp(F.col("logs12") / 1e12)).alias("km_survival"),
        )
        .orderBy(F.col("day").desc())
        .limit(25)
    )


@register(
    "a_kendall_w",
    """
    WITH cells0 AS (
        SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS judge,
               CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS obj,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    scaffold AS (
        SELECT j.judge, o.obj
        FROM (SELECT DISTINCT judge FROM cells0) j
        CROSS JOIN (SELECT DISTINCT obj FROM cells0) o
    ),
    cells AS (
        SELECT s.judge, s.obj, coalesce(c.cents, 0) AS cents
        FROM scaffold s LEFT JOIN cells0 c
          ON c.judge = s.judge AND c.obj = s.obj
    ),
    ranked AS (
        SELECT judge, obj,
               CAST(row_number() OVER (PARTITION BY judge
                                       ORDER BY cents DESC, obj)
                    AS BIGINT) AS r
        FROM cells
    ),
    rsum AS (
        SELECT obj, CAST(sum(r) AS BIGINT) AS rj
        FROM ranked GROUP BY obj
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rj * rj) AS BIGINT) AS srr,
               (SELECT CAST(count(DISTINCT judge) AS BIGINT)
                FROM cells) AS m
        FROM rsum
    )
    SELECT m AS m_judges, n AS n_objects,
           round((12.0 * srr - 3.0 * m * m * n * (n + 1) * (n + 1))
                 / (CAST(m AS DOUBLE) * m * n * (n * n - 1)), 6) + 0
               AS kendall_w,
           round(m * (n - 1)
                 * ((12.0 * srr - 3.0 * m * m * n * (n + 1) * (n + 1))
                    / (CAST(m AS DOUBLE) * m * n * (n * n - 1))), 6) + 0
               AS chi2,
           CASE WHEN m * (n - 1)
                     * ((12.0 * srr - 3.0 * m * m * n * (n + 1) * (n + 1))
                        / (CAST(m AS DOUBLE) * m * n * (n * n - 1)))
                     > 12.591587 THEN 1 ELSE 0 END AS concordant_flag
    FROM tot
    """,
)
def a_kendall_w(spark, sf_dir):
    """Kendall's coefficient of concordance W: do the five order-
    priority classes ("judges") AGREE on how the seven weekdays
    ("objects") rank by revenue?  Each judge ranks the weekdays by its
    own revenue cents (row_number, weekday tiebreak — deterministic),
    W = (12ΣR_j² − 3m²n(n+1)²)/(m²n(n²−1)) ∈ [0, 1], and m(n−1)W ~
    χ²(n−1) under independence (gate χ²₆ 95% = 12.592). a_kendall_tau
    measures ONE pair's agreement; W is the m-judge generalization —
    the inter-rater statistic for ranking pipelines (do my 5 ranking
    models order the candidate set the same way?).

    Exactness: the (judge, weekday) census is ≤ 35 cells, ZERO-FILLED
    on the judge × weekday scaffold (the q_panel_fe idiom) so a quiet
    weekday in one class cannot desync the two engines' rank frames;
    ranks and ΣR² are BIGINT-exact, one float ratio at 6dp. Weekday =
    Spark dayofweek == DuckDB dayofweek + 1 (§5 divergence list).

    Scale: one map-side-combinable cents groupBy is the only data
    pass; ranking runs on the 35-cell frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    cells0 = orders.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("judge"),
        F.dayofweek("o_orderdate").cast("long").alias("obj"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    judges = cells0.select("judge").distinct()
    objs = cells0.select("obj").distinct()
    cells = (
        judges.crossJoin(objs)
        .join(cells0, ["judge", "obj"], "left")
        .select("judge", "obj", F.coalesce("cents", F.lit(0)).alias("cents"))
    )
    wr = Window.partitionBy("judge").orderBy(F.col("cents").desc(), "obj")
    ranked = cells.select(
        "judge", "obj", F.row_number().over(wr).cast("long").alias("r")
    )
    rsum = ranked.groupBy("obj").agg(F.sum("r").cast("long").alias("rj"))
    m_ = judges.agg(F.count("*").cast("long").alias("m"))
    tot = rsum.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("rj") * F.col("rj")).cast("long").alias("srr"),
    ).crossJoin(F.broadcast(m_))
    n, m = F.col("n"), F.col("m")
    # try_divide: a single-weekday corpus (one object) zeroes n(n²−1) —
    # NULL W like DuckDB's /0, no ANSI crash (round-16 lens at birth)
    w_stat = F.try_divide(
        12.0 * F.col("srr") - 3.0 * m * m * n * (n + 1) * (n + 1),
        m.cast("double") * m * n * (n * n - 1),
    )
    chi2 = m * (n - 1) * w_stat
    return tot.select(
        m.alias("m_judges"),
        n.alias("n_objects"),
        f6(w_stat).alias("kendall_w"),
        f6(chi2).alias("chi2"),
        F.when(chi2 > 12.591587, 1).otherwise(0).alias("concordant_flag"),
    )


@register(
    "a_fleiss_kappa",
    """
    WITH sized AS (
        SELECT l_orderkey,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nr,
               CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nn,
               CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                    AS BIGINT) AS na
        FROM lineitem GROUP BY 1 HAVING count(*) = 4
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(nr * nr + nn * nn + na * na) AS BIGINT) AS ssq,
               CAST(sum(nr) AS BIGINT) AS tr,
               CAST(sum(nn) AS BIGINT) AS tn,
               CAST(sum(na) AS BIGINT) AS ta
        FROM sized
    )
    SELECT n_items,
           round((ssq - 4.0 * n_items) / (n_items * 12.0), 6) + 0
               AS p_bar,
           round((CAST(tr AS DOUBLE) * tr + CAST(tn AS DOUBLE) * tn
                  + CAST(ta AS DOUBLE) * ta)
                 / (16.0 * n_items * n_items), 6) + 0 AS p_e,
           round(((ssq - 4.0 * n_items) / (n_items * 12.0)
                  - (CAST(tr AS DOUBLE) * tr + CAST(tn AS DOUBLE) * tn
                     + CAST(ta AS DOUBLE) * ta)
                    / (16.0 * n_items * n_items))
                 / (1.0 - (CAST(tr AS DOUBLE) * tr
                           + CAST(tn AS DOUBLE) * tn
                           + CAST(ta AS DOUBLE) * ta)
                          / (16.0 * n_items * n_items)), 6) + 0
               AS fleiss_kappa
    FROM s
    """,
)
def a_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa for m = 4 raters: orders with exactly four
    lineitems are "items", the four lines are "raters", and the
    returnflag (R/N/A) is the assigned category — chance-corrected
    multi-rater agreement κ = (P̄ − P_e)/(1 − P_e) with
    P_i = (Σ_c n_ic² − m)/(m(m−1)) and P_e = Σ_c p_c². The m-rater rung
    above t_labeler_kappa's two-coder Cohen κ: labeling pipelines with
    3+ annotators (or 3+ heuristic filters voting) report THIS, because
    pairwise Cohen κ's don't aggregate. The honest expected value on
    the synthetic fixture is ≈ 0 (lines draw flags independently);
    real annotation crews are gated at κ ≥ 0.6.

    Exactness: per-item category counts and Σn_ic² are one integer
    groupBy; κ is scalar math on a 1-row frame (m = 4 and k = 3 are
    the only literals; DuckDB's /0 and Spark's try_divide agree on the
    all-one-category degenerate corpus where P_e = 1).

    Scale: one lineitem groupBy with a HAVING on the line count —
    map-side combinable; everything after runs on one row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sized = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("nr"),
            F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
            .cast("long")
            .alias("nn"),
            F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
            .cast("long")
            .alias("na"),
            F.count("*").alias("m"),
        )
        .where(F.col("m") == 4)
    )
    s = sized.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(
            F.col("nr") * F.col("nr")
            + F.col("nn") * F.col("nn")
            + F.col("na") * F.col("na")
        )
        .cast("long")
        .alias("ssq"),
        F.sum("nr").cast("long").alias("tr"),
        F.sum("nn").cast("long").alias("tn"),
        F.sum("na").cast("long").alias("ta"),
    )
    ni = F.col("n_items")
    p_bar = (F.col("ssq") - 4.0 * ni) / (ni * 12.0)
    p_e = (
        F.col("tr").cast("double") * F.col("tr")
        + F.col("tn").cast("double") * F.col("tn")
        + F.col("ta").cast("double") * F.col("ta")
    ) / (16.0 * ni * ni)
    return s.select(
        "n_items",
        f6(p_bar).alias("p_bar"),
        f6(p_e).alias("p_e"),
        f6(F.try_divide(p_bar - p_e, 1.0 - p_e)).alias("fleiss_kappa"),
    )


@register(
    "a_cronbach_alpha",
    """
    WITH items AS (
        SELECT l_orderkey,
               CAST(count(*) AS DOUBLE) AS i1,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS i2,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE) / 100000.0 AS i3,
               CAST(max(CAST(round(l_discount * 100) AS BIGINT))
                    AS DOUBLE) AS i4
        FROM lineitem GROUP BY 1
    ),
    v AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               var_samp(i1) AS v1, var_samp(i2) AS v2,
               var_samp(i3) AS v3, var_samp(i4) AS v4,
               var_samp(i1 + i2 + i3 + i4) AS vt,
               covar_samp(i1, i2) / (stddev_samp(i1) * stddev_samp(i2))
                   AS r12,
               covar_samp(i1, i3) / (stddev_samp(i1) * stddev_samp(i3))
                   AS r13,
               covar_samp(i1, i4) / (stddev_samp(i1) * stddev_samp(i4))
                   AS r14,
               covar_samp(i2, i3) / (stddev_samp(i2) * stddev_samp(i3))
                   AS r23,
               covar_samp(i2, i4) / (stddev_samp(i2) * stddev_samp(i4))
                   AS r24,
               covar_samp(i3, i4) / (stddev_samp(i3) * stddev_samp(i4))
                   AS r34
        FROM items
    )
    SELECT n AS n_orders,
           round((4.0 / 3.0) * (1.0 - (v1 + v2 + v3 + v4) / vt), 6) + 0
               AS alpha_raw,
           round((r12 + r13 + r14 + r23 + r24 + r34) / 6.0, 6) + 0
               AS mean_inter_item_r,
           round(4.0 * ((r12 + r13 + r14 + r23 + r24 + r34) / 6.0)
                 / (1.0 + 3.0 * ((r12 + r13 + r14 + r23 + r24 + r34)
                                 / 6.0)), 6) + 0 AS alpha_standardized
    FROM v
    """,
)
def a_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha over a k = 4 item battery per order — line
    count, total quantity, reconstructed line total (k$ units) and max
    discount points: α_raw = k/(k−1)·(1 − Σσᵢ²/σ_total²), plus the
    STANDARDIZED α from the mean inter-item correlation r̄ (α_std =
    k·r̄/(1+(k−1)r̄) — the Spearman-Brown form that ignores item
    scale). The internal-consistency gate every composite metric
    ("order complexity score", "engagement index") needs before
    summing its components: α near 0 says the items don't measure one
    construct and the composite is noise — which is the HONEST
    expected readout on these synthetic independents, except the
    mechanical i1–i2 coupling (more lines ⇒ more quantity) that r̄
    exposes.

    Exactness: items derive from integer counts/cents (i3 scaled to
    k$ so α_raw isn't a pure cents readout); variances and the six
    pairwise moment-form correlations come from ONE aggregate pass
    (try_divide — a constant item NULLs r like DuckDB's /0).

    Scale: one lineitem groupBy + one 11-moment aggregate, both
    map-side combinable; adding items adds k(k−1)/2 moment COLUMNS,
    never passes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.groupBy("l_orderkey").agg(
        F.count("*").cast("double").alias("i1"),
        F.sum(F.col("l_quantity").cast("long")).cast("double").alias("i2"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("double")
            / 100000.0
        ).alias("i3"),
        F.max(F.round(F.col("l_discount") * 100).cast("long"))
        .cast("double")
        .alias("i4"),
    )

    def _r(a, b):
        return F.try_divide(
            F.covar_samp(a, b), F.stddev_samp(a) * F.stddev_samp(b)
        )

    v = items.agg(
        F.count("*").cast("long").alias("n"),
        F.var_samp("i1").alias("v1"),
        F.var_samp("i2").alias("v2"),
        F.var_samp("i3").alias("v3"),
        F.var_samp("i4").alias("v4"),
        F.var_samp(
            F.col("i1") + F.col("i2") + F.col("i3") + F.col("i4")
        ).alias("vt"),
        _r("i1", "i2").alias("r12"),
        _r("i1", "i3").alias("r13"),
        _r("i1", "i4").alias("r14"),
        _r("i2", "i3").alias("r23"),
        _r("i2", "i4").alias("r24"),
        _r("i3", "i4").alias("r34"),
    )
    rbar = (
        F.col("r12")
        + F.col("r13")
        + F.col("r14")
        + F.col("r23")
        + F.col("r24")
        + F.col("r34")
    ) / 6.0
    return v.select(
        F.col("n").alias("n_orders"),
        f6(
            (4.0 / 3.0)
            * (
                1.0
                - F.try_divide(
                    F.col("v1") + F.col("v2") + F.col("v3") + F.col("v4"),
                    F.col("vt"),
                )
            )
        ).alias("alpha_raw"),
        f6(rbar).alias("mean_inter_item_r"),
        f6(F.try_divide(4.0 * rbar, 1.0 + 3.0 * rbar)).alias(
            "alpha_standardized"
        ),
    )


@register(
    "a_ansari_bradley",
    f"""
    WITH {_RN_CENSUS_SQL.format(v='CAST(l_quantity AS BIGINT)')},
    cum AS (
        SELECT v, a, b, a + b AS c,
               CAST(coalesce(sum(a + b) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS bl,
               CAST(sum(a + b) OVER () AS BIGINT) AS n
        FROM vals
    ),
    blocks AS (
        SELECT a, b, c,
               -- tied block spans combined ranks l..r; AB score of rank i
               -- is min(i, N+1-i); block sums via triangular/pyramidal
               -- closed forms, all in DOUBLE with one shared association
               (CASE WHEN least(bl + c, (n + 1) // 2) >= bl + 1
                     THEN least(bl + c, (n + 1) // 2)
                          * (least(bl + c, (n + 1) // 2) + 1) / 2.0
                          - bl * (bl + 1) / 2.0
                     ELSE 0.0 END)
               + (CASE WHEN bl + c >= (n + 1) // 2 + 1
                       THEN (n + 1.0)
                            * (bl + c - greatest(bl + 1, (n + 1) // 2 + 1)
                               + 1)
                            - ((bl + c) * (bl + c + 1) / 2.0
                               - (greatest(bl + 1, (n + 1) // 2 + 1) - 1)
                                 * greatest(bl + 1, (n + 1) // 2 + 1)
                                 / 2.0)
                       ELSE 0.0 END) AS bsum,
               (CASE WHEN least(bl + c, (n + 1) // 2) >= bl + 1
                     THEN least(bl + c, (n + 1) // 2)
                          * (least(bl + c, (n + 1) // 2) + 1)
                          * (2 * least(bl + c, (n + 1) // 2) + 1) / 6.0
                          - bl * (bl + 1) * (2 * bl + 1) / 6.0
                     ELSE 0.0 END)
               + (CASE WHEN bl + c >= (n + 1) // 2 + 1
                       THEN (n + 1.0 - greatest(bl + 1, (n + 1) // 2 + 1))
                            * (n + 2.0
                               - greatest(bl + 1, (n + 1) // 2 + 1))
                            * (2 * (n + 1.0
                                    - greatest(bl + 1, (n + 1) // 2 + 1))
                               + 1) / 6.0
                            - (n - (bl + c) * 1.0)
                              * (n - (bl + c) + 1.0)
                              * (2 * (n - (bl + c)) + 1.0) / 6.0
                       ELSE 0.0 END) AS bsumsq,
               n
        FROM cum
    ),
    s AS (
        SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2,
               CAST(max(n) AS BIGINT) AS n,
               sum(a * bsum / c) AS ab,
               sum(bsum) AS sa,
               sum(bsum * bsum / c) AS saa
        FROM blocks
    )
    SELECT n1 AS n_returned, n2 AS n_kept,
           round(ab, 4) + 0 AS ab_stat,
           round(n1 * sa / n, 4) + 0 AS ab_expected,
           round((ab - n1 * sa / n)
                 / sqrt(CAST(n1 AS DOUBLE) * n2
                        * (saa - sa * sa / n) / (n * (n - 1.0))),
                 6) + 0 AS z,
           CASE WHEN abs((ab - n1 * sa / n)
                         / sqrt(CAST(n1 AS DOUBLE) * n2
                                * (saa - sa * sa / n)
                                / (n * (n - 1.0)))) > 1.959964
                THEN 1 ELSE 0 END AS scale_differs_flag
    FROM s
    """,
)
def a_ansari_bradley(spark, sf_dir):
    """Ansari-Bradley rank test for equal SCALE (dispersion) between
    returned and kept lineitem quantities: rank the pooled sample from
    BOTH ENDS inward (score min(i, N+1−i) — extreme values get small
    scores), and a group whose score sum is too small is more spread
    out. The nonparametric dispersion complement to the location tests
    (a_mann_whitney) and the moment-based spread tests (a_levene_test,
    a_bartlett_test): no normality, no moments, pure ranks. Ties use
    average scores; E and Var come from the exact score sums (the
    general linear-rank-statistic form E = n₁ā, Var = n₁n₂(Σa² −
    Nā²)/(N(N−1)) — valid under any tie pattern).

    Exactness: the quantity census is ≤ ~50 cells; per tied block the
    score sum and score-square sum are triangular/pyramidal closed
    forms evaluated in DOUBLE with the IDENTICAL association on both
    engines (Σa² ~ N³/12 exceeds int64 in the billions regime — the
    a_jonckheere accumulation discipline), snapped at 4/6dp. A
    zero-spread corpus (one tied block) zeroes Var → NULL z on both
    engines (try_divide / DuckDB /0).

    Scale: one map-side-combinable census groupBy is the only data
    pass; the block closed forms run on ~50 rows.
    """
    vals = _rn_census(spark, sf_dir, F.col("l_quantity").cast("long"))
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    cum = vals.select(
        "a",
        "b",
        (F.col("a") + F.col("b")).alias("c"),
        F.coalesce(F.sum(F.col("a") + F.col("b")).over(wb), F.lit(0))
        .cast("long")
        .alias("bl"),
        F.sum(F.col("a") + F.col("b")).over(wall).cast("long").alias("n"),
    )
    n, bl, c = F.col("n"), F.col("bl"), F.col("c")
    m = F.floor((n + 1) / 2)  # last rank scored as i (not N+1-i)
    lo_hi = F.least(bl + c, m)
    h = F.greatest(bl + 1, m + 1)

    def tri(x):
        return x * (x + 1) / 2.0

    def pyr(x):
        return x * (x + 1) * (2 * x + 1) / 6.0

    bsum = F.when(lo_hi >= bl + 1, tri(lo_hi) - tri(bl)).otherwise(0.0) + (
        F.when(
            bl + c >= m + 1,
            (n + 1.0) * (bl + c - h + 1) - (tri(bl + c) - tri(h - 1)),
        ).otherwise(0.0)
    )
    bsumsq = F.when(lo_hi >= bl + 1, pyr(lo_hi) - pyr(bl)).otherwise(
        0.0
    ) + (
        F.when(
            bl + c >= m + 1,
            pyr(n + 1 - h) - pyr(n - (bl + c)),
        ).otherwise(0.0)
    )
    blocks = cum.select(
        "a", "b", "c", "n", bsum.alias("bsum"), bsumsq.alias("bsumsq")
    )
    s = blocks.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
        F.max("n").cast("long").alias("n"),
        F.sum(F.col("a") * F.col("bsum") / F.col("c")).alias("ab"),
        F.sum("bsum").alias("sa"),
        F.sum(F.col("bsum") * F.col("bsum") / F.col("c")).alias("saa"),
    )
    e_ab = F.col("n1") * F.col("sa") / F.col("n")
    var = (
        F.col("n1").cast("double")
        * F.col("n2")
        * (F.col("saa") - F.col("sa") * F.col("sa") / F.col("n"))
        / (F.col("n") * (F.col("n") - 1.0))
    )
    z = F.try_divide(F.col("ab") - e_ab, F.sqrt(var))
    return s.select(
        F.col("n1").alias("n_returned"),
        F.col("n2").alias("n_kept"),
        (F.round(F.col("ab"), 4) + 0).alias("ab_stat"),
        (F.round(e_ab, 4) + 0).alias("ab_expected"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, 1)
        .otherwise(0)
        .alias("scale_differs_flag"),
    )


@register(
    "a_conover_squared_ranks",
    """
    WITH base AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x
        FROM lineitem
    ),
    gm AS (
        SELECT g, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(x) AS BIGINT) AS sg
        FROM base GROUP BY g
    ),
    dev AS (
        SELECT b.g, abs(b.x - CAST(m.sg AS DOUBLE) / m.ng) AS u
        FROM base b JOIN gm m ON m.g = b.g
    ),
    cells AS (
        SELECT g, u, CAST(count(*) AS BIGINT) AS cnt
        FROM dev GROUP BY g, u
    ),
    comb AS (
        SELECT u, CAST(sum(cnt) AS BIGINT) AS cu FROM cells GROUP BY u
    ),
    ranksq AS (
        SELECT u,
               (CAST(coalesce(sum(cu) OVER (ORDER BY u
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS DOUBLE) + (cu + 1) / 2.0)
               * (CAST(coalesce(sum(cu) OVER (ORDER BY u
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS DOUBLE) + (cu + 1) / 2.0) AS w,
               cu
        FROM comb
    ),
    sg AS (
        SELECT c.g, CAST(sum(c.cnt) AS BIGINT) AS ng,
               sum(c.cnt * r.w) AS swg
        FROM cells c JOIN ranksq r ON r.u = c.u
        GROUP BY c.g
    ),
    tot AS (
        SELECT CAST(sum(cu) AS BIGINT) AS n,
               sum(cu * w) AS sw, sum(cu * w * w) AS sww
        FROM ranksq
    ),
    t AS (
        SELECT t.n, CAST(count(*) AS BIGINT) AS k,
               (sum(s.swg * s.swg / s.ng) - t.n * (t.sw / t.n) * (t.sw / t.n))
               / ((t.sww - t.n * (t.sw / t.n) * (t.sw / t.n)) / (t.n - 1.0))
                   AS t_stat
        FROM sg s, tot t
        GROUP BY t.n, t.sw, t.sww
    )
    SELECT n AS n_obs, k AS k_groups,
           round(t_stat, 6) + 0 AS t_stat,
           CASE WHEN t_stat > 5.991465 THEN 1 ELSE 0 END
               AS var_differs_flag
    FROM t
    """,
)
def a_conover_squared_ranks(spark, sf_dir):
    """Conover's squared-ranks test for equal variances across the
    three returnflag classes: rank |x − mean_group| over the POOLED
    sample (average ranks for ties), square the ranks, and compare
    group score sums — T = (ΣS_g²/n_g − NW̄²)/D² ~ χ²(k−1), gate χ²₂
    95% = 5.991. The k-group rank-based member of the spread battery:
    a_bartlett_test assumes normality, a_levene_test uses |dev| ANOVA,
    a_ansari_bradley handles exactly two groups — this one is Conover's
    k-group rank form that needs neither normality nor two groups.

    Exactness: deviations |x − S_g/n_g| derive from exact BIGINT
    (x, S_g, n_g) through the IDENTICAL double expression on both
    engines, so the ≤ 150-cell (group, u) census keys match exactly;
    ranks come from the cumulative census; rank⁴-scale moments
    accumulate in DOUBLE (same association both engines — the
    a_jonckheere discipline). A zero-spread corpus zeroes D² → NULL T
    (try_divide / DuckDB /0).

    Scale: one grouped moment pass + one (group, deviation) census
    groupBy — both map-side combinable; everything after runs on ≤150
    census rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("long").alias("x"),
    )
    gm = base.groupBy("g").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("x").cast("long").alias("sg"),
    )
    dev = base.join(F.broadcast(gm), "g").select(
        "g",
        F.abs(
            F.col("x") - F.col("sg").cast("double") / F.col("ng")
        ).alias("u"),
    )
    cells = dev.groupBy("g", "u").agg(F.count("*").cast("long").alias("cnt"))
    comb = cells.groupBy("u").agg(F.sum("cnt").cast("long").alias("cu"))
    wb = Window.orderBy("u").rowsBetween(Window.unboundedPreceding, -1)
    rbar = (
        F.coalesce(F.sum("cu").over(wb), F.lit(0)).cast("double")
        + (F.col("cu") + 1) / 2.0
    )
    ranksq = comb.select("u", "cu", (rbar * rbar).alias("w"))
    sg = (
        cells.join(F.broadcast(ranksq.select("u", "w")), "u")
        .groupBy("g")
        .agg(
            F.sum("cnt").cast("long").alias("ng"),
            F.sum(F.col("cnt") * F.col("w")).alias("swg"),
        )
    )
    tot = ranksq.agg(
        F.sum("cu").cast("long").alias("n"),
        F.sum(F.col("cu") * F.col("w")).alias("sw"),
        F.sum(F.col("cu") * F.col("w") * F.col("w")).alias("sww"),
    )
    wbar = F.col("sw") / F.col("n")
    t = (
        sg.crossJoin(F.broadcast(tot))
        .groupBy("n", "sw", "sww")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum(
                F.col("swg") * F.col("swg") / F.col("ng")
            ).alias("ssg"),
        )
        .select(
            "n",
            "k",
            F.try_divide(
                F.col("ssg") - F.col("n") * wbar * wbar,
                (F.col("sww") - F.col("n") * wbar * wbar)
                / (F.col("n") - 1.0),
            ).alias("t_stat"),
        )
    )
    return t.select(
        F.col("n").alias("n_obs"),
        F.col("k").alias("k_groups"),
        f6(F.col("t_stat")).alias("t_stat"),
        F.when(F.col("t_stat") > 5.991465, 1)
        .otherwise(0)
        .alias("var_differs_flag"),
    )


_PRIO_CELLS_SQL = """cells0 AS (
        SELECT CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS blk,
               CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS trt,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    scaffold AS (
        SELECT b.blk, t.trt
        FROM (SELECT DISTINCT blk FROM cells0) b
        CROSS JOIN (SELECT DISTINCT trt FROM cells0) t
    ),
    cells AS (
        SELECT s.blk, s.trt, coalesce(c.cents, 0) AS cents
        FROM scaffold s LEFT JOIN cells0 c
          ON c.blk = s.blk AND c.trt = s.trt
    )"""


def _zero_filled(spark, sf_dir):
    """(blks, cells): the distinct weekday blocks, and the exact order
    cents per (weekday block, priority treatment) on the full block x
    treatment scaffold, at most 7 x 5 cells, with quiet cells at 0 cents
    (the `_PRIO_CELLS_SQL` twin)."""
    cells0 = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.dayofweek("o_orderdate").cast("long").alias("blk"),
            F.substring("o_orderpriority", 1, 1).cast("long").alias("trt"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    blks = cells0.select("blk").distinct()
    trts = cells0.select("trt").distinct()
    cells = (
        blks.crossJoin(trts)
        .join(cells0, ["blk", "trt"], "left")
        .select("blk", "trt", F.coalesce("cents", F.lit(0)).alias("cents"))
    )
    return blks, cells


@register(
    "a_page_trend",
    f"""
    WITH {_PRIO_CELLS_SQL},
    ranked AS (
        SELECT blk, trt,
               CAST(row_number() OVER (PARTITION BY blk
                                       ORDER BY cents, trt) AS BIGINT) AS r
        FROM cells
    ),
    rsum AS (
        SELECT trt, CAST(sum(r) AS BIGINT) AS rj FROM ranked GROUP BY trt
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(trt * rj) AS BIGINT) AS l,
               (SELECT CAST(count(DISTINCT blk) AS BIGINT) FROM cells) AS b
        FROM rsum
    )
    SELECT k AS k_treatments, b AS n_blocks, l AS page_l,
           round(CAST(b AS DOUBLE) * k * (k + 1) * (k + 1) / 4.0, 1) + 0
               AS l_expected,
           round((12.0 * l - 3.0 * b * k * (k + 1) * (k + 1))
                 / (k * (k + 1.0) * sqrt(b * (k - 1.0))), 6) + 0 AS z,
           CASE WHEN abs((12.0 * l - 3.0 * b * k * (k + 1) * (k + 1))
                         / (k * (k + 1.0) * sqrt(b * (k - 1.0))))
                     > 1.959964 THEN 1 ELSE 0 END AS trend_flag
    FROM tot
    """,
)
def a_page_trend(spark, sf_dir):
    """Page's trend test (Page 1963) for an ORDERED alternative in
    repeated measures: with weekdays as blocks and the five priority
    classes as ordered treatments (1-URGENT < … < 5-LOW), L = Σ_j j·R_j
    over within-block ranks detects a monotone revenue gradient across
    the priority axis. Friedman (a_friedman_test) asks "do treatments
    differ AT ALL" within blocks; Page spends the same ranks on the
    ordered alternative — the blocked-design sibling of a_jonckheere
    (which pools, losing the block structure). z = (12L − 3bk(k+1)²)/
    (k(k+1)√(b(k−1))), two-sided gate 1.959964 so a reversed gradient
    flags too.

    Exactness: the (weekday, priority) census is ≤ 35 cells, zero-
    filled on the full scaffold (the a_kendall_w idiom) so a quiet
    cell cannot desync the engines' rank frames; L and ΣR are
    BIGINT-exact, one float ratio at 6dp.

    Scale: one map-side-combinable cents groupBy; ranking runs on the
    35-cell frame.
    """
    blks, cells = _zero_filled(spark, sf_dir)
    wr = Window.partitionBy("blk").orderBy("cents", "trt")
    ranked = cells.select(
        "trt", F.row_number().over(wr).cast("long").alias("r")
    )
    rsum = ranked.groupBy("trt").agg(F.sum("r").cast("long").alias("rj"))
    b_ = blks.agg(F.count("*").cast("long").alias("b"))
    tot = rsum.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("trt") * F.col("rj")).cast("long").alias("l"),
    ).crossJoin(F.broadcast(b_))
    k, b, l = F.col("k"), F.col("b"), F.col("l")
    z = (12.0 * l - 3.0 * b * k * (k + 1) * (k + 1)) / (
        k * (k + 1.0) * F.sqrt(b * (k - 1.0))
    )
    return tot.select(
        k.alias("k_treatments"),
        b.alias("n_blocks"),
        l.alias("page_l"),
        (F.round(b.cast("double") * k * (k + 1) * (k + 1) / 4.0, 1) + 0)
        .alias("l_expected"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).alias("trend_flag"),
    )


@register(
    "a_horvitz_thompson",
    """
    WITH pop AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM pop
    ),
    drawn AS (
        SELECT p.cents,
               least(1.0, 0.05 * t.n_pop * p.cents
                          / CAST(t.total_cents AS DOUBLE)) AS pi
        FROM pop p, tot t
        WHERE CAST(list_sum(list_transform(range(1, 9),
                  j -> (strpos('0123456789abcdef',
                               substring(md5(CAST(p.o_orderkey AS VARCHAR)),
                                         j, 1)) - 1)
                       * 16 ** (8 - j))) AS DOUBLE) / 4294967296.0
              < least(1.0, 0.05 * t.n_pop * p.cents
                           / CAST(t.total_cents AS DOUBLE))
    ),
    est AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sample,
               sum(cents / 100.0 / pi) AS ht,
               sum((cents / 100.0) * (cents / 100.0)
                   * (1.0 - pi) / (pi * pi)) AS vht
        FROM drawn
    )
    SELECT t.n_pop, e.n_sample,
           round(t.total_cents / 100.0, 2) + 0 AS true_total_usd,
           round(e.ht, 2) + 0 AS ht_total_usd,
           round(e.ht / (t.total_cents / 100.0), 6) + 0 AS ht_ratio,
           round(sqrt(e.vht), 2) + 0 AS se_usd,
           round((e.ht - t.total_cents / 100.0) / sqrt(e.vht), 6) + 0
               AS z_error
    FROM est e, tot t
    """,
)
def a_horvitz_thompson(spark, sf_dir):
    """Horvitz-Thompson estimation of total revenue from a Poisson
    size-proportional sample: each order enters independently with
    KNOWN inclusion probability π_i ∝ its price (expected 5% rate),
    and the total is estimated as Σ_{sample} y_i/π_i with the exact
    HT variance Σ y_i²(1−π_i)/π_i². The INFERENCE half of the
    sampling stack: a_neyman_allocation decides the budget,
    t_weighted_sample_aes draws the rows — this is how you read an
    unbiased population number (and an honest standard error) back
    OFF the sample. z_error = (HT − truth)/SE prints the realized
    coverage the estimator's theory promises (|z| < 2 with ~95%
    probability under the design).

    Exactness: the inclusion draw reuses the repo's md5-first-8-hex
    uint32 recipe (identical 'randomness' on both engines), π derives
    from exact BIGINT cents through the identical double expression,
    and the realized sample is therefore the same row set — the HT
    sums float once at the 2/6dp snaps.

    Scale: one totals aggregate + one scan with a broadcast scalar —
    the sample never materializes outside the sums; at 100 TB the
    same π-hash filter pushes to the scan and the estimator is one
    map-side-combinable pass.
    """
    orders = load_table(spark, sf_dir, "orders")
    pop = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tot = pop.agg(
        F.count("*").cast("long").alias("n_pop"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    pi = F.least(
        F.lit(1.0),
        0.05
        * F.col("n_pop")
        * F.col("cents")
        / F.col("total_cents").cast("double"),
    )
    drawn = (
        pop.crossJoin(F.broadcast(tot))
        .where(u < pi)
        .select("cents", pi.alias("pi"))
    )
    y = F.col("cents") / 100.0
    est = drawn.agg(
        F.count("*").cast("long").alias("n_sample"),
        F.sum(y / F.col("pi")).alias("ht"),
        F.sum(y * y * (1.0 - F.col("pi")) / (F.col("pi") * F.col("pi"))).alias(
            "vht"
        ),
    )
    true_usd = F.col("total_cents") / 100.0
    return est.crossJoin(F.broadcast(tot)).select(
        "n_pop",
        "n_sample",
        (F.round(true_usd, 2) + 0).alias("true_total_usd"),
        (F.round(F.col("ht"), 2) + 0).alias("ht_total_usd"),
        f6(F.col("ht") / true_usd).alias("ht_ratio"),
        (F.round(F.sqrt(F.col("vht")), 2) + 0).alias("se_usd"),
        f6(
            F.try_divide(F.col("ht") - true_usd, F.sqrt(F.col("vht")))
        ).alias("z_error"),
    )


@register(
    "a_greenwood_ci",
    f"""
    WITH {_CHURN_RISK_SQL},
    km AS (
        SELECT t, d, n,
               sum(CAST(round(ln(1.0 - d * 1.0 / n) * 1e12) AS BIGINT))
                   OVER (ORDER BY t) AS logs12,
               sum(CAST(round(d * 1e12 / (n * (n - d))) AS BIGINT))
                   OVER (ORDER BY t) AS gw12
        FROM at_risk WHERE d > 0 AND d < n
    )
    SELECT t AS day, CAST(n AS BIGINT) AS n_at_risk,
           round(exp(logs12 / 1e12), 6) + 0 AS survival,
           round(exp(logs12 / 1e12) * sqrt(gw12 / 1e12), 6) + 0 AS se,
           round(greatest(0.0, exp(logs12 / 1e12)
                 - 1.959964 * exp(logs12 / 1e12) * sqrt(gw12 / 1e12)),
                 6) + 0 AS ci_lo,
           round(least(1.0, exp(logs12 / 1e12)
                 + 1.959964 * exp(logs12 / 1e12) * sqrt(gw12 / 1e12)),
                 6) + 0 AS ci_hi
    FROM km ORDER BY day DESC LIMIT 25
    """,
)
def a_greenwood_ci(spark, sf_dir):
    """Greenwood variance band around the Kaplan-Meier curve:
    Var(Ŝ(t)) = Ŝ(t)²·Σ dᵢ/(nᵢ(nᵢ−dᵢ)), printed as the clamped
    plain-scale 95% CI — the error bars q_kaplan_meier ships without.
    A survival curve without its Greenwood band invites the classic
    over-read (tail estimates ride on single-digit risk sets; the band
    blowing up at the right edge IS the honest message). Completes the
    KM family: q_kaplan_meier (point estimate), a_nelson_aalen
    (hazard), a_log_rank_test (comparison), THIS (uncertainty).

    Exactness: the Greenwood increment d/(n(n−d)) joins the log-
    survival increment in the 1e-12 BIGINT snap (reorder-safe running
    sums, the KM idiom); clamping uses greatest/least on identical
    doubles.

    Scale: byte-for-byte the q_kaplan_meier plan — one customer
    rollup + one reverse-cumulative window on the bounded lifetime
    axis; the extra column rides the same window.
    """
    from .modern import churn_lifetimes, churn_risk_set

    risk = churn_risk_set(churn_lifetimes(spark, sf_dir))
    log12 = F.round(
        F.log(1.0 - F.col("d") * 1.0 / F.col("n")) * 1e12
    ).cast("long")
    gw12 = F.round(
        F.col("d") * 1e12 / (F.col("n") * (F.col("n") - F.col("d")))
    ).cast("long")
    wt = Window.orderBy("t")
    km = risk.select(
        "t",
        "n",
        F.sum(log12).over(wt).alias("logs12"),
        F.sum(gw12).over(wt).alias("gw12"),
    )
    s = F.exp(F.col("logs12") / 1e12)
    se = s * F.sqrt(F.col("gw12") / 1e12)
    return (
        km.select(
            F.col("t").alias("day"),
            F.col("n").cast("long").alias("n_at_risk"),
            f6(s).alias("survival"),
            f6(se).alias("se"),
            f6(F.greatest(F.lit(0.0), s - 1.959964 * se)).alias("ci_lo"),
            f6(F.least(F.lit(1.0), s + 1.959964 * se)).alias("ci_hi"),
        )
        .orderBy(F.col("day").desc())
        .limit(25)
    )


@register(
    "a_brunner_munzel",
    f"""
    WITH {_RN_CENSUS_SQL.format(v='CAST(l_quantity AS BIGINT)')},
    cum AS (
        SELECT v, a, b,
               coalesce(sum(a + b) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (a + b + 1) / 2.0 AS rc,
               coalesce(sum(a) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (a + 1) / 2.0 AS rwa,
               coalesce(sum(b) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (b + 1) / 2.0 AS rwb
        FROM vals
    ),
    s AS (
        SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2,
               sum(a * rc) AS sra, sum(b * rc) AS srb,
               sum(a * (rc - rwa) * (rc - rwa)) AS qa,
               sum(a * (rc - rwa)) AS la,
               sum(b * (rc - rwb) * (rc - rwb)) AS qb,
               sum(b * (rc - rwb)) AS lb
        FROM cum
    )
    SELECT n1 AS n_returned, n2 AS n_kept,
           round((srb / n2 - (n2 + 1) / 2.0) / n1, 6) + 0 AS p_hat,
           round(n1 * n2 * (srb / n2 - sra / n1)
                 / ((n1 + n2)
                    * sqrt(n1 * ((qa - la * la / n1) / (n1 - 1.0))
                           + n2 * ((qb - lb * lb / n2) / (n2 - 1.0)))),
                 6) + 0 AS w_stat,
           CASE WHEN abs(n1 * n2 * (srb / n2 - sra / n1)
                         / ((n1 + n2)
                            * sqrt(n1 * ((qa - la * la / n1) / (n1 - 1.0))
                                   + n2 * ((qb - lb * lb / n2)
                                           / (n2 - 1.0))))) > 1.959964
                THEN 1 ELSE 0 END AS stochastic_dominance_flag
    FROM s
    """,
)
def a_brunner_munzel(spark, sf_dir):
    """Brunner-Munzel test (2000, public) of P(X < Y) + ½P(X = Y) = ½
    between returned and kept quantities — the modern replacement for
    Mann-Whitney when the two groups may have UNEQUAL variances (M-W's
    null is exchangeability; under scale differences its level breaks,
    which is exactly the condition a_ansari_bradley tests for). The
    statistic needs both the combined midranks AND each group's
    within-group midranks; both come from the same ≤50-cell quantity
    census, so the textbook per-observation formula collapses to
    census sums: S_i² = Σc(rc − rw − R̄ci + (n_i+1)/2)²/(n_i−1)
    assembled from (Σc·rc, Σc(rc−rw), Σc(rc−rw)²) — tied blocks share
    their midranks, making the moment form exact.

    Exactness: midranks are exact halves from cumulative census
    counts; the rank-scale moments accumulate in DOUBLE (identical
    association both engines — the a_jonckheere discipline); p̂ and W
    snap at 6dp. An all-tied corpus zeroes the variance → NULL W on
    both engines.

    Scale: one census groupBy is the only data pass; three cumulative
    windows run on ≤50 census rows.
    """
    vals = _rn_census(spark, sf_dir, F.col("l_quantity").cast("long"))
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vals.select(
        "a",
        "b",
        (
            F.coalesce(F.sum(F.col("a") + F.col("b")).over(wb), F.lit(0))
            + (F.col("a") + F.col("b") + 1) / 2.0
        ).alias("rc"),
        (
            F.coalesce(F.sum("a").over(wb), F.lit(0))
            + (F.col("a") + 1) / 2.0
        ).alias("rwa"),
        (
            F.coalesce(F.sum("b").over(wb), F.lit(0))
            + (F.col("b") + 1) / 2.0
        ).alias("rwb"),
    )
    da = F.col("rc") - F.col("rwa")
    db = F.col("rc") - F.col("rwb")
    s = cum.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
        F.sum(F.col("a") * F.col("rc")).alias("sra"),
        F.sum(F.col("b") * F.col("rc")).alias("srb"),
        F.sum(F.col("a") * da * da).alias("qa"),
        F.sum(F.col("a") * da).alias("la"),
        F.sum(F.col("b") * db * db).alias("qb"),
        F.sum(F.col("b") * db).alias("lb"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    s1 = (F.col("qa") - F.col("la") * F.col("la") / n1) / (n1 - 1.0)
    s2 = (F.col("qb") - F.col("lb") * F.col("lb") / n2) / (n2 - 1.0)
    p_hat = (F.col("srb") / n2 - (n2 + 1) / 2.0) / n1
    w = F.try_divide(
        n1 * n2 * (F.col("srb") / n2 - F.col("sra") / n1),
        (n1 + n2) * F.sqrt(n1 * s1 + n2 * s2),
    )
    return s.select(
        n1.alias("n_returned"),
        n2.alias("n_kept"),
        f6(p_hat).alias("p_hat"),
        f6(w).alias("w_stat"),
        F.when(F.abs(w) > 1.959964, 1)
        .otherwise(0)
        .alias("stochastic_dominance_flag"),
    )


@register(
    "a_tukey_hsd",
    f"""
    WITH {_TYPE_MOMENTS_SQL},
    t AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(count(*) AS BIGINT) AS k,
               (sum(q) - sum(s * 1.0 * s / n))
               / (sum(n) - count(*)) AS msw
        FROM g
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           round((a.s * 1.0 / a.n - b.s * 1.0 / b.n) / 100.0, 4) + 0
               AS mean_diff_usd,
           round(abs(a.s * 1.0 / a.n - b.s * 1.0 / b.n)
                 / sqrt(t.msw / 2.0 * (1.0 / a.n + 1.0 / b.n)), 6) + 0
               AS q_stat,
           CASE WHEN abs(a.s * 1.0 / a.n - b.s * 1.0 / b.n)
                     / sqrt(t.msw / 2.0 * (1.0 / a.n + 1.0 / b.n))
                     > 3.858 THEN 1 ELSE 0 END AS differ_flag
    FROM g a, g b, t
    WHERE a.event_type < b.event_type
    ORDER BY type_a, type_b
    """,
)
def a_tukey_hsd(spark, sf_dir):
    """Tukey-Kramer HSD post-hoc on a_anova_f's five event-type means:
    every pair's studentized range statistic q = |x̄ᵢ−x̄ⱼ| /
    √(MSW/2·(1/nᵢ+1/nⱼ)) against q₀.₀₅(5, ∞) = 3.858 (a distribution
    constant, shared literal). The parametric post-hoc that pairs with
    a_anova_f exactly the way a_dunn_test pairs with a_kruskal_wallis:
    ANOVA says "some group differs", HSD says WHICH pairs — at a
    familywise error rate the 10 naive t-tests can't hold. The
    Kramer unequal-n harmonic form is used, so no balance assumption.

    Exactness: per-group (n, Σ, Σ²) fold to exact cent BIGINTs in one
    groupBy (the a_anova_f moments verbatim); MSW and the 10 pair
    statistics are scalar math on the 5-row frame, 4/6dp-snapped.

    Scale: the a_anova_f plan + a ≤k² broadcast pair join on the
    group frame — groups add frame rows, never passes.
    """
    g = _type_moments(spark, sf_dir)
    t = g.agg(
        # try_divide: an all-singleton-group corpus has nt == k, so the
        # MSW denominator is 0 — NULL like DuckDB's /0, no ANSI crash
        F.try_divide(
            F.sum("q") - F.sum(F.col("s") * 1.0 * F.col("s") / F.col("n")),
            (F.sum("n") - F.count("*")).cast("double"),
        ).alias("msw")
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    diff = F.col("sa") * 1.0 / F.col("na") - F.col("sb") * 1.0 / F.col("nb")
    # try_divide: a zero-within-variance corpus (constant values) zeroes
    # MSW — NULL q like DuckDB's /0, no ANSI crash (round-16 lens at birth)
    qstat = F.try_divide(
        F.abs(diff),
        F.sqrt(
            F.col("msw") / 2.0 * (1.0 / F.col("na") + 1.0 / F.col("nb"))
        ),
    )
    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(t))
        .select(
            "type_a",
            "type_b",
            (F.round(diff / 100.0, 4) + 0).alias("mean_diff_usd"),
            f6(qstat).alias("q_stat"),
            F.when(qstat > 3.858, 1).otherwise(0).alias("differ_flag"),
        )
        .orderBy("type_a", "type_b")
    )


_BY_THR_SQL = """CASE r WHEN 1 THEN 3.136961 WHEN 2 THEN 2.927757
                 WHEN 3 THEN 2.799306 WHEN 4 THEN 2.705102
                 WHEN 5 THEN 2.630122 WHEN 6 THEN 2.567533
                 WHEN 7 THEN 2.513629 WHEN 8 THEN 2.466169
                 WHEN 9 THEN 2.423689 ELSE 2.385178 END"""


@register(
    "a_by_fdr_pairs",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM events GROUP BY 1, 2
    ),
    tt AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x),
    ranked AS (
        SELECT d.event_type,
               CAST(2 * rank() OVER (ORDER BY d.x) + t.t - 1 AS BIGINT)
                   AS mr2
        FROM daily d JOIN tt t ON t.x = d.x
    ),
    {_RANK_SUMS_SQL},
    c AS (SELECT CAST(sum(nj) AS BIGINT) AS n FROM sums),
    {_TIE_SQL},
    zs AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               ((a.r2 * 1.0 / a.nj - b.r2 * 1.0 / b.nj) / 2.0)
               / sqrt((c.n * (c.n + 1.0) / 12.0
                       - tie.tc / (12.0 * (c.n - 1.0)))
                      * (1.0 / a.nj + 1.0 / b.nj)) AS z
        FROM sums a, sums b, c, tie
        WHERE a.event_type < b.event_type
    ),
    rk AS (
        SELECT *, CAST(row_number() OVER (ORDER BY abs(z) DESC, ta, tb)
                       AS BIGINT) AS r
        FROM zs
    ),
    thr AS (
        SELECT *, {{bh}} AS zbh, {{by}} AS zby
        FROM rk
    ),
    cut AS (
        SELECT CAST(max(CASE WHEN abs(z) >= zbh THEN r ELSE 0 END)
                    AS BIGINT) AS r_bh,
               CAST(max(CASE WHEN abs(z) >= zby THEN r ELSE 0 END)
                    AS BIGINT) AS r_by
        FROM thr
    )
    SELECT ta AS type_a, tb AS type_b, round(z, 6) + 0 AS z, r AS rank_,
           CASE WHEN r <= cut.r_bh THEN 1 ELSE 0 END AS bh_significant,
           CASE WHEN r <= cut.r_by THEN 1 ELSE 0 END AS by_significant
    FROM thr CROSS JOIN cut ORDER BY type_a, type_b
    """.replace("{bh}", _DUNN_THR_SQL).replace("{by}", _BY_THR_SQL),
)
def a_by_fdr_pairs(spark, sf_dir):
    """Benjamini-Yekutieli FDR control beside Benjamini-Hochberg on the
    SAME ten Dunn pair z-statistics: BY divides the step-up line by
    c(m) = Σ1/i ≈ 2.929, buying FDR control under ARBITRARY dependence
    — and these ten pairs ARE dependent (they share the pooled rank
    frame), which is precisely the case where plain BH's independence/
    PRDS assumption is a leap. The two flags print side by side, so
    the rows where they disagree are the discoveries you only get by
    assuming positive dependence. Both step-ups run entirely on
    z-scale via precomputed Φ⁻¹ literals (the a_dunn_test trick — no
    erf on either engine); the BY ladder's ten thresholds are
    Φ⁻¹(1 − rα/(2m·c(m))).

    Scale: one daily rollup is the only data pass (the
    a_kruskal_wallis frame); the 10-pair step-ups are bounded-frame
    arithmetic.
    """
    sums, tie = _mid_rank_sums(spark, sf_dir)
    rk = _dunn_pairs(sums, tie)
    thr = rk.select(
        "*",
        F.expr(_DUNN_THR_SQL).alias("zbh"),
        F.expr(_BY_THR_SQL).alias("zby"),
    )
    cut = thr.agg(
        F.max(
            F.when(F.abs(F.col("z")) >= F.col("zbh"), F.col("r")).otherwise(0)
        )
        .cast("long")
        .alias("r_bh"),
        F.max(
            F.when(F.abs(F.col("z")) >= F.col("zby"), F.col("r")).otherwise(0)
        )
        .cast("long")
        .alias("r_by"),
    )
    return (
        thr.crossJoin(F.broadcast(cut))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            f6(F.col("z")).alias("z"),
            F.col("r").alias("rank_"),
            F.when(F.col("r") <= F.col("r_bh"), 1)
            .otherwise(0)
            .alias("bh_significant"),
            F.when(F.col("r") <= F.col("r_by"), 1)
            .otherwise(0)
            .alias("by_significant"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "a_bass_diffusion",
    """
    WITH first_order AS (
        SELECT o_custkey, min(o_orderdate) AS d0 FROM orders GROUP BY 1
    ),
    daily AS (
        SELECT d0 AS d, CAST(count(*) AS BIGINT) AS adopters
        FROM first_order GROUP BY 1
    ),
    seq AS (
        SELECT d, adopters AS y,
               CAST(coalesce(sum(adopters) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS DOUBLE) AS x
        FROM daily
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               avg(y) AS my, avg(x) AS mx, avg(x * x) AS mxx,
               covar_pop(x, y) AS sxy,
               covar_pop(x * x, y) AS sx2y,
               var_pop(x) AS sxx,
               covar_pop(x, x * x) AS sxx2,
               var_pop(x * x) AS sx2x2
        FROM seq
    ),
    beta AS (
        SELECT n, my, mx, mxx,
               (sxy * sx2x2 - sx2y * sxx2)
               / (sxx * sx2x2 - sxx2 * sxx2) AS b1,
               (sx2y * sxx - sxy * sxx2)
               / (sxx * sx2x2 - sxx2 * sxx2) AS b2
        FROM m
    ),
    coefs AS (
        SELECT n, b1 AS b, b2 AS c, my - b1 * mx - b2 * mxx AS a
        FROM beta
    ),
    fit AS (
        SELECT n, a, b, c,
               CASE WHEN c < 0 AND b * b - 4 * a * c >= 0
                    THEN (-b - sqrt(b * b - 4 * a * c)) / (2 * c) END AS m_
        FROM coefs
    )
    SELECT n AS n_days,
           round(a, 6) + 0 AS coef_a,
           round(b, 6) + 0 AS coef_b,
           round(c, 9) + 0 AS coef_c,
           round(m_, 2) + 0 AS market_size_m,
           round(a / m_, 6) + 0 AS p_innovation,
           round(b + a / m_, 6) + 0 AS q_imitation,
           round(CASE WHEN a / m_ > 0 AND b + a / m_ > 0
                      THEN ln((b + a / m_) / (a / m_))
                           / (a / m_ + b + a / m_) END, 2) + 0
               AS peak_day_t
    FROM fit
    """,
)
def a_bass_diffusion(spark, sf_dir):
    """Bass diffusion model (Bass 1969, public) fitted to customer
    adoption: daily NEW adopters n_t regressed on cumulative adopters
    N_{t−1} and N²_{t−1} (the discrete Bass regression n_t = pM +
    (q−p)N − (q/M)N²), coefficients by the closed-form two-regressor
    Cramer solve in covariance space (the a_granger_1lag 2×2), then
    (p, q, M) recovered from the quadratic's root and the peak-adoption
    time t* = ln(q/p)/(p+q). THE product-growth forecasting curve:
    p prices advertising-driven adoption, q the word-of-mouth loop, M
    the ceiling — and fitting it from two cumulative moments means the
    100 TB version is one rollup + one moment pass, no optimizer. The
    honest synthetic readout: TPC-H adoption is front-loaded (every
    customer orders early), so M ≈ the observed customer count and the
    curve degenerates toward pure innovation — the degenerate branch
    (c ≥ 0 or negative discriminant → NULL fit) is CASE-guarded
    identically on both engines.

    Exactness: adopter counts and the cumulative axis are BIGINT; the
    five pooled moments come from the engines' shared covar/var_pop on
    identical doubles; root/ratios snap at 2/6/9dp.

    Scale: one first-order rollup (map-side min), one cumulative
    window on the bounded calendar axis, one moment aggregate — the
    regression never materializes.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("d0"))
        .groupBy(F.col("d0").alias("d"))
        .agg(F.count("*").cast("long").alias("adopters"))
    )
    wb = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    seq = daily.select(
        F.col("adopters").cast("double").alias("y"),
        F.coalesce(F.sum("adopters").over(wb), F.lit(0))
        .cast("double")
        .alias("x"),
    )
    m = seq.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("y").alias("my"),
        F.avg("x").alias("mx"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.covar_pop("x", "y").alias("sxy"),
        F.covar_pop(F.col("x") * F.col("x"), F.col("y")).alias("sx2y"),
        F.var_pop("x").alias("sxx"),
        F.covar_pop(F.col("x"), F.col("x") * F.col("x")).alias("sxx2"),
        F.var_pop(F.col("x") * F.col("x")).alias("sx2x2"),
    )
    det = F.col("sxx") * F.col("sx2x2") - F.col("sxx2") * F.col("sxx2")
    b1 = F.try_divide(
        F.col("sxy") * F.col("sx2x2") - F.col("sx2y") * F.col("sxx2"), det
    )
    b2 = F.try_divide(
        F.col("sx2y") * F.col("sxx") - F.col("sxy") * F.col("sxx2"), det
    )
    coefs = m.select(
        "n",
        (F.col("my") - b1 * F.col("mx") - b2 * F.col("mxx")).alias("a"),
        b1.alias("b"),
        b2.alias("c"),
    )
    disc = F.col("b") * F.col("b") - 4 * F.col("a") * F.col("c")
    m_ = F.when(
        (F.col("c") < 0) & (disc >= 0),
        (-F.col("b") - F.sqrt(disc)) / (2 * F.col("c")),
    )
    fit = coefs.select("n", "a", "b", "c", m_.alias("m_"))
    p = F.col("a") / F.col("m_")
    q = F.col("b") + p
    return fit.select(
        F.col("n").alias("n_days"),
        f6(F.col("a")).alias("coef_a"),
        f6(F.col("b")).alias("coef_b"),
        (F.round(F.col("c"), 9) + 0).alias("coef_c"),
        (F.round(F.col("m_"), 2) + 0).alias("market_size_m"),
        f6(p).alias("p_innovation"),
        f6(q).alias("q_imitation"),
        (
            F.round(
                F.when((p > 0) & (q > 0), F.log(q / p) / (p + q)), 2
            )
            + 0
        ).alias("peak_day_t"),
    )


@register(
    "a_quade_test",
    f"""
    WITH {_PRIO_CELLS_SQL},
    ranked AS (
        SELECT blk, trt, cents,
               CAST(row_number() OVER (PARTITION BY blk
                                       ORDER BY cents, trt) AS BIGINT) AS r
        FROM cells
    ),
    ranges AS (
        SELECT blk, CAST(max(cents) - min(cents) AS BIGINT) AS rng
        FROM cells GROUP BY blk
    ),
    weights AS (
        SELECT blk,
               CAST(row_number() OVER (ORDER BY rng, blk) AS BIGINT) AS q
        FROM ranges
    ),
    sij AS (
        SELECT r.trt, w.q * (2 * r.r - 6) AS s2
        FROM ranked r JOIN weights w ON w.blk = r.blk
    ),
    agg AS (
        SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k,
               CAST((SELECT count(*) FROM weights) AS BIGINT) AS b,
               sum(s2 * s2) AS a2,
               (SELECT sum(sj * sj)
                FROM (SELECT CAST(sum(s2) AS BIGINT) AS sj
                      FROM sij GROUP BY trt))
                   / (SELECT count(*) FROM weights) AS b2
        FROM sij
    )
    SELECT k AS k_treatments, b AS n_blocks,
           round((b - 1.0) * b2 / (a2 - b2), 6) + 0 AS quade_f,
           CASE WHEN (b - 1.0) * b2 / (a2 - b2) > 2.776289
                THEN 1 ELSE 0 END AS differ_flag
    FROM agg
    """,
)
def a_quade_test(spark, sf_dir):
    """Quade test on the weekday-blocked priority revenues: Friedman
    weighted by block INFORMATIVENESS — each block's within-block
    ranks are scaled by the rank of the block's sample RANGE, so
    weekends with big revenue spreads count more than flat midweek
    blocks. F = (b−1)B/(A−B) ~ F(k−1, (b−1)(k−1)), gate F(4,24) 95% =
    2.776 (constant). Completes the blocked-rank trio: a_friedman_test
    (unweighted, any alternative), a_page_trend (ordered alternative),
    Quade (range-weighted — more powerful for k ≤ 5, the textbook
    advice). A perfectly concordant corpus makes A = B (F undefined)
    and NULLs identically on both engines.

    Exactness: doubled centered scores S2 = Q·(2R − (k+1)) keep every
    product a BIGINT (the ×4 factor cancels in F); ranks and range
    ranks use row_number tiebreaks on the zero-filled 35-cell
    scaffold (the a_kendall_w idiom).

    Scale: one map-side cents groupBy; everything else is 35-cell
    arithmetic.
    """
    _, cells = _zero_filled(spark, sf_dir)
    wr = Window.partitionBy("blk").orderBy("cents", "trt")
    ranked = cells.select(
        "blk", "trt", F.row_number().over(wr).cast("long").alias("r")
    )
    ranges = cells.groupBy("blk").agg(
        (F.max("cents") - F.min("cents")).cast("long").alias("rng")
    )
    wq = Window.orderBy("rng", "blk")
    weights = ranges.select(
        "blk", F.row_number().over(wq).cast("long").alias("q")
    )
    sij = ranked.join(F.broadcast(weights), "blk").select(
        "trt", (F.col("q") * (2 * F.col("r") - 6)).alias("s2")
    )
    sj = sij.groupBy("trt").agg(F.sum("s2").cast("long").alias("sj"))
    b_ = weights.agg(F.count("*").cast("long").alias("b"))
    agg = (
        sij.agg(
            F.countDistinct("trt").cast("long").alias("k"),
            F.sum(F.col("s2") * F.col("s2")).alias("a2"),
        )
        .crossJoin(F.broadcast(sj.agg(F.sum(F.col("sj") * F.col("sj")).alias("sjj"))))
        .crossJoin(F.broadcast(b_))
    )
    b2 = F.col("sjj") / F.col("b")
    fstat = F.try_divide((F.col("b") - 1.0) * b2, F.col("a2") - b2)
    return agg.select(
        F.col("k").alias("k_treatments"),
        F.col("b").alias("n_blocks"),
        f6(fstat).alias("quade_f"),
        F.when(fstat > 2.776289, 1).otherwise(0).alias("differ_flag"),
    )


@register(
    "a_cohen_h",
    """
    WITH g AS (
        SELECT CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS disc,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS r
        FROM lineitem GROUP BY 1
    ),
    two AS (
        SELECT max(CASE WHEN disc = 1 THEN n END) AS n1,
               max(CASE WHEN disc = 1 THEN r END) AS r1,
               max(CASE WHEN disc = 0 THEN n END) AS n0,
               max(CASE WHEN disc = 0 THEN r END) AS r0
        FROM g
    )
    SELECT n1 AS n_discounted, n0 AS n_full_price,
           round(r1 * 1.0 / n1, 6) + 0 AS p_discounted,
           round(r0 * 1.0 / n0, 6) + 0 AS p_full_price,
           round(r1 * 1.0 / n1 - r0 * 1.0 / n0, 6) + 0 AS risk_diff,
           round(2 * asin(sqrt(r1 * 1.0 / n1))
                 - 2 * asin(sqrt(r0 * 1.0 / n0)), 6) + 0 AS cohen_h,
           CASE WHEN abs(2 * asin(sqrt(r1 * 1.0 / n1))
                         - 2 * asin(sqrt(r0 * 1.0 / n0))) >= 0.8
                     THEN 'large'
                WHEN abs(2 * asin(sqrt(r1 * 1.0 / n1))
                         - 2 * asin(sqrt(r0 * 1.0 / n0))) >= 0.5
                     THEN 'medium'
                WHEN abs(2 * asin(sqrt(r1 * 1.0 / n1))
                         - 2 * asin(sqrt(r0 * 1.0 / n0))) >= 0.2
                     THEN 'small'
                ELSE 'negligible' END AS effect_label
    FROM two
    """,
)
def a_cohen_h(spark, sf_dir):
    """Cohen's h effect size for the return-rate difference between
    discounted (≥5%) and full-price lines: h = 2·asin√p₁ − 2·asin√p₂
    — the arcsine-stabilized difference whose 0.2/0.5/0.8 ladder is
    scale-free where the raw risk difference is NOT (a 1-point gap
    means everything at p≈0.01 and nothing at p≈0.50; the transform
    equalizes the variance). The proportions member of the effect-size
    family (a_cohens_d = means, a_cliffs_delta = ordinal): the number
    a_proportion_ztest's p-value should always ship with, because at
    fixture scale EVERYTHING is significant and only h says whether
    it matters.

    Exactness: two integer (n, r) cells from one conditional groupBy;
    asin/sqrt run on identical doubles (engines share libm-faithful
    implementations; 6dp snap absorbs ulp) — the a_dunn_test
    no-probit concern doesn't apply since asin IS available on both.

    Scale: one map-side-combinable conditional aggregation; the
    effect arithmetic is a 1-row select.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("disc")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("r"),
    )
    two = g.agg(
        F.max(F.when(F.col("disc") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("disc") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("disc") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("disc") == 0, F.col("r"))).alias("r0"),
    )
    p1 = F.col("r1") * 1.0 / F.col("n1")
    p0 = F.col("r0") * 1.0 / F.col("n0")
    h = 2 * F.asin(F.sqrt(p1)) - 2 * F.asin(F.sqrt(p0))
    return two.select(
        F.col("n1").alias("n_discounted"),
        F.col("n0").alias("n_full_price"),
        f6(p1).alias("p_discounted"),
        f6(p0).alias("p_full_price"),
        f6(p1 - p0).alias("risk_diff"),
        f6(h).alias("cohen_h"),
        F.when(F.abs(h) >= 0.8, "large")
        .when(F.abs(h) >= 0.5, "medium")
        .when(F.abs(h) >= 0.2, "small")
        .otherwise("negligible")
        .alias("effect_label"),
    )


@register(
    "a_yuen_trimmed_t",
    """
    WITH vals AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT g, v, c,
               CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS bl,
               CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM vals
    ),
    trim AS (
        SELECT g, v, c, bl, n, n // 5 AS gt,
               greatest(CAST(0 AS BIGINT),
                        least(bl + c, n - n // 5)
                        - greatest(bl, n // 5)) AS keep
        FROM cum
    ),
    lohi AS (
        SELECT g,
               max(CASE WHEN bl < gt + 1 AND bl + c >= gt + 1
                        THEN v END) AS lo,
               max(CASE WHEN bl < n - gt AND bl + c >= n - gt
                        THEN v END) AS hi
        FROM trim GROUP BY g
    ),
    s AS (
        SELECT t.g, max(t.n) AS n, max(t.gt) AS gt,
               max(t.n) - 2 * max(t.gt) AS h,
               CAST(sum(t.keep * t.v) AS BIGINT) AS tsum,
               CAST(sum(t.keep * t.v * t.v) AS BIGINT) AS tsq,
               max(l.lo) AS lo, max(l.hi) AS hi
        FROM trim t JOIN lohi l ON l.g = t.g
        GROUP BY t.g
    ),
    w AS (
        SELECT g, n, gt, h,
               tsum * 1.0 / h AS tmean,
               tsum + gt * (lo + hi) AS wsum,
               tsq + gt * (lo * lo + hi * hi) AS wsq
        FROM s
    ),
    d AS (
        SELECT g, n, h, tmean,
               ((wsq - wsum * 1.0 * wsum / n) / (n - 1.0)) * (n - 1.0)
               / (h * (h - 1.0)) AS dd
        FROM w
    ),
    two AS (
        SELECT max(CASE WHEN g = 'R' THEN n END) AS n1,
               max(CASE WHEN g = 'R' THEN h END) AS h1,
               max(CASE WHEN g = 'R' THEN tmean END) AS t1,
               max(CASE WHEN g = 'R' THEN dd END) AS d1,
               max(CASE WHEN g = 'N' THEN n END) AS n2,
               max(CASE WHEN g = 'N' THEN h END) AS h2,
               max(CASE WHEN g = 'N' THEN tmean END) AS t2,
               max(CASE WHEN g = 'N' THEN dd END) AS d2
        FROM d
    )
    SELECT n1 AS n_returned, n2 AS n_kept, h1 AS h_returned,
           h2 AS h_kept,
           round(t1, 6) + 0 AS trimmed_mean_r,
           round(t2, 6) + 0 AS trimmed_mean_n,
           round((t1 - t2) / sqrt(d1 + d2), 6) + 0 AS yuen_t,
           CASE WHEN abs((t1 - t2) / sqrt(d1 + d2)) > 1.959964
                THEN 1 ELSE 0 END AS differ_flag
    FROM two
    """,
)
def a_yuen_trimmed_t(spark, sf_dir):
    """Yuen's trimmed-means t-test (1974, public): compare returned vs
    kept quantity LOCATIONS after 20% trimming each side, with the
    winsorized variance in the denominator — the robust two-sample
    location test that keeps its level under the heavy tails and
    outliers that break Student/Welch (a_ttest_welch's raw means give
    one bad basket a vote; the trimmed means don't). d_i =
    (n_i−1)s²_wi/(h_i(h_i−1)), t = (x̄t1−x̄t2)/√(d1+d2), large-sample
    normal gate. Completes the robust-location story: a_robust_location
    DESCRIBES one group's trimmed estimators, this one TESTS two.

    Exactness: per-group trimming runs on the ≤50-cell quantity census
    — keep counts, the g+1 / n−g winsorizing order statistics, trimmed
    and winsorized sums are ALL exact BIGINTs off cumulative census
    counts (the a_robust_location interval idiom, per group); the only
    floats are the two means and the final t at 6dp.

    Scale: one census groupBy + two windows on ≤50 census rows per
    group.
    """
    li = load_table(spark, sf_dir, "lineitem")
    vals = (
        li.where(F.col("l_returnflag").isin("R", "N"))
        .groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    wb = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wg = Window.partitionBy("g")
    cum = vals.select(
        "g",
        "v",
        "c",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).cast("long").alias("bl"),
        F.sum("c").over(wg).cast("long").alias("n"),
    )
    gt = F.floor(F.col("n") / 5).cast("long")
    keep = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("bl") + F.col("c"), F.col("n") - gt)
        - F.greatest(F.col("bl"), gt),
    )
    trim = cum.select(
        "g", "v", "c", "bl", "n", gt.alias("gt"), keep.alias("keep")
    )
    lohi = trim.groupBy("g").agg(
        F.max(
            F.when(
                (F.col("bl") < F.col("gt") + 1)
                & (F.col("bl") + F.col("c") >= F.col("gt") + 1),
                F.col("v"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                (F.col("bl") < F.col("n") - F.col("gt"))
                & (F.col("bl") + F.col("c") >= F.col("n") - F.col("gt")),
                F.col("v"),
            )
        ).alias("hi"),
    )
    s = (
        trim.join(F.broadcast(lohi), "g")
        .groupBy("g")
        .agg(
            F.max("n").alias("n"),
            F.max("gt").alias("gt"),
            (F.max("n") - 2 * F.max("gt")).alias("h"),
            F.sum(F.col("keep") * F.col("v")).cast("long").alias("tsum"),
            F.sum(F.col("keep") * F.col("v") * F.col("v"))
            .cast("long")
            .alias("tsq"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )
    wsum = F.col("tsum") + F.col("gt") * (F.col("lo") + F.col("hi"))
    wsq = F.col("tsq") + F.col("gt") * (
        F.col("lo") * F.col("lo") + F.col("hi") * F.col("hi")
    )
    d = s.select(
        "g",
        "n",
        "h",
        (F.col("tsum") * 1.0 / F.col("h")).alias("tmean"),
        (
            ((wsq - wsum * 1.0 * wsum / F.col("n")) / (F.col("n") - 1.0))
            * (F.col("n") - 1.0)
            / (F.col("h") * (F.col("h") - 1.0))
        ).alias("dd"),
    )

    def pick(g, c):
        return F.max(F.when(F.col("g") == g, F.col(c)))

    two = d.agg(
        pick("R", "n").alias("n1"),
        pick("R", "h").alias("h1"),
        pick("R", "tmean").alias("t1"),
        pick("R", "dd").alias("d1"),
        pick("N", "n").alias("n2"),
        pick("N", "h").alias("h2"),
        pick("N", "tmean").alias("t2"),
        pick("N", "dd").alias("d2"),
    )
    t = F.try_divide(
        F.col("t1") - F.col("t2"), F.sqrt(F.col("d1") + F.col("d2"))
    )
    return two.select(
        F.col("n1").alias("n_returned"),
        F.col("n2").alias("n_kept"),
        F.col("h1").alias("h_returned"),
        F.col("h2").alias("h_kept"),
        f6(F.col("t1")).alias("trimmed_mean_r"),
        f6(F.col("t2")).alias("trimmed_mean_n"),
        f6(t).alias("yuen_t"),
        F.when(F.abs(t) > 1.959964, 1).otherwise(0).alias("differ_flag"),
    )


@register(
    "a_welch_anova",
    f"""
    WITH {_TYPE_MOMENTS_SQL},
    m AS (
        SELECT event_type, n,
               s * 1.0 / n AS mean,
               n / ((q - s * 1.0 * s / n) / (n - 1.0)) AS w
        FROM g
    ),
    t AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nt,
               sum(w) AS bigw,
               sum(w * mean) AS wm
        FROM m
    ),
    parts AS (
        SELECT t.k, t.nt,
               sum(m.w * (m.mean - t.wm / t.bigw)
                       * (m.mean - t.wm / t.bigw)) AS a,
               sum((1.0 - m.w / t.bigw) * (1.0 - m.w / t.bigw)
                   / (m.n - 1.0)) AS lam
        FROM m, t GROUP BY t.k, t.nt
    )
    SELECT k AS n_groups, nt AS n_rows,
           round((a / (k - 1.0))
                 / (1.0 + 2.0 * (k - 2) / (k * k - 1.0) * lam), 6) + 0
               AS welch_f,
           CASE WHEN (a / (k - 1.0))
                     / (1.0 + 2.0 * (k - 2) / (k * k - 1.0) * lam)
                     > 2.371932 THEN 1 ELSE 0 END AS differ_flag
    FROM parts
    """,
)
def a_welch_anova(spark, sf_dir):
    """Welch's heteroscedastic one-way ANOVA across the five event
    types: groups weighted by precision w_j = n_j/s_j², F* =
    [Σw_j(x̄_j−x̄_w)²/(k−1)] / [1 + 2(k−2)/(k²−1)·Σ(1−w_j/W)²/(n_j−1)]
    (Welch 1951, public), large-sample gate χ²₄/4 = 2.371932. This is
    the missing branch of the variance-heterogeneity decision path the
    battery already poses: a_levene_test / a_bartlett_test ask "are
    the spreads equal?" — when they REJECT, classic a_anova_f's pooled
    MSW is invalid and THIS is the test you run instead (exactly as
    a_ttest_welch replaces Student at k = 2). A zero-variance group
    (constant corpus) makes w infinite → NULL on both engines via the
    shared division semantics.

    Exactness: the same exact-cent (n, Σ, Σ²) moments as a_anova_f in
    one groupBy; weights, the weighted grand mean and Λ are 5-row
    arithmetic, 6dp-snapped.

    Scale: the a_anova_f plan verbatim — one map-side-combinable
    moment groupBy; groups add frame rows, never passes.
    """
    g = _type_moments(spark, sf_dir)
    m = g.select(
        "n",
        (F.col("s") * 1.0 / F.col("n")).alias("mean"),
        F.try_divide(
            F.col("n"),
            (F.col("q") - F.col("s") * 1.0 * F.col("s") / F.col("n"))
            / (F.col("n") - 1.0),
        ).alias("w"),
    )
    t = m.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("w").alias("bigw"),
        F.sum(F.col("w") * F.col("mean")).alias("wm"),
    )
    gw = F.col("wm") / F.col("bigw")
    parts = (
        m.crossJoin(F.broadcast(t))
        .groupBy("k", "nt")
        .agg(
            F.sum(
                F.col("w") * (F.col("mean") - gw) * (F.col("mean") - gw)
            ).alias("a"),
            F.sum(
                (1.0 - F.col("w") / F.col("bigw"))
                * (1.0 - F.col("w") / F.col("bigw"))
                / (F.col("n") - 1.0)
            ).alias("lam"),
        )
    )
    k = F.col("k")
    fstat = F.try_divide(
        F.col("a") / (k - 1.0),
        1.0 + 2.0 * (k - 2) / (k * k - 1.0) * F.col("lam"),
    )
    return parts.select(
        k.alias("n_groups"),
        F.col("nt").alias("n_rows"),
        f6(fstat).alias("welch_f"),
        F.when(fstat > 2.371932, 1).otherwise(0).alias("differ_flag"),
    )


@register(
    "a_seasonal_mann_kendall",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS season,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT CASE WHEN b.x > a.x THEN 1
                    WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
        FROM daily a JOIN daily b
          ON b.season = a.season AND b.day > a.day
    ),
    seasons AS (
        SELECT season, CAST(count(*) AS BIGINT) AS n,
               CAST((SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                     FROM (SELECT CAST(count(*) AS BIGINT) AS t
                           FROM daily d2
                           WHERE d2.season = daily.season
                           GROUP BY d2.x)) AS BIGINT) AS tie_corr
        FROM daily GROUP BY season
    ),
    c AS (
        SELECT (SELECT CAST(coalesce(sum(sgn), 0) AS BIGINT)
                FROM pairs) AS s,
               (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n,
               (SELECT CAST(count(*) AS BIGINT) FROM seasons)
                   AS n_seasons,
               (SELECT sum((n * (n - 1.0) * (2.0 * n + 5) - tie_corr)
                           / 18.0)
                FROM seasons) AS var_s
    )
    SELECT s AS s_stat, n AS n_days, n_seasons,
           round(var_s, 6) + 0 AS var_s,
           round((CASE WHEN s > 0 THEN s - 1.0
                       WHEN s < 0 THEN s + 1.0 ELSE 0.0 END)
                 / sqrt(var_s), 6) + 0 AS z,
           CASE WHEN abs((CASE WHEN s > 0 THEN s - 1.0
                               WHEN s < 0 THEN s + 1.0 ELSE 0.0 END)
                         / sqrt(var_s)) > 1.959964
                THEN CASE WHEN s > 0 THEN 1 ELSE -1 END ELSE 0 END
               AS trend_direction
    FROM c
    """,
)
def a_seasonal_mann_kendall(spark, sf_dir):
    """Seasonal Mann-Kendall trend test (Hirsch & Slack 1984, public):
    the MK pairwise-sign statistic computed WITHIN each weekday season
    and summed — S = ΣS_j, Var = ΣVar_j (tie-corrected per season) —
    so a strong weekly cycle cannot masquerade as (or mask) a trend:
    plain a_mann_kendall compares Mondays to Saturdays and reads the
    cycle as noise that dilutes Var, this one never crosses seasons.
    The seasonal completion of the trend pair (a_mann_kendall
    pooled, this stratified), with the same continuity-corrected z
    and ±1 direction flag.

    Exactness: cents-exact daily census; the pair join is WITHIN-
    season on the bounded day axis ((days/7)² per season at any
    corpus size); tie corrections are per-season integer sums; one
    float z at 6dp. A constant corpus zeroes Var → NULL z on both
    engines.

    Scale: one daily rollup (map-side combinable) + a bounded-axis
    within-season self-join — day-count-bounded, corpus-size-free.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.dayofweek(F.to_date("ts")).cast("long").alias("season"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.season") == F.col("a.season"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    ties = daily.groupBy("season", "x").agg(
        F.count("*").cast("long").alias("t")
    )
    seasons = (
        daily.groupBy("season")
        .agg(F.count("*").cast("long").alias("n"))
        .join(
            ties.groupBy("season").agg(
                F.coalesce(
                    F.sum(
                        F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("tie_corr")
            ),
            "season",
        )
    )
    var_s = seasons.agg(
        F.sum(
            (
                F.col("n") * (F.col("n") - 1.0) * (2.0 * F.col("n") + 5)
                - F.col("tie_corr")
            )
            / 18.0
        ).alias("var_s"),
        F.count("*").cast("long").alias("n_seasons"),
        F.sum("n").cast("long").alias("n"),
    )
    s = pairs.agg(
        F.coalesce(F.sum("sgn"), F.lit(0)).cast("long").alias("s")
    )
    cc = F.when(F.col("s") > 0, F.col("s") - 1.0).when(
        F.col("s") < 0, F.col("s") + 1.0
    ).otherwise(0.0)
    z = F.try_divide(cc, F.sqrt(F.col("var_s")))
    return s.crossJoin(F.broadcast(var_s)).select(
        F.col("s").alias("s_stat"),
        F.col("n").alias("n_days"),
        "n_seasons",
        f6(F.col("var_s")).alias("var_s"),
        f6(z).alias("z"),
        F.when(
            F.abs(z) > 1.959964,
            F.when(F.col("s") > 0, 1).otherwise(-1),
        )
        .otherwise(0)
        .alias("trend_direction"),
    )


@register(
    "a_cuzick_trend",
    """
    WITH base AS (
        SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS l,
               CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS c
        FROM orders
    ),
    cen AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY c),
    rk AS (
        SELECT c,
               CAST(2 * COALESCE(SUM(cnt) OVER (ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + cnt + 1 AS BIGINT) AS r2
        FROM cen
    ),
    cells AS (
        SELECT l, c, CAST(count(*) AS BIGINT) AS m FROM base GROUP BY l, c
    ),
    s AS (
        SELECT CAST(sum(m) AS BIGINT) AS n,
               CAST(sum(m * l) AS BIGINT) AS lsum,
               CAST(sum(m * l * l) AS BIGINT) AS l2sum,
               CAST(sum(m * l * r2) AS BIGINT) AS t2,
               CAST(sum(m * r2 * r2) AS BIGINT) AS sr22
        FROM cells JOIN rk USING (c)
    )
    SELECT n AS n_obs,
           t2 AS t2_stat,
           CAST(lsum * (n + 1) AS BIGINT) AS t2_expected,
           round((t2 - lsum * (n + 1.0))
                 / sqrt((l2sum - lsum * 1.0 * lsum / n)
                        * (sr22 - n * (n + 1.0) * (n + 1)) / (n - 1.0)),
                 6) + 0 AS z,
           CAST(CASE WHEN abs((t2 - lsum * (n + 1.0))
                      / sqrt((l2sum - lsum * 1.0 * lsum / n)
                             * (sr22 - n * (n + 1.0) * (n + 1))
                             / (n - 1.0))) > 1.959964
                THEN 1 ELSE 0 END AS BIGINT) AS trend_flag
    FROM s
    """,
)
def a_cuzick_trend(spark, sf_dir):
    """Cuzick's test for trend (Cuzick 1985, public) across the FIVE
    ORDERED priority classes: is order value monotonically associated
    with urgency?  The Wilcoxon-type extension of rank tests to an
    ordered alternative — T = Σ lᵢRᵢ with group scores l = the priority
    digit and pooled midranks R, z = (T − E)/√Var using the exact
    linear-rank permutation variance Var(T) = Σ(l−l̄)²·Σ(R−R̄)²/(N−1)
    (tie-exact via midranks; the general two-sample/score form in
    Lehmann, Nonparametrics). The ordered-alternative complement to
    a_jonckheere's pairwise form — one pooled rank pass instead of
    k(k−1)/2 group pairs.

    Exactness: doubled midranks r2 = 2·cum + cnt + 1 keep every rank
    integral; T2, E2 = L(N+1) and both sum-of-squares moments are exact
    BIGINTs (Σm·r2² fits long to N ≈ 10⁶; beyond that the DECIMAL/
    DOUBLE escape documented for the rank family applies); two float
    divisions remain, in one shared association.

    Scale: one round-dollar value-census (map-side combinable;
    saturates at the ~5.5e5-value price domain, never ~N), one
    bounded-axis window for cumulative counts, one (l, c) cell rollup
    (≤ 5·|domain| cells), one broadcast join census→cells, one scalar
    agg. No row-grain shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("l"),
        # round-dollar grain: the midrank census axis saturates at the
        # ~5.5e5-value price domain instead of growing ~N at cent grain;
        # midranks price the induced ties exactly
        (F.round(F.col("o_totalprice") * 100).cast("long") / F.lit(100))
        .cast("long")
        .alias("c"),
    )
    cen = base.groupBy("c").agg(F.count("*").cast("long").alias("cnt"))
    wv = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    rk = cen.select(
        "c",
        (
            2 * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + 1
        )
        .cast("long")
        .alias("r2"),
    )
    cells = base.groupBy("l", "c").agg(F.count("*").cast("long").alias("m"))
    s = (
        cells.join(rk, "c")
        .agg(
            F.sum("m").cast("long").alias("n"),
            F.sum(F.col("m") * F.col("l")).cast("long").alias("lsum"),
            F.sum(F.col("m") * F.col("l") * F.col("l"))
            .cast("long")
            .alias("l2sum"),
            F.sum(F.col("m") * F.col("l") * F.col("r2"))
            .cast("long")
            .alias("t2"),
            F.sum(F.col("m") * F.col("r2") * F.col("r2"))
            .cast("long")
            .alias("sr22"),
        )
    )
    n = F.col("n")
    e2 = F.col("lsum") * (n + 1)
    # try_divide: a single-priority corpus zeroes Σ(l−l̄)² — NULL z like
    # DuckDB's /0 (and n=1 zeroes the rank spread), no ANSI crash
    z = F.try_divide(
        F.col("t2") - F.col("lsum") * (n + 1.0),
        F.sqrt(
            (F.col("l2sum") - F.col("lsum") * 1.0 * F.col("lsum") / n)
            * (F.col("sr22") - n * (n + 1.0) * (n + 1))
            / (n - 1.0)
        ),
    )
    return s.select(
        n.alias("n_obs"),
        F.col("t2").alias("t2_stat"),
        e2.cast("long").alias("t2_expected"),
        f6(z).alias("z"),
        F.when(F.abs(z) > 1.959964, 1)
        .otherwise(0)
        .cast("long")
        .alias("trend_flag"),
    )


@register(
    "a_hodges_lehmann",
    """
    WITH a AS (
        SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS ca
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ),
    b AS (
        SELECT CAST(l_quantity AS BIGINT) AS w, CAST(count(*) AS BIGINT) AS cb
        FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1
    ),
    d AS (
        SELECT CAST(b.w - a.v AS BIGINT) AS d,
               CAST(sum(a.ca * b.cb) AS BIGINT) AS wt
        FROM a, b GROUP BY 1
    ),
    cum AS (
        SELECT d,
               CAST(SUM(wt) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cw,
               CAST(SUM(wt) OVER () AS BIGINT) AS p
        FROM d
    ),
    m AS (
        SELECT CAST(min(d) AS BIGINT) AS hl, CAST(max(p) AS BIGINT) AS p
        FROM cum WHERE cw >= (p + 1) // 2
    ),
    t AS (
        SELECT CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2,
               sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END)
                   / sum(CASE WHEN l_returnflag = 'N' THEN 1 END)
               - sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END)
                   / sum(CASE WHEN l_returnflag = 'R' THEN 1 END) AS ms
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    )
    SELECT t.n1 AS n_returned, t.n2 AS n_kept,
           m.hl AS hl_shift,
           round(t.ms, 6) + 0 AS mean_shift
    FROM t, m
    """,
)
def a_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann two-sample shift estimator (Hodges & Lehmann
    1963, public): the MEDIAN OF ALL PAIRWISE DIFFERENCES kept − 
    returned quantity — the location-shift estimate that inverts the
    Wilcoxon test, 95%-efficient under normality and immune to the
    outliers that drag the mean difference. Reported beside the plain
    mean shift so the robust/naive gap is visible in-row.

    Exactness: both samples collapse to integer value censuses; the
    n1·n2 pairwise differences are priced as ≤|dom|² (value, weight)
    cells with exact BIGINT weights, and the weighted LOWER median is
    the first difference whose cumulative weight reaches ⌈P/2⌉ — no
    interpolation, engine-identical.

    Scale: the pair-difference lattice is |dom_R|·|dom_N| CELLS (the
    50×50 quantity domain → ≤2,500 rows), never n1·n2 row pairs — the
    a_ansari_bradley value-census discipline; one bounded-axis window
    for the cumulative weight. Data-scale work is two map-side-combined
    censuses.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    a = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy(q.alias("v"))
        .agg(F.count("*").cast("long").alias("ca"))
    )
    b = (
        li.where(F.col("l_returnflag") == "N")
        .groupBy(q.alias("w"))
        .agg(F.count("*").cast("long").alias("cb"))
    )
    d = (
        a.crossJoin(F.broadcast(b))
        .groupBy((F.col("w") - F.col("v")).cast("long").alias("d"))
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("wt"))
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = d.select(
        "d",
        F.sum("wt").over(wcum).cast("long").alias("cw"),
        F.sum("wt").over(Window.partitionBy()).cast("long").alias("p"),
    )
    m = cum.where(
        F.col("cw") >= F.floor((F.col("p") + 1) / 2)
    ).agg(F.min("d").cast("long").alias("hl"))
    t = li.where(F.col("l_returnflag").isin("R", "N")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        (
            F.sum(F.when(F.col("l_returnflag") == "N", F.col("l_quantity")))
            / F.sum(F.when(F.col("l_returnflag") == "N", 1))
            - F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity")))
            / F.sum(F.when(F.col("l_returnflag") == "R", 1))
        ).alias("ms"),
    )
    return t.crossJoin(F.broadcast(m)).select(
        F.col("n1").alias("n_returned"),
        F.col("n2").alias("n_kept"),
        F.col("hl").alias("hl_shift"),
        f6(F.col("ms")).alias("mean_shift"),
    )


@register(
    "a_mantel_haenszel",
    """
    WITH u AS (
        SELECT CAST(substring(o.o_orderpriority, 1, 1) AS BIGINT) AS s,
               CASE WHEN l.l_discount >= 0.05 THEN 1 ELSE 0 END AS e,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    cells AS (
        SELECT s,
               CAST(sum(e * y) AS BIGINT) AS a,
               CAST(sum(e * (1 - y)) AS BIGINT) AS b,
               CAST(sum((1 - e) * y) AS BIGINT) AS c,
               CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM u GROUP BY s
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nt,
               sum(a * 1.0 * d / n) AS rr,
               sum(b * 1.0 * c / n) AS ss,
               CAST(sum(a) AS BIGINT) AS sa,
               sum((a + b) * 1.0 * (a + c) / n) AS se,
               sum((a + b) * 1.0 * (c + d) * (a + c) * (b + d)
                   / (n * 1.0 * n * (n - 1))) AS sv
        FROM cells
    )
    SELECT k AS k_strata, nt AS n_lines,
           round(rr / ss, 6) + 0 AS or_mh,
           round((sa - se) * (sa - se) / sv, 6) + 0 AS chi2_mh,
           CAST(CASE WHEN (sa - se) * (sa - se) / sv > 3.841459
                THEN 1 ELSE 0 END AS BIGINT) AS assoc_flag
    FROM agg
    """,
)
def a_mantel_haenszel(spark, sf_dir):
    """Mantel-Haenszel common odds ratio + CMH chi-square (Mantel &
    Haenszel 1959, public) for discount → return association
    STRATIFIED by order priority: OR_MH = Σaᵈdᵏ/nᵏ / Σbᵏcᵏ/nᵏ pools
    the five per-stratum 2×2 tables without the collapsed-table
    Simpson's-paradox bias (the a_simpsons_paradox companion: this is
    the estimator you use AFTER that key flags confounding); the CMH
    statistic (Σa − ΣE)²/ΣV tests conditional independence at 1 df.

    Exactness: all eight cell counts per stratum are exact BIGINTs
    from one groupBy; the k ≤ 9 per-stratum rational terms are summed
    in DOUBLE on a k-row frame (both engines sum the same ≤9 values)
    and snapped at 6dp.

    Scale: one fact-fact equi-join on the order key (the j_sortmerge
    shape; at 100 TB both sides hash-partition on l_orderkey ==
    o_orderkey, no broadcast needed) + one 5-row groupBy with map-side
    partials. Strata count bounds every later frame.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    u = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("e"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cells = u.groupBy("s").agg(
        F.sum(F.col("e") * F.col("y")).cast("long").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("long").alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("long").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).cast("long").alias("d"),
        F.count("*").cast("long").alias("n"),
    )
    agg = cells.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum(F.col("a") * 1.0 * F.col("d") / F.col("n")).alias("rr"),
        F.sum(F.col("b") * 1.0 * F.col("c") / F.col("n")).alias("ss"),
        F.sum("a").cast("long").alias("sa"),
        F.sum(
            (F.col("a") + F.col("b")) * 1.0 * (F.col("a") + F.col("c"))
            / F.col("n")
        ).alias("se"),
        # try_divide: a single-line stratum zeroes n-1 — that stratum's
        # variance term goes NULL and SUM skips it on BOTH engines
        F.sum(
            F.try_divide(
                (F.col("a") + F.col("b"))
                * 1.0
                * (F.col("c") + F.col("d"))
                * (F.col("a") + F.col("c"))
                * (F.col("b") + F.col("d")),
                F.col("n") * 1.0 * F.col("n") * (F.col("n") - 1),
            )
        ).alias("sv"),
    )
    # try_divide: an all-discounted (or never-returned-full-price)
    # corpus zeroes Σbc/n — NULL OR like DuckDB; a zero-variance corpus
    # (every stratum single-class) NULLs the CMH statistic the same way
    chi2 = F.try_divide(
        (F.col("sa") - F.col("se")) * (F.col("sa") - F.col("se")),
        F.col("sv"),
    )
    return agg.select(
        F.col("k").alias("k_strata"),
        F.col("nt").alias("n_lines"),
        f6(F.try_divide(F.col("rr"), F.col("ss"))).alias("or_mh"),
        f6(chi2).alias("chi2_mh"),
        F.when(chi2 > 3.841459, 1)
        .otherwise(0)
        .cast("long")
        .alias("assoc_flag"),
    )


@register(
    "a_kuiper_dow",
    """
    WITH ev AS (
        SELECT CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) + 1 AS d
        FROM events
    ),
    axis AS (SELECT CAST(range AS BIGINT) AS d FROM range(1, 8)),
    cnt AS (
        SELECT axis.d,
               CAST(COALESCE(c.m, 0) AS BIGINT) AS m
        FROM axis LEFT JOIN (
            SELECT d, CAST(count(*) AS BIGINT) AS m FROM ev GROUP BY d
        ) c ON c.d = axis.d
    ),
    cum AS (
        SELECT d, m,
               CAST(SUM(m) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cd,
               CAST(SUM(m) OVER () AS BIGINT) AS n
        FROM cnt
    ),
    s AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(max(7 * cd - d * n) AS BIGINT) AS dp7n,
               CAST(max(d * n - 7 * (cd - m)) AS BIGINT) AS dm7n
        FROM cum
    )
    SELECT n AS n_events,
           round(dp7n / (7.0 * n), 6) + 0 AS d_plus,
           round(dm7n / (7.0 * n), 6) + 0 AS d_minus,
           round((dp7n + dm7n) / (7.0 * n), 6) + 0 AS v_stat,
           round((dp7n + dm7n) / (7.0 * n)
                 * (sqrt(CAST(n AS DOUBLE)) + 0.155 + 0.24 / sqrt(CAST(n AS DOUBLE))),
                 6) + 0 AS v_mod,
           CAST(CASE WHEN (dp7n + dm7n) / (7.0 * n)
                          * (sqrt(CAST(n AS DOUBLE)) + 0.155
                             + 0.24 / sqrt(CAST(n AS DOUBLE))) > 1.747
                THEN 1 ELSE 0 END AS BIGINT) AS nonuniform_flag
    FROM s
    """,
)
def a_kuiper_dow(spark, sf_dir):
    """Kuiper's test (Kuiper 1960, public) for DAY-OF-WEEK uniformity of
    events — the circular-data variant of Kolmogorov-Smirnov: V = D⁺ +
    D⁻ is INVARIANT to where the week "starts", the property that makes
    it the right uniformity test for cyclic axes (KS's D changes under
    rotation and under-weights a deficit that wraps the seam). Reported
    with Stephens' (1970) finite-n modification V·(√n + 0.155 +
    0.24/√n) against its published 5% point 1.747.

    Exactness: the empirical step CDF against the uniform lattice k/7
    is priced entirely in integer units of 1/(7n) — D⁺ = max(7C_d −
    d·n)/(7n), D⁻ = max(d·n − 7C_{d−1})/(7n) — so both engines compare
    identical BIGINTs; only the final two divisions and the √n factor
    are float.

    Scale: one 7-cell groupBy with map-side partials; the axis frame
    is a literal 7 rows (missing weekdays joined in at weight 0 so a
    day with zero events still moves the statistic). Nothing downstream
    of the census depends on N.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt0 = ev.groupBy(
        F.dayofweek(F.to_date("ts")).cast("long").alias("d")
    ).agg(F.count("*").cast("long").alias("m"))
    axis = spark.range(1, 8).select(F.col("id").cast("long").alias("d"))
    cnt = axis.join(cnt0, "d", "left").select(
        "d", F.coalesce("m", F.lit(0)).cast("long").alias("m")
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = cnt.select(
        "d",
        "m",
        F.sum("m").over(wcum).cast("long").alias("cd"),
        F.sum("m").over(Window.partitionBy()).cast("long").alias("n"),
    )
    s = cum.agg(
        F.max("n").cast("long").alias("n"),
        F.max(7 * F.col("cd") - F.col("d") * F.col("n"))
        .cast("long")
        .alias("dp7n"),
        F.max(F.col("d") * F.col("n") - 7 * (F.col("cd") - F.col("m")))
        .cast("long")
        .alias("dm7n"),
    )
    n = F.col("n").cast("double")
    v = (F.col("dp7n") + F.col("dm7n")) / (7.0 * n)
    vmod = v * (F.sqrt(n) + 0.155 + 0.24 / F.sqrt(n))
    return s.select(
        F.col("n").alias("n_events"),
        f6(F.col("dp7n") / (7.0 * n)).alias("d_plus"),
        f6(F.col("dm7n") / (7.0 * n)).alias("d_minus"),
        f6(v).alias("v_stat"),
        f6(vmod).alias("v_mod"),
        F.when(vmod > 1.747, 1).otherwise(0).cast("long").alias(
            "nonuniform_flag"
        ),
    )


@register(
    "a_wasserstein_shift",
    """
    WITH p AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS cp
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    q AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS cq
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    axis AS (
        SELECT COALESCE(p.v, q.v) AS v,
               CAST(COALESCE(cp, 0) AS BIGINT) AS cp,
               CAST(COALESCE(cq, 0) AS BIGINT) AS cq
        FROM p FULL OUTER JOIN q ON p.v = q.v
    ),
    cum AS (
        SELECT v,
               CAST(SUM(cp) OVER w AS BIGINT) AS fp,
               CAST(SUM(cq) OVER w AS BIGINT) AS fq,
               CAST(SUM(cp) OVER () AS BIGINT) AS np,
               CAST(SUM(cq) OVER () AS BIGINT) AS nq,
               LEAD(v) OVER (ORDER BY v) AS v_next
        FROM axis
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
        SELECT CAST(max(np) AS BIGINT) AS np,
               CAST(max(nq) AS BIGINT) AS nq,
               CAST(sum(abs(fp * nq - fq * np) * (v_next - v)) AS BIGINT)
                   AS w1num
        FROM cum WHERE v_next IS NOT NULL
    ),
    mm AS (
        SELECT avg(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT) END)
               - avg(CASE WHEN event_type = 'click'
                          THEN CAST(round(value * 100) AS BIGINT) END) AS gap
        FROM events
    )
    SELECT np AS n_purchase, nq AS n_click,
           round(w1num * 1.0 / (np * nq), 6) + 0 AS w1_cents,
           round(abs(gap), 6) + 0 AS mean_gap_cents,
           round(abs(gap) * np * nq / w1num, 6) + 0 AS tightness
    FROM s, mm
    """,
)
def a_wasserstein_shift(spark, sf_dir):
    """1-D Wasserstein-1 (earth mover's) distance between the purchase
    and click value distributions: W₁ = ∫|F_P − F_Q| — THE
    distribution-shift metric that sees shape changes a mean test
    cannot (and vice versa cannot hide them: the published identity
    W₁ ≥ |E X − E Y|, with equality iff one CDF dominates, is printed
    in-row as `tightness` = |Δmean|/W₁ ≤ 1). Feature-drift monitoring
    for a training pipeline in one exact pass.

    Exactness: both samples collapse to cents value censuses on a
    shared axis; each inter-value segment contributes |F_P·n_Q −
    F_Q·n_P|·gap in exact BIGINT units of 1/(n_P·n_Q) — one division
    at the end (n_P·n_Q·gap headroom: exact in long to ~3·10⁹ rows
    per side at the 20k-cent domain; DECIMAL beyond).

    Scale: two map-side-combined value censuses (axis saturates at the
    ~20k-value cents domain, never ~N), one full-outer align on the
    census, one bounded-axis cumulative/lead window, one scalar agg.
    """
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(c.alias("v"))
        .agg(F.count("*").cast("long").alias("cp"))
    )
    q = (
        ev.where(F.col("event_type") == "click")
        .groupBy(c.alias("v"))
        .agg(F.count("*").cast("long").alias("cq"))
    )
    axis = (
        p.join(q, "v", "full_outer")
        .select(
            "v",
            F.coalesce("cp", F.lit(0)).cast("long").alias("cp"),
            F.coalesce("cq", F.lit(0)).cast("long").alias("cq"),
        )
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = axis.select(
        "v",
        F.sum("cp").over(wcum).cast("long").alias("fp"),
        F.sum("cq").over(wcum).cast("long").alias("fq"),
        F.sum("cp").over(wall).cast("long").alias("np"),
        F.sum("cq").over(wall).cast("long").alias("nq"),
        F.lead("v").over(Window.orderBy("v")).alias("v_next"),
    )
    s = cum.where(F.col("v_next").isNotNull()).agg(
        F.max("np").cast("long").alias("np"),
        F.max("nq").cast("long").alias("nq"),
        F.sum(
            F.abs(F.col("fp") * F.col("nq") - F.col("fq") * F.col("np"))
            * (F.col("v_next") - F.col("v"))
        )
        .cast("long")
        .alias("w1num"),
    )
    mm = ev.agg(
        (
            F.avg(F.when(F.col("event_type") == "purchase", c))
            - F.avg(F.when(F.col("event_type") == "click", c))
        ).alias("gap")
    )
    return s.crossJoin(F.broadcast(mm)).select(
        F.col("np").alias("n_purchase"),
        F.col("nq").alias("n_click"),
        f6(F.col("w1num") * 1.0 / (F.col("np") * F.col("nq"))).alias(
            "w1_cents"
        ),
        f6(F.abs(F.col("gap"))).alias("mean_gap_cents"),
        # try_divide: identical distributions zero W1 — NULL tightness
        # like DuckDB's /0, no ANSI crash
        f6(
            F.try_divide(
                F.abs(F.col("gap")) * F.col("np") * F.col("nq"),
                F.col("w1num").cast("double"),
            )
        ).alias("tightness"),
    )


@register(
    "a_hellinger_bands",
    """
    WITH p AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS b,
               CAST(count(*) AS BIGINT) AS cp
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    q AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS b,
               CAST(count(*) AS BIGINT) AS cq
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    axis AS (
        SELECT COALESCE(p.b, q.b) AS b,
               CAST(COALESCE(cp, 0) AS BIGINT) AS cp,
               CAST(COALESCE(cq, 0) AS BIGINT) AS cq
        FROM p FULL OUTER JOIN q ON p.b = q.b
    ),
    tot AS (
        SELECT CAST(sum(cp) AS BIGINT) AS np,
               CAST(sum(cq) AS BIGINT) AS nq,
               CAST(count(*) AS BIGINT) AS nb
        FROM axis
    ),
    terms AS (
        SELECT CAST(round(sqrt((cp * 1.0 / np) * (cq * 1.0 / nq)) * 1e12)
                    AS BIGINT) AS t12
        FROM axis, tot
    )
    SELECT np AS n_purchase, nq AS n_click, nb AS n_bands,
           round(sum(t12) / 1e12, 6) + 0 AS bc,
           round(sqrt(greatest(0.0, 1.0 - sum(t12) / 1e12)), 6) + 0
               AS hellinger,
           round(CASE WHEN sum(t12) > 0 THEN -ln(sum(t12) / 1e12) END, 6)
               + 0 AS bhattacharyya_d
    FROM terms, tot
    GROUP BY np, nq, nb
    """,
)
def a_hellinger_bands(spark, sf_dir):
    """Hellinger distance + Bhattacharyya coefficient/distance between
    the purchase and click value distributions over $10 bands: BC =
    Σ√(pᵢqᵢ), H = √(1−BC), B = −ln BC (all public: Hellinger 1909;
    Bhattacharyya 1943). The bounded [0,1] drift metric that pairs
    with a_wasserstein_shift's unbounded one — H is a proper metric,
    immune to the zero-bin blowups that break KL on disjoint support
    (disjoint → BC = 0, H = 1 exactly, B = NULL by contract).

    Exactness: band counts are exact BIGINTs; each band's √(pq) term
    is snapped to a 1e-12 BIGINT before the cross-band sum (the
    a_js_divergence transcendental discipline), so the reduction is
    order-free and engine-identical.

    Scale: two map-side-combined ≤21-band histograms ($10 grain on the
    ~$200 value domain), one full-outer band align, one scalar agg —
    nothing after the histograms depends on N.
    """
    ev = load_table(spark, sf_dir, "events")
    band = (F.round(F.col("value") * 100).cast("long") / F.lit(1000)).cast(
        "long"
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(band.alias("b"))
        .agg(F.count("*").cast("long").alias("cp"))
    )
    q = (
        ev.where(F.col("event_type") == "click")
        .groupBy(band.alias("b"))
        .agg(F.count("*").cast("long").alias("cq"))
    )
    axis = (
        p.join(q, "b", "full_outer")
        .select(
            F.coalesce("cp", F.lit(0)).cast("long").alias("cp"),
            F.coalesce("cq", F.lit(0)).cast("long").alias("cq"),
        )
    )
    tot = axis.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cq").cast("long").alias("nq"),
        F.count("*").cast("long").alias("nb"),
    )
    t12 = F.round(
        F.sqrt(
            (F.col("cp") * 1.0 / F.col("np"))
            * (F.col("cq") * 1.0 / F.col("nq"))
        )
        * 1e12
    ).cast("long")
    s = (
        axis.crossJoin(F.broadcast(tot))
        .groupBy("np", "nq", "nb")
        .agg(F.sum(t12).cast("long").alias("s12"))
    )
    bc = F.col("s12") / 1e12
    return s.select(
        F.col("np").alias("n_purchase"),
        F.col("nq").alias("n_click"),
        F.col("nb").alias("n_bands"),
        f6(bc).alias("bc"),
        f6(F.sqrt(F.greatest(F.lit(0.0), 1.0 - bc))).alias("hellinger"),
        f6(F.when(F.col("s12") > 0, -F.log(bc))).alias("bhattacharyya_d"),
    )
