"""Physical-plan snapshot: dump the executed plan of each headline query
with an automated shape summary (shuffles, joins, codegen spans, pushdown).

Usage:
    python tools/plans.py                # headline keys -> PLANS.md
    python tools/plans.py a_groupby ...  # subset, print to stdout
    python tools/plans.py --optimized a_groupby ...
                                         # optimized logical plans with
                                         # expression ids stripped

The snapshot is the artifact of the 'explain until it's the plan you want'
loop: re-generate after optimizer-relevant changes and diff — a new
Exchange or a lost PushedFilters shows up as a one-line diff.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from npc_recommender_netflix_spark import registry
from npc_recommender_netflix_spark.metrics import shape_summary
from npc_recommender_netflix_spark.session import build_session

registry.load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def partitionless_windows(df) -> list[str]:
    """Physical Window-family nodes in df's executed plan whose PARTITION
    BY is empty (round-9 verdict item 4: such a window sorts the WHOLE
    input on one task — O(data) state — unless the axis feeding it is a
    bounded aggregate; this helper turns that convention into a tripwire).

    Walks the JVM plan tree via py4j (AQE top nodes are unwrapped through
    .executedPlan()) and returns the node class names found, e.g.
    ['WindowExec']. String-parsing the plan is NOT reliable here — the
    partition spec is interleaved inside windowspecdefinition(...) — so we
    ask each node's partitionSpec() directly."""
    hits: list[str] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if "Window" in cls and node.partitionSpec().isEmpty():
            hits.append(cls)
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            # post-execution AQE wraps materialized stages in
            # QueryStageExec whose children() is EMPTY — the subtree
            # (where WindowExec nodes live) hangs off .plan() instead
            walk(node.plan())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return hits


# Keys ALLOWED to run a partitionless window (round-9 verdict item 4: the
# convention became a tripwire). Every entry documents the window's input
# axis and why it is not O(fact rows); the numbers are MEASURED window
# input rows at sf0.001 -> sf0.01 (10x the fact data), read from each
# WindowExec's first descendant numOutputRows metric. Axis classes:
#   bounded     — fixed-cardinality axis (days, brands, query tokens, k)
#   saturating  — distinct-VALUE axis: grows until the value/time-bucket
#                 domain saturates, then flat (measured sub-linear)
#   catalog     — one row per aggregated entity (part/customer), orders of
#                 magnitude under the fact table; the documented scale
#                 path is a quantile-grid / range-bucket variant
#   by-contract — the operator's SEMANTIC is a global total order (ntile
#                 surface, id-gap audit, concurrency sweep, skyline); the
#                 docstring documents the production decomposition
# tools/check.py fails the full sweep on any partitionless window found
# outside this list; tests/test_plans.py keeps the list honest (registered
# keys only + spot checks both ways). Inventory: tools/plans.py --windows.
PARTITIONLESS_WINDOW_WHITELIST: dict[str, str] = {
    # --- bounded axes ---
    "a_bh_fdr": "bounded: 5 hypothesis rows (5->5)",
    "a_chatterjee_xi": "bounded: calendar-day axis (~2.4k days; the "
    "a_runs_test daily-series pattern)",
    "a_cliffs_delta": "bounded: distinct-quantity value domain (~50 "
    "rows at any sf; continuous measures bucket first, per docstring)",
    "a_cvm_twosample": "bounded: distinct-quantity value domain (~50 "
    "rows at any sf; the a_cliffs_delta census discipline verbatim)",
    "a_ansari_bradley": "bounded: distinct-quantity value domain (~50 "
    "census blocks; cumulative-rank window runs on the census, never "
    "row grain)",
    "a_cuzick_trend": "bounded: round-dollar value-census axis "
    "(saturates at the ~5.5e5-value price domain; the cumulative "
    "midrank window runs on the census, never row grain — the "
    "a_ansari_bradley discipline)",
    "a_hodges_lehmann": "bounded: pairwise-difference lattice of the "
    "two quantity value domains (<=2,500 cells at any sf; cumulative-"
    "weight window runs on the lattice, never on n1*n2 row pairs)",
    "a_kuiper_dow": "bounded: literal 7-row weekday axis (missing "
    "days joined in at weight 0; both windows run on 7 rows)",
    "a_wasserstein_shift": "bounded: shared cents value-census axis "
    "(saturates at the ~20k-value cents domain, never ~N; cumulative "
    "CDF + lead windows run on the census)",
    "a_conover_squared_ranks": "bounded: (group, |deviation|) census "
    "(<=150 cells; squared average ranks via one cumulative window "
    "over the combined census)",
    "a_cramers_v": "bounded: event_type x dow contingency cells (35->35)",
    "a_cross_correlation": "bounded: 30-day daily series (30->30)",
    "a_dunn_test": "bounded: group/pair axes (10/150 flat)",
    "a_hdr_histogram": "bounded: log2 bucket axis (9->10)",
    "a_kruskal_wallis": "bounded: day x group cells (150->150)",
    "a_period_detect": "bounded: 30-day series x lag grid (30->30)",
    "a_gpd_pot": "bounded: $100-band exceedance value axis (price-"
    "domain-bounded census; one cumulative window for the PWM "
    "plotting positions — row-grain exceedances never sort)",
    "a_granger_1lag": "bounded: calendar-day axis (~2.4k days; one "
    "2-lag window pass on the daily rollup, then one moment pass)",
    "a_newey_west": "bounded: calendar-day score axis (~2.4k days; "
    "five lags in ONE window pass on the daily rollup)",
    "a_durbin_watson": "bounded: calendar-day residual axis (~2.4k "
    "days at any corpus size; the a_chatterjee_xi daily-series "
    "pattern — the lag window never sees row-grain data)",
    "a_mood_median": "bounded: cents value census (value ∈ [0, 490] → "
    "≤ ~49k census rows at ANY corpus size; one cumulative window to "
    "read the exact grand median off the census)",
    "a_robust_location": "bounded: cents value census (same ≤ ~49k "
    "value-domain axis as a_mood_median; one cumulative window feeds "
    "the trim/winsorize interval arithmetic)",
    "a_pettitt": "bounded: calendar-day axes on BOTH windows (value "
    "census <= n_days rows; the U_t sweep is one time-order cumsum)",
    "a_pr_auc": "bounded: $1000 price-band score axis (~500 bands, "
    "price-domain-bounded; two cumulative windows on the census "
    "frame, never a global percent-rank sort)",
    "q_lift_curve": "bounded: the same ~500-band $1000 price-grid "
    "census as a_pr_auc; two cumulative windows on the census frame "
    "+ a 10-row decile probe",
    "a_decision_stump": "bounded: the same ~500-band price-grid "
    "census; one cumulative window for the prefix counts + a rank-1 "
    "argmin over the candidate splits",
    "a_runs_test": "bounded: 30-day daily series (30->30)",
    "a_wilcoxon_signed_rank": "bounded: 30 paired days (30->30)",
    "q_growth_accounting": "bounded: 30-day axis (30->30)",
    "q_pareto_brands": "bounded: 25 brands (25->25)",
    "q_largest_remainder": "bounded: 25 nations (remainder rank; "
    "range-partitioned top-k shortfall at segment scale)",
    "q_fair_waterline": "bounded: 25 nations (sorted-demand prefix "
    "sums; range-partition the prefix at 100M-key grain, a_gini recipe)",
    "r_epsilon_slate": "bounded: item_id<200 catalog cap (200->200)",
    "r_negative_sampling": "bounded: item catalog CDF (<=200 items; "
    "the cumulative-popularity ranges are one row per catalog item)",
    "r_exposure_gini": "catalog: exposure ranking is one row per "
    "EXPOSED part (catalog-bounded; range-partitioned prefix sums at "
    "100M-item scale, per the a_gini recipe)",
    "r_rank_fusion": "bounded: item_id<200 catalog cap (200->200)",
    "t_mix_temperature": "bounded: 20 sources (20->20)",
    "t_vocab_coverage": "bounded: vocab-size grid (31->31)",
    "t_weighted_sample_aes": "bounded: rank over the already-limited "
    "top-200 TakeOrdered result (500-doc fixture; k-bounded by plan)",
    "v_maxsim": "bounded: |Q| query tokens (10->10)",
    "v_maxsim_pruned": "bounded: |Q| query tokens (10->10)",
    "w_conformal_interval": "bounded: 30-day calibration axis (30/13 flat)",
    "w_max_drawdown": "bounded: 30-day daily equity curve (30->30)",
    "w_peak_days": "bounded: 30-day axis (30->30)",
    "w_rolling_corr": "bounded: 30-day axis (30->30)",
    "w_rolling_origin_backtest": "bounded: 30-day axis (30->30)",
    "w_seasonal_naive_mape": "bounded: 30-day axis (30->30)",
    "w_seasonality": "bounded: 12 months (12->12)",
    "w_underwater_duration": "bounded: 30-day axis (30->30)",
    "a_hill_tail": "bounded: rank over the already-limited top-501 "
    "TakeOrdered result (k-bounded by plan; fixed round 10)",
    "r_rank_dithering": "bounded: base_rank over the already-limited "
    "top-10 TakeOrdered slate (k-bounded by plan)",
    "r_interleaving_eval": "bounded: slate ranks over two already-"
    "limited top-8 TakeOrdered slates (k-bounded by plan)",
    # --- saturating distinct-value axes ---
    "a_ks_drift": "saturating: distinct value-cents (385->3270, "
    "saturates at the price domain)",
    "a_mann_whitney": "saturating: distinct value-cents (385->3270)",
    "a_gini": "saturating: distinct spend-cents cumulative (fixed round "
    "10 from the customer axis; ~N until the cents domain saturates ~5e7 "
    "— beyond that the scale path is range-partitioned prefix sums)",
    "a_huber_mean": "saturating: distinct price/deviation values (fixed "
    "round 10 from row-level rank; ~N until the price domain saturates)",
    "a_lognormal_fit": "saturating: distinct price-cents cumulative "
    "(fixed round 10; moments were already agg-only; ~N until the price "
    "domain saturates)",
    "a_spearman_corr": "saturating: distinct cents / n_lines mid-rank "
    "maps (fixed round 10; cents map ~N until the price domain "
    "saturates, n_lines map is single-digit)",
    "a_record_test": "saturating: distinct time buckets (1094->2399 "
    "for 10x rows)",
    "a_ljung_box": "saturating: distinct time buckets (1094->2399)",
    "a_theil_sen": "saturating: distinct time buckets (1094->2399)",
    "a_ar2_yule_walker": "saturating: distinct time buckets (1094->2399)",
    "a_hurst_exponent": "saturating: distinct time buckets (1094->2399)",
    "w_rsi": "saturating: distinct time buckets (1094->2399)",
    "s_bin_packing": "bounded: manifest axis (one row per monthly "
    "file, ~80 here; at listing scale range-partition the cumsum — "
    "the a_gini prefix-sum recipe, stated in the docstring)",
    "w_variance_ratio": "bounded: calendar-day axis (~2.4k days at "
    "any corpus size; one 4-lag window pass on the daily rollup)",
    "w_theta_forecast": "bounded: ~80-month axis (row_number + SES "
    "weighted sum on the monthly rollup; 6-row holdout join)",
    "w_pacf": "bounded: calendar-day axis (~2.4k days; one 3-lag "
    "window pass on the daily rollup, recursion on a 1-row frame)",
    "w_page_hinkley": "bounded: calendar-day axis (~2.4k days at any "
    "corpus size; four stacked cumulative windows on the daily "
    "rollup — the streaming twin keeps two scalars of state)",
    "w_shewhart_imr": "bounded: calendar-day axis (~2.4k days at any "
    "corpus size; one lag window on the daily rollup for the moving "
    "ranges)",
    "a_confidence_sequence": "bounded: calendar-day axis (~2.4k days "
    "at any corpus size; three cumulative windows on the daily "
    "rollup — the streaming twin keeps three scalars of state)",
    "q_littles_law": "bounded: dense calendar axis (sequence-exploded "
    "~2.4k days; two cumulative counters rebuild the open-order "
    "census at end-of-day grain)",
    "w_burn_rate": "saturating: SLO-window buckets (531->720)",
    "q_running_backlog": "saturating: open-day axis (1638->2499)",
    "q_hazard_curve": "saturating: distinct lifetime days (18->26)",
    "a_survival_rmst": "saturating: distinct event days (the "
    "q_kaplan_meier axis; integral adds one lag window on it)",
    "q_kaplan_meier": "saturating: distinct event days (89->653, "
    "bounded by the observation horizon)",
    "a_nelson_aalen": "saturating: distinct event days (the "
    "q_kaplan_meier axis; hazard + log-survival cumulative sums share "
    "one window over it)",
    "a_greenwood_ci": "saturating: distinct event days (the "
    "q_kaplan_meier axis; Greenwood + log-survival increments share "
    "one window over it)",
    "a_brunner_munzel": "bounded: distinct-quantity value domain (~50 "
    "census blocks; combined + both within-group midranks from three "
    "cumulative windows on the census, never row grain)",
    "a_by_fdr_pairs": "bounded: (day, type) daily-rollup rank axis "
    "(the a_kruskal_wallis/a_dunn_test frame, ~150 rows; step-ups on "
    "the 10-pair frame)",
    "a_bass_diffusion": "saturating: distinct first-order days "
    "(calendar-bounded adoption axis; one cumulative window + one "
    "moment pass)",
    "a_quade_test": "bounded: 7-block range-rank axis (the weekday "
    "scaffold; block weights ranked over 7 rows)",
    "q_weibull_fit": "saturating: distinct lifetime days (98->1020, "
    "bounded by the observation horizon)",
    "a_heavy_hitters": "saturating: CMS-estimated candidate values "
    "(200->891, sketch-bounded)",
    "r_ppr": "saturating: touched-node frontier (200->500, "
    "graph-neighborhood bounded)",
    # --- catalog axes (one row per aggregated entity) ---
    "q_abc_analysis": "catalog: one row per part (200->2000); ABC "
    "classes ARE a catalog-wide revenue rank by semantics",
    "q_abc_xyz_matrix": "catalog: one row per part (200->2000)",
    "q_skyline_parts": "catalog: one row per part (200->2000)",
    "q_rfm_segments": "catalog: one row per customer (150->1500); "
    "quintile cuts with id tiebreak; scale path = quantile-grid strata",
    "w_ltv_deciles": "catalog: one row per customer (150->1500)",
    "a_propensity_strata": "catalog: one row per user (15->150); "
    "deterministic ntile(5) strata; scale path = quantile-grid strata",
    # (r_precision_at_k / r_mrr / r_ndcg / r_map_at_k carried a
    # catalog-wide top-20 popularity window here until round 10; their
    # pool is TakeOrderedAndProject now and the remaining slate windows
    # are user-partitioned, so they need no whitelist entry.)
    "r_ucb_scores": "catalog: item_id<200 arm census (200->2000 "
    "includes the day-grid explode; arm axis capped)",
    "t_novelty_curve": "catalog: one row per document (500 fixture); "
    "ingest-decile ntile; scale path = id-range buckets",
    "s_prefix_compression": "catalog: one row per key-prefix group "
    "(150->1500); the sorted-layout DEMO is the operator's subject",
    # --- by-contract global total orders ---
    "w_ntile": "by-contract: the operator IS the global ntile surface "
    "(1500->15000 order rows); scale path = percent_rank over the "
    "distinct-value cumulative or range-partitioned sort",
    "q_id_gaps": "by-contract: id-sequence gap audit needs the total "
    "id order (1484->14845 distinct ids); scale path = range-bucketed "
    "lag with boundary merge",
    "q_peak_concurrency": "by-contract: global running concurrency "
    "sweep (946->9549 endpoints); scale path = per-day partition with "
    "day-boundary carry-in",
    "q_skyline_orders": "by-contract: Pareto frontier sweep over the "
    "dominance-sorted candidates (120->1385 after pre-pruning)",
    "a_sprt": "by-contract: the sequential test IS the running purchase "
    "count over the global (ts, event_id) order (1000->10000 event rows); "
    "scale path = range-partitioned prefix sum with partition offsets",
}


def window_inventory(spark, sf_dir: str, keys=None) -> dict[str, list[str]]:
    """Run partitionless_windows over every registered key (streaming st_*
    keys excluded: their plans are runtime-decided micro-batch plans, and
    building them spins up the streaming engine per key). Returns only the
    keys with at least one hit."""
    out: dict[str, list[str]] = {}
    for k in keys or sorted(registry.QUERIES):
        if k.startswith("st_"):
            continue
        df = registry.QUERIES[k](spark, sf_dir)
        hits = partitionless_windows(df)
        if hits:
            out[k] = hits
        spark.catalog.clearCache()
    return out


def optimized_plan(df) -> str:
    """df's optimized logical plan with ``#NNN`` expression ids and the
    ``plan_id=NNN`` of cached subplans stripped, so the same key built by
    two commits prints the same text whenever Catalyst produced the same
    plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+|(?<=plan_id=)\d+", "", plan)


def main() -> None:
    if sys.argv[1:2] == ["--optimized"]:
        spark = build_session(app="npc-plans")
        for k in sys.argv[2:]:
            spark.catalog.clearCache()
            print(f"## {k}\n{optimized_plan(registry.QUERIES[k](spark, SF_DIR)).rstrip()}\n")
        return
    if sys.argv[1:2] == ["--windows"]:
        spark = build_session(app="npc-windowcheck")
        sf = os.environ.get("SPARK_GRAFT_WINDOW_SF", "/root/testdata/sf0.001")
        inv = window_inventory(spark, sf, keys=sys.argv[2:] or None)
        for k, hits in sorted(inv.items()):
            mark = "" if k in PARTITIONLESS_WINDOW_WHITELIST else "  <-- NOT WHITELISTED"
            print(f"{k}: {hits}{mark}")
        missing = sorted(set(inv) - set(PARTITIONLESS_WINDOW_WHITELIST))
        print(f"\n{len(inv)} keys with partitionless windows; "
              f"{len(missing)} not whitelisted: {missing}")
        sys.exit(1 if missing else 0)
    keys = sys.argv[1:] or None
    spark = build_session(app="npc-plans")
    from bench import HEADLINE
    targets = keys or [k for k in HEADLINE if not k.startswith("st_") and k != "r_als"]
    out = []
    for k in targets:
        df = registry.QUERIES[k](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {k}\n`{shape_summary(plan)}`\n```\n{plan.rstrip()}\n```\n")
    text = (
        "# PLANS — physical-plan snapshot (auto-generated by tools/plans.py)\n\n"
        f"sf_dir: {SF_DIR}. Streaming keys and MLlib fits are skipped (runtime\n"
        "plans, not Catalyst-decided). One section per headline key: shape\n"
        "summary line + executedPlan().\n\n"
        "Reading notes: (a) AQE plans print pre-execution (isFinalPlan=false),\n"
        "so WholeStageCodegen `*(n)` markers and runtime join demotions are\n"
        "not visible in every section; (b) cached recommender intermediates\n"
        "(InMemoryRelation) print their FULL child tree, so shuffle counts for\n"
        "r_predict-style keys overstate execution — at runtime those subtrees\n"
        "are read once from the columnar cache (bench: r_predict 1.5 s warm).\n\n"
        + "\n".join(out)
    )
    if keys:
        print(text)
    else:
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(targets)} plans)")


if __name__ == "__main__":
    main()
