"""Lazy-build tripwire: building a key's DataFrame fires no Spark job.

A key's first build may still infer each input file's parquet schema
(once per process, session.read_parquet); a second build of the same key
must fire zero jobs. LAZY_BUILD_KEYS lists the keys held to this; extend
it as eager build-time jobs are removed from more keys.

EAGER_BUILD_KEYS is the allowlist of keys whose build runs jobs by
design, each with a written reason and a job budget for its first build,
so a loop that goes back to more jobs per round fails here.
"""

import pytest

from npc_recommender_netflix_spark import registry
from tests.conftest import SF_SMALL, jobs_fired

LAZY_BUILD_KEYS = (
    "a_groupby",
    "q_pricing_summary",
    "j_multiway",
    "w_sessionize",
    "a_theil_sen",
    "u_apply_in_pandas",
    # CF evaluation keys built from core.interactions / core.split
    "r_rmse",
    "r_precision_at_k",
    "r_baseline_bias",
    "r_ndcg",
    "r_mrr",
    "r_map_at_k",
    "r_auc",
    "r_calibration_bins",
    "r_ips_eval",
    "r_rmse_by_activity",
    "r_temporal_split_rmse",
    # survival keys built from modern.churn_lifetimes / churn_risk_set
    "q_kaplan_meier",
    "a_survival_rmst",
    "a_nelson_aalen",
    "a_greenwood_ci",
    # retrieval keys built from vectors.py's stage owners
    "v_embed_neardup_lsh",
    "v_embed_neardup_strict",
    "v_neardup_threshold_sensitivity",
    "v_lsh_multiprobe",
    "v_nsw_greedy",
    "v_hnsw_layered",
    "v_ann_ivf",
    "v_ann_ivf_nprobe",
    "v_ivf_ingest_assign",
    "v_recall_cost_frontier",
    "v_centroid_outliers",
    "v_rerank_mmr",
    "v_kcenter_rerank",
    # statistics keys built from aggregates.py's shared-input owners
    "a_durbin_watson",
    "a_cooks_distance",
    "a_breusch_pagan",
    "a_newey_west",
    "a_granger_1lag",
    "a_chow_test",
    "w_pacf",
    "a_pettitt",
    "a_ljung_box",
    "a_hurst_exponent",
    "a_ar2_yule_walker",
    "a_anova_f",
    "a_power_sample_size",
    "a_tukey_hsd",
    "a_welch_anova",
    "a_kruskal_wallis",
    "a_dunn_test",
    "a_by_fdr_pairs",
    "a_cliffs_delta",
    "a_cvm_twosample",
    "a_ansari_bradley",
    "a_brunner_munzel",
    "a_meta_fixed_effect",
    "a_james_stein",
    "a_neyman_allocation",
    "a_page_trend",
    "a_quade_test",
    "a_cohens_d",
    "a_ttest_welch",
    "a_wilcoxon_signed_rank",
    "a_sign_test",
    "a_brier_decomposition",
    "a_isotonic_pav",
    "a_logistic_irls",
    "a_poisson_irls",
    "a_pinball_eval",
)

# {key: (max jobs on the first build at SF_SMALL, reason)}; each budget is
# the count measured at local[8] plus 2.
EAGER_BUILD_KEYS = {
    "t_dup_clusters": (13, "convergence loop"),
    "r_shortest_path": (21, "fixed-depth BFS, checkpointed per level"),
    "q_sql_scripting": (19, "SQL script runs inside spark.sql()"),
    "v_graph_reachability": (23, "fixed-depth BFS, checkpointed per level"),
}


@pytest.mark.parametrize("key", LAZY_BUILD_KEYS)
def test_second_build_fires_no_job(spark, key):
    build = registry.QUERIES[key]
    build(spark, SF_SMALL)
    df, jobs = jobs_fired(spark, lambda: build(spark, SF_SMALL))
    assert jobs == [], f"{key}: building fired jobs {jobs}"
    assert df.columns


@pytest.mark.parametrize("key", sorted(EAGER_BUILD_KEYS))
def test_first_build_stays_in_job_budget(spark, key):
    budget, reason = EAGER_BUILD_KEYS[key]
    df, jobs = jobs_fired(spark, lambda: registry.QUERIES[key](spark, SF_SMALL))
    assert len(jobs) <= budget, (
        f"{key} ({reason}): first build fired {len(jobs)} jobs, "
        f"budget {budget}"
    )
    assert df.columns


def test_streaming_build_jobs_are_counted(spark):
    # st_session runs its whole query at build, on the stream's own thread
    # and job group; jobs_fired must see those micro-batch jobs. The first
    # build also infers the input schema on the caller's thread, so count
    # the second.
    build = registry.QUERIES["st_session"]
    build(spark, SF_SMALL)
    df, jobs = jobs_fired(spark, lambda: build(spark, SF_SMALL))
    assert jobs, "st_session's build counted no jobs"
    assert df.columns
