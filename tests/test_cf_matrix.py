"""The CF chain's ratings matrix (MR Job 1) is built once per session.

`core.ratings_matrix` is one memoized frame; a ``max_item`` slice is a
filter over it. Once r_ratings_matrix has run, later CF keys read the
cached matrix instead of scanning lineitem again. Slope One's deviation
table builds each unordered item pair once and mirrors it.
"""

import os

import pytest
from pyspark.sql import functions as F

from npc_recommender_netflix_spark import registry, session
from npc_recommender_netflix_spark.recommender import core
from tests.conftest import SF_SMALL, forget, memo

SF_MID = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")  # the sf0.01 fixture


def _scanned_paths(plan, stop) -> list[str]:
    """Root paths of the file scans an executed plan runs, walking into
    adaptive plans, query stages and the plans of the cached relations it
    reads, except the cached relation whose builder equals ``stop``."""
    name = plan.getClass().getSimpleName()
    if name == "InMemoryTableScanExec":
        builder = plan.relation().cacheBuilder()
        kids = [] if builder.equals(stop) else [builder.cachedPlan()]
    elif name == "FileSourceScanExec":
        return [plan.relation().location().rootPaths().toString()]
    elif name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif name == "ReusedExchangeExec":
        kids = [plan.child()]
    else:
        seq = plan.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    return [p for k in kids for p in _scanned_paths(k, stop)]


def test_sliced_matrix_is_a_filter_over_one_memo(spark):
    forget("matrix")
    m = core.ratings_matrix(spark, SF_SMALL)
    sliced = core.ratings_matrix(spark, SF_SMALL, max_item=200)
    assert [f is m for f in memo("matrix").values()] == [True]
    assert not [k for k in session._MEMO if k[2].startswith("matrix_")]
    want = m.where(F.col("item_id") < 200)
    assert sliced.exceptAll(want).isEmpty() and want.exceptAll(sliced).isEmpty()


def test_cf_keys_read_the_cached_matrix(spark):
    """With no clearCache() between keys (cf_pipeline's shape), a CF key
    run after r_ratings_matrix reads the matrix from the cache: no
    lineitem scan in its executed plan or in the plans of the frames it
    caches on the way, outside the matrix's own cached plan."""
    forget("matrix", "cosine_sims")
    q = registry.QUERIES
    q["r_ratings_matrix"](spark, SF_SMALL).collect()
    m = core.ratings_matrix(spark, SF_SMALL)
    stop = m._jdf.queryExecution().withCachedData().cacheBuilder()
    for key in ("r_cosine_sim", "r_user_cosine_capped", "r_slope_one_capped"):
        df = q[key](spark, SF_SMALL)
        df.collect()
        scans = _scanned_paths(df._jdf.queryExecution().executedPlan(), stop)
        assert not [p for p in scans if "lineitem" in p], (key, scans)
    spark.catalog.clearCache()


def _slope_one_dev_ne(m):
    """The deviation table as one ``item_j != item_i`` pair join, both
    orientations aggregated separately."""
    a = m.select("user_id", F.col("item_id").alias("item_j"), F.col("rating").alias("rj"))
    b = m.select("user_id", F.col("item_id").alias("item_i"), F.col("rating").alias("ri"))
    return (
        a.join(b, "user_id")
        .where(F.col("item_j") != F.col("item_i"))
        .groupBy("item_j", "item_i")
        .agg(
            F.sum(F.col("rj") - F.col("ri")).cast("long").alias("diffsum"),
            F.count("*").cast("long").alias("c"),
        )
        .where(F.col("c") >= 2)
    )


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MID])
def test_slope_one_mirrored_dev_equals_both_orientations(spark, sf_dir):
    m0 = core.ratings_matrix(spark, sf_dir)
    deg = m0.groupBy("user_id").agg(F.count("*").alias("df"))
    m = m0.join(deg.where(F.col("df") <= 48).select("user_id"), "user_id").select(
        "user_id", "item_id", F.col("rating").cast("long").alias("rating")
    )
    new, old = core._slope_one_dev(m), _slope_one_dev_ne(m)
    assert new.count() > 0
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()
