"""The CF chain's ratings matrix (MR Job 1) is built once per session.

`core.ratings_matrix` is one memoized frame; a ``max_item`` slice is a
filter over it. Once r_ratings_matrix has run, later CF keys read the
cached matrix instead of scanning lineitem again. Slope One's deviation
table builds each unordered item pair once and mirrors it.

A degree cap is `core._degree_capped`: one hash exchange and a window
count, so a cached capped frame's plan holds no broadcast. After the
cf_pipeline keys run in one session, only the matrix's orders join and
the cosine pair join are broadcast inside a cached plan. A tripwire
keeps the group-and-join cap out of recommender/.
"""

import ast
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from npc_recommender_netflix_spark import registry, session
from npc_recommender_netflix_spark.recommender import core
from tests.conftest import SF_SMALL, forget, memo

SF_MID = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")  # the sf0.01 fixture


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _nodes(plan, into=lambda builder: True):
    """Every node of an executed plan, walking into adaptive plans, query
    stages, reused exchanges and the plans of the cached relations it
    reads whose builder passes ``into``."""
    yield plan
    name = _name(plan)
    if name == "InMemoryTableScanExec":
        builder = plan.relation().cacheBuilder()
        kids = [builder.cachedPlan()] if into(builder) else []
    elif name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif name == "ReusedExchangeExec":
        kids = [plan.child()]
    else:
        seq = plan.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for k in kids:
        yield from _nodes(k, into)


def _scanned_paths(plan, stop) -> list[str]:
    """Root paths of the file scans an executed plan runs, in the plans of
    the cached relations it reads too, except the cached relation whose
    builder equals ``stop``."""
    return [
        n.relation().location().rootPaths().toString()
        for n in _nodes(plan, lambda builder: not builder.equals(stop))
        if _name(n) == "FileSourceScanExec"
    ]


def _builder(df):
    """The cache builder of a cached frame."""
    return df._jdf.queryExecution().withCachedData().cacheBuilder()


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
    stop = _builder(core.ratings_matrix(spark, SF_SMALL))
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
    m = core._degree_capped(core.ratings_matrix(spark, sf_dir), "user_id", 48, 4).select(
        "user_id", "item_id", F.col("rating").cast("long").alias("rating")
    )
    new, old = core._slope_one_dev(m), _slope_one_dev_ne(m)
    assert new.count() > 0
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()


def _group_capped(m0, key, cap):
    """The group-and-join degree cap `_degree_capped` replaced."""
    deg = m0.groupBy(key).agg(F.count("*").alias("df"))
    return m0.join(deg.where(F.col("df") <= cap).select(key), key).select(m0.columns)


def _logical_names(plan) -> list[str]:
    seq = plan.children()
    kids = [seq.apply(i) for i in range(seq.size())]
    return [_name(plan)] + [n for k in kids for n in _logical_names(k)]


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MID])
@pytest.mark.parametrize("key,cap", [("user_id", 48), ("item_id", 20)])
def test_degree_capped_equals_group_and_join(spark, sf_dir, key, cap):
    """Each cap drops some rows and keeps some at both scales."""
    forget("matrix")
    m0 = core.ratings_matrix(spark, sf_dir)  # a fresh memo: cached, a leaf below
    new, ref = core._degree_capped(m0, key, cap, 4), _group_capped(m0, key, cap)
    assert 0 < new.count() < m0.count()
    assert new.exceptAll(ref).isEmpty()
    assert ref.exceptAll(new).isEmpty()
    names = _logical_names(new._jdf.queryExecution().optimizedPlan())
    assert "InMemoryRelation" in names and "Window" in names, names
    assert not [n for n in names if n in ("Join", "Aggregate")], names
    spark.catalog.clearCache()


CF_PIPELINE = (
    "r_ratings_matrix", "r_cosine_sim", "r_predict",
    "r_user_cosine_capped", "r_slope_one_capped",
)


def test_cached_cf_plans_hold_only_the_matrix_and_cosine_broadcasts(spark):
    """A cached frame keeps its physical plan and every broadcast in it
    until clearCache(). After the cf_pipeline keys run with no
    clearCache() in between, the cached relations they read hold one
    broadcast each for the matrix (its orders join) and cosine_sims (the
    pair join), and none for the one capped frame that stays cached
    (r_slope_one_capped's)."""
    spark.catalog.clearCache()
    forget("matrix", "cosine_sims")
    builders = []
    for key in CF_PIPELINE:
        df = registry.QUERIES[key](spark, SF_MID)
        df.collect()
        for n in _nodes(df._jdf.queryExecution().executedPlan()):
            if _name(n) == "InMemoryTableScanExec":
                b = n.relation().cacheBuilder()
                if not [x for x in builders if x.equals(b)]:
                    builders.append(b)
    named = {
        "matrix": _builder(core.ratings_matrix(spark, SF_MID)),
        "cosine_sims": _builder(core.item_cosine(spark, SF_MID)),
    }

    def label(b):
        return next((k for k, v in named.items() if v.equals(b)), "capped")

    def broadcasts(b):
        nodes = _nodes(b.cachedPlan(), lambda builder: False)
        return sum(_name(n) == "BroadcastExchangeExec" for n in nodes)

    got = sorted((label(b), broadcasts(b)) for b in builders)
    spark.catalog.clearCache()
    assert got == [("capped", 0), ("cosine_sims", 1), ("matrix", 1)]


RECOMMENDER = Path(core.__file__).resolve().parent

# the window degree count, owned by core._degree_capped
WINDOW_DEGREE = re.compile(r'F\.count\("\*"\)\.over\(\s*Window\.partitionBy\(')
# the group-and-join cap it replaced: a per-user or per-item count
# aliased "df", and a constant cap on it
GROUP_CAP = (
    re.compile(
        r'groupBy\(\s*"(?:user_id|item_id)"\s*\)\s*\.agg\(\s*F\.count\("\*"\)'
        r'(?:\.cast\("long"\))?\.alias\("df"\)'
    ),
    re.compile(r'F\.col\("df"\)\s*<=\s*\d'),
)


def _cap_hits() -> tuple[list[str], list[str]]:
    """('file:line' of window degree counts inside `_degree_capped`,
    'file:line' of degree-cap signatures anywhere else in recommender/)."""
    inside, outside = [], []
    for path in sorted(RECOMMENDER.glob("*.py")):
        text = path.read_text()
        owned = set()
        for node in ast.parse(text).body:
            if isinstance(node, ast.FunctionDef) and node.name == "_degree_capped":
                owned.update(range(node.lineno, node.end_lineno + 1))
        for pat in (WINDOW_DEGREE, *GROUP_CAP):
            for m in pat.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                hit = f"{path.name}:{line}"
                (inside if pat is WINDOW_DEGREE and line in owned else outside).append(hit)
    return inside, outside


def test_degree_cap_has_one_owner():
    """A degree cap in recommender/ is `core._degree_capped`; a copy of
    its window count or of the group-and-join cap fails here."""
    inside, outside = _cap_hits()
    assert inside, "core._degree_capped's window degree count is gone"
    assert not outside, f"degree cap re-inlined outside core._degree_capped: {outside}"
