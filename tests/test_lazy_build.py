"""Lazy-build tripwire: building a key's DataFrame fires no Spark job.

A key's first build may still infer each input file's parquet schema
(once per process, session.read_parquet); a second build of the same key
must fire zero jobs. LAZY_BUILD_KEYS lists the keys held to this; extend
it as eager build-time jobs are removed from more keys.
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
)


@pytest.mark.parametrize("key", LAZY_BUILD_KEYS)
def test_second_build_fires_no_job(spark, key):
    build = registry.QUERIES[key]
    build(spark, SF_SMALL)
    df, jobs = jobs_fired(spark, lambda: build(spark, SF_SMALL))
    assert jobs == [], f"{key}: building fired jobs {jobs}"
    assert df.columns
