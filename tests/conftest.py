import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from npc_recommender_netflix_spark import registry, session
from npc_recommender_netflix_spark.session import TABLES, build_session

registry.load_all()

SF_SMALL = "/root/testdata/sf0.001"


def memo(name):
    """session.shared_frame's live entries for ``name``: {key: frame},
    key = (applicationId, sf_dir, name)."""
    return {k: f for k, f in session._MEMO.items() if k[2] == name}


def forget(*names):
    """Drop ``names`` from the memo (no unpersist) for a fresh build."""
    for name in names:
        for k in memo(name):
            del session._MEMO[k]


def jobs_fired(spark, fn):
    """Run ``fn()`` under a fresh job group; return ``(fn(), job ids it
    fired)``, read from the status tracker once the listener bus drains."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = build_session(app="npc-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    return con
