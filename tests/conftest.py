import os
import sys

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
    """Run ``fn()``; return ``(fn(), ids of the jobs submitted while it
    ran)``. Every job counts, whatever thread or job group submits it: a
    streaming query runs its micro-batches on its own thread. Job ids are
    handed out in submission order, so the ids fired are the range the
    scheduler's next id moved over."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    first = sched.nextJobId()
    out = fn()
    return out, list(range(first, sched.nextJobId()))


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
