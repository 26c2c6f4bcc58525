"""session.read_parquet: a local file's schema is inferred once per
process. A repeat read supplies the cached schema and fires no Spark job;
a rewritten file, a changed reader conf or a directory path infers again.
"""

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from npc_recommender_netflix_spark import session
from npc_recommender_netflix_spark.session import TABLES, load_table, read_parquet
from tests.conftest import SF_SMALL, jobs_fired

SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))


def _read(spark, path):
    """(schema, job ids fired) of one read_parquet call."""
    df, jobs = jobs_fired(spark, lambda: read_parquet(spark, path))
    return df.schema, jobs


def test_repeat_read_fires_no_job_direct_or_symlinked(spark, tmp_path):
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    shutil.copy(f"{SF_SMALL}/nation.parquet", sf_dir)
    alias = tmp_path / "alias"
    os.symlink(sf_dir, alias)
    inferred = spark.read.parquet(f"{SF_SMALL}/nation.parquet").schema

    first, miss_jobs = _read(spark, f"{sf_dir}/nation.parquet")
    again, hit_jobs = _read(spark, f"{sf_dir}/nation.parquet")
    via_alias, alias_jobs = _read(spark, f"{alias}/nation.parquet")

    assert miss_jobs, "a first read must infer (else the probe sees no jobs)"
    assert hit_jobs == [] and alias_jobs == []
    assert first == again == via_alias == inferred


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    _read(spark, path)

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    schema, jobs = _read(spark, path)
    assert jobs and schema.names == ["a", "b"]

    # Same bytes, new mtime: still a different file identity.
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    _, jobs = _read(spark, path)
    assert jobs


def test_reader_conf_change_misses(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"v": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        as_binary, _ = _read(spark, path)
        spark.conf.set(key, "true")
        as_string, jobs = _read(spark, path)
    finally:
        spark.conf.set(key, prev)
    assert as_binary["v"].dataType.simpleString() == "binary"
    assert jobs and as_string["v"].dataType.simpleString() == "string"


def test_directory_path_always_infers(spark, tmp_path):
    d = tmp_path / "dir.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    n = len(session._SCHEMAS)
    for _ in range(2):
        _, jobs = _read(spark, str(d))
        assert jobs
    assert len(session._SCHEMAS) == n


def test_load_table_events_ts_same_on_hit_and_miss(spark, tmp_path):
    shutil.copy(f"{SF_SMALL}/events.parquet", tmp_path)
    miss, miss_jobs = jobs_fired(
        spark, lambda: load_table(spark, str(tmp_path), "events"))
    hit, hit_jobs = jobs_fired(
        spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert miss_jobs and hit_jobs == []
    assert dict(hit.dtypes)["ts"] == dict(miss.dtypes)["ts"] == "timestamp"
    assert hit.schema == miss.schema


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_cached_schema_equals_inferred_for_every_table(spark, sf_dir):
    session.prepare(spark)
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        read_parquet(spark, path)
        cached, jobs = _read(spark, path)
        assert jobs == [], t
        assert cached == spark.read.parquet(path).schema, t
