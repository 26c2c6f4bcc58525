"""session.prepare() sizes spark.sql.shuffle.partitions to the core count
only on a local master; a cluster master keeps the deployment's value.
build_session() takes its default width from an explicit local[N] master."""

import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from npc_recommender_netflix_spark.session import prepare

SHUFFLE = "spark.sql.shuffle.partitions"


class _Conf(dict):
    def set(self, key, value):
        self[key] = value


def _stub(master, parallelism, shuffle):
    return SimpleNamespace(
        conf=_Conf({SHUFFLE: shuffle}),
        sparkContext=SimpleNamespace(master=master,
                                     defaultParallelism=parallelism),
    )


@pytest.mark.parametrize("master", ["yarn", "k8s://https://api:6443",
                                    "spark://host:7077", "local-cluster[2,1,1024]"])
def test_cluster_master_keeps_deployment_shuffle_width(master):
    # Under dynamic allocation defaultParallelism counts only the
    # executors registered so far, e.g. 2.
    spark = _stub(master, 2, "400")
    prepare(spark)
    assert spark.conf[SHUFFLE] == "400"


@pytest.mark.parametrize("master,cores", [("local[4]", 4), ("local[8]", 8),
                                          ("local[*]", 32), ("local", 1)])
def test_local_master_sizes_shuffle_to_cores(master, cores):
    spark = _stub(master, cores, "200")
    prepare(spark)
    assert spark.conf[SHUFFLE] == str(cores)


def test_build_session_width_follows_local_master():
    # A fresh process: the shared test session must not be reconfigured,
    # and getOrCreate() would return it unchanged anyway.
    code = (
        "from npc_recommender_netflix_spark.session import build_session\n"
        "s = build_session(app='width-probe', master='local[3]')\n"
        f"print('width', s.conf.get('{SHUFFLE}'))\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=Path(__file__).resolve().parent.parent,
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert "width 3" in out.stdout.splitlines(), out.stdout + out.stderr[-2000:]
