"""The revenue-median bisection script (operators/modern.py
``_BISECT_SCRIPT``) resolves 3 bisection steps per aggregate scan; its
(lo, hi) bracket must be exactly a plain 12-step, one-probe-per-step
bisection — also on inputs where the 7 probe points of a pass coincide.
Both scripting keys drop their temp view once the script has run."""

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import pyspark.sql.functions as F

from npc_recommender_netflix_spark import registry
from tests.conftest import SF_SMALL, memo

SCRIPT_KEYS = {
    "q_sql_scripting": "npc_script_orders",
    "q_sql_scripting_hist": "npc_script_hist",
}


def _bisect12(cents):
    """The oracle's 12 steps in plain Python: probe mid = (lo+hi) // 2,
    keep the half whose upper end has revenue-at-or-below >= half."""
    lo, hi, half = 0, max(cents), (sum(cents) + 1) // 2
    for _ in range(12):
        mid = (lo + hi) // 2
        if sum(c for c in cents if c <= mid) >= half:
            hi = mid
        else:
            lo = mid
    return {"lo_cents": lo, "hi_cents": hi, "n_iter": 12}


def _orders_dir(tmp_path, name, prices):
    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(range(1, len(prices) + 1), pa.int64()),
            "o_totalprice": pa.array(prices, pa.float64()),
        }),
        d / "orders.parquet",
    )
    return str(d)


def _cents(spark, sf_dir):
    return [
        r.c
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
        .collect()
    ]


@pytest.mark.parametrize("key", sorted(SCRIPT_KEYS))
@pytest.mark.parametrize(
    "data", ["sf_small", "all_equal", "narrow", "skew1", "skew4", "skew41"]
)
def test_bisection_equals_plain_twelve_steps(spark, tmp_path, key, data):
    if data == "sf_small":
        sf_dir = SF_SMALL
    elif data == "all_equal":
        sf_dir = _orders_dir(tmp_path, data, [1234.56] * 40)
    elif data == "narrow":  # 123.45 .. 123.51: a 7-cent range
        sf_dir = _orders_dir(
            tmp_path, data, [123.45 + (i % 7) / 100 for i in range(50)]
        )
    else:
        # Seeded heavy-tailed prices. Together these three seeds make the
        # result change when any one of p1..p7 is computed one cent off,
        # up or down (checked on a pure-Python model of the script).
        rng = random.Random(int(data[len("skew"):]))
        sf_dir = _orders_dir(
            tmp_path, data,
            [round(rng.lognormvariate(5, 1.5), 2) for _ in range(60)],
        )
    got = registry.QUERIES[key](spark, sf_dir).collect()
    assert [r.asDict() for r in got] == [_bisect12(_cents(spark, sf_dir))]


@pytest.mark.parametrize("key", sorted(SCRIPT_KEYS))
def test_script_drops_its_temp_view(spark, key):
    df = registry.QUERIES[key](spark, SF_SMALL)
    assert not spark.catalog.tableExists(SCRIPT_KEYS[key])
    assert len(df.collect()) == 1
    if key == "q_sql_scripting_hist":
        # dropping the view must not uncache the memoized histogram
        (hist,) = memo("script_hist").values()
        assert hist.storageLevel.useMemory
