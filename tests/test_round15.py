"""Round-15 fixes: semantic pins beyond the DuckDB oracle hash.

Covers the round-14 verdict's Katz inner-join exclusion (item 6 — a
high-degree sink node must rank by 0.1·w1, not vanish) and the three
round-14 ADVICE items (LPA round-1 unpersist timing, the script-hist
cache memo, message-scoped DAGScheduler filtering).
"""

import pyspark.sql.functions as F

from npc_recommender_netflix_spark import registry
from npc_recommender_netflix_spark.recommender.graph import _katz_truncated
from tests.conftest import SF_SMALL, forget, memo


def test_katz_sink_node_ranks_instead_of_vanishing(spark):
    """r14 verdict item 6: on a directed graph where node 1's only
    out-neighbor (node 9) has no out-edges, node 1 has w1 > 0 but zero
    2- and 3-step walks. The old INNER w1⋈w2⋈w3 assembly dropped it
    from the ranking; LEFT + coalesce must keep it at katz = 0.1·w1."""
    edges = spark.createDataFrame(
        # star into sink 9 (9 itself never a src), plus a 2-chain 5→6→7
        [(1, 9), (2, 9), (3, 9), (5, 6), (6, 7)],
        "src long, dst long",
    )
    rows = {r["node"]: r for r in _katz_truncated(edges).collect()}
    # every src-bearing node is present — nothing vanished
    assert set(rows) == {1, 2, 3, 5, 6}
    # node 1: one out-edge to a sink => zero 2-/3-step walks, katz 0.1
    assert rows[1]["walks1"] == 1
    assert rows[1]["walks2"] == 0
    assert rows[1]["walks3"] == 0
    assert abs(rows[1]["katz"] - 0.1) < 1e-9
    # node 5: 5→6→7 gives one 2-step walk ending at 7, but from 5's own
    # perspective w2(5) counts walks ENDING at 5 — none. Still ranked.
    assert rows[5]["walks2"] == 0
    # node 6: one 2-step walk ends at 7, 6 has w1=1 and w2(6)=w1(5)=1
    assert rows[6]["walks1"] == 1 and rows[6]["walks2"] == 1


def test_katz_fixture_hash_unchanged_by_left_join(spark, duck):
    """The LEFT-join fix must be hash-neutral on the symmetric
    co-purchase fixture (every edge-bearing node has 2-step walks):
    Spark and the updated oracle still agree row-for-row."""
    sdf = registry.QUERIES["r_katz_centrality"](spark, SF_SMALL)
    srows = sorted(tuple(r) for r in sdf.collect())
    orows = sorted(
        tuple(r) for r in duck.sql(registry.ORACLE["r_katz_centrality"]).fetchall()
    )
    assert len(srows) == 20
    assert [r[:4] for r in srows] == [r[:4] for r in orows]
    for s, o in zip(srows, orows):
        assert abs(s[4] - o[4]) < 1e-9


def test_lpa_round1_cache_survives_until_final_materialization(spark):
    """r14 ADVICE (medium): prev.unpersist() at rnd==2 fired before any
    action populated the round-1 cache, so the final frame's first
    materialization re-derived the round-1 subplan per reference. The
    fix materializes the final frame inside _lpa_labels, then releases
    round 1 — so by the time the memo is handed out, the FINAL frame is
    already cached AND materialized (cachedRowCount present)."""
    from npc_recommender_netflix_spark.recommender import graph as G

    forget("lpa_labels")
    lab = G._lpa_labels(spark, SF_SMALL)
    assert lab.storageLevel.useMemory
    # materialized eagerly inside the builder: a recount is served from
    # cache; and the memo returns the SAME frame on re-entry
    assert lab.count() > 0
    assert G._lpa_labels(spark, SF_SMALL) is lab


def test_script_hist_reinvocation_reuses_one_cached_frame(spark):
    """r14 ADVICE (low): each q_sql_scripting_hist call cached a NEW
    histogram frame; repeated bench/sweep runs accumulated orphaned
    cache entries. The memo must hand back the same cached frame."""
    forget("script_hist")
    registry.QUERIES["q_sql_scripting_hist"](spark, SF_SMALL).collect()
    assert len(memo("script_hist")) == 1
    frame1 = next(iter(memo("script_hist").values()))
    registry.QUERIES["q_sql_scripting_hist"](spark, SF_SMALL).collect()
    assert len(memo("script_hist")) == 1
    assert next(iter(memo("script_hist").values())) is frame1
    assert frame1.storageLevel.useMemory


def test_dagscheduler_not_level_suppressed_in_sweep():
    """r14 ADVICE (low): the sweep must not raise the whole DAGScheduler
    logger to ERROR (that hides lost-task/stage-retry warnings); only
    the task-binary-size advisory is denied, message-scoped."""
    from tools import check as C

    assert not any("DAGScheduler" in name for name in C._QUIET_LOGGERS)
    assert any(
        "Broadcasting large task binary" in p for p in C._DENY_MESSAGE_REGEXES
    )


def test_script_scalar_sum_matches_raw_orders(spark):
    """The memoized histogram's sum(cents*cnt) must stay bit-equal to
    sum(cents) over raw orders — the invariant the bisection trajectory
    equality rests on — even when served from the memo."""
    from npc_recommender_netflix_spark.session import load_table

    registry.QUERIES["q_sql_scripting_hist"](spark, SF_SMALL)
    (hist,) = memo("script_hist").values()
    h = hist.select(
        F.sum(F.col("cents") * F.col("cnt")).cast("long").alias("s")
    ).collect()[0]["s"]
    raw = (
        load_table(spark, SF_SMALL, "orders")
        .select(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("s")
        )
        .collect()[0]["s"]
    )
    assert h == raw


# ---- round-14 fixture-sensitivity sweep (r14 verdict next-round item 5) ----
# Lens: which round-14 keys assume fixture start dates, fixed label
# counts, or degenerate-free corpora? Findings: a_chow_test (declared
# break-date parameter), a_pr_auc (positive class is a fixture
# property), a_cochran_q (quarter-coverage spread), t_yule_k
# (single-token language), w_croston (single-demand part). Each is now
# guarded (try_divide / LEFT join) or documented, and pinned here.


def test_chow_fixture_straddles_declared_break_date(spark):
    """a_chow_test's 1997-01-01 break is a declared parameter: the
    fixture must put data on BOTH sides, else one segment is empty and
    the F degenerates (documented, not a crash). Pin the straddle so a
    fixture drift surfaces here instead of as a silent NULL row."""
    row = registry.QUERIES["a_chow_test"](spark, SF_SMALL).collect()[0]
    assert row["n_pre"] and row["n_pre"] > 0
    assert row["n_post"] and row["n_post"] > 0
    assert row["n_days"] == row["n_pre"] + row["n_post"]


def test_pr_auc_single_class_corpus_yields_null_not_crash(spark, duck):
    """a_pr_auc divides by the positive-class count. A corpus with no
    returned lineitems (p_tot = 0) must yield NULL AP/AUC on BOTH
    engines — under ANSI Spark the unguarded division would CRASH.
    Driven end-to-end through a zero-positive temp fixture."""
    import os
    import shutil

    tmp = "/tmp/npc_r15_noreturns"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # copy orders, rewrite lineitem with returnflag forced to 'N'
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").withColumn(
        "l_returnflag", F.lit("N")
    )
    li.write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    spark.read.parquet(f"{SF_SMALL}/orders.parquet").write.mode(
        "overwrite"
    ).parquet(f"{tmp}/orders.parquet")
    rows = registry.QUERIES["a_pr_auc"](spark, tmp).collect()
    assert len(rows) == 1
    assert rows[0]["n_pos"] == 0
    assert rows[0]["avg_precision"] is None
    assert rows[0]["roc_auc"] is None
    # oracle agrees: DuckDB div-by-zero is NULL
    con = __import__("duckdb").connect()
    for t in ("orders", "lineitem"):
        # Spark wrote a part-file DIRECTORY at <t>.parquet — glob it
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{tmp}/{t}.parquet/*.parquet')"
        )
    orow = con.sql(registry.ORACLE["a_pr_auc"]).fetchall()[0]
    assert orow[3] is None and orow[4] is None
    shutil.rmtree(tmp, ignore_errors=True)


def test_croston_single_demand_part_gets_null_interval_not_dropped(spark):
    """w_croston: a part with ONE demand day has z_hat defined but no
    inter-demand gaps — it must appear with NULL interval/rate columns
    (LEFT join), not vanish (the old inner join). Driven end-to-end
    through a temp fixture where part 1 demands exactly once."""
    import os
    import shutil

    tmp = "/tmp/npc_r15_croston1"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    # keep part 1 on only its FIRST order date; parts 2-8 untouched
    first_ok = (
        li.where(F.col("l_partkey") == 1)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .orderBy("o_orderdate")
        .limit(1)
        .select("l_orderkey")
        .collect()
    )
    keep_key = first_ok[0][0]
    li.where(
        (F.col("l_partkey") != 1) | (F.col("l_orderkey") == keep_key)
    ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    orders.write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
    rows = {
        r["partkey"]: r
        for r in registry.QUERIES["w_croston"](spark, tmp).collect()
    }
    assert 1 in rows, "single-demand part must not vanish"
    assert rows[1]["n_demands"] == 1
    assert rows[1]["size_hat"] is not None
    assert rows[1]["interval_hat"] is None
    assert rows[1]["croston_rate"] is None
    shutil.rmtree(tmp, ignore_errors=True)


def test_croston_fixture_parts_all_have_two_demand_days(spark):
    """Hash-neutrality pin for the LEFT-join change: every part 1-8 has
    ≥2 demand days at the fixture SF, so no NULL rows enter the oracle
    comparison (the LEFT join equals the old inner join here)."""
    rows = registry.QUERIES["w_croston"](spark, SF_SMALL).collect()
    assert len(rows) == 9  # l_partkey <= 8 covers parts 0-8
    assert all(r["n_demands"] >= 2 for r in rows)
    assert all(r["interval_hat"] is not None for r in rows)


def test_yule_simpson_d_single_token_language_null_not_crash(spark):
    """t_yule_k: a language whose whole corpus is ONE token makes
    Simpson's D 0/0 — SQL NULL (try_divide), matching DuckDB, instead
    of the ANSI divide-by-zero crash. Temp fixture with a one-token
    language added beside the real ones."""
    import os
    import shutil

    tmp = "/tmp/npc_r15_onetok"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    one = spark.createDataFrame(
        [(999999, "zz", "lone")],
        "doc_id long, lang string, text string",
    )
    docs.select("doc_id", "lang", "text").unionByName(one).write.mode(
        "overwrite"
    ).parquet(f"{tmp}/documents.parquet")
    rows = {
        r["lang"]: r for r in registry.QUERIES["t_yule_k"](spark, tmp).collect()
    }
    assert rows["zz"]["n_tokens"] == 1
    assert rows["zz"]["simpson_d"] is None
    assert rows["zz"]["yule_k"] == 0.0
    # real languages unaffected
    assert all(
        v["simpson_d"] is not None for k, v in rows.items() if k != "zz"
    )
    shutil.rmtree(tmp, ignore_errors=True)


def test_cochran_q_all_or_nothing_corpus_null_not_crash(spark):
    """a_cochran_q: if every customer bought in all four quarters (or
    none), ΣR(4−R) = 0 and Q is undefined — NULL, matching the DuckDB
    oracle, instead of an ANSI crash. Temp fixture where each customer
    orders in every quarter."""
    import os
    import shutil

    tmp = "/tmp/npc_r15_allq"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows_in = [
        (100 * c + q, c, f"1995-{3 * q - 2:02d}-15")
        for c in (1, 2, 3)
        for q in (1, 2, 3, 4)
    ]
    spark.createDataFrame(
        rows_in, "o_orderkey long, o_custkey long, d string"
    ).select(
        "o_orderkey",
        "o_custkey",
        F.to_date("d").alias("o_orderdate"),
        F.lit(100.0).alias("o_totalprice"),
    ).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
    row = registry.QUERIES["a_cochran_q"](spark, tmp).collect()[0]
    assert row["n_subj"] == 3
    assert row["cochran_q"] is None
    assert row["seasonal_95"] == 0
    shutil.rmtree(tmp, ignore_errors=True)


def test_check_slice_matches_driver_order():
    """tools/check.py --slice A:B must resolve exactly the keys
    __spark_entry__.queries() serves at those 1-based positions, so a
    '--plain --slice 1:50' run pre-verifies precisely the next driver
    sample."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_entry", os.path.join(repo, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    order = list(entry.queries())
    assert order[0:2] == order[1 - 1:2]  # the slice arithmetic used
    assert len(order) == len(registry.QUERIES)
    assert len(set(order)) == len(order)
