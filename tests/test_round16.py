"""Round-16 fixes: semantic pins beyond the DuckDB oracle hash.

Covers the round-15 ADVICE items (a_neyman_allocation design-effect
formula, q_littles_law calendar-step guard, st_page_hinkley bounded
state, check.py --slice validation, a_jonckheere double accumulation),
the round-15 verdict items (memo eviction on sf_dir change, the
audit-tier twin machine gate), and the degenerate-corpus back-sweep of
the round-13/14 statistics (zero-variance / single-day corpora must
yield the SAME rows on both engines, never an ANSI crash or a row-count
divergence).
"""

import datetime
import math
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pandas as pd
import pytest

import pyspark.sql.functions as F

from npc_recommender_netflix_spark import registry
from npc_recommender_netflix_spark.session import TABLES
from tests.conftest import SF_SMALL, forget, memo


# --- degenerate-fixture machinery (round-15 temp-fixture idiom) -------

def _const_col(tab, name, value):
    i = tab.schema.get_field_index(name)
    if i < 0:
        return tab
    arr = pa.array([value] * len(tab), type=tab.schema.field(i).type)
    return tab.set_column(i, tab.schema.field(i), arr)


def _degen_dir(variant: str) -> str:
    """Materialize a degenerate copy of sf0.001 under /tmp (idempotent).

    'const'  : constant prices/quantities/values (zero variance corpus)
    'oneday' : every order/ship/event date collapsed to one day
    """
    dst = f"/tmp/npc_r16_degen_{variant}"
    if os.path.isdir(dst) and os.path.exists(f"{dst}/.complete"):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for t in TABLES:
        tab = pq.read_table(f"{SF_SMALL}/{t}.parquet")
        if variant == "const":
            if t == "orders":
                tab = _const_col(tab, "o_totalprice", 1000.0)
            if t == "lineitem":
                tab = _const_col(tab, "l_quantity", 25.0)
                tab = _const_col(tab, "l_extendedprice", 1000.0)
                tab = _const_col(tab, "l_discount", 0.05)
                tab = _const_col(tab, "l_tax", 0.04)
            if t == "events":
                tab = _const_col(tab, "value", 7.0)
        else:
            day = pd.Timestamp("1995-06-15")
            if t == "orders":
                tab = _const_col(tab, "o_orderdate", day)
            if t == "lineitem":
                for c in ("l_shipdate", "l_commitdate", "l_receiptdate"):
                    tab = _const_col(tab, c, day)
            if t == "events":
                tab = _const_col(
                    tab, "ts", pd.Timestamp("1995-06-15 12:00:00")
                )
        pq.write_table(tab, f"{dst}/{t}.parquet")
    open(f"{dst}/.complete", "w").close()
    return dst


def _engines_agree(spark, key, sf_dir):
    """Run the registered Spark query AND its DuckDB oracle on sf_dir
    and assert identical sorted rows (NaN/None normalized) — the
    check.py compare, driven on a degenerate corpus."""
    srows = sorted(
        tuple(r) for r in registry.QUERIES[key](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    orows = sorted(tuple(r) for r in con.sql(registry.ORACLE[key]).fetchall())
    con.close()
    assert len(srows) == len(orows), (key, len(srows), len(orows))
    for s, o in zip(srows, orows):
        assert len(s) == len(o)
        for a, b in zip(s, o):
            if a is None or b is None:
                assert a is None and b is None, (key, s, o)
            elif isinstance(a, float) or isinstance(b, float):
                assert float(a) == pytest.approx(float(b), abs=1e-9), (
                    key, s, o,
                )
            else:
                assert a == b, (key, s, o)


CONST_KEYS = [
    "a_ridge_path", "a_lins_ccc", "a_somers_d", "a_hotelling_t2",
    "a_james_stein", "a_levene_test", "a_granger_1lag", "a_gpd_pot",
    "a_jonckheere",
    # round-16 additions, lens applied at birth: zero variance / all-tied
    "a_tukey_hsd", "a_ansari_bradley", "a_conover_squared_ranks",
    "a_brunner_munzel", "a_yuen_trimmed_t",
]
ONEDAY_KEYS = [
    "q_littles_law", "w_variance_ratio", "w_pacf", "a_durbin_watson",
    "w_lttb_downsample", "a_cooks_distance",
    # round-16 additions: single weekday / single adoption day
    "a_kendall_w", "a_page_trend", "a_quade_test", "a_bass_diffusion",
    "a_nelson_aalen", "a_greenwood_ci",
]


@pytest.mark.parametrize("key", CONST_KEYS)
def test_zero_variance_corpus_engine_parity(spark, key):
    """Round-16 back-sweep pin: on a constant-price/quantity corpus the
    variance-division statistics must NULL identically on both engines
    (ANSI Spark used to crash where DuckDB returned NULL; the exactly
    collinear daily series used to amplify float noise divergently)."""
    _engines_agree(spark, key, _degen_dir("const"))


@pytest.mark.parametrize("key", ONEDAY_KEYS)
def test_single_day_corpus_engine_parity(spark, key):
    """Round-16 back-sweep pin: a single-day corpus (zero time variance,
    empty open-day calendar, empty lag/diff frames) must degrade to the
    same NULL rows on both engines."""
    _engines_agree(spark, key, _degen_dir("oneday"))


def test_littles_law_degenerate_calendar_is_empty_not_descending(spark):
    """r15 ADVICE: Spark's two-arg sequence(d0, d1-1) steps BACKWARD
    when d0 > d1-1, fabricating a descending 2-day calendar with a
    pre-span day on a same-day-ship corpus; the guard must yield zero
    open-day rows (s_days = 0, NULL rates) like generate_series."""
    row = registry.QUERIES["q_littles_law"](
        spark, _degen_dir("oneday")
    ).collect()[0]
    assert row["span_days"] == 0
    assert row["lambda_per_day"] is None
    assert row["littles_ratio"] is None
    assert row["peak_open"] is None


def test_neyman_design_effect_is_varprop_over_varneyman(spark):
    """r15 ADVICE (medium): deff = (ΣN_h S_h²) / ((ΣN_h S_h)²/N) — the
    Cauchy-Schwarz form — NOT prop_core/(ΣN_h²S_h²/N). Pinned against
    the analytic two-stratum value on a constructed corpus: strata with
    (N, S) = (100, s1) and (300, s2) give a deff computable by hand."""
    rows = registry.QUERIES["a_neyman_allocation"](
        spark, SF_SMALL
    ).collect()
    stats = {
        r["nation"]: (r["stratum_size"], r["stratum_sd"]) for r in rows
    }
    big_n = sum(n for n, _ in stats.values())
    nsh = sum(n * s for n, s in stats.values())
    prop = sum(n * s * s for n, s in stats.values())
    want = prop / (nsh * nsh / big_n)
    for r in rows:
        assert r["design_effect_vs_neyman"] == pytest.approx(
            want, rel=1e-4
        )
    # Cauchy-Schwarz: Neyman never loses to proportional
    assert want >= 1.0 - 1e-12


def test_lttb_five_day_series_cascades_like_oracle(spark):
    """The oracle's chained CTEs drop every pick downstream of the
    first empty bucket; with 5 days (3 interior points over 10
    buckets) both engines keep ONLY the endpoints."""
    src = pq.read_table(f"{SF_SMALL}/orders.parquet")
    df = src.to_pandas()
    dates = pd.to_datetime(
        ["1995-06-15", "1995-06-16", "1995-06-17", "1995-06-18",
         "1995-06-19"]
    )
    df["o_orderdate"] = [dates[i % 5] for i in range(len(df))]
    dst = "/tmp/npc_r16_lttb5"
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    pq.write_table(
        pa.Table.from_pandas(df, schema=src.schema, preserve_index=False),
        f"{dst}/orders.parquet",
    )
    for t in TABLES:
        if t != "orders":
            shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{dst}/{t}.parquet")
    _engines_agree(spark, "w_lttb_downsample", dst)
    got = registry.QUERIES["w_lttb_downsample"](spark, dst).collect()
    assert [r["pos"] for r in got] == [1, 12]


def test_check_slice_validates_range():
    """r15 ADVICE: --slice with inverted or out-of-range bounds must
    error with a clear message, not IndexError on an empty list."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for bad in ("5:3", "800:810", "0:5", "x:y"):
        p = subprocess.run(
            [_sys.executable, "tools/check.py", "--slice", bad],
            cwd=repo, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 2, (bad, p.returncode, p.stderr[-400:])
        assert "--slice" in p.stderr, (bad, p.stderr[-400:])


def test_memo_evicts_superseded_sf_dir(spark):
    """r15 verdict item 2: a ladder run (two sf_dirs in one app) must
    not accumulate cached frames — on lookup at a NEW sf_dir, the old
    sf_dir's frame is unpersisted and dropped from the memo."""
    from npc_recommender_netflix_spark.recommender import core as C
    from npc_recommender_netflix_spark.recommender import graph as G

    alt = _degen_dir("const")  # any second sf_dir works
    # --- script-hist memo
    forget("script_hist")
    registry.QUERIES["q_sql_scripting_hist"](spark, SF_SMALL).collect()
    frame_old = next(iter(memo("script_hist").values()))
    registry.QUERIES["q_sql_scripting_hist"](spark, alt).collect()
    assert len(memo("script_hist")) == 1
    assert next(iter(memo("script_hist")))[1] == alt
    assert not frame_old.storageLevel.useMemory  # unpersisted, not leaked
    # --- textrank edge memo
    forget("textrank_edges")
    registry.QUERIES["t_textrank_keywords"](spark, SF_SMALL).collect()
    old_tr = next(iter(memo("textrank_edges").values()))
    registry.QUERIES["t_textrank_keywords"](spark, alt).collect()
    assert len(memo("textrank_edges")) == 1
    assert next(iter(memo("textrank_edges")))[1] == alt
    assert not old_tr.storageLevel.useMemory
    # --- recommender _cached (the memoized matrix)
    forget("matrix")
    m_old = C.ratings_matrix(spark, SF_SMALL)
    m_old.count()
    C.ratings_matrix(spark, alt).count()
    assert len(memo("matrix")) == 1
    assert next(iter(memo("matrix")))[1] == alt
    assert not m_old.storageLevel.useMemory
    # --- LPA label memo (nested: also looks up the co-purchase edges)
    forget("lpa_labels", "copurchase_edges")
    lab_old = G._lpa_labels(spark, SF_SMALL)
    G._lpa_labels(spark, alt)
    assert len(memo("lpa_labels")) == 1
    assert next(iter(memo("lpa_labels")))[1] == alt
    assert [k[1] for k in memo("copurchase_edges")] == [alt]
    assert not lab_old.storageLevel.useMemory


def test_audit_tier_twins_machine_gate():
    """r15 verdict item 4: the audit-tier/production-twin pairing is a
    registry constant asserted by inventory --check — every weak key
    registered, every twin registered AND carrying a linear SCALECHECK
    ladder row, every weak key carrying a measured non-linear row."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ladder = json.load(open(f"{repo}/SCALECHECK.json"))["results"]
    assert set(registry.AUDIT_TIER_TWINS) == {
        "v_embed_neardup", "v_semantic_dedup", "v_embed_neardup_lsh",
        "v_lsh_multiprobe", "v_lsh_neardup",
    }
    for weak, twin in registry.AUDIT_TIER_TWINS.items():
        assert weak in registry.QUERIES
        assert twin in registry.QUERIES
        assert ladder[twin]["claim"] == "linear", twin
        assert ladder[weak]["claim"] != "linear", weak


def test_page_hinkley_state_bounded_on_sixty_day_stream(spark):
    """r15 ADVICE: the streaming PH detector must EVICT days older than
    the 30-day horizon (compacting them into the scalar prefix) instead
    of growing state forever. Drive the real streaming op over a 60-day
    fixture: state_days (retained vector, reported in-row) must be <=30
    while n_days sees all ~60, and the emitted statistic must equal a
    sequential full-history Python PH — compaction is exact because the
    recursion is sequential."""
    src = pq.read_table(f"{SF_SMALL}/events.parquet")
    df = src.to_pandas().sort_values("ts").reset_index(drop=True)
    # shift the second half of the rows +30 days -> ~60-day span
    half = len(df) // 2
    df.loc[half:, "ts"] = df.loc[half:, "ts"] + pd.Timedelta(days=30)
    dst = "/tmp/npc_r16_ph60"
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    pq.write_table(
        pa.Table.from_pandas(df, schema=src.schema, preserve_index=False),
        f"{dst}/events.parquet",
    )
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{dst}/{t}.parquet")
    got = {
        r["event_type"]: r
        for r in registry.QUERIES["st_page_hinkley"](spark, dst).collect()
    }
    # python full-history replay per type
    per = {}
    for _, r in df.iterrows():
        day = int(
            pd.Timestamp(r["ts"]).floor("D").value // 86_400_000_000_000
        )
        cents = int(round(r["value"] * 100))
        per.setdefault(r["event_type"], {})
        per[r["event_type"]][day] = (
            per[r["event_type"]].get(day, 0) + cents
        )
    assert set(got) == set(per)
    # the shift must actually create a >30-day span for at least one key
    assert any(
        max(d) - min(d) >= 31 for d in (sorted(v) for v in per.values())
    )
    for et, daily in per.items():
        ds = sorted(daily)
        xs = [daily[d] for d in ds]
        s = m = 0.0
        mn = 0.0
        best, best_d = -1.0, ds[0]
        for i, (d, x) in enumerate(zip(ds, xs), 1):
            s += x
            m += x - s / i
            mn = min(mn, m)
            if m - mn > best:
                best, best_d = m - mn, d
        row = got[et]
        assert row["n_days"] == len(xs)
        assert row["state_days"] <= 30
        if row["n_days"] > 30:
            assert row["state_days"] < row["n_days"]  # compacted
        assert row["ph_max"] == pytest.approx(best, abs=1e-3)
        assert row["ph_argmax_day"] == pd.Timestamp(
            best_d * 86_400_000_000_000
        ).date()
        # variance switches to the e-form under compaction; both forms
        # agree to float noise, well inside the 1e-3 gate at this scale
        mean = sum(xs) / len(xs)
        var = (
            sum((x - mean) ** 2 for x in xs) / (len(xs) - 1)
            if len(xs) > 1
            else 0.0
        )
        assert row["lambda_gate"] == pytest.approx(
            5.0 * math.sqrt(var), rel=1e-6, abs=1e-2
        )


def test_jonckheere_j2_accumulates_in_double(spark, duck):
    """r15 ADVICE: J2 (~N² in doubled units) must not be summed as
    int64 — both engines accumulate in DOUBLE now; the fixture value is
    still integer-exact (< 2^53) and hash-matched, pinned here against
    the direct pair census."""
    row = registry.QUERIES["a_jonckheere"](spark, SF_SMALL).collect()[0]
    orow = duck.sql(registry.ORACLE["a_jonckheere"]).fetchall()[0]
    assert row["jt_stat"] == orow[1]
    # jt_stat is J2/2 where J2 is integral: exactness survives the
    # double accumulation at fixture scale
    assert float(row["jt_stat"]) * 2 == int(row["jt_stat"] * 2)
