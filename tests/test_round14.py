"""Round-14 fixes & additions: semantic pins beyond the DuckDB oracle hash.

Covers the round-13 ADVICE items (sign-safe dow keys, the watermark
single-token bigram guard, degenerate-group NULL semantics in the
grouped model fit) and pins the new q_sql_scripting_hist production
twin bit-equal to its 12-scan sibling.
"""

import pyspark.sql.functions as F

from npc_recommender_netflix_spark import registry
from tests.conftest import SF_SMALL, memo


def test_sql_scripting_hist_twin_equals_twelve_scan_key(spark):
    """The histogram-bisect production twin must return the EXACT row the
    12-scan script returns: sum(cents*cnt) over the histogram is the same
    integer as sum(cents) over orders, so the bisection trajectory —
    every (lo, hi, mid, below) along the way — is identical."""
    a = registry.QUERIES["q_sql_scripting"](spark, SF_SMALL).collect()
    b = registry.QUERIES["q_sql_scripting_hist"](spark, SF_SMALL).collect()
    assert len(a) == len(b) == 1
    assert a[0].asDict() == b[0].asDict()


def test_sql_scripting_hist_caches_bounded_histogram(spark):
    """The twin's whole point is ONE data-sized scan: the cents histogram
    frame must be cached (so the script's passes hit memory) and
    bounded by the price grid, not the row count."""
    registry.QUERIES["q_sql_scripting_hist"](spark, SF_SMALL).collect()
    (hist,) = memo("script_hist").values()
    assert hist.storageLevel.useMemory
    n_orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").count()
    assert hist.count() <= n_orders  # grid-bounded, never wider than rows


def _dow_keys(spark, key):
    rows = registry.QUERIES[key](spark, SF_SMALL).collect()
    return rows


def test_pinball_dow_key_sign_safe_for_pre_anchor_dates(spark):
    """ADVICE r13: dow = datediff % 7 went negative before the anchor
    (truncated modulo). pmod must map EVERY date — including pre-1995
    ones — into [0, 6]. Checked directly on the expression the two keys
    now share, over a frame that straddles the anchor."""
    df = spark.createDataFrame(
        [("1994-12-25",), ("1994-12-31",), ("1995-01-01",), ("1995-01-08",)],
        "d string",
    ).select(F.to_date("d").alias("d"))
    out = df.select(
        F.pmod(F.datediff(F.col("d"), F.lit("1995-01-01")), F.lit(7)).alias(
            "dow"
        )
    ).collect()
    dows = [r["dow"] for r in out]
    assert all(0 <= v <= 6 for v in dows)
    # 1994-12-25 is exactly 7 days before the anchor: same weekday key
    assert dows[0] == dows[2] == dows[3] == 0
    # truncated % (the old key) would have given -1 here; pmod gives 6
    assert dows[1] == 6


def test_pinball_and_raking_still_green_after_pmod(spark):
    """The pmod rewrite must be a no-op on the current (post-anchor)
    fixtures: 6 pinball rows, 35 raking cells, margins intact."""
    pin = _dow_keys(spark, "a_pinball_eval")
    assert len(pin) == 6
    rak = _dow_keys(spark, "a_raking_ipf")
    assert len(rak) == 35
    assert {r["dow"] for r in rak} == set(range(7))


def test_watermark_detect_survives_single_token_docs(spark, tmp_path):
    """ADVICE r13: a 1-token doc made sequence(1, size-1) = sequence(1,0)
    — a DESCENDING [1,0] fabricating two null-token bigrams. The guard
    must drop such docs BEFORE the window build, so they contribute zero
    bigram rows (not two) and the detector output is unchanged whether
    or not the 16-bigram floor would have masked them."""
    docs = spark.createDataFrame(
        [
            (1, "one"),  # single token: must vanish pre-floor
            (2, " ".join(f"w{i % 9}" for i in range(40))),  # scorable
            (3, ""),  # empty text: split -> [""], size 1, must vanish
        ],
        "doc_id long, text string",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = registry.QUERIES["t_watermark_detect"](spark, sf).collect()
    assert {r["doc_id"] for r in out} == {2}
    (row,) = out
    # 40 tokens -> exactly 39 bigrams, no fabricated null pairs
    assert row["n_bigrams"] == 39


def test_grouped_model_fit_degenerate_groups_yield_nulls(spark, tmp_path):
    """ADVICE r13: a nation with a single month (sxx=0) or constant
    revenue (syy=0) must yield SQL regr_slope/regr_r2 NULL semantics —
    None, never inf/nan. Build a 3-nation micro-fixture hitting all
    three regimes through the real orders/customer/nation join."""
    sf = str(tmp_path)
    spark.createDataFrame(
        [(0, "SINGLE", 0), (1, "CONSTANT", 0), (2, "NORMAL", 0)],
        "n_nationkey long, n_name string, n_regionkey long",
    ).write.parquet(f"{sf}/nation.parquet")
    spark.createDataFrame(
        [(10, 0), (11, 1), (12, 2)],
        "c_custkey long, c_nationkey long",
    ).write.parquet(f"{sf}/customer.parquet")
    orders = [
        # SINGLE: one month only -> sxx == 0 -> slope/intercept/r2 None
        (100, 10, "1995-01-15", 50.0),
        (101, 10, "1995-01-20", 70.0),
        # CONSTANT: three months, identical revenue -> syy == 0 -> r2 None
        (102, 11, "1995-01-10", 100.0),
        (103, 11, "1995-02-10", 100.0),
        (104, 11, "1995-03-10", 100.0),
        # NORMAL: perfect line rev = 100 + 10*t -> slope 10, r2 1
        (105, 12, "1995-01-05", 100.0),
        (106, 12, "1995-02-05", 110.0),
        (107, 12, "1995-03-05", 120.0),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, d string, o_totalprice double"
    ).select(
        "o_orderkey",
        "o_custkey",
        F.to_date("d").alias("o_orderdate"),
        "o_totalprice",
    ).write.parquet(f"{sf}/orders.parquet")

    rows = {
        r["nation"]: r
        for r in registry.QUERIES["u_grouped_model_fit"](spark, sf).collect()
    }
    single, const, normal = rows["SINGLE"], rows["CONSTANT"], rows["NORMAL"]
    assert single["slope"] is None
    assert single["intercept"] is None
    assert single["r2"] is None
    assert const["slope"] == 0.0 and const["r2"] is None
    assert normal["slope"] == 10.0 and normal["r2"] == 1.0


def test_lpa_superseded_round_frame_not_left_cached(spark):
    """ADVICE r13: only the FINAL label frame may stay cached in the LPA
    memo — the superseded round-1 frame must have been unpersisted.
    Materialize the shared frame, then count cached label-shaped RDDs."""
    registry.QUERIES["r_label_propagation"](spark, SF_SMALL).collect()
    live = [
        f for key, f in memo("lpa_labels").items() if key[1] == SF_SMALL
    ]
    assert live, "memo must hold the final frame"
    for f in live:
        assert f.storageLevel.useMemory
    # the java-side cache manager must not hold more label frames than
    # the memo does: every cached RDD with the LPA lineage beyond the
    # memoized ones would be a leaked superseded round
    jsc = spark.sparkContext._jsc.sc()
    n_cached = jsc.getPersistentRDDs().size()
    # memo frames (one per sf_dir seen) + whatever OTHER keys cached;
    # superseded-round leak would add one per r_label_propagation call.
    before = n_cached
    registry.QUERIES["r_label_propagation"](spark, SF_SMALL).collect()
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after == before, "re-running the key must not grow the cache"


def _pd_tables(*names):
    import pandas as pd

    return [
        pd.read_parquet(f"{SF_SMALL}/{n}.parquet") for n in names
    ]


def test_somers_d_pair_census_replay(spark):
    """Full pandas replay of the concordance census: same percentile
    deciles, same cells, brute-force pair classes — plus the
    tau_b^2 == D_yx * D_xy geometric-mean identity. The fixtures draw
    header totals independently of basket width, so |D| must sit at
    chance level (the docstring's honest expected result)."""
    import numpy as np

    orders, lineitem = _pd_tables("orders", "lineitem")
    y = lineitem.groupby("l_orderkey").size().rename("y")
    df = orders.set_index("o_orderkey").join(y, how="inner")
    qs = np.percentile(
        orders.o_totalprice, [10, 20, 30, 40, 50, 60, 70, 80, 90],
        method="linear",
    )
    df["xb"] = 1 + (df.o_totalprice.to_numpy()[:, None] > qs).sum(axis=1)
    cells = df.groupby(["xb", "y"]).size().reset_index(name="n")
    xa = cells.xb.to_numpy()[:, None]
    xc = cells.xb.to_numpy()[None, :]
    ya = cells.y.to_numpy()[:, None]
    yc = cells.y.to_numpy()[None, :]
    nn = cells.n.to_numpy()
    prod = nn[:, None] * nn[None, :]
    conc = int(prod[(xa < xc) & (ya < yc)].sum())
    disc = int(prod[(xa < xc) & (ya > yc)].sum())
    tiex = int(prod[(xa == xc) & (ya < yc)].sum()) + int(
        (nn * (nn - 1) // 2).sum()
    )
    (row,) = registry.QUERIES["a_somers_d"](spark, SF_SMALL).collect()
    assert row["conc"] == conc and row["disc"] == disc
    assert row["tied_x"] == tiex
    assert abs(
        row["kendall_tau_b"] ** 2 - row["somers_d_yx"] * row["somers_d_xy"]
    ) < 1e-4
    assert abs(row["somers_d_yx"]) < 0.05  # independent fixture: chance


def test_lins_ccc_moment_replay_and_lin_inequality(spark):
    """Pandas replay of the five moments; |CCC| <= |r| always (Lin
    1989), and the independent fixture puts both near zero — the
    docstring's honest expected result, matching a_bland_altman's
    wide limits-of-agreement on the same pairs."""
    import numpy as np

    orders, lineitem = _pd_tables("orders", "lineitem")
    rec = (
        np.round(
            lineitem.l_extendedprice
            * (1 - lineitem.l_discount)
            * (1 + lineitem.l_tax)
            * 100
        )
        .astype(np.int64)
        .groupby(lineitem.l_orderkey)
        .sum()
        .rename("yc")
    )
    df = orders.set_index("o_orderkey").join(rec, how="inner")
    x = np.round(df.o_totalprice * 100).astype(np.int64) / 100.0
    yv = df.yc / 100.0
    sxy = (x * yv).mean() - x.mean() * yv.mean()
    sxx = (x * x).mean() - x.mean() ** 2
    syy = (yv * yv).mean() - yv.mean() ** 2
    ccc = 2 * sxy / (sxx + syy + (x.mean() - yv.mean()) ** 2)
    r = sxy / np.sqrt(sxx * syy)
    (row,) = registry.QUERIES["a_lins_ccc"](spark, SF_SMALL).collect()
    assert abs(row["ccc"] - round(float(ccc), 6)) <= 2e-6
    assert abs(row["pearson_r"] - round(float(r), 6)) <= 2e-6
    assert abs(row["ccc"]) <= abs(row["pearson_r"]) + 1e-9
    assert abs(row["ccc"]) < 0.05  # independent fixture: chance level


def test_pr_auc_replay_band_sweep(spark):
    """Replay the $1000-band AP/AUC sweep in pure pandas and compare
    to the operator's row at 6dp."""
    import numpy as np

    orders, lineitem = _pd_tables("orders", "lineitem")
    y = (
        lineitem.assign(r=(lineitem.l_returnflag == "R").astype(int))
        .groupby("l_orderkey")["r"]
        .max()
    )
    df = orders.set_index("o_orderkey").join(y.rename("y"), how="inner")
    df["s"] = np.floor(df.o_totalprice / 1000).astype(int)
    g = df.groupby("s")["y"].agg(["sum", "count"]).sort_index(ascending=False)
    pos, tot = g["sum"].to_numpy(), g["count"].to_numpy()
    neg = tot - pos
    tp = pos.cumsum()
    k = tot.cumsum()
    p_tot, n_tot = pos.sum(), neg.sum()
    ap = float((((tp / k) * (pos / p_tot))).sum())
    neg_asc = neg[::-1]
    neg_below_asc = np.concatenate([[0], neg_asc.cumsum()[:-1]])
    auc = float(
        (pos[::-1] * (neg_below_asc + neg_asc / 2.0)).sum() / (p_tot * n_tot)
    )
    (row,) = registry.QUERIES["a_pr_auc"](spark, SF_SMALL).collect()
    assert row["n_pos"] == p_tot and row["n_neg"] == n_tot
    assert abs(row["avg_precision"] - round(ap, 6)) <= 1e-6
    assert abs(row["roc_auc"] - round(auc, 6)) <= 1e-6
    # chance envelope: price is a near-uninformative return predictor
    assert abs(row["roc_auc"] - 0.5) < 0.05
    assert abs(row["avg_precision"] - row["prevalence"]) < 0.05


def test_durbin_watson_replay(spark):
    """Replay the whole-dollar-residual DW in numpy: identical OLS fit
    from the same BIGINT sums, identical integer residuals."""
    import numpy as np

    (orders,) = _pd_tables("orders")
    cents = np.round(orders.o_totalprice * 100).astype(np.int64)
    daily = (
        orders.assign(c=cents)
        .groupby("o_orderdate")["c"]
        .sum()
        .sort_index()
    )
    rev = (daily // 100).to_numpy(dtype=np.int64)
    d = daily.index.to_numpy()
    t = ((d - d.min()) / np.timedelta64(1, "D")).astype(np.int64)
    n = len(t)
    sx, sy = int(t.sum()), int(rev.sum())
    sxx, sxy = int((t * t).sum()), int((t * rev).sum())
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    icept = (sy - slope * sx) / n
    e = np.round(rev - icept - slope * t).astype(np.int64)
    dw = float((np.diff(e).astype(float) ** 2).sum() / (e.astype(float) ** 2).sum())
    (row,) = registry.QUERIES["a_durbin_watson"](spark, SF_SMALL).collect()
    assert row["n_days"] == n
    assert abs(row["dw"] - round(dw, 6)) <= 1e-6
    assert abs(row["rho_hat"] - round(1 - dw / 2, 6)) <= 1e-6
    # DW must live in [0, 4]; near-2 on a light-tailed revenue series
    assert 0.0 <= row["dw"] <= 4.0


def test_variance_ratio_replay(spark):
    """numpy replay of VR(q) and its z-stat for all three horizons,
    from the same whole-dollar daily series."""
    import numpy as np

    (orders,) = _pd_tables("orders")
    cents = np.round(orders.o_totalprice * 100).astype(np.int64)
    daily = orders.assign(c=cents).groupby("o_orderdate")["c"].sum()
    y = (daily.sort_index() // 100).to_numpy(dtype=np.int64)
    rows = {
        r["q"]: r
        for r in registry.QUERIES["w_variance_ratio"](spark, SF_SMALL).collect()
    }
    v1 = np.var(np.diff(y, 1).astype(float), ddof=1)
    for q in (2, 5, 10):
        dq = (y[q:] - y[:-q]).astype(float)
        vr = np.var(dq, ddof=1) / (q * v1)
        n = len(dq)
        z = (vr - 1) / np.sqrt(2 * (2 * q - 1) * (q - 1) / (3.0 * q * n))
        assert rows[q]["n_obs"] == n
        assert abs(rows[q]["vr"] - round(float(vr), 6)) <= 2e-6
        assert abs(rows[q]["z_stat"] - round(float(z), 6)) <= 2e-5


def test_croston_closed_form_equals_sequential_ses(spark):
    """The closed-form weighted sum must equal the textbook sequential
    Croston recursion exactly (same alpha, same init), per part."""
    import numpy as np
    import pandas as pd

    orders, lineitem = _pd_tables("orders", "lineitem")
    li = lineitem[lineitem.l_partkey <= 8].merge(
        orders[["o_orderkey", "o_orderdate"]],
        left_on="l_orderkey",
        right_on="o_orderkey",
    )
    dem = (
        li.groupby(["l_partkey", "o_orderdate"])["l_quantity"]
        .sum()
        .reset_index()
        .sort_values(["l_partkey", "o_orderdate"])
    )
    out = {
        r["partkey"]: r
        for r in registry.QUERIES["w_croston"](spark, SF_SMALL).collect()
    }
    alpha = 0.2
    for part, g in dem.groupby("l_partkey"):
        z = g.l_quantity.to_numpy(dtype=float)
        gaps = (
            pd.to_datetime(g.o_orderdate).diff().dt.days.dropna().to_numpy()
        )
        zh = z[0]
        for v in z[1:]:
            zh = alpha * v + (1 - alpha) * zh
        ph = gaps[0]
        for v in gaps[1:]:
            ph = alpha * v + (1 - alpha) * ph
        r = out[part]
        assert r["n_demands"] == len(z)
        assert abs(r["size_hat"] - round(float(zh), 6)) <= 2e-6
        assert abs(r["interval_hat"] - round(float(ph), 6)) <= 2e-6
        assert abs(r["sba_rate"] - round(0.9 * float(zh / ph), 6)) <= 2e-6


def test_theta_forecast_replay(spark):
    """Replay the theta decomposition: trend OLS on the train months,
    SES(0.5) over the theta2 line, equal-weight combination."""
    import numpy as np

    (orders,) = _pd_tables("orders")
    cents = np.round(orders.o_totalprice * 100).astype(np.int64)
    ym = orders.o_orderdate.map(lambda d: d.year * 12 + d.month)
    monthly = orders.assign(c=cents, ym=ym).groupby("ym")["c"].sum()
    y = (monthly.sort_index() // 100).to_numpy(dtype=np.int64)
    n_all = len(y)
    m = n_all - 6
    t = np.arange(1, m + 1, dtype=np.int64)
    ytr = y[:m].astype(np.int64)
    nd = float(m)
    slope = (nd * (t * ytr).sum() - t.sum() * ytr.sum()) / (
        nd * (t * t).sum() - float(t.sum()) * t.sum()
    )
    icept = (ytr.sum() - slope * t.sum()) / nd
    theta2 = 2.0 * ytr - (icept + slope * t)
    s = theta2[0]
    for v in theta2[1:]:
        s = 0.5 * v + 0.5 * s
    rows = registry.QUERIES["w_theta_forecast"](spark, SF_SMALL).collect()
    assert len(rows) == 6
    for r in rows:
        th = m + r["h"]
        fc = 0.5 * (icept + slope * th) + 0.5 * s
        assert r["actual"] == int(y[th - 1])
        assert abs(r["forecast"] - round(float(fc), 2)) <= 0.02


def test_yule_k_counter_replay(spark):
    """Counter replay per language: K, Simpson's D and hapax share
    from raw token frequencies."""
    import re
    from collections import Counter

    (docs,) = _pd_tables("documents")
    rows = {
        r["lang"]: r
        for r in registry.QUERIES["t_yule_k"](spark, SF_SMALL).collect()
    }
    for lang, g in docs.groupby("lang"):
        cnt = Counter()
        for text in g.text:
            cnt.update(re.split(r"\s+", text.lower()))
        n = sum(cnt.values())
        v = len(cnt)
        s2 = sum(f * f for f in cnt.values())
        hap = sum(1 for f in cnt.values() if f == 1)
        r = rows[lang]
        assert r["n_tokens"] == n and r["vocab"] == v and r["hapax"] == hap
        assert abs(r["yule_k"] - round(1e4 * (s2 - n) / (n * n), 4)) <= 1e-4
        assert abs(
            r["simpson_d"]
            - round(
                sum(f * (f - 1) for f in cnt.values()) / (n * (n - 1)), 6
            )
        ) <= 1e-6


def test_burstiness_fano_replay_top_word(spark):
    """Replay tf/df/Fano for every emitted word; Fano >= 0 and the
    list is exactly the global top-20 by tf."""
    import re
    from collections import Counter, defaultdict

    (docs,) = _pd_tables("documents")
    perdoc = defaultdict(Counter)
    for doc_id, text in zip(docs.doc_id, docs.text):
        for w in re.split(r"\s+", text.lower()):
            perdoc[w][doc_id] += 1
    n_docs = len(docs)
    tf = {w: sum(c.values()) for w, c in perdoc.items()}
    top = sorted(tf, key=lambda w: (-tf[w], w))[:20]
    rows = registry.QUERIES["t_burstiness"](spark, SF_SMALL).collect()
    assert [r["word"] for r in rows] == top
    for r in rows:
        c = perdoc[r["word"]]
        mu = tf[r["word"]] / n_docs
        fano = (sum(v * v for v in c.values()) / n_docs - mu * mu) / mu
        assert r["df"] == len(c)
        assert abs(r["burstiness"] - round(tf[r["word"]] / len(c), 6)) <= 1e-6
        assert abs(r["fano_factor"] - round(fano, 6)) <= 1e-6
        assert r["fano_factor"] >= 0.0


def test_katz_walk_counts_replay(spark):
    """Replay 1/2/3-step walk counts from a pure-Python adjacency over
    the same (l_partkey % 500) co-purchase edge construction."""
    from collections import defaultdict

    orders_unused, lineitem = _pd_tables("orders", "lineitem")
    by_order = defaultdict(set)
    for ok, pk in zip(lineitem.l_orderkey, lineitem.l_partkey):
        by_order[ok].add(pk % 500)
    adj = defaultdict(set)
    for items in by_order.values():
        for a in items:
            for b in items:
                if a != b:
                    adj[a].add(b)
    w1 = {v: len(nb) for v, nb in adj.items()}
    w2 = {v: sum(w1[u] for u in nb) for v, nb in adj.items()}
    w3 = {v: sum(w2[u] for u in nb) for v, nb in adj.items()}
    katz = {
        v: 0.1 * w1[v] + 0.01 * w2[v] + 0.001 * w3[v] for v in adj
    }
    top = sorted(adj, key=lambda v: (-round(katz[v], 6), v))[:20]
    rows = registry.QUERIES["r_katz_centrality"](spark, SF_SMALL).collect()
    assert [r["node"] for r in rows] == top
    for r in rows:
        assert (r["walks1"], r["walks2"], r["walks3"]) == (
            w1[r["node"]],
            w2[r["node"]],
            w3[r["node"]],
        )


def test_bin_packing_conserves_bytes_and_packs_next_fit(spark):
    """The plan must conserve total bytes, keep bins month-contiguous
    (locality preserved), and match a pandas next-fit replay."""
    import numpy as np

    (orders,) = _pd_tables("orders")
    ym = orders.o_orderdate.map(lambda d: d.year * 12 + d.month)
    files = (128 * orders.groupby(ym).size()).sort_index()
    before = np.concatenate([[0], files.to_numpy().cumsum()[:-1]])
    bins = before // 262144
    rows = registry.QUERIES["s_bin_packing"](spark, SF_SMALL).collect()
    assert sum(r["bytes"] for r in rows) == int(files.sum())
    # replay: per-bin file counts and byte sums
    import pandas as pd

    rep = pd.DataFrame({"ym": files.index, "bytes": files.to_numpy(), "bin": bins})
    g = rep.groupby("bin")["bytes"].agg(["count", "sum"])
    for r in rows:
        assert r["n_files"] == int(g.loc[r["bin"], "count"])
        assert r["bytes"] == int(g.loc[r["bin"], "sum"])
    # month-contiguity: bins tile the ym axis in order
    spans = [(r["ym_first"], r["ym_last"]) for r in sorted(rows, key=lambda r: r["bin"])]
    for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
        assert a1 < b0


def test_sq8_recall_numpy_replay(spark):
    """Full numpy replica of the SQ8 grid, dequantized cosines and
    top-5 recall for every query."""
    import numpy as np

    (emb,) = _pd_tables("embeddings")
    M = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    mn, mx = M.min(axis=0), M.max(axis=0)
    rg = mx - mn
    with np.errstate(divide="ignore", invalid="ignore"):
        codes = np.minimum(7, np.floor((M - mn) * 8 / rg))
    deq = np.where(rg == 0, 0.0, (codes + 0.5) * rg / 8)

    def cos_top5(X, qi):
        x = X[qi]
        sims = X @ x / (np.linalg.norm(X, axis=1) * np.linalg.norm(x))
        order = sorted(
            [(i, round(s, 6)) for i, s in zip(ids, sims) if i != ids[qi]],
            key=lambda t: (-t[1], t[0]),
        )
        return [i for i, _ in order[:5]]

    rows = {
        r["query_id"]: r
        for r in registry.QUERIES["v_sq8_recall"](spark, SF_SMALL).collect()
    }
    for q in range(5):
        qi = int(np.where(ids == q)[0][0])
        exact = set(cos_top5(M, qi))
        quant = cos_top5(deq, qi)
        hits = len(exact & set(quant))
        assert rows[q]["hits"] == hits
        assert abs(rows[q]["recall5"] - round(hits / 5.0, 6)) <= 1e-9


def test_srt_parse_formula_replay_and_overlap_semantics(spark):
    """Replay the cue generator per doc; an overlap is exactly a
    non-final cue with dur > 2000 ms (the 2 s cue stride)."""
    rows = registry.QUERIES["m_srt_parse"](spark, SF_SMALL).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        d = r["doc_id"]
        n = (d % 8) + 3
        durs = [900 + ((d * 7 + i * 13) % 1500) for i in range(n)]
        chars = [10 + ((3 * d + 5 * i) % 30) for i in range(n)]
        starts = [i * 2000 + (d % 997) for i in range(n)]
        assert r["n_cues"] == n
        assert r["total_sub_ms"] == sum(durs)
        assert r["span_ms"] == starts[-1] + durs[-1] - starts[0]
        assert r["n_chars"] == sum(chars)
        assert r["n_overlaps"] == sum(
            1 for i in range(n - 1) if durs[i] > 2000
        )
        assert r["chars_per_sec"] == sum(chars) * 1000 // sum(durs)


def test_color_histogram_buckets_partition_pixels(spark):
    """Red buckets must partition the raster exactly; dominant bucket
    is the argmax with lowest-bucket tiebreak; luma replays."""
    rows = registry.QUERIES["m_color_histogram"](spark, SF_SMALL).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        d = r["doc_id"]
        w, h = (d % 20) + 8, (d % 12) + 6
        assert r["n_pixels"] == w * h
        buckets = [r["r_b0"], r["r_b1"], r["r_b2"], r["r_b3"]]
        assert sum(buckets) == w * h
        mx = max(buckets)
        assert r["dominant_bucket"] == buckets.index(mx)
        luma = sum(
            ((d + 3 * x + 7 * y) % 256)
            + ((2 * d + 5 * x + y) % 256)
            + ((3 * d + x + 11 * y) % 256)
            for x in range(w)
            for y in range(h)
        )
        assert r["sum_luma"] == luma


def _daily_fit():
    import numpy as np
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    cents = np.round(orders.o_totalprice * 100).astype(np.int64)
    daily = orders.assign(c=cents).groupby("o_orderdate")["c"].sum().sort_index()
    rev = (daily // 100).to_numpy(dtype=np.int64)
    d = daily.index.to_numpy()
    t = ((d - d.min()) / np.timedelta64(1, "D")).astype(np.int64)
    n = len(t)
    sx, sy = int(t.sum()), int(rev.sum())
    sxx, sxy = int((t * t).sum()), int((t * rev).sum())
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    icept = (sy - slope * sx) / n
    e = np.round(rev - icept - slope * t).astype(np.int64)
    return daily.index, t, e, n, sx, sxx


def test_cooks_distance_replay_and_leverage_bounds(spark):
    """numpy replay of leverage and Cook's D for the emitted top-10;
    leverage must sit in (0, 1)."""
    import numpy as np

    days, t, e, n, sx, sxx = _daily_fit()
    xbar = sx / n
    sxx_c = sxx - sx * sx / n
    s2 = float((e.astype(float) ** 2).sum()) / (n - 2)
    h = 1.0 / n + (t - xbar) ** 2 / sxx_c
    cd = (e.astype(float) ** 2 * h) / (2 * s2 * (1 - h) ** 2)
    order = sorted(
        range(n), key=lambda i: (-round(cd[i], 9), days[i])
    )[:10]
    import pandas as pd

    rows = registry.QUERIES["a_cooks_distance"](spark, SF_SMALL).collect()
    got = [pd.Timestamp(r["day"]).date() for r in rows]
    want = [pd.Timestamp(days[i]).date() for i in order]
    assert got == want
    for r, i in zip(rows, order):
        assert 0.0 < r["leverage"] < 1.0
        assert abs(r["cooks_d"] - round(float(cd[i]), 9)) <= 1e-8


def test_breusch_pagan_replay(spark):
    """Replay the auxiliary e^2-on-t regression R^2 and LM stat."""
    import numpy as np

    _, t, e, n, _, _ = _daily_fit()
    e2 = (e.astype(float)) ** 2
    r = np.corrcoef(e2, t)[0, 1]
    lm = n * r * r
    (row,) = registry.QUERIES["a_breusch_pagan"](spark, SF_SMALL).collect()
    assert row["n"] == n
    assert abs(row["lm_stat"] - round(float(lm), 6)) <= 1e-4
    assert row["heteroscedastic_95"] == (1 if lm > 3.841459 else 0)


def test_newey_west_replay_and_inflation_direction(spark):
    """Replay the Bartlett-kernel sandwich; inflation must exceed 1
    exactly when the lag-window autocovariance mass is positive."""
    import numpy as np

    _, t, e, n, sx, sxx = _daily_fit()
    xbar = sx / n
    sxx_c = sxx - sx * sx / n
    u = (t - xbar) * e.astype(float)
    s0 = float((u * u).sum())
    s_hac = s0
    for k in range(1, 6):
        gk = float((u[k:] * u[:-k]).sum())
        s_hac += 2 * (1 - k / 6.0) * gk
    se_nw = np.sqrt(s_hac / (sxx_c * sxx_c))
    se_w = np.sqrt((s0 / (sxx_c * sxx_c)) * n / (n - 2.0))
    (row,) = registry.QUERIES["a_newey_west"](spark, SF_SMALL).collect()
    assert row["n_days"] == n
    assert abs(row["se_nw"] - round(float(se_nw), 6)) <= 1e-4
    assert abs(row["se_white"] - round(float(se_w), 6)) <= 1e-4
    assert abs(row["nw_inflation"] - round(float(se_nw / se_w), 6)) <= 1e-4
    assert row["se_nw"] > 0 and row["se_white"] > 0


def test_panel_fe_equals_dummy_regression(spark):
    """The double-demeaned within slope must equal the full two-way
    dummy-variable OLS slope (Frisch-Waugh-Lovell), verified with a
    numpy lstsq on the dummy design."""
    import numpy as np
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    cust = pd.read_parquet(f"{SF_SMALL}/customer.parquet")
    nat = pd.read_parquet(f"{SF_SMALL}/nation.parquet")
    df = orders.merge(
        cust[["c_custkey", "c_nationkey"]],
        left_on="o_custkey",
        right_on="c_custkey",
    ).merge(nat[["n_nationkey", "n_name"]], left_on="c_nationkey", right_on="n_nationkey")
    df["ym"] = df.o_orderdate.map(lambda d: d.year * 12 + d.month)
    df["cents"] = np.round(df.o_totalprice * 100).astype(np.int64)
    census = (
        df.groupby(["n_name", "ym"])
        .agg(x=("o_orderkey", "size"), c=("cents", "sum"))
        .reset_index()
    )
    census["y"] = census.c // 100
    # balanced zero-filled scaffold, matching the operator
    idx = pd.MultiIndex.from_product(
        [census.n_name.unique(), census.ym.unique()], names=["n_name", "ym"]
    )
    panel = (
        census.set_index(["n_name", "ym"])
        .reindex(idx, fill_value=0)
        .reset_index()
    )
    nations = pd.get_dummies(panel.n_name, drop_first=True).to_numpy(float)
    months = pd.get_dummies(panel.ym, drop_first=True).to_numpy(float)
    X = np.column_stack(
        [panel.x.to_numpy(float), np.ones(len(panel)), nations, months]
    )
    beta = np.linalg.lstsq(X, panel.y.to_numpy(float), rcond=None)[0]
    (row,) = registry.QUERIES["q_panel_fe"](spark, SF_SMALL).collect()
    assert row["n_cells"] == len(panel)
    assert abs(row["beta_within"] - round(float(beta[0]), 6)) <= 1e-3


def test_granger_replay_both_directions(spark):
    """numpy replay: restricted AR(1) SSE vs unrestricted 2-regressor
    SSE via lstsq, F computed the same way, both directions."""
    import numpy as np
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    cents = np.round(orders.o_totalprice * 100).astype(np.int64)
    g = orders.assign(c=cents).groupby("o_orderdate").agg(
        c=("c", "sum"), x=("o_orderkey", "size")
    ).sort_index()
    y = (g.c // 100).to_numpy(float)
    x = g.x.to_numpy(float)

    def sse(dep, regs):
        X = np.column_stack([np.ones(len(dep))] + regs)
        beta, *_ = np.linalg.lstsq(X, dep, rcond=None)
        r = dep - X @ beta
        return float((r * r).sum())

    rows = {
        r["direction"]: r
        for r in registry.QUERIES["a_granger_1lag"](spark, SF_SMALL).collect()
    }
    n = len(y) - 1
    for dep, oth, key in ((y, x, "x_causes_y"), (x, y, "y_causes_x")):
        d, dl, ol = dep[1:], dep[:-1], oth[:-1]
        sr = sse(d, [dl])
        su = sse(d, [dl, ol])
        fstat = (sr - su) / (su / (n - 3))
        r = rows[key]
        assert r["n"] == n
        assert abs(r["f_stat"] - round(fstat, 6)) <= 1e-3
        assert r["significant_95"] == (1 if fstat > 3.8415 else 0)


def test_chow_replay(spark):
    """numpy replay of the pooled vs split SSEs and the Chow F at the
    1997-01-01 break."""
    import numpy as np
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    cents = np.round(orders.o_totalprice * 100).astype(np.int64)
    daily = orders.assign(c=cents).groupby("o_orderdate")["c"].sum().sort_index()
    rev = (daily // 100).to_numpy(float)
    d = pd.to_datetime(daily.index)
    t = np.asarray((d - d.min()).days, dtype=float)
    seg = np.asarray(d >= pd.Timestamp("1997-01-01"))

    def sse(yv, tv):
        X = np.column_stack([np.ones(len(yv)), tv])
        beta, *_ = np.linalg.lstsq(X, yv, rcond=None)
        r = yv - X @ beta
        return float((r * r).sum())

    sp = sse(rev, t)
    s1, s2 = sse(rev[~seg], t[~seg]), sse(rev[seg], t[seg])
    n = len(rev)
    fstat = ((sp - s1 - s2) / 2) / ((s1 + s2) / (n - 4))
    (row,) = registry.QUERIES["a_chow_test"](spark, SF_SMALL).collect()
    assert row["n_days"] == n
    assert row["n_pre"] == int((~seg).sum()) and row["n_post"] == int(seg.sum())
    assert abs(row["chow_f"] - round(fstat, 6)) <= 1e-3
    assert abs(row["sse_ratio"] - round((s1 + s2) / sp, 6)) <= 1e-6
    assert row["break_95"] == (1 if fstat > 2.9957 else 0)


def test_ridge_path_shrinkage_monotone_and_ols_at_zero(spark):
    """numpy replay of the correlation-space ridge path; lambda = 0
    must equal the OLS standardized solution and the shrinkage column
    must be 1 there and strictly decreasing in lambda."""
    import numpy as np
    import pandas as pd

    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    x1 = li.l_quantity.to_numpy(float)
    x2 = np.round(li.l_discount * 100).to_numpy()
    y = np.round(li.l_extendedprice * 100).to_numpy()
    r12 = np.corrcoef(x1, x2)[0, 1]
    r1y = np.corrcoef(x1, y)[0, 1]
    r2y = np.corrcoef(x2, y)[0, 1]
    rows = sorted(
        registry.QUERIES["a_ridge_path"](spark, SF_SMALL).collect(),
        key=lambda r: r["lam"],
    )
    shr = []
    for r in rows:
        lam = r["lam"]
        R = np.array([[1 + lam, r12], [r12, 1 + lam]])
        b = np.linalg.solve(R, np.array([r1y, r2y]))
        assert abs(r["beta_qty_std"] - round(float(b[0]), 6)) <= 2e-6
        assert abs(r["beta_disc_std"] - round(float(b[1]), 6)) <= 2e-6
        shr.append(r["shrinkage"])
    assert abs(shr[0] - 1.0) <= 1e-6  # lambda = 0 is OLS
    assert shr[0] > shr[1] > shr[2]  # monotone shrinkage


def test_gpd_pot_pwm_replay(spark):
    """numpy replay of the banded-exceedance PWMs and the
    Hosking-Wallis shape/scale closed forms."""
    import numpy as np
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    hb = (np.round(orders.o_totalprice * 100).astype(np.int64) // 10000).to_numpy()
    uq = np.percentile(hb, 95, method="linear")
    e = np.sort(hb[hb > uq] - uq)
    k = len(e)
    b0 = e.mean()
    p = (np.arange(1, k + 1) - 0.35) / k
    b1 = float((e * (1 - p)).sum()) / k
    shape = 2 - b0 / (b0 - 2 * b1)
    scale = 2 * b0 * b1 / (b0 - 2 * b1)
    (row,) = registry.QUERIES["a_gpd_pot"](spark, SF_SMALL).collect()
    assert row["n_exceed"] == k
    assert abs(row["threshold_usd"] - round(float(uq) * 100, 2)) <= 0.01
    assert abs(row["gpd_shape"] - round(float(shape), 6)) <= 1e-5
    assert abs(row["gpd_scale_usd"] - round(float(scale) * 100, 2)) <= 0.02
    assert abs(row["mean_excess_usd"] - round(float(b0) * 100, 2)) <= 0.01


def test_cvm_twosample_replay(spark):
    """numpy replay of the integral CvM statistic and the KS sup from
    the same combined step points."""
    import numpy as np

    _, li = _pd_tables("orders", "lineitem")
    li = li[li.l_returnflag.isin(["R", "N"])]
    xa = np.sort(li[li.l_returnflag == "R"].l_quantity.to_numpy())
    xb = np.sort(li[li.l_returnflag == "N"].l_quantity.to_numpy())
    n, m = len(xa), len(xb)
    vals = np.unique(np.concatenate([xa, xb]))
    fa = np.searchsorted(xa, vals, side="right") / n
    fb = np.searchsorted(xb, vals, side="right") / m
    h = np.concatenate([
        [np.sum(xa == v) + np.sum(xb == v) for v in vals]
    ]).astype(float)
    t = n * m / (n + m) ** 2 * float(((fa - fb) ** 2 * h).sum())
    ks = float(np.abs(fa - fb).max())
    (row,) = registry.QUERIES["a_cvm_twosample"](spark, SF_SMALL).collect()
    assert (row["n_a"], row["n_b"]) == (n, m)
    assert abs(row["cvm_t"] - round(t, 6)) <= 1e-6
    assert abs(row["ks_d"] - round(ks, 6)) <= 1e-6


def test_pacf_durbin_levinson_replay(spark):
    """Replay the Durbin-Levinson recursion from the 9dp-snapped
    autocorrelations; lag-1 PACF must equal lag-1 ACF exactly."""
    import numpy as np

    _, t, e, n, sx, sxx = _daily_fit()  # reuse the daily frame builder
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    cents = np.round(orders.o_totalprice * 100).astype(np.int64)
    daily = orders.assign(c=cents).groupby("o_orderdate")["c"].sum().sort_index()
    y = (daily // 100).to_numpy(dtype=float)
    r = [
        round(float(np.corrcoef(y[k:], y[:-k])[0, 1]), 9) for k in (1, 2, 3)
    ]
    p22 = (r[1] - r[0] ** 2) / (1 - r[0] ** 2)
    p21 = r[0] * (1 - p22)
    p33 = (r[2] - p21 * r[1] - p22 * r[0]) / (1 - p21 * r[0] - p22 * r[1])
    rows = {
        row["lag_k"]: row
        for row in registry.QUERIES["w_pacf"](spark, SF_SMALL).collect()
    }
    assert rows[1]["acf"] == rows[1]["pacf"]
    for k, (acf, pacf) in enumerate(
        [(r[0], r[0]), (r[1], p22), (r[2], p33)], start=1
    ):
        assert abs(rows[k]["acf"] - round(acf, 6)) <= 2e-6
        assert abs(rows[k]["pacf"] - round(pacf, 6)) <= 2e-6


def test_pettitt_replay(spark):
    """scipy-free replay: tie-averaged ranks, U_t sweep, argmax day and
    the exponential p approximation."""
    import numpy as np
    import pandas as pd

    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    cents = np.round(orders.o_totalprice * 100).astype(np.int64)
    daily = orders.assign(c=cents).groupby("o_orderdate")["c"].sum().sort_index()
    rev = (daily // 100).to_numpy(dtype=np.int64)
    n = len(rev)
    r = pd.Series(rev).rank(method="average").to_numpy()  # tie-averaged
    s = np.cumsum(r)
    t = np.arange(1, n + 1)
    u = 2 * s - t * (n + 1)  # = U_t; operator's u2 is the SAME scale
    u = u[: n - 1]
    k = float(np.abs(u).max())
    idx = int(np.argmax(np.abs(u) == np.abs(u).max()))
    p = 2 * np.exp(-6 * k * k / (n**3 + n**2))
    (row,) = registry.QUERIES["a_pettitt"](spark, SF_SMALL).collect()
    assert row["n_days"] == n
    assert row["k_stat"] == int(k)
    assert pd.Timestamp(row["break_day"]).date() == pd.Timestamp(daily.index[idx]).date()
    assert abs(row["p_approx"] - round(float(p), 6)) <= 1e-6


def test_codepoint_profile_clean_corpus_and_dirty_positive_control(
    spark, tmp_path
):
    """The synthetic corpus must profile perfectly clean (negative
    control); a scratch fixture with mojibake, bare controls and
    non-ASCII must trip every counter (positive control)."""
    rows = registry.QUERIES["t_codepoint_profile"](spark, SF_SMALL).collect()
    assert rows, "per-source census must be non-empty"
    for r in rows:
        assert r["ascii_ratio"] == 1.0
        assert r["n_control"] == 0 and r["n_replacement"] == 0
        assert r["docs_with_nonascii"] == 0

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [
            (1, "s1", "clean ascii text"),
            (2, "s1", "caf\u00e9 \u00fcber"),  # non-ASCII, no damage
            (3, "s2", "bad byte\x00\x01here"),  # bare C0 controls
            (4, "s2", "mojibake \ufffd\ufffd end"),  # replacement chars
        ],
        "doc_id long, source string, text string",
    )
    docs.write.parquet(f"{sf}/documents.parquet")
    out = {
        r["source"]: r
        for r in registry.QUERIES["t_codepoint_profile"](spark, sf).collect()
    }
    s1, s2 = out["s1"], out["s2"]
    assert s1["docs_with_nonascii"] == 1 and s1["ascii_ratio"] < 1.0
    assert s1["n_control"] == 0 and s1["n_replacement"] == 0
    assert s2["n_control"] == 2      # NUL + SOH
    assert s2["n_replacement"] == 2  # two U+FFFD
    assert s2["docs_with_nonascii"] == 1  # FFFD doc (controls are ASCII)


def test_cochran_q_replay(spark):
    """pandas replay of the Q statistic from per-customer quarter
    flags; Q >= 0 and the chi2(3) flag consistent."""
    import numpy as np
    import pandas as pd

    (orders,) = _pd_tables("orders")
    qtr = pd.to_datetime(orders.o_orderdate).dt.quarter
    flags = (
        orders.assign(q=qtr)
        .pivot_table(index="o_custkey", columns="q", values="o_orderkey",
                     aggfunc="size", fill_value=0)
        .gt(0)
        .astype(int)
    )
    for q in (1, 2, 3, 4):
        if q not in flags.columns:
            flags[q] = 0
    C = flags[[1, 2, 3, 4]].sum(axis=0).to_numpy(float)
    R = flags[[1, 2, 3, 4]].sum(axis=1).to_numpy(float)
    k = 4
    qstat = (k * (k - 1) * ((C - R.sum() / k) ** 2).sum()) / (
        k * R.sum() - (R**2).sum()
    )
    (row,) = registry.QUERIES["a_cochran_q"](spark, SF_SMALL).collect()
    assert row["n_subj"] == len(flags)
    assert [row["c1"], row["c2"], row["c3"], row["c4"]] == [int(c) for c in C]
    assert abs(row["cochran_q"] - round(float(qstat), 6)) <= 1e-6
    assert row["cochran_q"] >= 0
    assert row["seasonal_95"] == (1 if qstat > 7.814728 else 0)


def test_id3v1_field_replay_and_tamper_sensitivity(spark):
    """Formula replay for every doc plus a direct parser check that a
    flipped magic byte raises (the parse is real, not length-derived)."""
    rows = registry.QUERIES["m_id3v1_tags"](spark, SF_SMALL).collect()
    assert len(rows) == 500
    for r in rows[:60]:
        d = r["doc_id"]
        assert r["has_tag"] == 1
        assert r["title_len"] == 8 + d % 23
        assert r["artist_len"] == 5 + d % 17
        assert r["year"] == 1990 + d % 35
        assert r["track"] == 1 + d % 12
        assert r["genre_id"] == d % 80
        assert r["comment_len"] == 4 + d % 19
