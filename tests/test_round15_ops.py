"""Round-15 operators: pure-Python replays beyond the DuckDB oracle hash.

Each new key gets an independent recomputation (math.* / collections /
hand-rolled DP — never SQL on either engine) pinning the statistic the
SQL pair could get wrong in the same way twice.
"""

import collections
import math

import pyspark.sql.functions as F
import pytest

from npc_recommender_netflix_spark import registry
from tests.conftest import SF_SMALL, forget, memo


@pytest.fixture(scope="module")
def events_rows(spark):
    return [
        (r["event_type"], int(round(r["value"] * 100)), r["ts"])
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_type", "value", "ts")
        .collect()
    ]


def test_bartlett_replay(spark, events_rows):
    groups = collections.defaultdict(list)
    for et, cents, _ in events_rows:
        groups[et].append(cents)
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    s2 = {
        g: (
            sum(c * c for c in v) - sum(v) ** 2 / len(v)
        ) / (len(v) - 1)
        for g, v in groups.items()
    }
    pooled = sum((len(v) - 1) * s2[g] for g, v in groups.items()) / (n - k)
    t = ((n - k) * math.log(pooled)
         - sum((len(v) - 1) * math.log(s2[g]) for g, v in groups.items()))
    c = 1 + (sum(1.0 / (len(v) - 1) for v in groups.values())
             - 1.0 / (n - k)) / (3.0 * (k - 1))
    row = registry.QUERIES["a_bartlett_test"](spark, SF_SMALL).collect()[0]
    assert row["n_obs"] == n and row["k_groups"] == k
    assert row["bartlett_t"] == pytest.approx(t / c, abs=2e-6)


def test_mood_median_replay(spark, events_rows):
    cents = sorted(c for _, c, _ in events_rows)
    n = len(cents)
    gm = cents[(n + 1) // 2 - 1]  # lower median (exact order statistic)
    groups = collections.defaultdict(lambda: [0, 0])  # [nj, above]
    for et, c, _ in events_rows:
        groups[et][0] += 1
        groups[et][1] += 1 if c > gm else 0
    a = sum(v[1] for v in groups.values())
    chi2 = 0.0
    for nj, aj in groups.values():
        ea, eb = nj * a / n, nj * (1 - a / n)
        chi2 += (aj - ea) ** 2 / ea + ((nj - aj) - eb) ** 2 / eb
    row = registry.QUERIES["a_mood_median"](spark, SF_SMALL).collect()[0]
    assert row["grand_median_cents"] == gm
    assert row["chi2"] == pytest.approx(chi2, abs=2e-6)


def test_sign_test_replay(spark, events_rows):
    daily = collections.defaultdict(lambda: [0, 0])
    for et, c, ts in events_rows:
        if et == "purchase":
            daily[ts.date()][0] += c
        elif et == "click":
            daily[ts.date()][1] += c
    diffs = [x - y for x, y in daily.values() if x != y]
    n, n_pos = len(diffs), sum(1 for d in diffs if d > 0)
    row = registry.QUERIES["a_sign_test"](spark, SF_SMALL).collect()[0]
    assert (row["n_pairs"], row["n_pos"], row["n_neg"]) == (
        n, n_pos, n - n_pos,
    )
    assert row["z"] == pytest.approx((2.0 * n_pos - n) / math.sqrt(n), abs=1e-6)


def test_js_divergence_replay_and_bounds(spark):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .select(
            F.floor(F.col("o_totalprice") / 1000).alias("band"),
            (F.col("o_orderdate") < F.lit("1997-01-01").cast("date")).alias(
                "pre"
            ),
        )
        .collect()
    )
    cp = collections.Counter(r["band"] for r in rows if r["pre"])
    cq = collections.Counter(r["band"] for r in rows if not r["pre"])
    np_, nq = sum(cp.values()), sum(cq.values())
    js = tv = 0.0
    for b in set(cp) | set(cq):
        p, q = cp[b] / np_, cq[b] / nq
        if p > 0:
            js += 0.5 * p * math.log2(2 * p / (p + q))
        if q > 0:
            js += 0.5 * q * math.log2(2 * q / (p + q))
        tv += 0.5 * abs(p - q)
    row = registry.QUERIES["a_js_divergence"](spark, SF_SMALL).collect()[0]
    assert row["js_bits"] == pytest.approx(js, abs=2e-6)
    assert row["total_variation"] == pytest.approx(tv, abs=2e-6)
    assert 0.0 <= row["js_bits"] <= 1.0  # JS in bits is bounded by 1
    assert 0.0 <= row["total_variation"] <= 1.0


def test_good_turing_replay_en(spark):
    import re as _re

    texts = [
        r["text"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .where(F.col("lang") == "en")
        .collect()
    ]
    freq = collections.Counter(
        w for t in texts for w in _re.split(r"\s+", t.lower())
    )
    fof = collections.Counter(freq.values())
    n = sum(freq.values())
    row = {
        r["lang"]: r
        for r in registry.QUERIES["t_good_turing"](spark, SF_SMALL).collect()
    }["en"]
    assert row["n_tokens"] == n
    assert row["vocab"] == len(freq)
    assert row["n1"] == fof[1] and row["n2"] == fof[2]
    assert row["p_unseen"] == pytest.approx(fof[1] / n, abs=1e-6)
    if fof[1]:
        assert row["rstar_1"] == pytest.approx(2 * fof[2] / fof[1], abs=1e-6)
    # Good-Turing discount: for natural text r*_1 < 1 never holds above
    # ~2 (sanity band, not an identity)
    assert row["rstar_1"] is None or row["rstar_1"] >= 0


def test_burrows_delta_replay(spark):
    import re as _re

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    per_src = collections.defaultdict(collections.Counter)
    for r in docs:
        per_src[r["source"]].update(_re.split(r"\s+", r["text"].lower()))
    total = collections.Counter()
    for c in per_src.values():
        total.update(c)
    top = [w for w, _ in sorted(total.items(), key=lambda x: (-x[1], x[0]))[:20]]
    sources = sorted(per_src)
    toks = {s: sum(per_src[s].values()) for s in sources}
    fr = {(s, w): per_src[s][w] / toks[s] for s in sources for w in top}
    z = {}
    for w in top:
        vals = [fr[(s, w)] for s in sources]
        m = sum(vals) / len(vals)
        sd = math.sqrt(
            sum((v - m) ** 2 for v in vals) / (len(vals) - 1)
        )
        for s in sources:
            z[(s, w)] = (fr[(s, w)] - m) / sd
    deltas = sorted(
        (
            -sum(abs(z[(a, w)] - z[(b, w)]) for w in top) / len(top),
            a,
            b,
        )
        for i, a in enumerate(sources)
        for b in sources[i + 1:]
    )[:15]
    got = registry.QUERIES["t_burrows_delta"](spark, SF_SMALL).collect()
    assert len(got) == 15
    for row, (negd, a, b) in zip(got, deltas):
        assert (row["source_a"], row["source_b"]) == (a, b)
        assert row["delta"] == pytest.approx(-negd, abs=2e-6)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_dedup_replay(spark):
    import re as _re

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "lang", "n_chars", "text")
        .collect()
    )
    blocks = collections.defaultdict(list)
    for r in docs:
        tok1 = _re.split(r"\s+", r["text"].lower())[0]
        blocks[(r["lang"], tok1, r["n_chars"] // 32)].append(
            (r["doc_id"], r["text"].lower()[:64])
        )
    per_lang = collections.defaultdict(list)
    for (lang, _, _), members in blocks.items():
        if len(members) > 64:  # block cap (zipf-prefix hot blocks drop)
            continue
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                per_lang[lang].append(_lev(members[i][1], members[j][1]))
    got = {
        r["lang"]: r
        for r in registry.QUERIES["t_edit_distance_dedup"](
            spark, SF_SMALL
        ).collect()
    }
    assert set(got) == set(per_lang)
    for lang, dists in per_lang.items():
        assert got[lang]["n_pairs_checked"] == len(dists)
        assert got[lang]["n_neardup"] == sum(1 for d in dists if d <= 16)
        assert got[lang]["min_dist"] == min(dists)
        assert got[lang]["avg_dist"] == pytest.approx(
            sum(dists) / len(dists), abs=1e-6
        )


def _median(vals):
    s = sorted(vals)
    n = len(s)
    mid = n // 2
    return float(s[mid]) if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def test_hampel_replay(spark):
    daily = {
        r["d"]: r["rev"]
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev")
        )
        .collect()
    }
    import datetime as dt

    scored = []
    for d, rev in daily.items():
        win = [
            daily[d + dt.timedelta(days=k)]
            for k in range(-3, 4)
            if d + dt.timedelta(days=k) in daily
        ]
        med = _median(win)
        mad = _median([abs(v - med) for v in win])
        scored.append((abs(rev - med) - 4.4478 * mad, d, rev, med, mad))
    scored.sort(key=lambda t: (-t[0], t[1]))
    got = registry.QUERIES["w_hampel_filter"](spark, SF_SMALL).collect()
    assert len(got) == 10
    for row, (exc, d, rev, med, mad) in zip(got, scored[:10]):
        assert row["day"] == d and row["rev_cents"] == rev
        assert row["med_cents"] == pytest.approx(med, abs=0.01)
        assert row["excess"] == pytest.approx(exc, abs=0.02)
        assert row["is_outlier"] == (1 if abs(rev - med) > 4.4478 * mad else 0)


def test_page_hinkley_replay(spark):
    rows = sorted(
        (r["d"], r["x"])
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / F.lit(100)
            )
            .cast("long")
            .alias("x")
        )
        .collect()
    )
    s = m = 0.0
    mn = 0.0
    best = (-1.0, None)
    for i, (d, x) in enumerate(rows, 1):
        s += x
        m += x - s / i
        mn = min(mn, m)
        ph = m - mn
        if ph > best[0]:
            best = (ph, d)
    xs = [x for _, x in rows]
    mean = sum(xs) / len(xs)
    lam = 5.0 * math.sqrt(
        sum((x - mean) ** 2 for x in xs) / (len(xs) - 1)
    )
    row = registry.QUERIES["w_page_hinkley"](spark, SF_SMALL).collect()[0]
    assert row["n_days"] == len(rows)
    assert row["ph_max"] == pytest.approx(best[0], abs=1e-3)
    assert row["ph_argmax_day"] == best[1]
    assert row["lambda_gate"] == pytest.approx(lam, abs=1e-3)
    assert row["drift_alarm"] == (1 if best[0] > lam else 0)


def test_jonckheere_replay(spark):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{SF_SMALL}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .collect()
    )
    census = collections.Counter((r["g"], r["v"]) for r in rows)
    sizes = collections.Counter()
    for (g, _), c in census.items():
        sizes[g] += c
    j2 = 0
    for (ga, va), ca in census.items():
        for (gb, vb), cb in census.items():
            if ga < gb:
                if va < vb:
                    j2 += 2 * ca * cb
                elif va == vb:
                    j2 += ca * cb
    n = sum(sizes.values())
    mean = (n * n - sum(c * c for c in sizes.values())) / 4.0
    var = (
        n * n * (2 * n + 3)
        - sum(c * c * (2 * c + 3) for c in sizes.values())
    ) / 72.0
    row = registry.QUERIES["a_jonckheere"](spark, SF_SMALL).collect()[0]
    assert row["n_obs"] == n
    assert row["jt_stat"] == pytest.approx(j2 / 2.0, abs=1e-6)
    assert row["jt_mean"] == pytest.approx(mean, abs=1e-6)
    assert row["z"] == pytest.approx(
        (j2 / 2.0 - mean) / math.sqrt(var), abs=2e-6
    )


def test_encoding_advisor_replay(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").collect()
    import datetime as dt

    def col(r, name):
        if name == "l_quantity":
            return str(int(r[name]))
        if name == "l_shipdate":
            v = r[name]
            return (v.date() if isinstance(v, dt.datetime) else v).isoformat()
        return str(r[name])

    got = {
        r["col"]: r
        for r in registry.QUERIES["s_encoding_advisor"](
            spark, SF_SMALL
        ).collect()
    }
    for name in ("l_returnflag", "l_partkey", "l_quantity", "l_shipdate"):
        vals = collections.Counter(col(r, name) for r in li)
        assert got[name]["n_rows"] == len(li)
        assert got[name]["n_distinct"] == len(vals)
        assert got[name]["top_share"] == pytest.approx(
            max(vals.values()) / len(li), abs=1e-6
        )
    # flags are low-cardinality -> DICTIONARY; keys near-unique at this
    # sf land PLAIN or wide depending on the ratio — assert the flag one
    assert got["l_returnflag"]["advice"] == "DICTIONARY"


def test_filtered_ann_recall_replay(spark):
    import numpy as np

    rows = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    labs = {r["vec_id"]: r["label"] for r in rows}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    got = {
        r["query_id"]: r
        for r in registry.QUERIES["v_filtered_ann_recall"](
            spark, SF_SMALL
        ).collect()
    }
    for qid in (0, 1, 2, 3, 4):
        qv = vecs[qid]
        nq = math.sqrt((qv * qv).sum())
        scored = []
        for cid in ids:
            if cid == qid:
                continue
            cv = vecs[cid]
            cos = round(
                float((qv * cv).sum()) / (nq * math.sqrt((cv * cv).sum())),
                6,
            )
            scored.append((-cos, cid, labs[cid]))
        scored.sort()
        truth = [c for _, c, lb in scored if lb == labs[qid]][:5]
        top20 = scored[:20]
        surv = [c for _, c, lb in top20 if lb == labs[qid]]
        served = surv[:5]
        n_hit = len(set(truth) & set(served))
        assert got[qid]["n_survivors"] == len(surv)
        assert got[qid]["n_hit"] == n_hit
        assert got[qid]["recall_at_5"] == pytest.approx(n_hit / 5.0, abs=1e-9)
        # post-filter recall can only lose vs filter-first
        assert got[qid]["n_hit"] <= 5


def test_robust_location_replay(spark, events_rows):
    cents = sorted(c for _, c, _ in events_rows)
    n = len(cents)
    k = (n + 9) // 10
    trimmed = cents[k:n - k]
    wins = [cents[k]] * k + trimmed + [cents[n - k - 1]] * k
    row = registry.QUERIES["a_robust_location"](spark, SF_SMALL).collect()[0]
    assert row["n_obs"] == n and row["k_trimmed_each_side"] == k
    assert row["mean_cents"] == pytest.approx(sum(cents) / n, abs=1e-3)
    assert row["trimmed_mean_cents"] == pytest.approx(
        sum(trimmed) / len(trimmed), abs=1e-3
    )
    assert row["winsorized_mean_cents"] == pytest.approx(
        sum(wins) / n, abs=1e-3
    )
    assert row["median_cents"] == cents[(n + 1) // 2 - 1]
    # ordering sanity: trimmed/winsorized sit between median and mean
    # only when the tail is one-sided; at minimum they are finite and
    # within the value domain
    assert cents[0] <= row["trimmed_mean_cents"] <= cents[-1]


def test_st_page_hinkley_parity_with_python_replay(spark, events_rows):
    """The streaming PH detector (bounded day-vector state) must emit
    exactly the statistic a sequential Python PH computes over the same
    per-type daily cents series — the replay-exactness the batch twin's
    oracle provides for w_page_hinkley."""
    per = collections.defaultdict(lambda: collections.defaultdict(int))
    for et, c, ts in events_rows:
        per[et][ts.date()] += c
    got = {
        r["event_type"]: r
        for r in registry.QUERIES["st_page_hinkley"](
            spark, SF_SMALL
        ).collect()
    }
    assert set(got) == set(per)
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
        mean = sum(xs) / len(xs)
        var = sum((x - mean) ** 2 for x in xs) / (len(xs) - 1)
        row = got[et]
        assert row["n_days"] == len(xs)
        # <=30-day fixture: nothing compacts, the full vector is retained
        assert row["state_days"] == len(xs)
        assert row["ph_max"] == pytest.approx(best, abs=1e-3)
        assert row["ph_argmax_day"] == best_d
        assert row["lambda_gate"] == pytest.approx(
            5.0 * math.sqrt(var), abs=1e-3
        )
        assert row["drift_alarm"] == (1 if best > 5.0 * math.sqrt(var) else 0)


def test_shewhart_imr_replay(spark):
    rows = sorted(
        (r["d"], r["x"])
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / F.lit(100)
            )
            .cast("long")
            .alias("x")
        )
        .collect()
    )
    xs = [x for _, x in rows]
    mrs = [abs(b - a) for a, b in zip(xs, xs[1:])]
    center = sum(xs) / len(xs)
    mrbar = sum(mrs) / len(mrs)
    ucl, lcl = center + 3 * mrbar / 1.128, center - 3 * mrbar / 1.128
    row = registry.QUERIES["w_shewhart_imr"](spark, SF_SMALL).collect()[0]
    assert row["n_days"] == len(xs)
    assert row["center_usd"] == pytest.approx(center, abs=1e-3)
    assert row["mr_bar"] == pytest.approx(mrbar, abs=1e-3)
    assert row["ucl"] == pytest.approx(ucl, abs=1e-3)
    assert row["n_beyond_3s"] == sum(1 for x in xs if x > ucl or x < lcl)
    assert row["n_mr_signals"] == sum(1 for m in mrs if m > 3.267 * mrbar)


def test_meta_fixed_effect_replay(spark):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .join(
            spark.read.parquet(f"{SF_SMALL}/customer.parquet"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            spark.read.parquet(f"{SF_SMALL}/nation.parquet"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "o_totalprice")
        .collect()
    )
    groups = collections.defaultdict(list)
    for r in rows:
        groups[r["n_name"]].append(r["o_totalprice"])
    stats = []
    for vals in groups.values():
        n = len(vals)
        m = sum(vals) / n
        s2 = sum((v - m) ** 2 for v in vals) / (n - 1)
        stats.append((n, m, s2))
    wsum = sum(n / s2 for n, _, s2 in stats)
    pooled = sum(n / s2 * m for n, m, s2 in stats) / wsum
    q = sum(n / s2 * (m - pooled) ** 2 for n, m, s2 in stats)
    k = len(stats)
    row = registry.QUERIES["a_meta_fixed_effect"](spark, SF_SMALL).collect()[0]
    assert row["k_studies"] == k
    assert row["pooled_mean"] == pytest.approx(pooled, abs=1e-3)
    assert row["cochran_q_het"] == pytest.approx(q, abs=1e-3)  # 4dp snap
    assert row["i_squared"] == pytest.approx(
        max((q - (k - 1)) / q, 0.0), abs=1e-5
    )
    assert row["ci_halfwidth"] == pytest.approx(
        1.959964 / math.sqrt(wsum), abs=1e-3
    )


def test_lift_curve_replay(spark):
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("y")
        )
    )
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.floor(F.col("o_totalprice") / 1000).cast("long").alias("s"),
            "y",
        )
        .collect()
    )
    bands = collections.defaultdict(lambda: [0, 0])
    for r in rows:
        bands[r["s"]][0] += r["y"]
        bands[r["s"]][1] += 1
    cum, tp, k = [], 0, 0
    for s in sorted(bands, reverse=True):
        tp += bands[s][0]
        k += bands[s][1]
        cum.append((k, tp))
    n = k
    p = tp
    got = registry.QUERIES["q_lift_curve"](spark, SF_SMALL).collect()
    assert len(got) == 10
    for row in got:
        d = row["decile"]
        kk, tt = next((kk, tt) for kk, tt in cum if kk * 10 >= d * n)
        assert row["n_cum"] == kk and row["tp_cum"] == tt
        assert row["capture_rate"] == pytest.approx(tt / p, abs=1e-6)
        assert row["lift"] == pytest.approx((tt / p) / (kk / n), abs=1e-6)
    # decile 10 covers everything: capture 1.0, lift 1.0
    assert got[-1]["capture_rate"] == pytest.approx(1.0)
    assert got[-1]["lift"] == pytest.approx(1.0)
    # (lift monotonicity is NOT asserted: price is a near-uninformative
    # returns scorer, so decile lifts hover around 1.0 with noise —
    # monotone lift is a property of good scorers, not of the operator)


def test_james_stein_replay(spark):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .join(
            spark.read.parquet(f"{SF_SMALL}/customer.parquet"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            spark.read.parquet(f"{SF_SMALL}/nation.parquet"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "o_totalprice")
        .collect()
    )
    groups = collections.defaultdict(list)
    for r in rows:
        groups[r["n_name"]].append(r["o_totalprice"])
    means = {g: sum(v) / len(v) for g, v in groups.items()}
    grand = sum(means.values()) / len(means)
    vbar = sum(
        (sum((x - means[g]) ** 2 for x in v) / (len(v) - 1)) / len(v)
        for g, v in groups.items()
    ) / len(groups)
    ss = sum((m - grand) ** 2 for m in means.values())
    k = len(groups)
    b = max(1 - (k - 3) * vbar / ss, 0.0)
    got = {
        r["nation"]: r
        for r in registry.QUERIES["a_james_stein"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(groups)
    for g in groups:
        assert got[g]["raw_mean"] == pytest.approx(means[g], abs=1e-3)
        assert got[g]["shrunk_mean"] == pytest.approx(
            grand + b * (means[g] - grand), abs=1e-3
        )
        assert got[g]["shrink_factor"] == pytest.approx(b, abs=1e-5)
    # shrinkage moves every mean strictly TOWARD the grand mean
    for g in groups:
        raw, shrunk = got[g]["raw_mean"], got[g]["shrunk_mean"]
        assert abs(shrunk - grand) <= abs(raw - grand) + 1e-6


def test_decision_stump_replay(spark):
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("y")
        )
    )
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.floor(F.col("o_totalprice") / 1000).cast("long").alias("b"),
            "y",
        )
        .collect()
    )
    bands = collections.defaultdict(lambda: [0, 0])
    for r in rows:
        bands[r["b"]][0] += r["y"]
        bands[r["b"]][1] += 1
    p = sum(v[0] for v in bands.values())
    n = sum(v[1] for v in bands.values())
    lp = ln = 0
    best = None
    for b in sorted(bands):
        lp += bands[b][0]
        ln += bands[b][1]
        if ln >= n:
            break
        pl, pr = lp / ln, (p - lp) / (n - ln)
        gw = (ln / n) * 2 * pl * (1 - pl) + ((n - ln) / n) * 2 * pr * (
            1 - pr
        )
        if best is None or gw < best[0] - 1e-15:
            best = (gw, b, lp, ln)
    gw, b, lp, ln = best
    row = registry.QUERIES["a_decision_stump"](spark, SF_SMALL).collect()[0]
    assert row["split_price_usd"] == (b + 1) * 1000
    assert row["n_left"] == ln and row["n_right"] == n - ln
    assert row["weighted_gini"] == pytest.approx(gw, abs=1e-6)
    root = 2 * (p / n) * (1 - p / n)
    assert row["gini_gain"] == pytest.approx(root - gw, abs=1e-6)
    assert row["gini_gain"] >= -1e-9  # a split never worsens weighted Gini


def test_textrank_replay(spark):
    import re as _re

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    tok = {
        r["doc_id"]: [
            (i + 1, w)
            for i, w in enumerate(_re.split(r"\s+", r["text"].lower()))
            if len(w) >= 4
        ]
        for r in docs
    }
    freq = collections.Counter(w for ts in tok.values() for _, w in ts)
    keep = set(
        w
        for w, _ in sorted(freq.items(), key=lambda x: (-x[1], x[0]))[:200]
    )
    pairs = collections.Counter()
    for ts in tok.values():
        # positions are ORIGINAL token indices; window 2 on those
        for ai in range(len(ts)):
            ia, wa = ts[ai]
            for bi in range(ai + 1, len(ts)):
                ib, wb = ts[bi]
                if ib > ia + 2:
                    break
                if wa != wb and wa in keep and wb in keep:
                    pairs[(wa, wb)] += 1
    edges = collections.defaultdict(list)
    wdeg = collections.Counter()
    for (a, b), c in pairs.items():
        edges[a].append((b, c))
        edges[b].append((a, c))
        wdeg[a] += c
        wdeg[b] += c
    s = {w: 1.0 for w in wdeg}
    for _ in range(3):
        nxt = collections.defaultdict(float)
        for v, adj in edges.items():
            for u, c in adj:
                nxt[u] += c * s[v] / wdeg[v]
        s = {w: round(0.15 + 0.85 * x, 9) for w, x in nxt.items()}
    top = sorted(s.items(), key=lambda x: (-round(x[1], 6), x[0]))[:20]
    got = registry.QUERIES["t_textrank_keywords"](spark, SF_SMALL).collect()
    assert [(r["word"], r["score"]) for r in got] == [
        (w, round(v, 6)) for w, v in top
    ]


def test_hotelling_t2_replay(spark):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_discount")
        .collect()
    )
    g = {1: [], 0: []}
    for r in rows:
        g[1 if r["l_returnflag"] == "R" else 0].append(
            (float(r["l_quantity"]), r["l_discount"])
        )
    def mom(v):
        n = len(v)
        mx = sum(x for x, _ in v) / n
        my = sum(y for _, y in v) / n
        sxx = sum((x - mx) ** 2 for x, _ in v) / (n - 1)
        syy = sum((y - my) ** 2 for _, y in v) / (n - 1)
        sxy = sum((x - mx) * (y - my) for x, y in v) / (n - 1)
        return n, mx, my, sxx, syy, sxy
    n1, mx1, my1, sxx1, syy1, sxy1 = mom(g[1])
    n0, mx0, my0, sxx0, syy0, sxy0 = mom(g[0])
    dx, dy = mx1 - mx0, my1 - my0
    den = n1 + n0 - 2
    pxx = ((n1 - 1) * sxx1 + (n0 - 1) * sxx0) / den
    pyy = ((n1 - 1) * syy1 + (n0 - 1) * syy0) / den
    pxy = ((n1 - 1) * sxy1 + (n0 - 1) * sxy0) / den
    det = pxx * pyy - pxy * pxy
    quad = dx * (pyy * dx - pxy * dy) + dy * (pxx * dy - pxy * dx)
    t2 = (n1 * n0 / (n1 + n0)) * quad / det
    row = registry.QUERIES["a_hotelling_t2"](spark, SF_SMALL).collect()[0]
    assert row["n_returned"] == n1 and row["n_kept"] == n0
    assert row["t2"] == pytest.approx(t2, abs=2e-5)
    assert row["differ_flag"] == (1 if t2 > 5.991465 else 0)


def test_confidence_sequence_replay(spark):
    rows = sorted(
        (r["d"], r["n"], r["s"])
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("o_orderpriority") == "1-URGENT", 1
                ).otherwise(0)
            ).alias("s"),
        )
        .collect()
    )
    t = k = 0
    first = None
    for i, (d, n, s) in enumerate(rows, 1):
        t += n
        k += s
        mean = k / t
        width = math.sqrt(math.log(2.0 * i * i * (i + 1) / 0.05) / (2.0 * t))
        if first is None and (mean - width > 0.2 or mean + width < 0.2):
            first = d
    row = registry.QUERIES["a_confidence_sequence"](
        spark, SF_SMALL
    ).collect()[0]
    assert row["n_days"] == len(rows) and row["n_orders"] == t
    assert row["final_mean"] == pytest.approx(k / t, abs=1e-6)
    assert row["final_width"] == pytest.approx(width, abs=1e-6)
    assert row["first_exclude_day"] == first
    assert row["null_rejected"] == (1 if first is not None else 0)
    # anytime-validity direction: widths shrink in t (more data, tighter)
    assert row["final_width"] < 0.1


def test_calinski_harabasz_replay(spark):
    import numpy as np

    rows = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    labs = np.array([r["label"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n, k = len(rows), len(set(labs.tolist()))
    grand = X.mean(axis=0)
    ssb = ssw = 0.0
    for lb in sorted(set(labs.tolist())):
        sub = X[labs == lb]
        c = sub.mean(axis=0)
        ssw += ((sub - c) ** 2).sum()
        ssb += len(sub) * ((c - grand) ** 2).sum()
    ch = (ssb / (k - 1)) / (ssw / (n - k))
    row = registry.QUERIES["v_calinski_harabasz"](spark, SF_SMALL).collect()[
        0
    ]
    assert row["n_vectors"] == n and row["k_clusters"] == k
    assert row["ss_between"] == pytest.approx(ssb, abs=1e-3)  # 4dp snap
    assert row["ss_within"] == pytest.approx(ssw, abs=1e-3)
    assert row["calinski_harabasz"] == pytest.approx(ch, abs=1e-4)


def test_littles_law_identity_and_replay(spark):
    import datetime as dt

    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .join(
            spark.read.parquet(f"{SF_SMALL}/lineitem.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("sd"))
        .collect()
    )
    n = len(rows)
    dur = sum((r["sd"] - r["od"]).days for r in rows)
    d0 = min(r["od"] for r in rows)
    d1 = max(r["sd"] for r in rows)
    s_days = (d1 - d0).days
    row = registry.QUERIES["q_littles_law"](spark, SF_SMALL).collect()[0]
    assert row["n_orders"] == n and row["span_days"] == s_days
    assert row["lambda_per_day"] == pytest.approx(n / s_days, abs=1e-6)
    assert row["w_days"] == pytest.approx(dur / n, abs=1e-6)
    # the finite-horizon identity: sum of open-days == sum of durations,
    # so L/(lambda*W) pins to exactly 1 on a consistent ledger
    assert row["littles_ratio"] == pytest.approx(1.0, abs=1e-6)
    assert row["l_avg_open"] == pytest.approx(dur / s_days, abs=1e-4)
    # peak sanity: between average and total
    assert row["l_avg_open"] <= row["peak_open"] <= n


def test_neyman_allocation_replay(spark):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .join(
            spark.read.parquet(f"{SF_SMALL}/customer.parquet"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            spark.read.parquet(f"{SF_SMALL}/nation.parquet"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "o_totalprice")
        .collect()
    )
    groups = collections.defaultdict(list)
    for r in rows:
        groups[r["n_name"]].append(r["o_totalprice"])
    stats = {}
    for g, v in groups.items():
        n = len(v)
        m = sum(v) / n
        sd = math.sqrt(sum((x - m) ** 2 for x in v) / (n - 1))
        stats[g] = (n, sd)
    big_n = sum(n for n, _ in stats.values())
    nsh = sum(n * sd for n, sd in stats.values())
    prop_core = sum(n * sd * sd for n, sd in stats.values())
    got = {
        r["nation"]: r
        for r in registry.QUERIES["a_neyman_allocation"](
            spark, SF_SMALL
        ).collect()
    }
    assert set(got) == set(stats)
    # Var_prop/Var_neyman at equal n: (ΣN_h S_h²) / ((ΣN_h S_h)²/N)
    deff = prop_core / (nsh * nsh / big_n)
    tot_neyman = 0
    for g, (n, sd) in stats.items():
        row = got[g]
        assert row["stratum_size"] == n
        assert row["stratum_sd"] == pytest.approx(sd, abs=1e-3)
        # SQL round is half-up; Python round is banker's — replay half-up
        assert row["neyman_n"] == math.floor(
            0.01 * big_n * n * sd / nsh + 0.5
        )
        assert row["proportional_n"] == math.floor(0.01 * n + 0.5)
        assert row["alloc_share"] == pytest.approx(n * sd / nsh, abs=1e-6)
        assert row["design_effect_vs_neyman"] == pytest.approx(
            deff, abs=1e-5
        )
        tot_neyman += row["neyman_n"]
    # allocations sum to ~the 1% budget (rounding slack <= #strata/2)
    assert abs(tot_neyman - 0.01 * big_n) <= len(stats)
    # Neyman never loses to proportional: design effect >= 1 by
    # Cauchy-Schwarz
    assert deff >= 1.0 - 1e-9


def test_bartlett_zero_variance_group_null_not_crash(spark):
    """Round-15 lens applied to the round's own keys: a zero-variance
    group makes ln(s2) undefined — DuckDB ERRORS on ln(0), Spark's log
    returns NULL. Both sides now yield a well-defined NULL statistic.
    Driven end-to-end through a temp fixture with one constant-valued
    event type."""
    import os
    import shutil

    tmp = "/tmp/npc_r15_zerovar"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    # force the 'error' type to a constant value; other types untouched
    ev.withColumn(
        "value",
        F.when(F.col("event_type") == "error", F.lit(7.0)).otherwise(
            F.col("value")
        ),
    ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    row = registry.QUERIES["a_bartlett_test"](spark, tmp).collect()[0]
    assert row["bartlett_t"] is None
    assert row["heteroskedastic_flag"] == 0
    # the oracle agrees (no ln(0) error, NULL statistic)
    con = __import__("duckdb").connect()
    con.execute(
        "CREATE VIEW events AS SELECT * "
        f"FROM read_parquet('{tmp}/events.parquet/*.parquet')"
    )
    orow = con.sql(registry.ORACLE["a_bartlett_test"]).fetchall()[0]
    assert orow[2] is None and orow[3] == 0
    shutil.rmtree(tmp, ignore_errors=True)


def test_textrank_reinvocation_reuses_one_cached_edge_frame(spark):
    """The cached co-occurrence edge frame is memoized per
    (app, sf_dir): repeated calls must reuse one cached frame, not
    accumulate orphans (the q_sql_scripting_hist advice pattern)."""
    forget("textrank_edges")
    registry.QUERIES["t_textrank_keywords"](spark, SF_SMALL).collect()
    assert len(memo("textrank_edges")) == 1
    frame1 = next(iter(memo("textrank_edges").values()))
    registry.QUERIES["t_textrank_keywords"](spark, SF_SMALL).collect()
    assert len(memo("textrank_edges")) == 1
    assert next(iter(memo("textrank_edges").values())) is frame1
    assert frame1.storageLevel.useMemory
