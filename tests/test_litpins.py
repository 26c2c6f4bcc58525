"""Literature-value pins for the round-16 statistics (round-16 verdict
item 3): each test drives the REAL registered operator over a micro-
fixture built so the statistic equals a value that comes from OUTSIDE
the repo's formula — a published worked example (Freireich 6-MP,
Fleiss 1971-style table), an exact closed-form identity from public
theory (Cohen's h = pi/6 at p=(1/2,1/4); orthonormal-design ridge
shrinkage 1/(1+lambda); Welch-ANOVA(k=2) = Welch-t^2; Tukey q =
sqrt(2)*t; IPF fixed point on a balanced table; HT certainty units),
or a hand-derivation with exact rational arithmetic shown in the
comment. Unlike the same-formula replay tests, a shared algebra error
in both the Spark plan and its DuckDB oracle fails here (the
a_neyman_allocation lesson, round-15).

The expected numbers are literals or Fraction/math re-derivations whose
structure (naive sorted-list arithmetic) is deliberately different from
the operators' census/window algebra.
"""

import math
from fractions import Fraction

import pyspark.sql.functions as F
import pytest

from npc_recommender_netflix_spark import registry

LSCHEMA = (
    "l_orderkey long, l_quantity double, l_returnflag string,"
    " l_extendedprice double, l_discount double"
)
OSCHEMA = (
    "o_orderkey long, o_custkey long, d string, o_totalprice double,"
    " o_orderpriority string"
)
ESCHEMA = "event_type string, value double, t string"


def _lineitem(spark, tmp, rows):
    spark.createDataFrame(rows, LSCHEMA).write.parquet(
        f"{tmp}/lineitem.parquet"
    )


def _orders(spark, tmp, rows):
    spark.createDataFrame(rows, OSCHEMA).select(
        "o_orderkey",
        "o_custkey",
        F.to_date("d").alias("o_orderdate"),
        "o_totalprice",
        "o_orderpriority",
    ).write.parquet(f"{tmp}/orders.parquet")


def _events(spark, tmp, rows):
    spark.createDataFrame(rows, ESCHEMA).select(
        "event_type",
        "value",
        F.to_timestamp("t").alias("ts"),
    ).write.parquet(f"{tmp}/events.parquet")


def _run(spark, tmp, key):
    return registry.QUERIES[key](spark, str(tmp)).collect()


def _li(ok, qty, flag, price=1.0, disc=0.0):
    return (ok, float(qty), flag, float(price), float(disc))


# ---------------------------------------------------------------------------
# lineitem-backed statistics
# ---------------------------------------------------------------------------


def test_litpin_ansari_bradley(spark, tmp_path):
    """Hand-worked Ansari-Bradley (Ansari & Bradley 1960): pooled N=8
    distinct values score 1,2,3,4,4,3,2,1 from both ends; group R at
    the 4 middle values -> AB = 3+4+4+3 = 14. Null mean n1*S/N =
    4*20/8 = 10; null var n1*n2*(SS - S^2/N)/(N(N-1)) =
    16*(60-50)/56 = 20/7; z = 4/sqrt(20/7) = 2.366432."""
    rows = [_li(i, v, "R") for i, v in enumerate([3, 4, 5, 6])] + [
        _li(10 + i, v, "N") for i, v in enumerate([1, 2, 7, 8])
    ]
    _lineitem(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_ansari_bradley")
    assert (r["n_returned"], r["n_kept"]) == (4, 4)
    assert r["ab_stat"] == pytest.approx(14.0, abs=1e-9)
    assert r["ab_expected"] == pytest.approx(10.0, abs=1e-9)
    assert r["z"] == pytest.approx(4 / math.sqrt(20 / 7), abs=2e-6)
    assert r["scale_differs_flag"] == 1


def test_litpin_brunner_munzel(spark, tmp_path):
    """Hand-worked Brunner-Munzel (2000) on R={1,3}, N={2,4}: pooled
    midranks 1..4; p_hat = P(R<N)+P(R=N)/2 = 3/4; rank-variances
    S1^2 = S2^2 = 1/2, so W = n1*n2*(rbar2-rbar1)/((n1+n2)*
    sqrt(n1*S1^2+n2*S2^2)) = 4*1/(4*sqrt(2)) = 1/sqrt(2)."""
    rows = [_li(1, 1, "R"), _li(2, 3, "R"), _li(3, 2, "N"), _li(4, 4, "N")]
    _lineitem(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_brunner_munzel")
    assert r["p_hat"] == pytest.approx(0.75, abs=1e-9)
    assert r["w_stat"] == pytest.approx(1 / math.sqrt(2), abs=2e-6)
    assert r["stochastic_dominance_flag"] == 0


def test_litpin_cohen_h_is_pi_over_6(spark, tmp_path):
    """Closed form (Cohen 1988): h = 2asin(sqrt(1/2)) - 2asin(sqrt(1/4))
    = pi/2 - pi/3 = pi/6 exactly — a transcendental literal no shared
    SQL algebra error can reproduce by accident."""
    rows = (
        [_li(i, 1, "R", disc=0.05) for i in range(2)]
        + [_li(2 + i, 1, "N", disc=0.05) for i in range(2)]
        + [_li(4, 1, "R", disc=0.0)]
        + [_li(5 + i, 1, "N", disc=0.0) for i in range(3)]
    )
    _lineitem(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_cohen_h")
    assert r["p_discounted"] == pytest.approx(0.5, abs=1e-9)
    assert r["p_full_price"] == pytest.approx(0.25, abs=1e-9)
    assert r["risk_diff"] == pytest.approx(0.25, abs=1e-9)
    assert r["cohen_h"] == pytest.approx(math.pi / 6, abs=2e-6)
    assert r["effect_label"] == "medium"


def test_litpin_conover_squared_ranks(spark, tmp_path):
    """Hand-worked Conover squared-ranks with tie midranks: R={1,5}
    (|dev| 2,2), N={2,8} (|dev| 3,3); pooled midranks 1.5,1.5,3.5,3.5;
    scores rank^2: T = (sum_g S_g^2/n_g - N*wbar^2) /
    ((sum w^2 - N*wbar^2)/(N-1)) = (310.25-210.25)/(100/3) = 3."""
    rows = [_li(1, 1, "R"), _li(2, 5, "R"), _li(3, 2, "N"), _li(4, 8, "N")]
    _lineitem(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_conover_squared_ranks")
    assert (r["n_obs"], r["k_groups"]) == (4, 2)
    assert r["t_stat"] == pytest.approx(3.0, abs=2e-6)
    assert r["var_differs_flag"] == 0


def test_litpin_cronbach_alpha_parallel_items(spark, tmp_path):
    """Published bound attained: for essentially parallel items (equal
    variance, correlation 1) Cronbach's alpha = 1 exactly (Lord &
    Novick 1968, the tau-equivalence condition). Orders j=1..3 built so
    all four derived items equal const_i + j: line count 2,3,4; qty sum
    11,12,13; price k$ 6,7,8; max discount pts 21,22,23."""
    rows = [
        # order 1: 2 lines, qty 5+6, price 3000+3000, disc max 0.21
        _li(1, 5, "N", 3000.0, 0.21),
        _li(1, 6, "N", 3000.0, 0.10),
        # order 2: 3 lines, qty 4+4+4, price 3000+2000+2000, max 0.22
        _li(2, 4, "N", 3000.0, 0.22),
        _li(2, 4, "N", 2000.0, 0.0),
        _li(2, 4, "N", 2000.0, 0.0),
        # order 3: 4 lines, qty 4+3+3+3, price 2000*4, max 0.23
        _li(3, 4, "N", 2000.0, 0.23),
        _li(3, 3, "N", 2000.0, 0.0),
        _li(3, 3, "N", 2000.0, 0.0),
        _li(3, 3, "N", 2000.0, 0.0),
    ]
    _lineitem(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_cronbach_alpha")
    assert r["n_orders"] == 3
    assert r["alpha_raw"] == pytest.approx(1.0, abs=2e-6)
    assert r["mean_inter_item_r"] == pytest.approx(1.0, abs=2e-6)
    assert r["alpha_standardized"] == pytest.approx(1.0, abs=2e-6)


def test_litpin_fleiss_kappa(spark, tmp_path):
    """Hand-worked Fleiss (1971) kappa on a 3-item, 4-rater, 3-category
    table (nr,nn,na) = (4,0,0),(2,2,0),(0,0,4): P_i = (sum n^2 - m)/
    (m(m-1)) gives 1, 1/3, 1; P_bar = 7/9; category shares (1/2,1/6,
    1/3) give P_e = 7/18; kappa = (7/9-7/18)/(1-7/18) = 7/11. A 3-line
    decoy order must be excluded by the m==4 gate."""
    rows = (
        [_li(1, 1, "R") for _ in range(4)]
        + [_li(2, 1, "R"), _li(2, 1, "R"), _li(2, 1, "N"), _li(2, 1, "N")]
        + [_li(3, 1, "A") for _ in range(4)]
        + [_li(9, 1, "R") for _ in range(3)]  # decoy: only 3 raters
    )
    _lineitem(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_fleiss_kappa")
    assert r["n_items"] == 3
    assert r["p_bar"] == pytest.approx(7 / 9, abs=2e-6)
    assert r["p_e"] == pytest.approx(7 / 18, abs=2e-6)
    assert r["fleiss_kappa"] == pytest.approx(7 / 11, abs=2e-6)


def test_litpin_yuen_trimmed_t(spark, tmp_path):
    """Yuen (1974) on R = 1..10 vs N = 11..20 quantities, 20% trim:
    g = 2, h = 6, trimmed means 5.5 / 15.5; winsorized SSD 42.5 each
    side so d = 42.5/(6*5) and t = -10/sqrt(2*d) — re-derived here by
    naive list arithmetic (sort, slice, winsorize), not rank algebra."""

    def yuen_d(xs):
        xs = sorted(xs)
        g = len(xs) // 5
        wins = [xs[g]] * g + xs[g : len(xs) - g] + [xs[-g - 1]] * g
        mw = sum(wins) / len(wins)
        ssd = sum((x - mw) ** 2 for x in wins)
        h = len(xs) - 2 * g
        return ssd / (h * (h - 1))

    rvals, nvals = list(range(1, 11)), list(range(11, 21))
    exp_t = (5.5 - 15.5) / math.sqrt(yuen_d(rvals) + yuen_d(nvals))
    rows = [_li(i, v, "R") for i, v in enumerate(rvals)] + [
        _li(100 + i, v, "N") for i, v in enumerate(nvals)
    ]
    _lineitem(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_yuen_trimmed_t")
    assert (r["h_returned"], r["h_kept"]) == (6, 6)
    assert r["trimmed_mean_r"] == pytest.approx(5.5, abs=1e-9)
    assert r["trimmed_mean_n"] == pytest.approx(15.5, abs=1e-9)
    assert r["yuen_t"] == pytest.approx(exp_t, abs=2e-6)
    assert r["differ_flag"] == 1


def test_litpin_pr_auc(spark, tmp_path):
    """Hand-worked AP and Mann-Whitney AUC: orders scored by $1000
    price band, positives (returned) at bands 3 and 1, negatives at 2
    and 1. Stepwise AP = 1*(1/2) + (2/4)*(1/2) = 3/4; AUC by pairwise
    count (pos>neg: 2, tie: 0.5 of 1) = 2.5/4 = 0.625 — the published
    U-statistic identity, not the cumulative-band algebra."""
    _orders(
        spark,
        tmp_path,
        [
            (1, 1, "2000-01-01", 3500.0, "1-URGENT"),
            (2, 1, "2000-01-01", 2500.0, "1-URGENT"),
            (3, 1, "2000-01-01", 1500.0, "1-URGENT"),
            (4, 1, "2000-01-01", 1200.0, "1-URGENT"),
        ],
    )
    _lineitem(
        spark,
        tmp_path,
        [_li(1, 1, "R"), _li(2, 1, "N"), _li(3, 1, "R"), _li(4, 1, "N")],
    )
    (r,) = _run(spark, tmp_path, "a_pr_auc")
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert r["prevalence"] == pytest.approx(0.5, abs=1e-9)
    assert r["avg_precision"] == pytest.approx(0.75, abs=2e-6)
    assert r["roc_auc"] == pytest.approx(0.625, abs=2e-6)


def test_litpin_ridge_orthonormal_shrinkage(spark, tmp_path):
    """Closed form (Hoerl & Kennard 1970): with exactly uncorrelated
    standardized regressors, beta_j(lambda) = r_jy/(1+lambda) and the
    coefficient-norm shrinkage is 1/(1+lambda) exactly. Fixture: qty
    [1,2,1,2], disc pts [1,1,2,2] (r12 = 0), price pts qty+disc so
    r1y = r2y = 1/sqrt(2)."""
    rows = [
        _li(1, 1, "N", 0.02, 0.01),
        _li(2, 2, "N", 0.03, 0.01),
        _li(3, 1, "N", 0.03, 0.02),
        _li(4, 2, "N", 0.04, 0.02),
    ]
    _lineitem(spark, tmp_path, rows)
    out = {r["lam"]: r for r in _run(spark, tmp_path, "a_ridge_path")}
    assert set(out) == {0.0, 0.1, 1.0}
    r_y = 1 / math.sqrt(2)
    for lam, row in out.items():
        assert row["beta_qty_std"] == pytest.approx(
            r_y / (1 + lam), abs=2e-6
        )
        assert row["beta_disc_std"] == pytest.approx(
            r_y / (1 + lam), abs=2e-6
        )
        assert row["shrinkage"] == pytest.approx(1 / (1 + lam), abs=2e-6)


def test_litpin_somers_d_perfect_association(spark, tmp_path):
    """Published bound attained (Somers 1962; Kendall): strictly
    monotone X,Y with no ties makes every pair concordant, so
    D(Y|X) = D(X|Y) = tau_b = 1 exactly."""
    _orders(
        spark,
        tmp_path,
        [(k, 1, "2000-01-01", 100.0 * k, "1-URGENT") for k in range(1, 5)],
    )
    _lineitem(
        spark,
        tmp_path,
        [_li(k, 1, "N") for k in range(1, 5) for _ in range(k)],
    )
    (r,) = _run(spark, tmp_path, "a_somers_d")
    assert (r["conc"], r["disc"]) == (6, 0)
    assert (r["tied_x"], r["tied_y"]) == (0, 0)
    assert r["somers_d_yx"] == pytest.approx(1.0, abs=1e-9)
    assert r["somers_d_xy"] == pytest.approx(1.0, abs=1e-9)
    assert r["kendall_tau_b"] == pytest.approx(1.0, abs=1e-9)


def test_litpin_tail_dependence_comonotonic(spark, tmp_path):
    """Copula identity (public: Joe 1997): a comonotonic pair has upper
    tail dependence lambda_U = 1 at every quantile — the x- and
    y-exceeder sets coincide exactly, so n_joint == n_cond."""
    _orders(
        spark,
        tmp_path,
        [
            (k, 1, "2000-01-01", 100.0 * k, "1-URGENT")
            for k in range(1, 21)
        ],
    )
    _lineitem(spark, tmp_path, [_li(k, k, "N") for k in range(1, 21)])
    rows = {r["q"]: r for r in _run(spark, tmp_path, "a_tail_dependence")}
    assert set(rows) == {0.90, 0.95, 0.99}
    for q, nx in [(0.90, 2), (0.95, 1), (0.99, 1)]:
        r = rows[q]
        assert r["n_x_exceed"] == nx
        assert r["n_joint"] == r["n_cond"] == nx
        assert r["lambda_u"] == pytest.approx(1.0, abs=1e-9)
        assert r["indep_baseline"] == pytest.approx(nx / 20, abs=1e-9)


# ---------------------------------------------------------------------------
# orders-backed statistics
# ---------------------------------------------------------------------------

# Freireich et al. (1963) 6-MP arm, the canonical Kaplan-Meier worked
# example (Kleinbaum & Klein, Survival Analysis, ch. 1-2): deaths at
# 6,6,6,7,10,13,16,22,23; censored at 6,9,10,11,17,19,20,25,32,32,34,35.
# Published risk table: (t, n, d) = (6,21,3),(7,17,1),(10,15,1),
# (13,12,1),(16,11,1),(22,7,1),(23,6,1).
_FREIREICH_DEATHS = [6, 6, 6, 7, 10, 13, 16, 22, 23]
_FREIREICH_CENSOR = [6, 9, 10, 11, 17, 19, 20, 25, 32, 32, 34, 35]
_FREIREICH_RISK = [
    (6, 21, 3),
    (7, 17, 1),
    (10, 15, 1),
    (13, 12, 1),
    (16, 11, 1),
    (22, 7, 1),
    (23, 6, 1),
]


def _freireich_orders(spark, tmp):
    """Customer lifetimes = the 6-MP data. Deaths start day 0 (last
    order ends >90 days before tmax -> churned); censored start day 420
    (within 90 days of tmax); an anchor customer pins tmax = day 500
    and enters/leaves risk at t=0, before the first death."""
    import datetime

    base = datetime.date(2000, 1, 1)

    def day(n):
        return str(base + datetime.timedelta(days=n))

    rows, cust = [], 0
    for t in _FREIREICH_DEATHS:
        cust += 1
        rows += [
            (100 * cust, cust, day(0), 10.0, "1-URGENT"),
            (100 * cust + 1, cust, day(t), 10.0, "1-URGENT"),
        ]
    for t in _FREIREICH_CENSOR:
        cust += 1
        rows += [
            (100 * cust, cust, day(420), 10.0, "1-URGENT"),
            (100 * cust + 1, cust, day(420 + t), 10.0, "1-URGENT"),
        ]
    cust += 1
    rows.append((100 * cust, cust, day(500), 10.0, "1-URGENT"))
    _orders(spark, tmp, rows)
    return cust  # total customers incl. anchor


def _freireich_km():
    """Exact KM S(t) and Greenwood variance from the PUBLISHED risk
    table, as Fractions."""
    s, gw, out = Fraction(1), Fraction(0), {}
    for t, n, d in _FREIREICH_RISK:
        s *= Fraction(n - d, n)
        gw += Fraction(d, n * (n - d))
        out[t] = (s, gw)
    return out


def test_litpin_greenwood_ci_freireich(spark, tmp_path):
    _freireich_orders(spark, tmp_path)
    rows = {r["day"]: r for r in _run(spark, tmp_path, "a_greenwood_ci")}
    assert set(rows) == {t for t, _, _ in _FREIREICH_RISK}
    km = _freireich_km()
    for t, n, _d in _FREIREICH_RISK:
        r = rows[t]
        s, gw = km[t]
        assert r["n_at_risk"] == n
        assert r["survival"] == pytest.approx(float(s), abs=2e-6)
        assert r["se"] == pytest.approx(
            float(s) * math.sqrt(float(gw)), abs=2e-6
        )
    # the published headline values, as literals
    assert rows[6]["survival"] == pytest.approx(0.857143, abs=1e-6)
    assert rows[23]["survival"] == pytest.approx(0.448179, abs=1e-6)
    assert rows[6]["se"] == pytest.approx(0.07636, abs=1e-5)


def test_litpin_nelson_aalen_freireich(spark, tmp_path):
    _freireich_orders(spark, tmp_path)
    rows = {r["day"]: r for r in _run(spark, tmp_path, "a_nelson_aalen")}
    assert set(rows) == {t for t, _, _ in _FREIREICH_RISK}
    h = Fraction(0)
    for t, n, d in _FREIREICH_RISK:
        h += Fraction(d, n)
        r = rows[t]
        assert (r["n_at_risk"], r["n_churned"]) == (n, d)
        assert r["cum_hazard"] == pytest.approx(float(h), abs=2e-6)
        assert r["breslow_survival"] == pytest.approx(
            math.exp(-float(h)), abs=2e-6
        )
        # published identity: S_KM <= exp(-H) everywhere
        assert r["km_survival"] <= r["breslow_survival"] + 1e-9
    assert rows[6]["cum_hazard"] == pytest.approx(1 / 7, abs=1e-6)
    assert rows[23]["cum_hazard"] == pytest.approx(0.752114, abs=1e-6)


def test_litpin_survival_rmst_freireich(spark, tmp_path):
    n_cust = _freireich_orders(spark, tmp_path)
    km = _freireich_km()
    # RMST(365) = integral of the step KM curve from the published table
    area, prev_t, prev_s = Fraction(0), 0, Fraction(1)
    for t, _, _ in _FREIREICH_RISK:
        area += prev_s * (t - prev_t)
        prev_t, prev_s = t, km[t][0]
    area += prev_s * (365 - prev_t)
    naive = Fraction(
        sum(_FREIREICH_DEATHS) + sum(_FREIREICH_CENSOR), n_cust
    )
    (r,) = _run(spark, tmp_path, "a_survival_rmst")
    assert (r["n_events"], r["n_customers"]) == (7, n_cust)
    assert r["s_at_tau"] == pytest.approx(float(km[23][0]), abs=2e-6)
    assert r["rmst_days"] == pytest.approx(float(area), abs=2e-5)
    assert r["naive_mean_days"] == pytest.approx(float(naive), abs=2e-6)


def test_litpin_horvitz_thompson_certainty_unit(spark, tmp_path):
    """Published HT property (Horvitz & Thompson 1952): a unit with
    inclusion probability pi = 1 contributes y/1 with ZERO variance.
    One $1M order dominates 20 one-cent orders: its pi clamps to 1,
    the tiny pis (~1e-8) never draw, so the estimate is exactly the
    giant's value with se = 0 and an undefined z."""
    import hashlib

    # precondition: none of the 20 tiny orders can enter the sample
    for k in range(1, 21):
        u = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) / 2**32
        assert u > 0.05 * 21 * 1 / (100_000_000 + 20)
    _orders(
        spark,
        tmp_path,
        [(k, 1, "2000-01-01", 0.01, "1-URGENT") for k in range(1, 21)]
        + [(21, 1, "2000-01-01", 1_000_000.0, "1-URGENT")],
    )
    (r,) = _run(spark, tmp_path, "a_horvitz_thompson")
    assert (r["n_pop"], r["n_sample"]) == (21, 1)
    assert r["true_total_usd"] == pytest.approx(1_000_000.20, abs=1e-6)
    assert r["ht_total_usd"] == pytest.approx(1_000_000.0, abs=1e-6)
    assert r["se_usd"] == 0.0
    assert r["z_error"] is None


def test_litpin_kendall_w(spark, tmp_path):
    """Hand-worked Kendall W (Kendall & Babington Smith 1939): 3 judges
    rank 3 weekdays; two agree (A>B>C), one swaps (B>A>C). Rank sums
    4,5,9 -> S = 14, W = 12*14/(9*(27-3)) = 7/9, chi2 = m(n-1)W = 14/3."""
    cells = {
        ("1-URGENT", "2024-01-01"): 3.0,
        ("1-URGENT", "2024-01-02"): 2.0,
        ("1-URGENT", "2024-01-03"): 1.0,
        ("2-HIGH", "2024-01-01"): 3.0,
        ("2-HIGH", "2024-01-02"): 2.0,
        ("2-HIGH", "2024-01-03"): 1.0,
        ("3-MEDIUM", "2024-01-01"): 2.0,
        ("3-MEDIUM", "2024-01-02"): 3.0,
        ("3-MEDIUM", "2024-01-03"): 1.0,
    }
    _orders(
        spark,
        tmp_path,
        [
            (i, 1, d, p, pri)
            for i, ((pri, d), p) in enumerate(sorted(cells.items()))
        ],
    )
    (r,) = _run(spark, tmp_path, "a_kendall_w")
    assert (r["m_judges"], r["n_objects"]) == (3, 3)
    assert r["kendall_w"] == pytest.approx(7 / 9, abs=2e-6)
    assert r["chi2"] == pytest.approx(14 / 3, abs=2e-6)
    assert r["concordant_flag"] == 0


def _two_nation_fixture(spark, tmp, orders_by_nation):
    spark.createDataFrame(
        [(i, f"NATION{i}", 0) for i in range(len(orders_by_nation))],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(f"{tmp}/nation.parquet")
    spark.createDataFrame(
        [(i + 1, i) for i in range(len(orders_by_nation))],
        "c_custkey long, c_nationkey int",
    ).write.parquet(f"{tmp}/customer.parquet")
    rows, ok = [], 0
    for i, prices in enumerate(orders_by_nation):
        for p in prices:
            ok += 1
            rows.append((ok, i + 1, "2000-01-01", float(p), "1-URGENT"))
    _orders(spark, tmp, rows)


def test_litpin_meta_fixed_effect(spark, tmp_path):
    """Hand-worked inverse-variance pooling (fixed-effect model;
    Cochran's Q; Higgins I^2): studies (n=2, mean 10, s2=2) and
    (n=2, mean 20, s2=8) -> weights 1 and 1/4, pooled = 12, Q = 20,
    I^2 = 19/20, CI halfwidth = 1.959964/sqrt(5/4)."""
    _two_nation_fixture(spark, tmp_path, [[9.0, 11.0], [18.0, 22.0]])
    (r,) = _run(spark, tmp_path, "a_meta_fixed_effect")
    assert (r["k_studies"], r["n_obs"]) == (2, 4)
    assert r["pooled_mean"] == pytest.approx(12.0, abs=1e-9)
    assert r["cochran_q_het"] == pytest.approx(20.0, abs=2e-4)
    assert r["i_squared"] == pytest.approx(0.95, abs=2e-6)
    assert r["ci_halfwidth"] == pytest.approx(
        1.959964 / math.sqrt(1.25), abs=2e-4
    )


def test_litpin_neyman_allocation(spark, tmp_path):
    """Hand-worked Neyman allocation (Neyman 1934; Cochran 1977 ch.5):
    strata (N=3, S=10) and (N=3, S=40) -> shares N_h S_h / sum = 0.2
    and 0.8; design effect of proportional vs Neyman = (sum W_h S_h^2)
    / (sum W_h S_h)^2 = 850/625 = 1.36 — the exact ratio the round-15
    advice fix was about."""
    _two_nation_fixture(
        spark, tmp_path, [[90.0, 100.0, 110.0], [160.0, 200.0, 240.0]]
    )
    rows = {r["nation"]: r for r in _run(spark, tmp_path, "a_neyman_allocation")}
    assert rows["NATION0"]["stratum_sd"] == pytest.approx(10.0, abs=1e-9)
    assert rows["NATION1"]["stratum_sd"] == pytest.approx(40.0, abs=1e-9)
    assert rows["NATION0"]["alloc_share"] == pytest.approx(0.2, abs=2e-6)
    assert rows["NATION1"]["alloc_share"] == pytest.approx(0.8, abs=2e-6)
    for r in rows.values():
        assert r["design_effect_vs_neyman"] == pytest.approx(1.36, abs=2e-6)


def test_litpin_page_trend(spark, tmp_path):
    """Hand-worked Page (1963) L: 2 blocks, 5 ordered treatments in
    perfect agreement with the hypothesized order -> R_j = 2j,
    L = sum j*2j = 110, E[L] = b*k(k+1)^2/4 = 90, z = (12L - 3bk(k+1)^2)
    / (k(k+1)sqrt(b(k-1))) = 240/(30*sqrt(8)) = 2*sqrt(2)."""
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rows = []
    for b, d in enumerate(["2024-01-01", "2024-01-02"]):
        for j, pri in enumerate(pris, start=1):
            rows.append((10 * b + j, 1, d, float(j), pri))
    _orders(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_page_trend")
    assert (r["k_treatments"], r["n_blocks"]) == (5, 2)
    assert r["page_l"] == 110
    assert r["l_expected"] == pytest.approx(90.0, abs=1e-9)
    assert r["z"] == pytest.approx(2 * math.sqrt(2), abs=2e-6)
    assert r["trend_flag"] == 1


def test_litpin_quade_test(spark, tmp_path):
    """Hand-worked Quade (1979; Conover 1999 ch.5.8): 2 blocks, 5
    treatments, identical orderings; block ranges 40 vs 800 cents give
    Q = 1, 2. S_j = 3(2j-6) -> B = sum S_j^2 / b = 180, A = 200,
    F = (b-1)B/(A-B) = 180/20 = 9."""
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rows = []
    for j, pri in enumerate(pris, start=1):
        rows.append((j, 1, "2024-01-01", j * 0.10, pri))
        rows.append((10 + j, 1, "2024-01-02", j * 2.0 - 1.0, pri))
    _orders(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_quade_test")
    assert (r["k_treatments"], r["n_blocks"]) == (5, 2)
    assert r["quade_f"] == pytest.approx(9.0, abs=2e-6)
    assert r["differ_flag"] == 1


def test_litpin_pettitt_step_change(spark, tmp_path):
    """Hand-worked Pettitt (1979): 10 days, revenue 10 then 20 from day
    6. Classic U_t = sum_i<=t sum_j>t sgn(x_j - x_i) peaks at t=5 with
    K = 25; p ~= 2exp(-6K^2/(n^3+n^2)) — both from the published
    definitions, not the doubled-midrank algebra."""
    import datetime

    base = datetime.date(2000, 1, 1)
    rows = [
        (
            d,
            1,
            str(base + datetime.timedelta(days=d)),
            10.0 if d < 5 else 20.0,
            "1-URGENT",
        )
        for d in range(10)
    ]
    _orders(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_pettitt")
    assert r["n_days"] == 10
    assert r["k_stat"] == 25
    assert str(r["break_day"]) == "2000-01-05"
    assert r["p_approx"] == pytest.approx(
        2 * math.exp(-6 * 25 * 25 / (1000 + 100)), abs=2e-6
    )


def _sorted_median_slope(ys):
    """Median of all pairwise slopes by a plain sorted list."""
    s = sorted(
        (ys[j] - ys[i]) / (j - i)
        for i in range(len(ys))
        for j in range(i + 1, len(ys))
    )
    if not s:
        return None
    k = len(s) // 2
    return s[k] if len(s) % 2 else (s[k - 1] + s[k]) / 2


@pytest.mark.parametrize(
    "ys, expected",
    [
        # slopes -1, 0.5, 1, 2, 2, 2: the 2 is tied three ways and the
        # median blends the 3rd and 4th, (1 + 2) / 2
        ([10.0, 12.0, 14.0, 13.0], 1.5),
        # slopes -25, 2.5, 30: the middle one
        ([10.0, 40.0, 15.0], 2.5),
        # one pair
        ([5.0, 8.0], 3.0),
        # no pair: the median of an empty slope set is NULL
        ([7.0], None),
    ],
    ids=["4-day", "3-day", "2-day", "1-day"],
)
def test_litpin_theil_sen(spark, tmp_path, ys, expected):
    """Hand-worked Theil-Sen (Sen 1968): the median of the
    n(n-1)/2 pairwise slopes of one order per day, in dollars/day."""
    import datetime

    base = datetime.date(2000, 1, 1)
    rows = [
        (t, 1, str(base + datetime.timedelta(days=t)), y, "1-URGENT")
        for t, y in enumerate(ys)
    ]
    _orders(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_theil_sen")
    assert _sorted_median_slope(ys) == expected
    assert r["n_pairs"] == len(ys) * (len(ys) - 1) // 2
    if expected is None:
        assert r["slope_usd_per_day"] is None
    else:
        assert r["slope_usd_per_day"] == pytest.approx(expected, abs=2e-6)


def test_litpin_newey_west_exact_fit(spark, tmp_path):
    """Sandwich-estimator identity: an exactly linear daily revenue
    series has zero residuals, so HC0 and HAC standard errors are both
    exactly 0 (White 1980 / Newey & West 1987 — the meat matrix is a
    sum of u_t terms) and their ratio is undefined."""
    import datetime

    base = datetime.date(2000, 1, 1)
    rows = [
        (
            t,
            1,
            str(base + datetime.timedelta(days=t)),
            100.0 + 10.0 * t,
            "1-URGENT",
        )
        for t in range(10)
    ]
    _orders(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_newey_west")
    assert r["n_days"] == 10
    assert r["se_nw"] == 0.0
    assert r["se_white"] == 0.0
    assert r["nw_inflation"] is None


def test_litpin_bass_diffusion(spark, tmp_path):
    """Bass (1969) coefficients re-derived by exact interpolation:
    3 adoption days (y = 5, 9, 12; x = 0, 5, 14) determine the
    quadratic uniquely (a=5, b=29/30, c=-1/30), so OLS must reproduce
    it; m, p, q and the published peak-time formula ln(q/p)/(p+q)
    follow with plain math here — no normal-equation algebra."""
    import datetime

    base = datetime.date(2000, 1, 1)
    rows, ok = [], 0
    for d, n_new in enumerate([5, 9, 12]):
        for _ in range(n_new):
            ok += 1
            rows.append(
                (
                    ok,
                    ok,
                    str(base + datetime.timedelta(days=d)),
                    10.0,
                    "1-URGENT",
                )
            )
    _orders(spark, tmp_path, rows)
    a, b, c = 5.0, 29 / 30, -1 / 30
    disc = b * b - 4 * a * c
    m_ = (-b - math.sqrt(disc)) / (2 * c)
    p, q = a / m_, b + a / m_
    (r,) = _run(spark, tmp_path, "a_bass_diffusion")
    assert r["n_days"] == 3
    assert r["coef_a"] == pytest.approx(a, abs=2e-5)
    assert r["coef_b"] == pytest.approx(b, abs=2e-5)
    assert r["coef_c"] == pytest.approx(c, abs=2e-6)
    assert r["market_size_m"] == pytest.approx(m_, abs=2e-2)
    assert r["p_innovation"] == pytest.approx(p, abs=2e-5)
    assert r["q_imitation"] == pytest.approx(q, abs=2e-5)
    assert r["peak_day_t"] == pytest.approx(
        math.log(q / p) / (p + q), abs=2e-2
    )


def test_litpin_raking_ipf_fixed_point(spark, tmp_path):
    """Deming-Stephan (1940) fixed point: a table whose margins already
    match the uniform targets is left EXACTLY unchanged by IPF —
    weights 1.0, fitted == observed."""
    rows, ok = [], 0
    for pri in ["1-URGENT", "2-HIGH"]:
        for d in ["1995-01-01", "1995-01-02"]:
            for _ in range(2):
                ok += 1
                rows.append((ok, 1, d, 10.0, pri))
    _orders(spark, tmp_path, rows)
    out = _run(spark, tmp_path, "a_raking_ipf")
    assert len(out) == 4
    for r in out:
        assert r["n_obs"] == 2
        assert r["fitted"] == pytest.approx(2.0, abs=1e-9)
        assert r["weight"] == pytest.approx(1.0, abs=1e-9)


def test_litpin_raking_ipf_margin_match(spark, tmp_path):
    """IPF convergence property (Deming & Stephan 1940): the LAST
    scaling step makes the dow margins hit the target t/n_dow exactly;
    the pri margins converge toward t/n_pri."""
    counts = {("1-URGENT", "1995-01-01"): 1, ("1-URGENT", "1995-01-02"): 3,
              ("2-HIGH", "1995-01-01"): 3, ("2-HIGH", "1995-01-02"): 1}
    rows, ok = [], 0
    for (pri, d), n in counts.items():
        for _ in range(n):
            ok += 1
            rows.append((ok, 1, d, 10.0, pri))
    _orders(spark, tmp_path, rows)
    out = _run(spark, tmp_path, "a_raking_ipf")
    dow_margin, pri_margin = {}, {}
    for r in out:
        dow_margin[r["dow"]] = dow_margin.get(r["dow"], 0) + r["fitted"]
        pri_margin[r["pri"]] = pri_margin.get(r["pri"], 0) + r["fitted"]
    for v in dow_margin.values():
        assert v == pytest.approx(4.0, abs=1e-5)
    for v in pri_margin.values():
        assert v == pytest.approx(4.0, abs=0.05)


def test_litpin_pinball_perfect_forecast(spark, tmp_path):
    """Proper-scoring identity (Koenker & Bassett 1978): pinball loss
    of a forecast that equals the realized value is exactly 0 at every
    tau. Constant daily revenue makes every trained quantile equal the
    holdout value."""
    import datetime

    base = datetime.date(1995, 1, 1)
    rows = [
        (
            t,
            1,
            str(base + datetime.timedelta(days=t)),
            100.0,
            "1-URGENT",
        )
        for t in range(56)
    ]
    _orders(spark, tmp_path, rows)
    out = _run(spark, tmp_path, "a_pinball_eval")
    assert len(out) == 6
    assert {r["model"] for r in out} == {"dow_quantile", "global_quantile"}
    for r in out:
        assert r["n_days"] == 28
        assert r["avg_pinball"] == pytest.approx(0.0, abs=1e-9)


# ---------------------------------------------------------------------------
# events-backed statistics + damped Holt
# ---------------------------------------------------------------------------


def test_litpin_mood_median(spark, tmp_path):
    """Hand-worked Mood's median test (Mood 1950): groups A = {1..4},
    B = {5..8} cents; grand lower median 4; above-median counts 0 and 4
    against expectation 2 each -> chi2 = 4*(2^2/2) = 8 exactly."""
    rows = [("A", c / 100.0, "2024-01-01 00:00:00") for c in [1, 2, 3, 4]] + [
        ("B", c / 100.0, "2024-01-01 00:00:00") for c in [5, 6, 7, 8]
    ]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_mood_median")
    assert (r["n_obs"], r["k_groups"]) == (8, 2)
    assert r["grand_median_cents"] == 4
    assert r["chi2"] == pytest.approx(8.0, abs=2e-6)
    assert r["differ_flag"] == 0


def test_litpin_sign_test(spark, tmp_path):
    """Sign test normal approximation (Dixon & Mood 1946): 9 untied
    days with 8 positive -> z = (2*8-9)/sqrt(9) = 7/3; a tied 10th day
    must be dropped from n."""
    rows = []
    for d in range(1, 9):  # purchase > click
        rows.append(("purchase", 0.02, f"2024-01-{d:02d} 00:00:00"))
        rows.append(("click", 0.01, f"2024-01-{d:02d} 00:00:00"))
    rows.append(("purchase", 0.01, "2024-01-09 00:00:00"))
    rows.append(("click", 0.02, "2024-01-09 00:00:00"))
    rows.append(("purchase", 0.01, "2024-01-10 00:00:00"))  # tie
    rows.append(("click", 0.01, "2024-01-10 00:00:00"))
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_sign_test")
    assert (r["n_pairs"], r["n_pos"], r["n_neg"]) == (9, 8, 1)
    assert r["z"] == pytest.approx(7 / 3, abs=2e-6)
    assert r["differ_flag"] == 1


def test_litpin_robust_location(spark, tmp_path):
    """Hand-worked 10%-trim/winsorize battery (Tukey; Huber 1981) on
    {1..9, 100} cents: mean 14.5, 10%-trimmed mean 44/8 = 5.5,
    winsorized mean (44+2+9)/10 = 5.5, lower median 5 — the outlier
    moves ONLY the mean, the robust trio agree."""
    rows = [("A", c / 100.0, "2024-01-01 00:00:00") for c in range(1, 10)]
    rows.append(("A", 1.00, "2024-01-01 00:00:00"))
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_robust_location")
    assert (r["n_obs"], r["k_trimmed_each_side"]) == (10, 1)
    assert r["mean_cents"] == pytest.approx(14.5, abs=1e-9)
    assert r["trimmed_mean_cents"] == pytest.approx(5.5, abs=1e-9)
    assert r["winsorized_mean_cents"] == pytest.approx(5.5, abs=1e-9)
    assert r["median_cents"] == 5


def test_litpin_seasonal_mann_kendall(spark, tmp_path):
    """Hand-worked Hirsch & Slack (1984): Mondays x = 1,2,3 (S = +3),
    Tuesdays x = 5,4,6 (S = +1) -> S = 4; Var = 2 * 3*2*11/18 = 22/3;
    z = (S-1)/sqrt(Var) = 3/sqrt(22/3)."""
    rows = [
        ("A", 0.01, "2024-01-01 00:00:00"),
        ("A", 0.02, "2024-01-08 00:00:00"),
        ("A", 0.03, "2024-01-15 00:00:00"),
        ("A", 0.05, "2024-01-02 00:00:00"),
        ("A", 0.04, "2024-01-09 00:00:00"),
        ("A", 0.06, "2024-01-16 00:00:00"),
    ]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_seasonal_mann_kendall")
    assert (r["s_stat"], r["n_days"], r["n_seasons"]) == (4, 6, 2)
    assert r["var_s"] == pytest.approx(22 / 3, abs=2e-6)
    assert r["z"] == pytest.approx(3 / math.sqrt(22 / 3), abs=2e-6)
    assert r["trend_direction"] == 0


def test_litpin_tukey_hsd_equals_root2_t(spark, tmp_path):
    """Published identity (Tukey 1953; q = sqrt(2)*|t| for k = 2): two
    groups A = {1,2,3}, B = {4,5,6} cents give pooled t = -3/sqrt(2/3),
    so q must equal sqrt(2)*|t| = 3/sqrt(1/3) — computed here through
    the t-statistic path, not the studentized-range algebra."""
    rows = [("A", c / 100.0, "2024-01-01 00:00:00") for c in [1, 2, 3]] + [
        ("B", c / 100.0, "2024-01-01 00:00:00") for c in [4, 5, 6]
    ]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_tukey_hsd")
    assert (r["type_a"], r["type_b"]) == ("A", "B")
    t_pooled = (2 - 5) / math.sqrt(1.0 * (1 / 3 + 1 / 3))
    assert r["q_stat"] == pytest.approx(math.sqrt(2) * abs(t_pooled), abs=2e-6)
    assert r["mean_diff_usd"] == pytest.approx(-0.03, abs=1e-9)
    assert r["differ_flag"] == 1


def test_litpin_welch_anova_equals_welch_t_squared(spark, tmp_path):
    """Published identity (Welch 1951): for k = 2 the Welch ANOVA F*
    equals the Welch t-statistic squared, t = (m1-m2)/sqrt(s1^2/n1 +
    s2^2/n2) — an algebraically different path (no precision weights)."""
    rows = [("A", c / 100.0, "2024-01-01 00:00:00") for c in [1, 2, 3]] + [
        ("B", c / 100.0, "2024-01-01 00:00:00") for c in [10, 20, 30]
    ]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_welch_anova")
    assert (r["n_groups"], r["n_rows"]) == (2, 6)
    t = (2 - 20) / math.sqrt(1 / 3 + 100 / 3)
    assert r["welch_f"] == pytest.approx(t * t, abs=2e-6)
    assert r["differ_flag"] == 1


def test_litpin_by_fdr_dunn_z(spark, tmp_path):
    """Hand-worked Dunn (1964) pairwise z on 2 types x 2 days with no
    ties: mean ranks 1.5 vs 3.5, z = -2/sqrt((N(N+1)/12)*(1/2+1/2)) =
    -2/sqrt(5/3); below both the BH (2.807) and BY (3.137) r=1 rungs,
    and BY-significant must be a subset of BH-significant (Benjamini &
    Yekutieli 2001: the c(m) penalty only removes discoveries)."""
    rows = [
        ("A", 0.01, "2024-01-01 00:00:00"),
        ("A", 0.02, "2024-01-02 00:00:00"),
        ("B", 0.03, "2024-01-01 00:00:00"),
        ("B", 0.04, "2024-01-02 00:00:00"),
    ]
    _events(spark, tmp_path, rows)
    out = _run(spark, tmp_path, "a_by_fdr_pairs")
    assert len(out) == 1
    (r,) = out
    assert (r["type_a"], r["type_b"], r["rank_"]) == ("A", "B", 1)
    assert r["z"] == pytest.approx(-2 / math.sqrt(5 / 3), abs=2e-6)
    assert (r["bh_significant"], r["by_significant"]) == (0, 0)
    assert r["by_significant"] <= r["bh_significant"]


def test_litpin_holt_damped_constant_series(spark, tmp_path):
    """Damped-trend fixed point (Gardner & McKenzie 1985): a constant
    series initializes b = 0 and stays at level c forever — every
    one-step forecast, the level, and the phi-damped horizon asymptote
    all equal c, the trend stays 0."""
    rows = [
        ("purchase", 1.00, f"2024-01-{d:02d} 00:00:00") for d in range(1, 6)
    ]
    _events(spark, tmp_path, rows)
    out = _run(spark, tmp_path, "w_holt_damped")
    assert len(out) == 5
    assert out[0]["forecast_usd"] is None
    for i, r in enumerate(out):
        assert r["actual_usd"] == pytest.approx(1.0, abs=1e-9)
        assert r["level_usd"] == pytest.approx(1.0, abs=1e-9)
        assert r["trend_usd"] == pytest.approx(0.0, abs=1e-9)
        assert r["horizon_asymptote_usd"] == pytest.approx(1.0, abs=1e-9)
        if i > 0:
            assert r["forecast_usd"] == pytest.approx(1.0, abs=1e-9)


# ---------------------------------------------------------------------------
# round-17 additions (pinned at birth)
# ---------------------------------------------------------------------------


def _documents(spark, tmp, rows):
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).write.parquet(f"{tmp}/documents.parquet")


def test_litpin_cuzick_trend(spark, tmp_path):
    """Hand-worked Cuzick (1985): scores l = 1 at values {1,2}, l = 2 at
    {3,4} dollars; T = 1*(1+2) + 2*(3+4) = 17, E = 1.5*10 = 15,
    Var = sum(l-lbar)^2 * sum(R-Rbar)^2/(N-1) = 1 * 5/3, z = 2/sqrt(5/3)
    — the same permutation-variance ladder as Lehmann's linear rank
    statistics, re-derived on plain ranks (not the doubled algebra)."""
    _orders(
        spark,
        tmp_path,
        [
            (1, 1, "2000-01-01", 1.0, "1-URGENT"),
            (2, 1, "2000-01-01", 2.0, "1-URGENT"),
            (3, 1, "2000-01-01", 3.0, "2-HIGH"),
            (4, 1, "2000-01-01", 4.0, "2-HIGH"),
        ],
    )
    (r,) = _run(spark, tmp_path, "a_cuzick_trend")
    assert r["n_obs"] == 4
    assert r["t2_stat"] == 34  # doubled-midrank units: 2*17
    assert r["t2_expected"] == 30  # 2*15
    assert r["z"] == pytest.approx(2 / math.sqrt(5 / 3), abs=2e-6)
    assert r["trend_flag"] == 0


def test_litpin_hodges_lehmann(spark, tmp_path):
    """Hodges & Lehmann (1963) worked by enumeration: R = {1,2,3},
    N = {2,4,6} -> the 9 pairwise differences sorted are
    -1,0,1,1,2,3,3,4,5 with median 2; the mean shift agrees (4-2=2)
    on this symmetric micro-case."""
    rows = [_li(i, v, "R") for i, v in enumerate([1, 2, 3])] + [
        _li(10 + i, v, "N") for i, v in enumerate([2, 4, 6])
    ]
    _lineitem(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_hodges_lehmann")
    assert (r["n_returned"], r["n_kept"]) == (3, 3)
    assert r["hl_shift"] == 2
    assert r["mean_shift"] == pytest.approx(2.0, abs=1e-9)


def test_litpin_mantel_haenszel(spark, tmp_path):
    """Hand-worked Mantel & Haenszel (1959): strata (a,b,c,d) =
    (2,1,1,2) and (3,1,1,3): OR_MH = (2*2/6 + 3*3/8)/(1*1/6 + 1*1/8)
    = (43/24)/(7/24) = 43/7; CMH chi2 = (5 - 3.5)^2 / (81/180 + 4/7)."""
    _orders(
        spark,
        tmp_path,
        [
            (1, 1, "2000-01-01", 10.0, "1-URGENT"),
            (2, 1, "2000-01-01", 10.0, "2-HIGH"),
        ],
    )
    s1 = (
        [_li(1, 1, "R", disc=0.05) for _ in range(2)]
        + [_li(1, 1, "N", disc=0.05)]
        + [_li(1, 1, "R", disc=0.0)]
        + [_li(1, 1, "N", disc=0.0) for _ in range(2)]
    )
    s2 = (
        [_li(2, 1, "R", disc=0.05) for _ in range(3)]
        + [_li(2, 1, "N", disc=0.05)]
        + [_li(2, 1, "R", disc=0.0)]
        + [_li(2, 1, "N", disc=0.0) for _ in range(3)]
    )
    _lineitem(spark, tmp_path, s1 + s2)
    (r,) = _run(spark, tmp_path, "a_mantel_haenszel")
    assert (r["k_strata"], r["n_lines"]) == (2, 14)
    assert r["or_mh"] == pytest.approx(43 / 7, abs=2e-6)
    assert r["chi2_mh"] == pytest.approx(
        1.5 * 1.5 / (81 / 180 + 4 / 7), abs=2e-6
    )
    assert r["assoc_flag"] == 0


def test_litpin_bland_altman_squares_past_int64(spark, tmp_path):
    """Bland & Altman (1986) limits bias +- 1.96 sd over header-minus-
    lines differences of +$30M, -$30M and $0: bias 0, sample sd
    sqrt((3e7^2 + 3e7^2) / 2) = $3e7, nobody outside the band. In cents
    the squared differences sum to 1.8e19, past 2^63 - 1, so a BIGINT
    sum overflows."""
    _orders(
        spark,
        tmp_path,
        [
            (1, 1, "2000-01-01", 30_000_000.0, "1-URGENT"),
            (2, 1, "2000-01-01", 0.0, "1-URGENT"),
            (3, 1, "2000-01-01", 5.0, "1-URGENT"),
        ],
    )
    spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0), (2, 30_000_000.0, 0.0, 0.0), (3, 5.0, 0.0, 0.0)],
        "l_orderkey long, l_extendedprice double, l_discount double,"
        " l_tax double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    assert 2 * (3 * 10**9) ** 2 > 2**63 - 1
    (r,) = _run(spark, tmp_path, "a_bland_altman")
    assert r["n_orders"] == 3
    assert r["bias_usd"] == 0.0
    assert r["sd_usd"] == pytest.approx(3e7, abs=1e-4)
    assert r["loa_lo_usd"] == pytest.approx(-1.959964 * 3e7, abs=1e-3)
    assert r["loa_hi_usd"] == pytest.approx(1.959964 * 3e7, abs=1e-3)
    assert r["n_outside"] == 0


def test_litpin_kuiper_balanced_lattice_minimum(spark, tmp_path):
    """Discrete-lattice property: equal weekday counts put the
    empirical CDF exactly ON the uniform lattice, so D+ = 0 and
    D- = V = 1/7 — the deterministic minimum for 7-bin circular data
    (the step CDF must overshoot each tread by one bin width)."""
    rows = [
        ("A", 0.01, f"2024-01-{d:02d} 00:00:00") for d in range(1, 8)
    ]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_kuiper_dow")
    assert r["n_events"] == 7
    assert r["d_plus"] == pytest.approx(0.0, abs=1e-9)
    assert r["d_minus"] == pytest.approx(1 / 7, abs=2e-6)
    assert r["v_stat"] == pytest.approx(1 / 7, abs=2e-6)
    assert r["nonuniform_flag"] == 0


def test_litpin_kuiper_rotation_invariance(spark, tmp_path):
    """THE published Kuiper property (Kuiper 1960): V is invariant to
    rotating the circular origin. The same count profile [3,1,1,1,1,1,1]
    placed on Monday vs rotated onto Thursday must give identical V —
    KS's D would differ."""
    base = {1: 3, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1}  # day-offset->count
    vs = []
    for rot, tmp in [(0, tmp_path / "a"), (3, tmp_path / "b")]:
        tmp.mkdir()
        rows = []
        for off, cnt in base.items():
            d = (off - 1 + rot) % 7 + 1  # 2024-01-01..07 covers all dows
            rows += [("A", 0.01, f"2024-01-{d:02d} 00:00:00")] * cnt
        _events(spark, tmp, rows)
        (r,) = _run(spark, tmp, "a_kuiper_dow")
        assert r["n_events"] == 9
        vs.append(r["v_stat"])
    assert vs[0] == pytest.approx(vs[1], abs=1e-9)


def test_litpin_wasserstein_translation(spark, tmp_path):
    """Published translation property: W1(X, X+c) = |c|, with the
    W1 >= |mean gap| bound attained (tightness = 1). Click = purchase
    shifted by exactly $5."""
    rows = [
        ("purchase", v, "2024-01-01 00:00:00") for v in [1.0, 2.0, 3.0]
    ] + [("click", v + 5.0, "2024-01-01 00:00:00") for v in [1.0, 2.0, 3.0]]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_wasserstein_shift")
    assert (r["n_purchase"], r["n_click"]) == (3, 3)
    assert r["w1_cents"] == pytest.approx(500.0, abs=2e-6)
    assert r["mean_gap_cents"] == pytest.approx(500.0, abs=2e-6)
    assert r["tightness"] == pytest.approx(1.0, abs=2e-6)


def test_litpin_hellinger_identical(spark, tmp_path):
    """Metric identity: identical band distributions give BC = 1,
    H = 0, Bhattacharyya distance 0."""
    vals = [1.0, 1.0, 25.0]
    rows = [("purchase", v, "2024-01-01 00:00:00") for v in vals] + [
        ("click", v, "2024-01-01 00:00:00") for v in vals
    ]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_hellinger_bands")
    assert r["bc"] == pytest.approx(1.0, abs=2e-6)
    assert r["hellinger"] == pytest.approx(0.0, abs=2e-3)
    assert r["bhattacharyya_d"] == pytest.approx(0.0, abs=2e-6)


def test_litpin_hellinger_disjoint(spark, tmp_path):
    """Metric identity: disjoint supports give BC = 0, H = 1 (the
    Hellinger maximum), and -ln BC undefined -> NULL by contract."""
    rows = [("purchase", 1.0, "2024-01-01 00:00:00")] + [
        ("click", 50.0, "2024-01-01 00:00:00")
    ]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_hellinger_bands")
    assert r["bc"] == pytest.approx(0.0, abs=1e-9)
    assert r["hellinger"] == pytest.approx(1.0, abs=1e-9)
    assert r["bhattacharyya_d"] is None


def test_litpin_chao1(spark, tmp_path):
    """Hand-worked Chao (1984), bias-corrected: corpus 'a a b c' has
    V = 3, f1 = 2, f2 = 1 -> chao1 = 3 + 2*1/(2*2) = 3.5; coverage
    C = 1 - f1/N = 1/2 (Chao & Lee 1992)."""
    _documents(spark, tmp_path, [(1, "en", "a a b c")])
    (r,) = _run(spark, tmp_path, "t_chao1_vocab")
    assert (r["n_tokens"], r["vocab"], r["f1"], r["f2"]) == (4, 3, 2, 1)
    assert r["chao1"] == pytest.approx(3.5, abs=2e-6)
    assert r["undetected_est"] == pytest.approx(0.5, abs=2e-6)
    assert r["coverage"] == pytest.approx(0.5, abs=2e-6)


def test_litpin_hill_profile_flat_iff_even(spark, tmp_path):
    """Hill (1973) / Jost (2006): for a perfectly even distribution
    every Hill number equals the richness — D0 = D1 = D2 = S — and
    Pielou's J = 1. Four distinct tokens, once each."""
    _documents(spark, tmp_path, [(1, "en", "a b c d")])
    (r,) = _run(spark, tmp_path, "t_hill_diversity")
    assert (r["n_tokens"], r["d0_richness"]) == (4, 4)
    assert r["d1_shannon"] == pytest.approx(4.0, abs=2e-5)
    assert r["d2_simpson"] == pytest.approx(4.0, abs=2e-6)
    assert r["pielou_evenness"] == pytest.approx(1.0, abs=2e-6)


# ---------------------------------------------------------------------------
# earlier-round statistics (rounds 5-15) — same external-truth discipline
# ---------------------------------------------------------------------------


def test_litpin_kruskal_wallis(spark, tmp_path):
    """Hand-worked Kruskal-Wallis (1952): daily sums per type form
    groups {1,2}, {3,4}, {5,6} -> rank sums 3, 7, 11 and
    H = 12/(6*7) * (9/2 + 49/2 + 121/2) - 3*7 = 32/7, no ties."""
    rows = []
    for t, (v1, v2) in [("A", (1, 2)), ("B", (3, 4)), ("C", (5, 6))]:
        rows.append((t, v1 / 100.0, "2024-01-01 00:00:00"))
        rows.append((t, v2 / 100.0, "2024-01-02 00:00:00"))
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_kruskal_wallis")
    assert (r["n_obs"], r["k_groups"]) == (6, 3)
    assert r["h_stat"] == pytest.approx(32 / 7, abs=2e-6)
    assert r["h_corrected"] == pytest.approx(32 / 7, abs=2e-6)
    assert r["differ_flag"] == 0


def test_litpin_jonckheere(spark, tmp_path):
    """Hand-worked Jonckheere-Terpstra (1954): ordered groups {1,2} and
    {3,4} quantities -> JT = 4 (every cross pair ascending), E = (N^2 -
    sum n^2)/4 = 2, Var = (N^2(2N+3) - sum n^2(2n+3))/72 = 5/3."""
    _orders(
        spark,
        tmp_path,
        [
            (1, 1, "2000-01-01", 10.0, "1-URGENT"),
            (2, 1, "2000-01-01", 10.0, "2-HIGH"),
        ],
    )
    _lineitem(
        spark,
        tmp_path,
        [_li(1, 1, "N"), _li(1, 2, "N"), _li(2, 3, "N"), _li(2, 4, "N")],
    )
    (r,) = _run(spark, tmp_path, "a_jonckheere")
    assert r["n_obs"] == 4
    assert r["jt_stat"] == pytest.approx(4.0, abs=1e-9)
    assert r["jt_mean"] == pytest.approx(2.0, abs=1e-9)
    assert r["z"] == pytest.approx(2 / math.sqrt(5 / 3), abs=2e-6)
    assert r["trend_flag"] == 0


def test_litpin_friedman(spark, tmp_path):
    """Hand-worked Friedman (1937): 2 complete blocks, 5 treatments in
    perfect agreement -> rank sums 2j, chi2_F = 12*220/(2*5*6) - 3*2*6
    = 8."""
    rows = []
    for d in ["2024-01-01", "2024-01-02"]:
        for j, t in enumerate(["A", "B", "C", "D", "E"], start=1):
            rows.append((t, j / 100.0, f"{d} 00:00:00"))
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_friedman_test")
    assert (r["n_days"], r["n_treatments"]) == (2, 5)
    assert r["friedman_chi2"] == pytest.approx(8.0, abs=2e-6)
    assert r["differ_flag"] == 0


def test_litpin_anova_f_equals_pooled_t_squared(spark, tmp_path):
    """Published identity: one-way ANOVA with k = 2 has F = t_pooled^2.
    Groups {1,2,3} and {4,5,6} cents: t = -3/sqrt(1*(1/3+1/3)), so
    F must be 13.5 — reached through the t path, not the SS decomposition."""
    rows = [("A", c / 100.0, "2024-01-01 00:00:00") for c in [1, 2, 3]] + [
        ("B", c / 100.0, "2024-01-01 00:00:00") for c in [4, 5, 6]
    ]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_anova_f")
    t = (2 - 5) / math.sqrt(1.0 * (1 / 3 + 1 / 3))
    assert (r["n_groups"], r["n_rows"]) == (2, 6)
    assert r["f_stat"] == pytest.approx(t * t, abs=2e-6)


def test_litpin_ttest_welch(spark, tmp_path):
    """Welch (1947) t and Welch-Satterthwaite df computed directly from
    the raw samples: purchase {1,2,3}, view {10,20,30} cents."""
    rows = [("purchase", c / 100.0, "2024-01-01 00:00:00") for c in [1, 2, 3]]
    rows += [("view", c / 100.0, "2024-01-01 00:00:00") for c in [10, 20, 30]]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_ttest_welch")
    se1, se2 = 1 / 3, 100 / 3
    t = (2 - 20) / math.sqrt(se1 + se2)
    df = (se1 + se2) ** 2 / (se1**2 / 2 + se2**2 / 2)
    assert (r["n1"], r["n2"]) == (3, 3)
    assert r["t_stat"] == pytest.approx(t, abs=2e-6)
    assert r["df_welch"] == pytest.approx(df, abs=2e-6)


def test_litpin_chi2_uniform_balanced(spark, tmp_path):
    """Pearson chi-square identity: observed == expected in every cell
    gives chi2 = 0 exactly. One event on each of 7 consecutive days."""
    rows = [("A", 0.01, f"2024-01-{d:02d} 00:00:00") for d in range(1, 8)]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_chi2_uniform")
    assert (r["n_cells"], r["n_events"]) == (7, 7)
    assert r["chi2"] == pytest.approx(0.0, abs=1e-9)


def test_litpin_entropy_uniform(spark, tmp_path):
    """Shannon identity: a uniform distribution over k types has
    entropy log2(k) exactly — 4 types once each -> 2 bits."""
    spark.createDataFrame(
        [(1, t, 0.01, "2024-01-01 00:00:00") for t in "ABCD"],
        "user_id long, event_type string, value double, t string",
    ).select(
        "user_id", "event_type", "value", F.to_timestamp("t").alias("ts")
    ).write.parquet(f"{tmp_path}/events.parquet")
    (r,) = _run(spark, tmp_path, "a_entropy")
    assert (r["n_events"], r["n_types"]) == (4, 4)
    assert r["entropy_bits"] == pytest.approx(2.0, abs=2e-6)


def test_litpin_mcc_perfect_classifier(spark, tmp_path):
    """Matthews (1975) bound attained: a rule that exactly separates
    the classes has MCC = F1 = balanced accuracy = 1."""
    _orders(
        spark,
        tmp_path,
        [
            (1, 1, "2000-01-01", 100.0, "1-URGENT"),
            (2, 1, "2000-01-01", 100.0, "1-URGENT"),
            (3, 1, "2000-01-01", 100.0, "5-LOW"),
            (4, 1, "2000-01-01", 100.0, "5-LOW"),
        ],
    )
    _lineitem(
        spark,
        tmp_path,
        [_li(1, 1, "R"), _li(2, 1, "R"), _li(3, 1, "N"), _li(4, 1, "N")],
    )
    rows = {r["rule"]: r for r in _run(spark, tmp_path, "a_mcc_confusion")}
    hp = rows["high_priority"]
    assert (hp["tp"], hp["fp"], hp["fn"], hp["tn"]) == (2, 0, 0, 2)
    assert hp["mcc"] == pytest.approx(1.0, abs=1e-9)
    assert hp["f1"] == pytest.approx(1.0, abs=1e-9)
    assert hp["balanced_acc"] == pytest.approx(1.0, abs=1e-9)


def test_litpin_cliffs_delta_bound(spark, tmp_path):
    """Cliff (1993) bound attained: every R above every N gives
    delta = +1, magnitude 'large'."""
    rows = [_li(1, 5, "R"), _li(2, 6, "R"), _li(3, 1, "N"), _li(4, 2, "N")]
    _lineitem(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_cliffs_delta")
    assert (r["n_gt"], r["n_lt"], r["n_tie"]) == (4, 0, 0)
    assert r["cliffs_delta"] == pytest.approx(1.0, abs=1e-9)
    assert r["magnitude"] == "large"


def test_litpin_bartlett_equal_variances(spark, tmp_path):
    """Bartlett (1937) identity: groups with IDENTICAL sample variances
    give T = 0 exactly (the pooled log equals the weighted mean log)."""
    rows = [("A", c / 100.0, "2024-01-01 00:00:00") for c in [1, 3]] + [
        ("B", c / 100.0, "2024-01-01 00:00:00") for c in [2, 4]
    ]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_bartlett_test")
    assert (r["n_obs"], r["k_groups"]) == (4, 2)
    assert r["bartlett_t"] == pytest.approx(0.0, abs=1e-9)
    assert r["heteroskedastic_flag"] == 0


def test_litpin_cochran_q(spark, tmp_path):
    """Hand-worked Cochran (1950) Q: 3 customers with quarter patterns
    (Q1), (Q1,Q2), (Q1,Q2,Q3) -> column totals 3,2,1,0, row totals
    1,2,3: Q = k(k-1)*sum(Cj-Cbar)^2 / (k*sumR - sumR^2) = 60/10 = 6."""
    quarters = {1: "02", 2: "05", 3: "08"}
    rows, ok = [], 0
    for cust, qs in [(1, [1]), (2, [1, 2]), (3, [1, 2, 3])]:
        for q in qs:
            ok += 1
            rows.append(
                (ok, cust, f"1995-{quarters[q]}-15", 10.0, "1-URGENT")
            )
    _orders(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_cochran_q")
    assert r["n_subj"] == 3
    assert (r["c1"], r["c2"], r["c3"], r["c4"]) == (3, 2, 1, 0)
    assert r["cochran_q"] == pytest.approx(6.0, abs=2e-6)
    assert r["seasonal_95"] == 0


def test_litpin_cochran_armitage(spark, tmp_path):
    """Hand-worked Cochran-Armitage (1954/1955) trend z on two years
    (scores 3 and 4), n = 4 each, high-priority counts 1 and 3:
    z = (15 - 14)/sqrt(0.25*(100 - 784/8)) = 1/sqrt(0.5)."""
    rows, ok = [], 0
    for year, n_high in [("1995", 1), ("1996", 3)]:
        for i in range(4):
            ok += 1
            pri = "1-URGENT" if i < n_high else "5-LOW"
            rows.append((ok, 1, f"{year}-06-01", 10.0, pri))
    _orders(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_cochran_armitage")
    assert (r["n_years"], r["n_orders"], r["n_high"]) == (2, 8, 4)
    assert r["z"] == pytest.approx(1 / math.sqrt(0.5), abs=2e-6)
    assert r["trend_flag"] == 0


def test_litpin_jarque_bera_two_point(spark, tmp_path):
    """Moment identities on a symmetric two-point sample (+-1):
    skewness 0, excess kurtosis m4/m2^2 - 3 = -2, so JB = n/24 * 4 =
    n/6 (Jarque & Bera 1980). n = 4."""
    rows = [("A", v, "2024-01-01 00:00:00") for v in [1.0, 1.0, -1.0, -1.0]]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_jarque_bera")
    assert r["n"] == 4
    assert r["skewness"] == pytest.approx(0.0, abs=1e-9)
    assert r["excess_kurtosis"] == pytest.approx(-2.0, abs=2e-6)
    assert r["jb_stat"] == pytest.approx(4 / 6, abs=2e-6)


def test_litpin_hill_tail_exact_ratio(spark, tmp_path):
    """Hill (1975) estimator in closed form: 500 tail values all at
    exactly 2x the 501st order statistic give mean log-ratio ln 2 and
    alpha = 1/ln 2."""
    rows = [(k, 1, "2000-01-01", 200.0, "1-URGENT") for k in range(500)]
    rows += [
        (500, 1, "2000-01-01", 100.0, "1-URGENT"),
        (501, 1, "2000-01-01", 100.0, "1-URGENT"),
    ]
    _orders(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_hill_tail")
    assert (r["k"], r["x_min"]) == (500, 100.0)
    assert r["hill_alpha"] == pytest.approx(1 / math.log(2), abs=2e-6)


def test_litpin_ks_disjoint_supports(spark, tmp_path):
    """Kolmogorov-Smirnov bound attained: disjoint ordered supports
    (purchase {1,2} below view {3,4}) give D = 1 exactly."""
    rows = [("purchase", c / 100.0, "2024-01-01 00:00:00") for c in [1, 2]]
    rows += [("view", c / 100.0, "2024-01-01 00:00:00") for c in [3, 4]]
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_ks_drift")
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert r["ks_stat"] == pytest.approx(1.0, abs=1e-9)


def test_litpin_wilcoxon_signed_rank(spark, tmp_path):
    """Hand-worked Wilcoxon signed-rank: 5 days, purchase-click diffs
    +1..+5 cents (distinct, all positive) -> W+ = 15 (the maximum),
    z = (W+ - n(n+1)/4)/sqrt(n(n+1)(2n+1)/24) = 7.5/sqrt(13.75)."""
    rows = []
    for d in range(1, 6):
        rows.append(("purchase", (10 + d) / 100.0, f"2024-01-{d:02d} 00:00:00"))
        rows.append(("click", 0.10, f"2024-01-{d:02d} 00:00:00"))
    _events(spark, tmp_path, rows)
    (r,) = _run(spark, tmp_path, "a_wilcoxon_signed_rank")
    assert r["n_pairs"] == 5
    assert r["w_plus"] == pytest.approx(15.0, abs=1e-9)
    assert r["z"] == pytest.approx(7.5 / math.sqrt(13.75), abs=2e-6)
    assert r["differ_flag"] == 1


def test_litpin_gini_two_point(spark, tmp_path):
    """Hand-worked Gini: spends {1,3} -> G = sum|xi-xj|/(2 n^2 mu) =
    4/(2*4*2) = 1/4 (the mean-absolute-difference definition, not the
    rank-weighted computational form)."""
    _orders(
        spark,
        tmp_path,
        [
            (1, 1, "2000-01-01", 1.0, "1-URGENT"),
            (2, 2, "2000-01-01", 3.0, "1-URGENT"),
        ],
    )
    (r,) = _run(spark, tmp_path, "a_gini")
    assert r["n_customers"] == 2
    assert r["total_spend"] == pytest.approx(4.0, abs=1e-9)
    assert r["gini"] == pytest.approx(0.25, abs=2e-6)


def test_litpin_theil_two_point(spark, tmp_path):
    """Hand-worked Theil T on spends {1,3}: T = sum (x/S) ln(x n/S) =
    (1/4)ln(1/2) + (3/4)ln(3/2) (Theil 1967), computed here from the
    definition with math.log."""
    _orders(
        spark,
        tmp_path,
        [
            (1, 1, "2000-01-01", 1.0, "1-URGENT"),
            (2, 2, "2000-01-01", 3.0, "1-URGENT"),
        ],
    )
    (r,) = _run(spark, tmp_path, "a_theil_index")
    exp = 0.25 * math.log(0.5) + 0.75 * math.log(1.5)
    assert r["n_customers"] == 2
    assert r["theil"] == pytest.approx(exp, abs=2e-6)


def test_litpin_markov_entropy_rate_deterministic(spark, tmp_path):
    """Entropy-rate identity (Shannon): a DETERMINISTIC chain
    (A->B->A->B...) has conditional entropy 0 bits exactly."""
    rows = [
        (i, 1, "AB"[i % 2], 0.01, f"2024-01-01 00:{i:02d}:00")
        for i in range(10)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double,"
        " t string",
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_timestamp("t").alias("ts"),
    ).write.parquet(f"{tmp_path}/events.parquet")
    (r,) = _run(spark, tmp_path, "a_markov_entropy_rate")
    assert r["n_transitions_kinds"] == 2
    assert r["entropy_rate_bits"] == pytest.approx(0.0, abs=1e-9)


def test_litpin_supplier_hhi_bounds(spark, tmp_path):
    """Herfindahl-Hirschman identities: a single-supplier part has
    HHI = 1 (monopoly); two equal suppliers give HHI = 1/2."""
    rows = [
        # part 1: one supplier
        (1, 1.0, "N", 10.0, 0.0, 1, 7),
        # part 2: two suppliers, equal revenue
        (2, 1.0, "N", 10.0, 0.0, 2, 7),
        (3, 1.0, "N", 10.0, 0.0, 2, 8),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_quantity double, l_returnflag string,"
        " l_extendedprice double, l_discount double, l_partkey long,"
        " l_suppkey long",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    rows_out = {r["l_partkey"]: r for r in _run(spark, tmp_path, "q_supplier_hhi")}
    assert rows_out[1]["n_suppliers"] == 1
    assert rows_out[1]["hhi"] == pytest.approx(1.0, abs=1e-9)
    assert rows_out[2]["n_suppliers"] == 2
    assert rows_out[2]["hhi"] == pytest.approx(0.5, abs=2e-6)


def test_litpin_newsvendor_critical_fractile(spark, tmp_path):
    """Newsvendor identity (Arrow-Harris-Marschak 1951): with Cu = 3,
    Co = 1 the critical fractile is 3/4, so q* is the 3rd-smallest of 4
    daily demands {1,2,4,5} -> q* = 4; hand-summed costs 8 vs 12 for
    the mean heuristic, and the published optimality q*-cost <= any
    other order quantity's cost."""
    spark.createDataFrame(
        [(7, "Brand#1")], "p_partkey long, p_brand string"
    ).write.parquet(f"{tmp_path}/part.parquet")
    rows = [
        (d, float(dem), "N", 10.0, 0.0, 7, f"1995-01-{d:02d}")
        for d, dem in enumerate([1, 2, 4, 5], start=1)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_quantity double, l_returnflag string,"
        " l_extendedprice double, l_discount double, l_partkey long,"
        " d string",
    ).select(
        "l_orderkey",
        "l_quantity",
        "l_returnflag",
        "l_extendedprice",
        "l_discount",
        "l_partkey",
        F.to_date("d").alias("l_shipdate"),
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    (r,) = _run(spark, tmp_path, "q_newsvendor")
    assert (r["n_days"], r["q_star"], r["q_mean"]) == (4, 4, 3)
    assert (r["cost_qstar"], r["cost_mean"]) == (8, 12)
    assert r["savings_units"] == 4
    assert r["cost_qstar"] <= r["cost_mean"]


def test_litpin_zipf_exact_power_law(spark, tmp_path):
    """Zipf (1949) identity: counts 12/r for ranks 1..4 are an EXACT
    power law, so the log-log regression recovers slope -1 with
    r2 = 1."""
    text = " ".join(["w1"] * 12 + ["w2"] * 6 + ["w3"] * 4 + ["w4"] * 3)
    _documents(spark, tmp_path, [(1, "en", text)])
    (r,) = _run(spark, tmp_path, "t_zipf_fit")
    assert r["vocab"] == 4
    assert r["zipf_slope"] == pytest.approx(-1.0, abs=2e-6)
    assert r["r2"] == pytest.approx(1.0, abs=2e-6)


def test_litpin_theta_forecast_constant_series(spark, tmp_path):
    """Theta-method fixed point (Assimakopoulos & Nikolopoulos 2000):
    on a constant series both theta lines equal the constant and the
    SES collapses to it, so every holdout forecast is exact."""
    rows = []
    for i in range(18):
        y, m = divmod(i, 12)
        rows.append((i, 1, f"{1995 + y}-{m + 1:02d}-15", 100.0, "1-URGENT"))
    _orders(spark, tmp_path, rows)
    out = _run(spark, tmp_path, "w_theta_forecast")
    assert len(out) == 6
    for r in out:
        assert r["actual"] == 100
        assert r["forecast"] == pytest.approx(100.0, abs=1e-9)
        assert r["abs_err"] == pytest.approx(0.0, abs=1e-9)
