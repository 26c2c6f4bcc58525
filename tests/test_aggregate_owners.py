"""Tripwire: each shared statistics input in operators/aggregates.py has
one owner.

Every sub-plan that several aggregates.py keys read (the daily-revenue
trend fit, the kilodollar day index, the per-event-type cent moments,
the pooled mid-rank sums, ...) is built by one private function or
oracle constant, and each key builds on it. A signature of the sub-plan
found outside its owner is a copy: build it from the owner instead.
Signatures are matched over the whole file, so they may span lines.
"""

import ast
import re
from pathlib import Path

AGGREGATES = (
    Path(__file__).resolve().parent.parent
    / "npc_recommender_netflix_spark" / "operators" / "aggregates.py"
)

# {sub-plan: (owner function or module constant, signature)}
OWNERS = {
    "daily-revenue trend fit": (
        "_daily_fit",
        re.compile(r'F\.sum\(\s*F\.col\("t"\)\s*\*\s*F\.col\("rev"\)\s*\)'),
    ),
    "whole-dollar daily rollup (SQL)": (
        "_DAILY_REV_SQL",
        re.compile(r"AS BIGINT\)\s*//\s*100 AS rev"),
    ),
    "kilodollar day index": (
        "_kd_index",
        re.compile(
            r'F\.sum\(\s*F\.round\(\s*F\.col\("o_totalprice"\)\s*\*\s*100\s*\)'
            r'\.cast\("long"\)\s*\)\s*/\s*1e5'
        ),
    ),
    "kilodollar day index (SQL)": (
        "_KD_DAILY_SQL",
        re.compile(r"/ 1e5\) AS BIGINT\) AS kd"),
    ),
    "event-type cent moments": (
        "_type_moments",
        re.compile(
            r'groupBy\(\s*"event_type"\s*\)\s*\.agg\(\s*'
            r'F\.count\("\*"\)\.cast\("long"\)\.alias\("n"\),\s*F\.sum\(\s*c\s*\)'
        ),
    ),
    "day x event-type mid-rank sums": (
        "_mid_rank_sums",
        re.compile(r'2\s*\*\s*F\.rank\(\)\.over\(\s*Window\.orderBy\("x"\)\s*\)'),
    ),
    "Dunn pair z": (
        "_dunn_pairs",
        re.compile(r'F\.col\("event_type"\)\.alias\("ta"\)'),
    ),
    "tie census": (
        "_tie_census",
        re.compile(
            r'F\.sum\(\s*F\.col\("t"\)\s*\*\s*F\.col\("t"\)\s*\*\s*F\.col\("t"\)'
        ),
    ),
    # the per-flag census of a_yuen_trimmed_t groups by l_returnflag
    # first; that is a different shape and must not match
    "R/N returnflag quantity census": (
        "_rn_census",
        re.compile(
            r'isin\(\s*"R",\s*"N"\s*\)\s*\)\s*\.groupBy\('
            r'(?!\s*F\.col\(\s*"l_returnflag")'
        ),
    ),
    "nation order-price moments": (
        "_by_nation",
        re.compile(r'groupBy\(\s*F\.col\("n_name"\)\.alias\("nation"\)\s*\)'),
    ),
    "nation order-price moments (SQL)": (
        "_NATION_MOMENTS_SQL",
        re.compile(r"avg\(o\.o_totalprice\) AS xbar"),
    ),
    "block x priority cells": (
        "_zero_filled",
        re.compile(r'F\.dayofweek\("o_orderdate"\)\.cast\("long"\)\.alias\("blk"\)'),
    ),
    "block x priority zero fill": (
        "_zero_filled",
        re.compile(r'\["blk",\s*"trt"\],\s*"left"'),
    ),
    "block x priority cells (SQL)": (
        "_PRIO_CELLS_SQL",
        re.compile(r"CROSS JOIN \(SELECT DISTINCT trt FROM cells0\) t"),
    ),
    "purchase/view moments": (
        "_purchase_view_moments",
        re.compile(r"F\.count\(\s*F\.when\(\s*is1,\s*1\s*\)\s*\)"),
    ),
    "purchase/view moments (SQL)": (
        "_PV_MOMENTS_SQL",
        re.compile(r"THEN CAST\(round\(value \* 100\) AS BIGINT\) END\) AS s1"),
    ),
    "daily purchase/click pairs": (
        "_purchase_click_days",
        re.compile(r'F\.col\("event_type"\)\s*==\s*"click",\s*cents'),
    ),
    "month percent-rank scored returns": (
        "_month_scored",
        re.compile(r'F\.year\("o_orderdate"\)\s*\*\s*12\s*\+\s*F\.month\("o_orderdate"\)'),
    ),
    "month percent-rank scored returns (SQL)": (
        "_MONTH_SCORED_SQL",
        re.compile(r"PARTITION BY year\(o_orderdate\) \* 12 \+ month\(o_orderdate\)"),
    ),
    "IRLS 3x3 solve": (
        "_cramer3",
        re.compile(r'F\.col\("a00"\),\s*F\.col\("a01"\)'),
    ),
    "IRLS weighted moments": (
        "_irls_moments",
        re.compile(r'\.cast\("double"\)\s*\.alias\("a22"\)'),
    ),
    "churn risk set (SQL)": (
        "_CHURN_RISK_SQL",
        re.compile(r"\(SELECT tmax FROM bounds\)\) > 90"),
    ),
}


def _owner_lines(tree: ast.Module, name: str) -> set[int]:
    """Lines of the top-level def or assignment called ``name``."""
    out: set[int] = set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        else:
            continue
        if name in names:
            out.update(range(node.lineno, node.end_lineno + 1))
    return out


def _hits() -> dict[str, tuple[list[int], list[int]]]:
    """{sub-plan: (match lines inside the owner, match lines outside it)}."""
    text = AGGREGATES.read_text()
    tree = ast.parse(text)
    out = {}
    for plan, (owner, pat) in OWNERS.items():
        owned = _owner_lines(tree, owner)
        lines = [text.count("\n", 0, m.start()) + 1 for m in pat.finditer(text)]
        out[plan] = (
            [n for n in lines if n in owned],
            [n for n in lines if n not in owned],
        )
    return out


def test_owner_exists():
    missing = {plan: OWNERS[plan][0] for plan, (inside, _) in _hits().items()
               if not inside}
    assert not missing, f"owner missing or signature gone (sub-plan: owner): {missing}"


def test_no_copy_outside_owner():
    copies = {plan: out for plan, (_, out) in _hits().items() if out}
    assert not copies, (
        "shared statistics input copied outside its owner in aggregates.py "
        f"(sub-plan: line numbers): {copies}"
    )
