"""Tripwire: the CF ratings input and its holdout split have one owner.

recommender/core.py's ``interactions`` is the one place that projects
orders⋈lineitem into (user_id, item_id, qty, ok), and its ``split`` is the
one place that applies the l_orderkey % 5 holdout. A copy of either
anywhere else in the package fails here. Oracle SQL is not scanned: the
patterns only match DataFrame column expressions.
"""

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "npc_recommender_netflix_spark"
OWNER_FILE = "recommender/core.py"
OWNER_FUNCS = {"interactions", "split"}

PATTERNS = {
    "interaction projection": re.compile(
        r"""col\(\s*["']l_orderkey["']\s*\)\s*\.alias\(\s*["']ok["']\s*\)"""
    ),
    "orderkey % 5 split": re.compile(
        r"""col\(\s*["'](?:ok|l_orderkey)["']\s*\)\s*%\s*5\b"""
    ),
}

# {file: (hits allowed, reason)}
ALLOWED = {
    "recommender/als.py": (
        1,
        "r_als_cv folds each (user, item) pair by min(l_orderkey % 5) after "
        "aggregating it: a per-pair model-selection fold, not the "
        "per-order holdout split",
    ),
}


def _owner_lines(path: Path) -> set[int]:
    tree = ast.parse(path.read_text())
    return {
        line
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name in OWNER_FUNCS
        for line in range(node.lineno, node.end_lineno + 1)
    }


def _hits() -> dict[str, list[str]]:
    """{file relative to the package: ["line: pattern name", ...]} for
    every pattern match outside the owner functions."""
    found: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        owned = _owner_lines(path) if rel == OWNER_FILE else set()
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for name, pat in PATTERNS.items():
                if pat.search(line) and lineno not in owned:
                    found.setdefault(rel, []).append(f"{lineno}: {name}")
    return found


def test_owner_exists():
    owned = _owner_lines(PKG / OWNER_FILE)
    text = (PKG / OWNER_FILE).read_text().splitlines()
    for name, pat in PATTERNS.items():
        assert any(pat.search(text[i - 1]) for i in owned), (
            f"{name} is not in {OWNER_FILE}'s {sorted(OWNER_FUNCS)}"
        )


def test_no_copy_outside_owner():
    copies = {}
    for rel, hits in _hits().items():
        allowed = ALLOWED.get(rel, (0, ""))[0]
        if len(hits) != allowed:
            copies[rel] = hits
    assert not copies, (
        "CF ratings input or holdout split copied outside "
        f"{OWNER_FILE}'s {sorted(OWNER_FUNCS)}; build it from "
        f"interactions()/split() instead: {copies}"
    )
