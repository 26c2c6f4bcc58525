"""Tripwire: each retrieval stage in llm/vectors.py has one owner.

``_band_pairs`` is the one place that joins sign bands on (band, bucket),
and ``_route`` is the one place that scores queries against IVF cell
centroids. A copy of either stage elsewhere in vectors.py fails here;
build it from the owner instead.
"""

import ast
import re
from pathlib import Path

VECTORS = (
    Path(__file__).resolve().parent.parent
    / "npc_recommender_netflix_spark" / "llm" / "vectors.py"
)

# {stage: (owner function, pattern)}
STAGES = {
    "sign-band candidate join": (
        "_band_pairs",
        re.compile(
            r"""col\(\s*["']a\.band["']\s*\)\s*==\s*F\.col\(\s*["']b\.band["']\s*\)"""
        ),
    ),
    "IVF route cosine": (
        "_route",
        re.compile(
            r"""F\.sqrt\(\s*F\.sum\(\s*F\.col\(\s*["']qv["']\s*\)\s*\*"""
            r"""\s*F\.col\(\s*["']qv["']\s*\)\s*\)\s*\)"""
        ),
    ),
}


def _func_lines(tree: ast.Module, name: str) -> set[int]:
    return {
        line
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name == name
        for line in range(node.lineno, node.end_lineno + 1)
    }


def _hits() -> dict[str, tuple[list[int], list[int]]]:
    """{stage: (lines inside the owner, lines outside it)}."""
    text = VECTORS.read_text()
    tree = ast.parse(text)
    out = {}
    for stage, (owner, pat) in STAGES.items():
        owned = _func_lines(tree, owner)
        lines = [n for n, ln in enumerate(text.splitlines(), 1) if pat.search(ln)]
        out[stage] = (
            [n for n in lines if n in owned],
            [n for n in lines if n not in owned],
        )
    return out


def test_owner_exists():
    for stage, (inside, _) in _hits().items():
        assert inside, f"{stage} is not in vectors.py's {STAGES[stage][0]}"


def test_no_copy_outside_owner():
    copies = {stage: out for stage, (_, out) in _hits().items() if out}
    assert not copies, (
        "retrieval stage copied outside its owner in vectors.py "
        f"(stage: line numbers): {copies}"
    )
