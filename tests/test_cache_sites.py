"""Tripwire: one cache owner.

``session.shared_frame`` caches the frames several keys share. Any other
``.cache()`` / ``.persist()`` in the package stays only where SITES lists
it, keyed by (module, enclosing function), with one of these reasons:

- ``loop``: a driver-side action or a later round reads the frame while
  the key is built;
- ``purpose``: caching is what the key demonstrates;
- ``pin``: it fixes an order-dependent or nondeterministic value that is
  read twice;
- ``measured``: the key ran slower without it in an alternating A/B at
  sf0.1, and the numbers are written in a comment beside the site.

The test fails on a call that SITES does not list (or on more calls in a
function than it lists), and on a listed site that no longer exists, so
the list cannot go stale. To add a site, give it a reason here; for
``measured``, write the A/B numbers (pairs, the cached and uncached
medians as ``X -> Y s``, the cached side's IQR) in a comment in the same
function.
"""

import ast
import re
from collections import Counter
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "npc_recommender_netflix_spark"

REASONS = {"loop", "purpose", "pin", "measured"}

# {(module, enclosing function): (reason, number of calls)}
SITES = {
    # MLlib fits (ALS, cross-validated ALS, logistic regression) run at
    # build and the returned plan reads the same frame again.
    ("recommender/als.py", "fit_als"): ("loop", 1),
    ("recommender/als.py", "r_als_cv"): ("loop", 1),
    ("recommender/als.py", "r_mllib_logreg"): ("loop", 1),
    # per-level localCheckpoint BFS / label rounds run at build
    ("recommender/graph.py", "r_shortest_path"): ("loop", 1),
    ("recommender/graph.py", "r_attack_tolerance"): ("loop", 3),
    ("recommender/graph.py", "_lpa_build"): ("loop", 1),
    ("operators/modern.py", "q_fraud_rings"): ("loop", 2),
    # the word-length bound is collected at build from the cached frame
    ("llm/text.py", "t_symspell_join"): ("loop", 1),
    # t_dup_clusters' convergence rounds read the edge list each round
    ("llm/dedup.py", "_jaccard05_edges"): ("loop", 1),
    ("sources/scans.py", "s_cached_table"): ("purpose", 1),
    ("recommender/core.py", "r_slope_one_capped"): ("measured", 1),
    ("recommender/core.py", "r_coverage"): ("measured", 1),
    ("recommender/core.py", "_day_items_capped"): ("measured", 1),
    ("recommender/core.py", "r_swing_capped"): ("measured", 1),
    ("recommender/core.py", "r_user_cosine"): ("measured", 1),
    ("recommender/graph.py", "r_clustering_coeff"): ("measured", 1),
    ("recommender/graph.py", "r_kcore_peel"): ("measured", 1),
    ("recommender/graph.py", "r_pagerank"): ("measured", 1),
    ("recommender/graph.py", "r_triangle_count"): ("measured", 1),
    ("recommender/graph.py", "r_two_hop_reach"): ("measured", 1),
    ("operators/aggregates.py", "a_hurst_exponent"): ("measured", 2),
    ("operators/aggregates.py", "a_isotonic_pav"): ("measured", 1),
    ("operators/aggregates.py", "a_ks_drift"): ("measured", 1),
    ("operators/modern.py", "q_basket_substitutes"): ("measured", 2),
    ("llm/dedup.py", "t_containment_neardup"): ("measured", 1),
    ("llm/dedup.py", "t_jaccard_neardup_capped"): ("measured", 1),
    ("llm/dedup.py", "t_minhash_perm_curve"): ("measured", 5),
    ("llm/dedup.py", "t_prefix_filter_join"): ("measured", 3),
    ("llm/text.py", "t_longest_dup_ngram"): ("measured", 1),
    ("llm/vectors.py", "v_kmeans_par_init"): ("measured", 4),
}


def _sites():
    """Counter of (module, innermost enclosing function) over every
    ``.cache()`` / ``.persist()`` call outside session.py."""
    found = Counter()
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "session.py":
            continue
        module = path.relative_to(PKG).as_posix()

        def walk(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    walk(child, child.name)
                    continue
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("cache", "persist")
                ):
                    found[(module, fn)] += 1
                walk(child, fn)

        walk(ast.parse(path.read_text(encoding="utf-8")), "<module>")
    return found


def _function_source(module, name):
    path = PKG / module
    src = path.read_text(encoding="utf-8")
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return ast.get_source_segment(src, node)
    raise AssertionError(f"{module}: no function {name}")


def test_every_cache_site_is_listed():
    found = _sites()
    extra = {
        site: n for site, n in found.items()
        if n > SITES.get(site, (None, 0))[1]
    }
    assert not extra, (
        f"unlisted .cache()/.persist() calls {extra}: use "
        "session.shared_frame for a frame keys share, drop the cache, or "
        "list the site in SITES with a reason"
    )


def test_every_listed_site_exists():
    found = _sites()
    stale = {
        site: n for site, (_, n) in SITES.items() if found.get(site, 0) != n
    }
    assert not stale, f"listed sites whose call count changed: {stale}"


def test_every_site_has_a_known_reason():
    bad = {site: r for site, (r, _) in SITES.items() if r not in REASONS}
    assert not bad, f"unknown reasons {bad}; use one of {sorted(REASONS)}"


def test_measured_sites_carry_their_numbers():
    missing = [
        site for site, (reason, _) in SITES.items()
        if reason == "measured"
        and not re.search(r"#.*\d+\.\d+ -> \d+\.\d+ s", _function_source(*site))
    ]
    assert not missing, (
        f"measured sites without 'cached -> uncached s' numbers in a "
        f"comment: {missing}"
    )
