"""Tripwire: each near-dup stage in llm/dedup.py has one owner.

Every sub-plan that several dedup keys share (the bigram array and the
per-doc bigram set, the quality front, the df <= 64 posting cap, the
posting-pair count and its Jaccard filter, MinHash signatures and bands,
the candidate-driven rescore, the idf-weighted lexical hits) is built by
one function or oracle constant, and each key builds on it. A signature
of the sub-plan found outside its owner is a copy: build it from the
owner instead. Signatures are matched over the whole file, so they may
span lines. The bigram array's signature is also matched in text.py,
whose bigram keys import the owner.
"""

import ast
import re
from pathlib import Path

LLM = Path(__file__).resolve().parent.parent / "npc_recommender_netflix_spark" / "llm"
DEDUP = LLM / "dedup.py"

# {sub-plan: (owner function or module constant in dedup.py, signature)}
OWNERS = {
    "bigram array": (
        "bigram_array",
        re.compile(r"sequence\(0, size\(w\) - 2"),
    ),
    "per-doc distinct bigram set": (
        "_bigram_set",
        re.compile(r"F\.explode\(\s*F\.array_distinct\(\s*bigram_array\(\)"),
    ),
    "quality front": (
        "_quality_exact",
        re.compile(r'F\.col\("n_tokens"\)\s*>=\s*20'),
    ),
    "quality front (SQL)": (
        "_quality_sql",
        re.compile(r"n_tokens >= 20 AND distinct_ratio > 0\.3"),
    ),
    "survivor stats": (
        "_survivor_stats",
        re.compile(r'exact\.join\(\s*losers,\s*"doc_id",\s*"left_anti"\s*\)'),
    ),
    "survivor stats (SQL)": (
        "_SURVIVOR_STATS_SQL",
        re.compile(r"FROM exact WHERE doc_id NOT IN \(SELECT doc_id FROM losers\)"),
    ),
    "df <= 64 posting cap": (
        "_df_capped",
        re.compile(r'freq\.where\(\s*F\.col\("df"\)\s*<=\s*64\s*\)'),
    ),
    "df <= 64 posting cap (SQL)": (
        "_CAPPED_SQL",
        re.compile(r"sh0\.doc_id, sh0\.s FROM sh0 JOIN freq ON freq\.s = sh0\.s"),
    ),
    "posting-pair predicate": (
        "_shares_shingle",
        re.compile(
            r'F\.col\("a\.s"\)\s*==\s*F\.col\("b\.s"\)\s*\)\s*&\s*\(\s*'
            r'F\.col\("a\.doc_id"\)\s*<\s*F\.col\("b\.doc_id"\)'
        ),
    ),
    "posting-pair count": (
        "_pair_counts",
        re.compile(r"a\.join\(\s*b,\s*_shares_shingle\(\)\s*\)"),
    ),
    "posting-pair Jaccard": (
        "_jaccard_pairs",
        re.compile(r'F\.col\("sa\.n"\)\s*\+\s*F\.col\("sb\.n"\)\s*-\s*F\.col\("i"\)'),
    ),
    "sizes + posting-pair count (SQL)": (
        "_sizes_inter_sql",
        re.compile(r"FROM sh a JOIN sh b ON a\.s = b\.s AND a\.doc_id < b\.doc_id"),
    ),
    "Jaccard pair select (SQL)": (
        "_jaccard_select_sql",
        re.compile(r"round\(i \* 1\.0 / \(sa\.n \+ sb\.n - i\), 6\) AS jaccard\s+FROM inter"),
    ),
    "near-dup losers (SQL)": (
        "_losers_sql",
        re.compile(r"losers AS \(SELECT DISTINCT db AS doc_id FROM"),
    ),
    "Jaccard >= 0.5 components (SQL)": (
        "_CLUSTERS_SQL",
        re.compile(r"UNION SELECT r\.a, e\.b FROM reach r JOIN e ON r\.b = e\.a"),
    ),
    "MinHash signatures": (
        "_minhash_sig",
        re.compile(r'F\.md5\(\s*F\.concat\(\s*F\.lit\(f"\{j\}:"\)'),
    ),
    "MinHash signatures (SQL)": (
        "_sig_cols_sql",
        re.compile(r"min\(md5\('\{j\}:' \|\| s\)\)"),
    ),
    "MinHash bands": (
        "_minhash_bands",
        re.compile(r'F\.concat\(\s*F\.col\(f"h\{2 \* b\}"\)'),
    ),
    "MinHash bands (SQL)": (
        "_bands_sql",
        re.compile(r"md5\(h\{2 \* b\} \|\| h\{2 \* b \+ 1\}\)"),
    ),
    "MinHash k=8 signature + bands (SQL)": (
        "_SIG_BANDS_SQL",
        re.compile(r"sig AS \(SELECT doc_id,\s*\{_sig_cols_sql\(8\)\}"),
    ),
    "band-collision candidates": (
        "_band_candidates",
        re.compile(r'\.join\(\s*b,\s*\["band",\s*"bkey"\]\s*\)'),
    ),
    "band-collision candidates (SQL)": (
        "_band_cand_sql",
        re.compile(r"FROM bands a JOIN bands b\s+ON a\.band = b\.band AND a\.bkey = b\.bkey"),
    ),
    "candidate rescore": (
        "_rescore",
        re.compile(r'F\.col\("na"\)\s*\+\s*F\.col\("nb"\)\s*-\s*F\.col\("i"\)'),
    ),
    "candidate rescore (SQL)": (
        "_rescore_sql",
        re.compile(r"JOIN sh y ON y\.doc_id = \S+ AND y\.s = x\.s"),
    ),
    "idf-weighted lexical hits": (
        "lexical_hits",
        re.compile(r'F\.log\(\s*F\.col\("n"\)\s*\*\s*1\.0\s*/\s*F\.col\("df"\)\s*\)'),
    ),
}

# other files searched for a signature, each with no owner of its own
ALSO_SEARCHED = {
    "bigram array": [LLM / "text.py"],
    "idf-weighted lexical hits": [LLM / "vectors.py"],
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


def _match_lines(pat: re.Pattern, text: str) -> list[int]:
    return [text.count("\n", 0, m.start()) + 1 for m in pat.finditer(text)]


def _hits() -> dict[str, tuple[list[int], list[str]]]:
    """{sub-plan: (match lines inside the owner, 'file:line' outside it)}."""
    text = DEDUP.read_text()
    tree = ast.parse(text)
    out = {}
    for plan, (owner, pat) in OWNERS.items():
        owned = _owner_lines(tree, owner)
        lines = _match_lines(pat, text)
        outside = [f"dedup.py:{n}" for n in lines if n not in owned]
        for path in ALSO_SEARCHED.get(plan, []):
            outside += [f"{path.name}:{n}" for n in _match_lines(pat, path.read_text())]
        out[plan] = ([n for n in lines if n in owned], outside)
    return out


def test_owner_exists():
    missing = {plan: OWNERS[plan][0] for plan, (inside, _) in _hits().items()
               if not inside}
    assert not missing, f"owner missing or signature gone (sub-plan: owner): {missing}"


def test_no_copy_outside_owner():
    copies = {plan: out for plan, (_, out) in _hits().items() if out}
    assert not copies, (
        "near-dup stage copied outside its owner (sub-plan: locations): "
        f"{copies}"
    )
