"""session.shared_frame: the one cross-key memo of cached frames.

Pins the memo's session-wide sf_dir eviction, that no other package
module grows its own memo dict again, and the LPA label alphabet of the
memoized label frame.
"""

import ast
import pathlib
import re

import pyspark.sql.functions as F

import npc_recommender_netflix_spark as pkg
from npc_recommender_netflix_spark.session import shared_frame
from tests.conftest import SF_SMALL, forget, memo


def test_new_sf_dir_unpersists_other_names_stale_frames(spark):
    """Eviction is session-wide, not per name: a lookup of one name at a
    NEW sf_dir unpersists and drops a DIFFERENT name's frame built at
    the old sf_dir, so at most one sf_dir's frames stay live per app."""
    forget("memo_probe_a", "memo_probe_b")
    old = shared_frame(spark, "sf_old", "memo_probe_a", lambda: spark.range(7))
    assert old.count() == 7 and old.storageLevel.useMemory
    # same sf_dir: a different name coexists, the first is untouched
    shared_frame(spark, "sf_old", "memo_probe_b", lambda: spark.range(3))
    assert old.storageLevel.useMemory
    new = shared_frame(spark, "sf_new", "memo_probe_b", lambda: spark.range(5))
    assert new.count() == 5
    assert not old.storageLevel.useMemory  # unpersisted, not leaked
    assert memo("memo_probe_a") == {}
    assert [k[1] for k in memo("memo_probe_b")] == ["sf_new"]
    new.unpersist()
    forget("memo_probe_b")


def test_shared_frame_is_the_only_memo():
    """One memo primitive: no package module other than session.py may
    define a module-level ``*_SHARED`` dict or call a memo-eviction
    helper — new shared intermediates go through shared_frame."""
    root = pathlib.Path(pkg.__file__).parent
    evict = re.compile(r"evict\w*memo|memo\w*evict", re.I)
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "session.py" and path.parent == root:
            continue
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            is_dict = isinstance(value, ast.Dict) or (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", None) == "dict"
            )
            for t in targets:
                if (isinstance(t, ast.Name) and is_dict
                        and t.id.upper().endswith("_SHARED")):
                    offenders.append(f"{path.name}: dict {t.id}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                fn = node.func
                name = getattr(fn, "id", None) or getattr(fn, "attr", "")
                if evict.search(name):
                    offenders.append(f"{path.name}:{node.lineno}: {name}()")
    assert offenders == []


def test_lpa_labels_stay_inside_alphabet(spark):
    """ADVICE graph.py:950: the in-row vote argmax counts only labels
    0.._LPA_LABELS-1, so every label in the memoized frame — seeds and
    adopted votes alike — must fall inside that alphabet."""
    from npc_recommender_netflix_spark.recommender import graph as G

    lab = G._lpa_labels(spark, SF_SMALL)
    labels = {
        r["lab"] for r in lab.where(F.col("lab").isNotNull())
        .select("lab").distinct().collect()
    }
    assert labels, "seeded LPA must label some nodes"
    assert labels <= set(range(G._LPA_LABELS))
    # adopted labels (rnd >= 1) exist, so votes were not dropped
    assert lab.where(F.col("rnd") >= 1).count() > 0
