"""Tripwire: one owner each for scratch state, the availableNow run and
the events ``ts`` recipe.

- ``session.scratch_dir`` hands out every scratch path under one
  per-process root that is removed at exit; no other package module
  touches ``tempfile``.
- ``stream_windows.drain`` is the only place that sets the availableNow
  trigger and waits for a query; every streaming key runs through it.
- ``session.events_ts`` is the only copy of the ns-timestamp rebuild;
  ``load_table`` and every streaming feed call it.

The static scan fails when a copy comes back. The subprocess test runs
keys that write feeds, sinks and checkpoints with ``TMPDIR`` pointed at
a fresh directory and fails when anything named ``npc_*`` is left there
after the process exits.
"""

import ast
import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMALL

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "npc_recommender_netflix_spark"

DRAIN_OWNER = ("streaming/stream_windows.py", "drain")
TS_RECIPE = "timestamp_micros(ts DIV 1000)"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


def _calls(tree, attrs):
    """[(innermost enclosing function, attr)] for every ``x.<attr>(...)``."""
    out = []

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in attrs
            ):
                out.append((inner, child.func.attr))
            walk(child, inner)

    walk(tree, None)
    return out


def test_only_session_uses_tempfile():
    offenders = []
    for module, src in _modules():
        if module == "session.py":
            continue
        for node in ast.walk(ast.parse(src)):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            elif isinstance(node, ast.Name):
                names = [node.id]
            if any(n.split(".")[0] == "tempfile" for n in names):
                offenders.append(f"{module}:{node.lineno}")
    assert not offenders, (
        f"tempfile used outside session.py at {offenders}; "
        "take a path from session.scratch_dir instead"
    )


def test_one_availablenow_drain():
    found = []
    for module, src in _modules():
        for func, attr in _calls(ast.parse(src), {"trigger", "awaitTermination"}):
            found.append(((module, func), attr))
    stray = [site for site in found if site[0] != DRAIN_OWNER]
    assert not stray, (
        f"trigger/awaitTermination outside {DRAIN_OWNER}: {stray}; "
        "run the query through stream_windows.drain"
    )
    owned = sorted(attr for site, attr in found if site == DRAIN_OWNER)
    assert owned == ["awaitTermination", "trigger"], (
        f"{DRAIN_OWNER} should set the trigger and await once each: {owned}"
    )


def test_one_events_ts_recipe():
    copies = [
        module
        for module, src in _modules()
        if any(
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and TS_RECIPE in node.value
            for node in ast.walk(ast.parse(src))
        )
    ]
    assert copies == ["session.py"], (
        f"{TS_RECIPE!r} appears in {copies}; call session.events_ts"
    )


LEAK_KEYS = (
    "st_foreach_batch",
    "st_incremental_checkpoint",
    "st_state_reader",
    "s_csv_roundtrip",
)

LEAK_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from npc_recommender_netflix_spark import registry
from npc_recommender_netflix_spark.session import build_session
registry.load_all()
spark = build_session(app="npc-scratch-leak", master="local[2]")
for key in {keys!r}:
    assert registry.QUERIES[key](spark, {sf!r}).count() > 0, key
"""


def test_keys_leave_no_scratch_after_exit(tmp_path):
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = dict(os.environ, TMPDIR=str(tmpdir), SPARK_GRAFT_DRIVER_MEM="1g")
    script = LEAK_SCRIPT.format(repo=str(REPO), keys=LEAK_KEYS, sf=SF_SMALL)
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    left = sorted(p.name for p in tmpdir.iterdir() if p.name.startswith("npc_"))
    assert not left, f"{len(left)} scratch entries left after exit: {left}"
