"""Harness self-test: sf0.001 inputs, two keys, one traced pass.

Checks that
- every metric BENCHMARK.json names is emitted with its unit, in both the
  untraced and the traced result;
- the status-store probe returns non-null job, stage and task numbers
  (it reads internal AppStatusStore APIs whose signatures drifted in
  Spark 4);
- a key given a deliberately wrong expected output counts as failed
  without aborting the pass;
- the rounding-tie allowance of the output check accepts one unit in a
  rounded column's last place and nothing more.

Usage, from the checkout root: python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WRONG_KEY, GOOD_KEY = "a_groupby", "u_apply_in_pandas"


def run(root: str) -> list[str]:
    """Run the self-test; returns the problems found (empty: pass)."""
    spec = harness.load_spec(root)
    run_dir = os.path.join(root, ".perfbench", f"selftest-{os.getpid()}")
    bench = harness.Bench(run_dir, "selftest", seed=1, trace=True, sf=0.001)
    try:
        bench.prepare()
        bench.setup(n=1)
        bench.oracle[WRONG_KEY] = "SELECT 1 AS wrong"
        run_s = bench.run_pass([WRONG_KEY, GOOD_KEY], shared=False)
        values = harness.summarize(bench, run_s)
        probe = bench.stage_metrics(bench._group_jobs(f"selftest:{GOOD_KEY}"))
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    problems = []
    for trace in (False, True):
        res = harness.result(spec, values, bench.records, trace)
        for m in spec["per_layer" if trace else "end_to_end"]:
            got = res["metrics"].get(m["name"])
            if (got is None or got["unit"] != m["unit"]
                    or not isinstance(got["value"], (int, float))):
                problems.append(f"metric {m['name']} missing or wrong: {got}")
    if (res["attempted"], res["failed"]) != (2, 1):
        problems.append(f"attempted/failed {res['attempted']}/{res['failed']}, "
                        "expected 2/1")
    wrong, good = bench.records
    if wrong["ok"] or "columns" not in wrong.get("check", ""):
        problems.append(f"{WRONG_KEY} with a wrong oracle was not failed: {wrong}")
    if not good["ok"]:
        problems.append(f"{GOOD_KEY} failed after {WRONG_KEY}: {good}")
    if None in probe.values() or probe["exec.stages"] < 1 or probe["exec.tasks"] < 1:
        problems.append(f"status-store probe returned nothing: {probe}")
    if good.get("py.rows_received", 0) <= 0:
        problems.append(f"no Python-worker rows for {GOOD_KEY}: {good}")
    problems += tie_problems()
    return problems


def tie_problems() -> list[str]:
    cols, rows = ["k", "v"], [("a", 1234.57), ("b", 10.25)]
    cases = [  # (oracle rows, columns k and v swapped; expected match)
        ([(1234.56, "a"), (10.25, "b")], True),   # one unit in 2 places
        ([(1234.55, "a"), (10.25, "b")], False),  # two units
        ([(1234.57, "a"), (10.25, "c")], False),  # a non-float differs
        ([(1234.0, "a"), (10.0, "b")], False),
    ]
    problems = [
        f"rounding-tie check gave {not want} for {orows}"
        for orows, want in cases
        if harness._rounding_tie_match(cols, rows, ["v", "k"], orows) != want]
    if harness._rounding_tie_match(["n"], [(12345.0,)], ["n"], [(12346.0,)]):
        problems.append("rounding-tie check accepted an integer-valued float off by 1")
    return problems


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    problems = run(root)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
