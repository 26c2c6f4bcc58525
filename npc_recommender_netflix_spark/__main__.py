"""CLI for the engine: run any registered operator from a shell.

    python -m npc_recommender_netflix_spark list [prefix]
    python -m npc_recommender_netflix_spark run <key> [--sf DIR] [-n N]
    python -m npc_recommender_netflix_spark explain <key> [--sf DIR]
    python -m npc_recommender_netflix_spark profile <key> [--sf DIR]
    python -m npc_recommender_netflix_spark oracle <key>

`run` prints the first N rows (default 20) and the row count; `explain`
prints the formatted physical plan (the artifact every scale review
reads); `profile` executes the key and prints wall time, shuffle-write
bytes (the `metrics` AppStatusStore probe), output rows, and the
executed-plan shape summary — the one-command version of the
explain-until-it's-the-plan-you-want loop; `oracle` prints the
registered DuckDB SQL so users can verify a result against an
independent engine, exactly as tools/check.py does.
"""

from __future__ import annotations

import argparse
import sys
import time

from . import registry
from .metrics import drain_listeners, shape_summary, shuffle_written
from .session import DEFAULT_SF_DIR, build_session

registry.load_all()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="npc_recommender_netflix_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered operator keys")
    p_list.add_argument("prefix", nargs="?", default="")

    for name in ("run", "explain", "profile"):
        p = sub.add_parser(name)
        p.add_argument("key")
        p.add_argument("--sf", default=DEFAULT_SF_DIR)
        if name == "run":
            p.add_argument("-n", type=int, default=20)

    p_or = sub.add_parser("oracle", help="print the DuckDB oracle SQL")
    p_or.add_argument("key")

    args = ap.parse_args(argv)

    if args.cmd == "list":
        for k in sorted(registry.QUERIES):
            if k.startswith(args.prefix):
                tag = "sql-oracle" if k in registry.ORACLE else "rows-only"
                print(f"{k:32s} {tag}")
        return 0

    if args.key not in registry.QUERIES:
        print(f"unknown key: {args.key} (try `list`)", file=sys.stderr)
        return 1

    if args.cmd == "oracle":
        sql = registry.ORACLE.get(args.key)
        if sql is None:
            print(f"{args.key} is rows-only (no SQL oracle)", file=sys.stderr)
            return 1
        print(sql.strip())
        return 0

    spark = build_session(app=f"npc-cli-{args.cmd}")
    df = registry.QUERIES[args.key](spark, args.sf)
    if args.cmd == "explain":
        df.explain("formatted")
        return 0
    if args.cmd == "profile":
        before = shuffle_written(spark)
        t0 = time.time()
        n = df.count()
        wall = time.time() - t0
        drain_listeners(spark)
        after = shuffle_written(spark)
        sb = (
            after - before
            if before is not None and after is not None and after >= before
            else None
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"key={args.key}  sf={args.sf}")
        print(f"rows={n}  wall={wall:.2f}s  shuffle_write_bytes={sb}")
        print(shape_summary(plan))
        return 0
    t0 = time.time()
    df.show(args.n, truncate=False)
    print(f"rows={df.count()}  wall={time.time() - t0:.2f}s  sf={args.sf}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
