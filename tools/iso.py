"""Per-key isolation harness (optimization rounds, guide §1).

Usage: python tools/iso.py KEY [KEY...] [--sf DIR] [--reps N] [--noop]
       [--plan OUT.txt]

For each key: builds the bench session (same confs as bench.py), warms the
scan path, then times the key `reps` times — with `.count()` (the bench's
timed action) by default, or the noop sink with --noop (times every column's
computation, guide §1.4). `--plan FILE` writes `.explain('formatted')` for
the FIRST key to FILE. Cache is cleared between reps exactly like bench.py,
so rep timings are comparable to the bench's per-key cost. A key that
raises prints `ISO <key> ERROR <exception>` and the run goes on.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from npc_recommender_netflix_spark import registry
from npc_recommender_netflix_spark.session import build_session, load_table

registry.load_all()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--plan", default=None)
    args = ap.parse_args()

    spark = build_session(app="npc-iso")
    spark.range(1).count()
    for t in ("lineitem", "orders", "customer", "events", "documents",
              "embeddings"):
        load_table(spark, args.sf, t).count()

    for ki, key in enumerate(args.keys):
        try:
            times = _time_key(spark, key, args, plan_out=ki == 0)
        except Exception as exc:  # one failing key must not end the run
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
            msg = " ".join(str(exc).split())[:300]
            print(f"ISO {key} ERROR {type(exc).__name__}: {msg}", flush=True)
            continue
        print(f"ISO {key} reps={times} min={min(times)}", flush=True)


def _time_key(spark, key, args, plan_out: bool) -> list[float]:
    if args.plan and plan_out:
        df = registry.QUERIES[key](spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(args.plan, "w") as fh:
            fh.write(plan)
        spark.catalog.clearCache()
    times = []
    for _ in range(args.reps):
        spark.sparkContext.setJobDescription(f"iso:{key}")
        t0 = time.time()
        df = registry.QUERIES[key](spark, args.sf)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        times.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
    return times


if __name__ == "__main__":
    main()
