"""Run probes shared by bench.py, the ``profile`` CLI command and the tools.

- ``shuffle_written``: total shuffle-write bytes of every completed stage,
  read from the AppStatusStore (monotone; diff two readings per key);
- ``drain_listeners``: wait until the async listener bus is empty, so a
  reading (or a log capture) includes the stages and warnings of the job
  that just ran;
- ``shape_summary``: a one-line count of shuffles, joins, codegen spans,
  pushed filters and Arrow operators in an executed-plan string.
"""

from __future__ import annotations

import re
import time


def shuffle_written(spark):
    """Total shuffle-write bytes across all completed stages (monotone),
    or None when the internal AppStatusStore API cannot be read."""
    try:
        jvm = spark._jvm
        gw = spark.sparkContext._gateway
        store = spark.sparkContext._jsc.sc().statusStore()
        stages = store.stageList(
            jvm.java.util.ArrayList(),  # no status filter: all stages
            False, False,
            gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        total = 0
        it = stages.iterator()
        while it.hasNext():
            total += it.next().shuffleWriteBytes()
        return total
    except Exception:
        return None  # metrics are best-effort; never fail the caller


def drain_listeners(spark) -> None:
    """Stage metrics and late JVM log lines reach their consumers via the
    async listener bus; drain it so the next reading includes the job
    that just ran."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.2)


def shape_summary(plan: str) -> str:
    n_shuffle = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    n_bcast = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
    n_smj = plan.count("SortMergeJoin")
    n_codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
    pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "no"
    arrow = plan.count("FlatMapGroupsInPandas") + plan.count("MapInPandas") + plan.count(
        "ArrowEvalPython"
    )
    return (
        f"shuffles={n_shuffle} broadcast_joins={n_bcast} smj={n_smj} "
        f"codegen_spans={n_codegen} pushed_filters={pushed} arrow_ops={arrow}"
    )
