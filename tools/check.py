"""Local replica of the driver's t2 oracle check, for offline debugging.

Runs each registered query on Spark and its oracle SQL on DuckDB over the
same sf dir, then compares row count, sorted column names, and an
order-insensitive normalized value multiset.

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [keys...]
    python tools/check.py --list
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from npc_recommender_netflix_spark import registry
from npc_recommender_netflix_spark.metrics import drain_listeners
from npc_recommender_netflix_spark.session import TABLES, build_session
from tools.logcap import WarningCapture
from tools.plans import PARTITIONLESS_WINDOW_WHITELIST, partitionless_windows

registry.load_all()


def norm(v):
    """Normalize a value so Spark and DuckDB representations compare equal."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{round(v, 9):.9f}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={norm(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def normalize_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


# DuckDB output types the driver's pandas-based hasher canonicalizes
# differently than Spark's (HUGEINT/int128 != int64 even when the values
# are equal — round-7 a_chi2_uniform / a_key_skew_census driver fails).
# A bare sum(BIGINT) in an oracle silently widens; force CAST(... AS BIGINT).
FORBIDDEN_ORACLE_TYPES = {
    "HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT",
}


def oracle_dtype_problems(rel):
    """Return [col: TYPE] entries for oracle output columns whose DuckDB
    type the driver's hasher renders differently than the Spark twin."""
    bad = []
    for c, t in zip(rel.columns, rel.types):
        ts = str(t).upper()
        if ts in FORBIDDEN_ORACLE_TYPES or ts.startswith("DECIMAL"):
            bad.append(f"{c}: {ts}")
    return bad


def _reject_nonscalar(sdf, key):
    """The DRIVER's pandas-based hasher crashes on ARRAY/MAP/STRUCT and
    canonicalizes DECIMAL differently than we do (round-1 a_collect_sorted /
    p_cast failures were masked by this checker handling them fine locally).
    Fail loudly here so a non-scalar output never reaches the driver."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    bad = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType, DecimalType))
    ]
    if bad:
        raise TypeError(
            f"{key}: non-driver-hashable output column(s) {bad} "
            "(serialize arrays to strings / reshape decimals to rounded doubles)"
        )


def run_one(spark, con, key, sf_dir):
    fn = registry.QUERIES[key]
    t0 = time.time()
    sdf = fn(spark, sf_dir)
    _reject_nonscalar(sdf, key)
    srows = sdf.collect()
    scols = sdf.columns
    t_spark = time.time() - t0
    # Partitionless-window tripwire (round-9 verdict item 4): an
    # unpartitioned WindowExec sorts its whole input on ONE task, so any
    # key running one must be in the documented bounded-axis whitelist.
    # Streaming keys return batch DFs read from sinks (no window survives
    # into the returned plan), so the walk is safe on every key.
    if key not in PARTITIONLESS_WINDOW_WHITELIST and partitionless_windows(sdf):
        return (
            "FAIL",
            len(srows),
            ["partitionless window not in PARTITIONLESS_WINDOW_WHITELIST "
             "(tools/plans.py) — document the bounded axis or partition it"],
            t_spark,
            None,
        )
    if key not in registry.ORACLE:
        return ("ROWS-ONLY", len(srows), None, t_spark, None)
    t0 = time.time()
    rel = con.sql(registry.ORACLE[key])
    bad_types = oracle_dtype_problems(rel)
    ocols = rel.columns
    orows = rel.fetchall()
    t_duck = time.time() - t0
    problems = []
    if bad_types:
        problems.append(f"oracle dtype not driver-hashable: {bad_types}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not problems:
        a = normalize_rows(scols, [tuple(r) for r in srows])
        b = normalize_rows(ocols, orows)
        if a != b:
            diff_a = [x for x, y in zip(a, b) if x != y][:3]
            diff_b = [y for x, y in zip(a, b) if x != y][:3]
            n_diff = sum(1 for x, y in zip(a, b) if x != y)
            problems.append(f"values differ ({n_diff} rows): spark={diff_a} oracle={diff_b}")
    return ("OK" if not problems else "FAIL", len(srows), problems, t_spark, t_duck)


# Sweep-log WARN hygiene (round-13 verdict item 6): a full 700-key sweep
# emitted ~3.2k WARN lines, ~97% from SIX known-benign boilerplate
# emitters, burying real warnings. Each suppression below is justified
# in place; the list is printed into the sweep log so nothing is hidden
# silently. The Analyzer-level "trivially true equals predicate"
# tripwire (tools/logcap.py) is NOT on this list and still fails keys.
_QUIET_LOGGERS = {
    # bounded-axis windows (brand Pareto rows, 12-month seasonality, CDF
    # axes) are a documented pattern — verdicts r12/r13 adjudicated every
    # emitter; the partitionless-window plan audit (tools/plans.py)
    # remains the real gate for NEW unpartitioned windows.
    "org.apache.spark.sql.execution.window.WindowExec":
        "No Partition Defined over documented bounded axes",
    # fresh streaming checkpoints have no checksum files yet — every
    # st_* key starts from a clean /tmp checkpoint dir by design.
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "ChecksumCheckpointFileManager":
        "first-write checksum probe on fresh checkpoints",
    # first read of a fresh state store loads from snapshot — expected
    # on every st_* key's cold start.
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider":
        "cold-start snapshot reads on fresh state stores",
    # one advisory per streaming key: AQE is unsupported in stateful
    # workloads (the keys never enable it for streams).
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution":
        "AQE-unsupported advisory on stateful streams",
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream":
        "AQE-unsupported advisory on stateful streams",
    # j_full_outer et al: broadcast hint legitimately ignored for full
    # outer joins — the hint is part of the key's declared plan probe.
    "org.apache.spark.sql.catalyst.analysis.HintErrorLogger":
        "broadcast hint unsupported for full outer join",
}

# DAGScheduler must NOT be level-suppressed: raising the whole logger
# to ERROR would also hide genuine scheduler warnings (lost tasks,
# stage failures) for the entire sweep (round-14 advice). Only its one
# documented-benign message — "Broadcasting large task binary" sizes
# for the deliberate in-plan broadcast constants, tracked per-key by
# bench/SCALECHECK — is denied, message-scoped, at the appenders (the
# same mechanism as the per-instance state-store filter below).
_DENY_MESSAGE_REGEXES = (
    ".*doesn't exist in loadedMaps.*",
    ".*Broadcasting large task binary with size.*",
)


def _quiet_documented_warn_boilerplate(spark) -> None:
    """Raise the six documented-benign boilerplate loggers to ERROR for
    the sweep session and say so in the log. Real problems from these
    classes still surface at ERROR level."""
    try:
        jvm = spark._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        lvl = jvm.org.apache.logging.log4j.Level.ERROR
        for name in _QUIET_LOGGERS:
            configurator.setLevel(name, lvl)
        # Message-scoped denials (appender-level RegexFilters):
        # 1. HDFSBackedStateStoreProvider logs through PER-INSTANCE
        #    logger names ("...Provider StateStoreProviderId[...]"),
        #    which the dot-separated logger hierarchy cannot parent —
        #    deny its one documented-benign message ("normal for the
        #    first batch", per the message's own text).
        # 2. DAGScheduler's "Broadcasting large task binary" advisory —
        #    message-scoped so every OTHER DAGScheduler warning (lost
        #    tasks, stage retries) still reaches the sweep log
        #    (round-14 advice replaced the old whole-logger ERROR).
        try:
            deny = jvm.org.apache.logging.log4j.core.Filter.Result.DENY
            neutral = (
                jvm.org.apache.logging.log4j.core.Filter.Result.NEUTRAL
            )
            ctx = (
                jvm.org.apache.logging.log4j.core.LoggerContext
                .getContext(False)
            )
            for pattern in _DENY_MESSAGE_REGEXES:
                filt = (
                    jvm.org.apache.logging.log4j.core.filter.RegexFilter
                    .createFilter(pattern, None, False, deny, neutral)
                )
                for app in ctx.getConfiguration().getAppenders().values():
                    app.addFilter(filt)
        except Exception:
            pass  # filter API drift: levels above still cover 90%+
        print(
            "NOTE: WARN level raised to ERROR for "
            f"{len(_QUIET_LOGGERS)} documented-benign boilerplate loggers "
            "(WindowExec bounded-axis, fresh-checkpoint/state-store, "
            "streaming-AQE advisories, full-outer hint) plus "
            f"{len(_DENY_MESSAGE_REGEXES)} message-scoped appender "
            "denials (state-store loadedMaps cold-start, DAGScheduler "
            "task-binary size — other DAGScheduler warnings still "
            "surface); see tools/check.py _QUIET_LOGGERS / "
            "_DENY_MESSAGE_REGEXES for per-entry justification. The "
            "trivially-true-predicate tripwire is unaffected and still "
            "fails keys."
        )
    except Exception:
        # log4j2 API drift must never break the sweep; noisy > broken.
        print("NOTE: WARN-boilerplate suppression unavailable "
              "(log4j2 Configurator attach failed); sweep log will be "
              "noisy but complete")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--list", action="store_true")
    ap.add_argument("--plain", action="store_true",
                    help="use a vanilla SparkSession (driver-like: default memory/confs)")
    ap.add_argument("--slice", dest="slice_", metavar="A:B", default=None,
                    help="check DRIVER-ORDER positions A..B (1-based, "
                         "inclusive) — the ordering __spark_entry__."
                         "queries() serves the round driver, so "
                         "'--plain --slice 1:50' pre-verifies exactly "
                         "the next driver sample; tranches replace the "
                         "hand-built key lists the round-15 parity "
                         "protocol used")
    args = ap.parse_args()

    if args.list:
        for k in sorted(registry.QUERIES):
            print(k, "(rows-only)" if k not in registry.ORACLE else "")
        return

    keys = args.keys or sorted(registry.QUERIES)
    if args.slice_:
        if args.keys:
            ap.error("--slice and explicit keys are mutually exclusive")
        import importlib.util

        entry_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "__spark_entry__.py",
        )
        spec = importlib.util.spec_from_file_location("_entry", entry_path)
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        order = list(entry.queries())
        try:
            a, b = (int(x) for x in args.slice_.split(":"))
        except ValueError:
            ap.error(f"--slice must be A:B with integer A,B, got "
                     f"{args.slice_!r}")
        if not (1 <= a <= b):
            ap.error(f"--slice needs 1 <= A <= B, got {a}:{b}")
        if a > len(order):
            ap.error(f"--slice {a}:{b} starts past the registry "
                     f"({len(order)} keys)")
        keys = order[a - 1:b]
        print(f"driver-order slice {a}:{b} -> {len(keys)} keys "
              f"({keys[0]} .. {keys[-1]})")
    if args.plain:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = build_session()
    _quiet_documented_warn_boilerplate(spark)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    # Log-cleanliness tripwire (round-10 verdict item 2): a key whose plan
    # build makes Spark log "trivially true equals predicate" carries an
    # ambiguous self-join that can degenerate to a cross join — FAIL it
    # even when the values still hash-match.
    logcap = WarningCapture(spark)
    logcap.drain()  # discard session-startup noise
    if not logcap.active:
        # A sweep without the tripwire must not read as a clean one
        # (round-11 advice: silence here looked identical to "0 dirty").
        print("NOTE: log tripwire INACTIVE (log4j2 appender attach failed);"
              " ambiguous-self-join warnings will NOT fail keys this sweep")

    n_ok = n_fail = 0
    try:
        for key in keys:
            try:
                status, nrows, problems, t_s, t_d = run_one(spark, con, key, args.sf)
            except Exception:
                status, nrows, problems = "ERROR", -1, [traceback.format_exc(limit=8)]
                t_s = t_d = None
            if logcap.active:
                # Async JVM threads (listener bus, lazy job cleanup) can
                # log after run_one returns; wait for the bus so their
                # warnings land in THIS key's drain window, not the next.
                drain_listeners(spark)
                dirty = logcap.dirty_lines()
            else:
                dirty = []
            if dirty:
                # Attribution is approximate (drained between keys), so
                # the recorded problem names the key it was charged to.
                msg = (f"dirty JVM log (ambiguous self-join), attributed to "
                       f"key={key}: {dirty[0][:200]}")
                if status in ("OK", "ROWS-ONLY"):
                    status = "FAIL"
                problems = (problems or []) + [msg]
            flag = {"OK": ".", "ROWS-ONLY": "r", "FAIL": "F", "ERROR": "E"}[status]
            times = f"spark={t_s:.1f}s" if t_s is not None else ""
            print(f"[{flag}] {key:24s} rows={nrows:<8d} {times}")
            if problems:
                for p in problems:
                    print("      ", p[:2000])
            if status in ("OK", "ROWS-ONLY"):
                n_ok += 1
            else:
                n_fail += 1
            # Keys that .cache() intermediates (t_simhash_pairs, dup-cluster
            # propagation, r_mllib_logreg) would otherwise accumulate executor
            # storage memory across a 619-key sweep in one SparkSession.
            spark.catalog.clearCache()
    finally:
        logcap.close()
    print(f"\n{n_ok} ok, {n_fail} failed (of {len(keys)})")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
