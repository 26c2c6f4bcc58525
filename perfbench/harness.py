"""One benchmark run: set up, run a workload's keys once, check, report.

Run through ``perfbench/run.py``, which owns the process group and the
time limit. All paths are inside the current directory (the checkout
root): inputs, Spark local dirs, temp files and the trace file live under
``.perfbench/``.

Layers are measured from outside the engine: the harness times calls into
``session.build_session``/``load_table``, ``registry.QUERIES[key]`` and
``collect()`` on the returned DataFrame, and (traced runs only) reads the
query's ``QueryExecution``, Spark's status store and the executed plan.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

import datagen  # noqa: E402

N_SETUPS = 3
WARM_TABLES = ("lineitem", "orders", "customer", "events", "documents",
               "embeddings")
MB = 1024 * 1024
# Python-node SQL metrics (PythonSQLMetrics) -> (per-layer name, scale).
PY_METRICS = {
    "pythonDataSent": ("py.data_sent_mb", 1 / MB),
    "pythonDataReceived": ("py.data_received_mb", 1 / MB),
    "pythonNumRowsReceived": ("py.rows_received", 1),
    "pythonTotalTime": ("py.total_s", 1e-3),
    "pythonBootTime": ("py.boot_s", 1e-3),
    "pythonInitTime": ("py.init_s", 1e-3),
}
KEY_LAYERS = (
    "build.s", "build.jobs", "build.schema_jobs",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb",
    "cache.storage_mb", "cache.rdds", "cache.inmem_scans",
    *(name for name, _ in PY_METRICS.values()),
    "check.s", "check.rows",
)
# Gauges read after each key: the workload value is the largest reading,
# not the sum.
GAUGES = ("cache.storage_mb", "cache.rdds")


def box() -> tuple[int, int]:
    """(usable cores, driver heap MiB) for this machine."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    return cpus, min(2048, total_mb // 4)


def _decimals(v: float) -> int:
    """Decimal places ``v`` shows (9 at most, the places tools/check.py
    compares)."""
    for d in range(9):
        if round(v, d) == v:
            return d
    return 9


def _rounding_tie_match(cols, rows, ocols, orows) -> bool:
    """Whether two results match up to rounding ties. Generated inputs can
    put a float sum exactly on a tie of the output's rounding, where the
    summation order (which differs between the engines) flips the last
    rounded digit. Rows are sorted alike and compared one by one: every
    value must be equal under ``norm``, except that a float in a column
    rounded to ``d`` places (1 <= d <= 8, the most any of the column's
    values shows) may differ by one unit in that place."""
    from tools.check import norm

    def by_name(names, rs):
        order = sorted(range(len(names)), key=lambda i: names[i])
        return sorted((tuple(r[i] for i in order) for r in rs),
                      key=lambda r: [norm(v) for v in r])

    a, b = by_name(cols, rows), by_name(ocols, orows)
    places = [max((_decimals(r[j]) for r in a + b
                   if isinstance(r[j], float) and math.isfinite(r[j])), default=0)
              for j in range(len(cols))]
    for ra, rb in zip(a, b):
        for va, vb, d in zip(ra, rb, places):
            if norm(va) == norm(vb):
                continue
            if not (isinstance(va, float) and isinstance(vb, float)
                    and 1 <= d <= 8 and abs(va - vb) <= 1.000001 * 10.0 ** -d):
                return False
    return True


class Spans:
    """In-memory span log: ``run`` -> ``session.*`` / ``key:<name>`` ->
    ``build`` / ``exec`` / ``check``. Written out once, at the end."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = [{"id": 0, "name": "run", "parent": None,
                                   "start_s": 0.0, "dur_s": None}]

    def add(self, name, start, end, parent=None, **attrs):
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": parent,
            "start_s": round(start - self.t0, 6),
            "dur_s": round(end - start, 6), **attrs,
        })
        return len(self.spans) - 1

    def finish(self, **attrs) -> None:
        self.spans[0].update(dur_s=round(time.perf_counter() - self.t0, 6), **attrs)


class Bench:
    def __init__(self, run_dir: str, workload: str, seed: int, trace: bool,
                 sf: float):
        self.run_dir = run_dir
        self.workload = workload
        self.seed = seed
        self.sf = sf
        self.trace = trace
        self.data_dir = os.path.join(run_dir, "data")
        self.cpus, self.heap_mb = box()
        self.spans = Spans()
        self.setups: list[tuple[float, float]] = []
        self.records: list[dict] = []

    # -- environment and set-up ------------------------------------------

    def prepare(self) -> None:
        """Generate inputs and point every temp path into the run dir.
        Must run before pyspark/duckdb are imported."""
        tmp = os.path.join(self.run_dir, "tmp")
        for d in (tmp, os.path.join(self.run_dir, "local")):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*.
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.heap_mb}m"
        datagen.write(self.data_dir, self.sf, self.seed)

    def session_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.run_dir, "tmp")
        return {
            # Status-store reads attribute by job group over the whole run;
            # nothing may be evicted before it is read.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }

    def setup(self, n: int = N_SETUPS):
        """Start the session and warm the scan path ``n`` times (the first
        launches the JVM); keeps the last session."""
        from npc_recommender_netflix_spark import registry
        from npc_recommender_netflix_spark.session import build_session, load_table

        registry.load_all()
        self.queries = registry.QUERIES
        self.oracle = dict(registry.ORACLE)
        for i in range(n):
            t0 = time.perf_counter()
            spark = build_session(app=f"perfbench-{self.workload}",
                                  extra_conf=self.session_conf())
            spark.range(1).count()
            t1 = time.perf_counter()
            for t in WARM_TABLES:
                load_table(spark, self.data_dir, t).count()
            t2 = time.perf_counter()
            self.spans.add("session.start", t0, t1, 0)
            self.spans.add("session.warm", t1, t2, 0)
            self.setups.append((t1 - t0, t2 - t1))
            if i < n - 1:
                spark.stop()
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.master = self.sc.master
        self.heap = self.sc.getConf().get("spark.driver.memory")

    def duck(self):
        import duckdb

        from npc_recommender_netflix_spark.session import TABLES

        con = duckdb.connect()
        con.execute("SET autoinstall_known_extensions = false")
        con.execute(f"SET extension_directory = '{self.run_dir}/duck'")
        con.execute(f"SET temp_directory = '{self.run_dir}/duck'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet')")
        return con

    # -- the pass ---------------------------------------------------------

    def key_input(self, key: str, shared: bool) -> str:
        """The input path ``key`` reads: the data dir itself in a shared
        workload, else a per-key symlink to it, so the engine's memos
        (keyed by input path) start empty for every key."""
        if shared:
            return self.data_dir
        alias = os.path.join(self.run_dir, "inputs", key)
        if not os.path.islink(alias):
            os.makedirs(os.path.dirname(alias), exist_ok=True)
            os.symlink(self.data_dir, alias)
        return alias

    def run_pass(self, keys: list[str], shared: bool) -> float:
        """Run ``keys`` once; returns the pass's clocked seconds (build +
        exec [+ clearCache] per key). Checks and trace reads are off the
        clock."""
        con = self.duck()
        run_s = 0.0
        for key in keys:
            sf_dir = self.key_input(key, shared)
            group = f"{self.workload}:{key}"
            self.sc.setJobGroup(group, key)
            rec = {"key": key, "ok": False}
            t0 = time.perf_counter()
            t1 = t2 = None
            try:
                df = self.queries[key](self.spark, sf_dir)
                t1 = time.perf_counter()
                if self.trace:
                    build_ids = set(self._group_jobs(group))
                rows = df.collect()
                t2 = time.perf_counter()
            except Exception:
                rec["error"] = traceback.format_exc(limit=6)
            finally:
                if not shared:
                    self.spark.catalog.clearCache()
            t3 = time.perf_counter()
            run_s += t3 - t0
            rec["wall_s"] = t3 - t0
            kid = self.spans.add(f"key:{key}", t0, t3, 0)
            if t2 is not None:
                rec["build.s"], rec["exec.s"] = t1 - t0, t2 - t1
                self.spans.add("build", t0, t1, kid)
                self.spans.add("exec", t1, t2, kid)
                if self.trace:
                    rec.update(self.layers(df, group, build_ids))
                c0 = time.perf_counter()
                try:
                    rec["ok"], rec["check"] = self.check(con, key, df.columns, rows)
                except Exception:
                    rec["check"] = traceback.format_exc(limit=6)
                c1 = time.perf_counter()
                rec["check.s"], rec["check.rows"] = c1 - c0, len(rows)
                self.spans.add("check", c0, c1, kid, ok=rec["ok"])
            self.records.append(rec)
            if not rec["ok"]:
                print(f"FAILED {key}: {rec.get('error') or rec.get('check')}",
                      file=sys.stderr)
        con.close()
        return run_s

    def check(self, con, key, cols, rows) -> tuple[bool, str]:
        """Order-insensitive match against the key's DuckDB oracle; keys
        without an oracle need a schema and at least one row."""
        from tools.check import normalize_rows

        if key not in self.oracle:
            ok = bool(cols) and len(rows) > 0
            return ok, "rows-only" if ok else f"rows-only: {len(rows)} rows"
        rel = con.sql(self.oracle[key])
        ocols, orows = rel.columns, rel.fetchall()
        if sorted(cols) != sorted(ocols):
            return False, f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return False, f"rows {len(rows)} != oracle {len(orows)}"
        rows = [tuple(r) for r in rows]
        if normalize_rows(cols, rows) == normalize_rows(ocols, orows):
            return True, "oracle"
        if _rounding_tie_match(cols, rows, ocols, orows):
            return True, "oracle, rounding tie"
        return False, "values differ from oracle"

    # -- layer probes (traced runs only) -----------------------------------

    def _seq(self, scala_seq):
        return list(self.conv.asJava(scala_seq))

    def _group_jobs(self, group) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_metrics(self, job_ids) -> dict[str, float]:
        """Sum the status store's stage metrics over ``job_ids`` (skipped
        stages excluded)."""
        store = self.sc._jsc.sc().statusStore()
        stage_ids = set()
        for j in job_ids:
            stage_ids.update(self._seq(store.job(j).stageIds()))
        out = dict.fromkeys(("exec.stages", "exec.tasks", "exec.task_run_s",
                             "exec.task_cpu_s", "exec.gc_s",
                             "exec.shuffle_write_mb", "exec.shuffle_read_mb",
                             "exec.spill_mb"), 0.0)
        if not stage_ids:
            return out
        gw = self.sc._gateway
        stages = store.stageList(self.jvm.java.util.ArrayList(), False, False,
                                 gw.new_array(self.jvm.double, 0),
                                 self.jvm.java.util.ArrayList())
        for st in self._seq(stages):
            if st.stageId() not in stage_ids or st.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks()
            out["exec.task_run_s"] += st.executorRunTime() / 1e3
            out["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.gc_s"] += st.jvmGcTime() / 1e3
            out["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["exec.shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["exec.spill_mb"] += st.diskBytesSpilled() / MB
        return out

    def plan_nodes(self, node):
        """Every node of an executed plan, through AQE wrappers and
        subqueries (not into cached relations). One py4j round trip per
        call, so only walked for the few plans that hold Python nodes."""
        name = node.getClass().getSimpleName()
        yield name, node
        if name == "AdaptiveSparkPlanExec":
            yield from self.plan_nodes(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            yield from self.plan_nodes(node.plan())
            return
        for child in self._seq(node.children()) + self._seq(node.subqueries()):
            yield from self.plan_nodes(child)

    def inmem_scans(self, plan) -> int:
        """InMemoryTableScanExec leaves of an executed plan (through AQE
        stages), found with one ``collectLeaves`` call per stage."""
        n = 0
        for leaf in self._seq(plan.collectLeaves()):
            name = leaf.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                n += self.inmem_scans(leaf.executedPlan())
            elif name.endswith("QueryStageExec"):
                n += self.inmem_scans(leaf.plan())
            elif name == "InMemoryTableScanExec":
                n += 1
        return n

    def layers(self, df, group, build_ids) -> dict[str, float]:
        self.drain()
        all_ids = self._group_jobs(group)
        exec_ids = [j for j in all_ids if j not in build_ids]
        store = self.sc._jsc.sc().statusStore()
        out = {
            "build.jobs": len(build_ids),
            # Parquet schema inference runs one job per spark.read.parquet.
            "build.schema_jobs": sum(
                store.job(j).name().startswith("parquet at ") for j in build_ids),
            "exec.jobs": len(exec_ids),
        }
        out.update(self.stage_metrics(exec_ids))
        qe = df._jdf.queryExecution()
        phases = self.conv.asJava(qe.tracker().phases())
        for ph in ("analysis", "optimization", "planning"):
            out[f"plan.{ph}_s"] = (phases.get(ph).durationMs() / 1e3
                                   if phases.containsKey(ph) else 0.0)
        plan = qe.executedPlan()
        out["cache.inmem_scans"] = self.inmem_scans(plan)
        out.update({name: 0.0 for name, _ in PY_METRICS.values()})
        if any(tag in plan.toString() for tag in ("Python", "Pandas", "Arrow")):
            for _, node in self.plan_nodes(plan):
                metrics = self.conv.asJava(node.metrics())
                for src, (dst, scale) in PY_METRICS.items():
                    if metrics.containsKey(src):
                        out[dst] += metrics.get(src).value() * scale
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        out["cache.rdds"] = len(infos)
        out["cache.storage_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / MB
        return out

    # -- teardown ---------------------------------------------------------

    def retained_heap_mb(self) -> float:
        """Driver heap still in use once the pass's garbage is gone: what
        the session holds (cached blocks, memos, status store). Spark's
        ContextCleaner frees a collected plan's broadcasts and shuffles
        only after a GC has found the plan dead, so a single full GC read
        nearly 3x too high on cf_pipeline, and the heap settled 1.0 to
        1.5 s later; this takes the least of six full GCs 0.4 s apart."""
        import gc

        gc.collect()  # release py4j references to dead Java objects
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for i in range(6):
            if i:
                time.sleep(0.4)
            self.jvm.System.gc()
            used.append(mx.getHeapMemoryUsage().getUsed() / MB)
        return min(used)

    def peak_rss_mb(self) -> float:
        pid = self.jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def stop(self) -> None:
        """Stop the session, the py4j gateway and the JVM, and wait."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def summarize(bench: Bench, run_s: float) -> dict:
    """Every metric of the run: end-to-end values plus the workload totals
    of the per-key layer numbers (gauges: their largest reading)."""
    tot = {}
    for name in KEY_LAYERS:
        vals = [r[name] for r in bench.records if name in r]
        tot[name] = (max(vals) if name in GAUGES else sum(vals)) if vals else 0.0
    starts = [s for s, _ in bench.setups]
    tot["session.launch_s"] = starts[0]
    tot["session.start_s"] = statistics.median(starts)
    tot["session.warm_s"] = statistics.median(w for _, w in bench.setups)
    tot["exec.busy_ratio"] = (tot["exec.task_run_s"] / (tot["exec.s"] * bench.cpus)
                              if tot["exec.s"] else 0.0)
    tot["traced.run_s"] = run_s
    tot["run_s"] = run_s
    tot["setup_s"] = statistics.median(s + w for s, w in bench.setups)
    tot["jvm.peak_rss_mb"] = bench.peak_rss_mb()
    tot["retained_heap_mb"] = bench.retained_heap_mb()
    return tot


def result(spec: dict, values: dict, records: list[dict], trace: bool) -> dict:
    """The result line: end-to-end metrics, or per-layer ones when traced,
    each with the unit BENCHMARK.json gives it."""
    failed = sum(not r["ok"] for r in records)
    group = spec["per_layer"] if trace else spec["end_to_end"]
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in group},
    }


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    a = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    spec = load_spec(root)
    workload = WORKLOADS[a.workload]
    bench = Bench(a.run_dir, a.workload, a.seed, bool(a.trace), workload.sf)
    bench.prepare()
    bench.setup()
    run_s = bench.run_pass(list(workload.keys), workload.shared)
    bench.spans.finish(run_s=run_s)
    values = summarize(bench, run_s)
    bench.stop()

    res = result(spec, values, bench.records, bool(a.trace))
    trace_path = os.path.join(os.path.dirname(a.run_dir),
                              f"trace-{a.workload}-seed{a.seed}-t{a.trace}.json")
    with open(trace_path, "w") as fh:
        json.dump({
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace,
            "master": bench.master, "driver_memory": bench.heap,
            "cpus": bench.cpus, "sf": workload.sf, "keys": workload.keys,
            "setups": bench.setups, "records": bench.records,
            "spans": bench.spans.spans, "metrics": values,
        }, fh, indent=1, default=str)
    fail_ratio = res["failed"] / res["attempted"]
    print(f"perfbench workload={a.workload} seed={a.seed} master={bench.master} "
          f"driver_memory={bench.heap} keys={res['attempted']} "
          f"run_s={values['run_s']:.3f} s setup_s={values['setup_s']:.3f} s "
          f"fail_ratio={fail_ratio:.3f} ratio "
          f"peak_rss_mb={values['jvm.peak_rss_mb']:.1f} MB "
          f"retained_heap_mb={values['retained_heap_mb']:.1f} MB trace={trace_path}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
