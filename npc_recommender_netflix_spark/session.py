"""SparkSession construction + table loading for the engine.

Design notes (100 TB scale):
- All loaders return plain DataFrames backed by the Parquet DSv2 scan, so
  Catalyst predicate pushdown / column pruning / partition pruning apply
  unchanged on a real cluster.
- ``events.ts`` has shipped as both Parquet TIMESTAMP(NANOS) — which Spark
  4.1.2 cannot read natively (SURVEY.md §1.3) — and native timestamp[us].
  We keep ``spark.sql.legacy.parquet.nanosAsLong=true`` and adapt to the
  dtype the scan surfaces: a long is rebuilt to a microsecond timestamp
  with integer division (``ts DIV 1000`` — float division would round-trip
  through double and can flip a microsecond at ~1.7e18 ns); a native
  timestamp passes through untouched.
- Scratch state has one owner: ``scratch_dir`` hands out fresh paths
  under one per-process root that is removed at interpreter exit, the
  way a MapReduce job's intermediate directories belong to the framework
  rather than to each job.
- Session defaults favor a local[32] dev box; on a cluster the same code
  runs with whatever master/conf the deployment provides. Every config we
  set is also settable at runtime on an externally provided session, which
  ``prepare()`` does defensively (the driver harness owns the session).
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_session(
    app: str = "npc-recommender-netflix-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session with the engine's required configs.

    On a production cluster you would keep everything except ``master`` and
    size ``spark.sql.shuffle.partitions`` to ~2-3x total cores (AQE then
    coalesces small post-shuffle partitions at runtime).

    ``shuffle_partitions`` defaults to the session's core count (r18,
    VERDICT item 5): the old hard-coded 32 meant a lower-core run (the
    driver benches at 8 cores too) still planned 32-way shuffles AND
    pinned streaming state stores at 32 partitions. Cores-scaled is the
    cluster-correct parameterization; at the 32-core bench it is
    value-identical to the old constant. An explicit ``local[N]`` master
    sets that core count; otherwise it comes from ``SPARK_GRAFT_CPUS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master and master.startswith("local[") and master[6:-1].isdigit():
        cpus = master[6:-1]
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    return (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Let AQE re-plan (coalesce) INSIDE cached plans: the engine caches
        # many bounded frames (histograms, signatures, edge lists) that are
        # re-scanned by sequential jobs; without this, a KB-sized cache
        # materializes at spark.sql.shuffle.partitions and every downstream
        # job pays a full task wave per scan. Size-based, so large caches
        # keep their partitioning — scale-adaptive by construction.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Let the planner choose shuffled-hash over sort-merge when its
        # size conditions hold, and let AQE rewrite SMJ->SHJ at runtime
        # when every post-shuffle partition is under 64 MB (guide-§3
        # baseline): the engine's pair joins are cap-bounded, so the
        # hash build side is small per partition and the sort legs are
        # pure overhead. Both knobs are size-guarded by the planner /
        # measured partition sizes, so they remain safe at cluster
        # scale (a too-big build side falls back to sort-merge).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.ui.enabled", "false")
        # keep stdout clean: the bench's final JSON line must be the last
        # stdout content (the driver tail-parses it) — console progress bars
        # write \r-spam that can interleave with it.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # local mode: driver == executors; default 1g OOMs at sf0.1 with 32
        # task threads. Pre-JVM config, no effect on externally-owned sessions.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config(map=dict(extra_conf or {}))
        .getOrCreate()
    )


def prepare(spark: SparkSession) -> SparkSession:
    """Defensively apply required *runtime-settable* session confs.

    The driver harness passes its own SparkSession; these SQL confs are
    session-scoped and safe to set at runtime.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Runtime-settable (buildConf, not static): same cached-plan AQE
    # re-planning as build_session, for externally-owned sessions.
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    # Same join-strategy knobs as build_session (runtime-settable SQL
    # confs), for externally-owned driver sessions.
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        str(64 * 1024 * 1024),
    )
    # A 200-partition default (vanilla session) costs real time x128 queries
    # at test scale; AQE coalesces but starting right is cheaper. Sized to
    # the session's core count (r18, VERDICT item 5) instead of the old
    # hard-coded 32, so an externally-owned lower-core driver session gets
    # cores-scaled shuffles and streaming state stores; identical (32) on
    # the 32-core bench session. Local masters only: on a cluster master
    # defaultParallelism is the executors registered so far (tiny under
    # dynamic allocation), so the deployment's own value is kept.
    sc = spark.sparkContext
    if sc.master == "local" or sc.master.startswith("local["):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(sc.defaultParallelism)
        )
    return spark


# Inferred parquet schemas, process-wide. A schema belongs to the file's
# bytes and to the reader confs that shape inference, not to a session, so
# the key is the file's identity (os.stat) plus those confs and is shared
# by every session of the process. The MR reference declares its input
# record format once; here each input file pays one inference job. Two
# concurrent misses both infer and store an equal schema, so no lock.
_SCHEMAS: dict[tuple, StructType] = {}

_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Identity of a regular local parquet file under the current reader
    confs, or None (URI, directory, missing file, non-local default FS)."""
    if ":" in path.split("/", 1)[0]:  # a URI scheme: hdfs:, s3a:, file:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if not hconf.get("fs.defaultFS", "file:///").startswith("file:"):
        return None
    return (
        st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns,
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local file's schema once
    per process: a repeat read supplies the cached schema and fires no
    schema-inference job. Directories and URIs always infer."""
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key) if key else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key:
        _SCHEMAS[key] = df.schema
    return df


def events_ts(df: DataFrame) -> DataFrame:
    """The events ns-timestamp recipe, for batch and streaming reads alike.

    Dtype-adaptive: parquet fixtures have shipped ts as both
    TIMESTAMP(NANOS) (read as long under nanosAsLong) and native
    timestamp[us]. A long is rebuilt to a microsecond timestamp; a native
    timestamp passes through. Session TZ is UTC, so NTZ->LTZ is a
    value-identical reinterpretation; downstream ops (unix_micros, window)
    want TIMESTAMP.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; applies the events ns-timestamp recipe."""
    prepare(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    return events_ts(df) if name == "events" else df


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as temp view ``v_<name>`` for SQL-text keys."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"v_{n}")


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh scratch path, not yet created, under one per-process root.

    Sinks, checkpoints and stream feeds write here; the root is removed at
    interpreter exit, so no key leaves a directory behind. The path does
    not exist yet because default-mode writes fail on an existing path;
    a caller that needs the directory itself creates it. Each call gets
    a new unique name, so re-running a key is independent and idempotent.
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="npc_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    return f"{_SCRATCH_ROOT}/{prefix}{uuid.uuid4().hex[:8]}"


# The one cross-key memo of cached frames, keyed (applicationId, sf_dir,
# name). The MR reference persists its ratings matrix and similarity
# intermediates between jobs as HDFS files; here they are cached frames
# that every consuming key reuses.
_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def shared_frame(spark, sf_dir: str, name: str, build, *,
                 recache: bool = True) -> DataFrame:
    """Return the memoized frame ``name`` for this app and ``sf_dir``,
    building and caching it on a miss (a frame ``build()`` already
    cached is kept as is). ``build`` may itself call ``shared_frame``.

    Every lookup first sweeps the memo:
    - other-app entries are DROPPED without unpersist (their SparkContext
      is stopped; touching the frame would raise);
    - same-app entries for a DIFFERENT sf_dir are UNPERSISTED then
      dropped: SCALECHECK ladder runs hit 1x/10x/30x fixtures in one
      session, so at most one sf_dir's frames stay live per app.

    ``spark.catalog.clearCache()`` unregisters a memoized frame for good.
    ``recache=True`` re-registers it on the next hit, which pays when
    rebuild cost x consumers exceeds one cache write; pass False for
    cheap frames with few consumers, which then recompute lazily.
    """
    app_id = spark.sparkContext.applicationId
    for k in list(_MEMO):
        if k[0] != app_id:
            del _MEMO[k]
        elif k[1] != sf_dir:
            try:
                _MEMO.pop(k).unpersist()
            except Exception:
                pass  # already released / context torn down mid-sweep
    key = (app_id, sf_dir, name)
    df = _MEMO.get(key)
    if df is None:
        df = build()
        if not df.storageLevel.useMemory:
            df.cache()
        _MEMO[key] = df
    elif recache and not df.storageLevel.useMemory:
        df.cache()
    return df


def widen_narrow_scan(spark, df, min_width: int | None = None) -> DataFrame:
    """Cores-scaled repartition for a scan-rooted frame whose source scan
    is narrower than the cluster (guide §2.5's 'unsplittable input' fix).

    The test fixtures are single-row-group parquet files, so the scan
    cannot parallelize below ONE task no matter the split size — any
    heavy per-row work above it (JSON extraction, per-token md5, wide
    vote aggregates) then runs single-threaded, and a cache built from
    that lineage pins every consumer to the same width. Round-robin
    repartitioning the raw rows right after the read restores
    cores-scaled width for one input-sized exchange. Guarded: a no-op
    whenever the scan is already at least this wide (any real cluster
    scan at 100 TB), so no shuffle is ever ADDED at scale.
    """
    width = min_width or max(4, spark.sparkContext.defaultParallelism // 2)
    if df.rdd.getNumPartitions() < width:
        df = df.repartition(width)
    return df


def f6(col):
    """Round a float expression to 6dp (SURVEY §2 float convention).

    The trailing ``+ 0.0`` canonicalizes IEEE negative zero (-0.0 -> +0.0)
    so Spark and DuckDB hash identically; oracle SQL mirrors it as ``+ 0``
    wherever the rounded value can be negative.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("double"), 6) + 0.0


def money2(col):
    """Round a money expression to 2dp (negative zero canonicalized)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("double"), 2) + 0.0
