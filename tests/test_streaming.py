"""Streaming runtime checks: stateful parity with batch, watermark
withholding, late-data behavior on crafted input."""

import os

from pyspark.sql import functions as F

from npc_recommender_netflix_spark import registry
from npc_recommender_netflix_spark.session import load_table
from tests.conftest import SF_SMALL


def test_stateful_running_count_matches_batch(spark):
    stream_counts = {
        r["user_id"]: r["n"]
        for r in registry.QUERIES["st_stateful"](spark, SF_SMALL).collect()
    }
    batch_counts = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert stream_counts == batch_counts


def test_watermark_withholds_tail_windows(spark):
    """Append mode with 1h watermark: windows ending after max(ts)-1h are
    withheld, so append emits strictly fewer window rows than complete."""
    withheld = registry.QUERIES["st_watermark"](spark, SF_SMALL)
    full = registry.QUERIES["st_tumbling"](spark, SF_SMALL)
    n_w, n_f = withheld.count(), full.count()
    assert 0 < n_w < n_f
    ev = load_table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    late_cutoff = max_ts.replace(minute=0, second=0, microsecond=0)
    emitted_max = withheld.agg(F.max("wstart")).first()[0]
    assert emitted_max < late_cutoff


def test_streaming_dedup_restores_exact_counts(spark):
    stream = {
        r["event_type"]: r["cnt"]
        for r in registry.QUERIES["st_dedup"](spark, SF_SMALL).collect()
    }
    batch = {
        r["event_type"]: r["cnt"]
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert stream == batch


def test_late_data_dropped_beyond_watermark(spark, tmp_path):
    """Three deterministic micro-batches: b1 sets max event time 12:00 (so
    watermark reaches 11:00), b2 is a fresh row keeping the stream moving,
    b3 carries a 09:00 straggler that must be dropped.

    Two determinism traps found the hard way: (a) each batch dir must be
    ONE part file — multi-part dirs share a pinned mtime and the file
    source breaks mtime ties in arbitrary listing order, letting the
    12:00 row process before the 10:00 row and drop the ON-TIME row;
    (b) the input-drop watermark lags the displayed one by a batch (the
    wm computed from batch N's stats filters batch N+2's input), so the
    straggler needs a batch BETWEEN it and the watermark-setting rows —
    with only two batches Spark admits the late row and flushes its
    window on the final availableNow tick."""
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    os.makedirs(src)

    def write_batch(name, rows):
        df = spark.createDataFrame(rows, "id LONG, ts STRING").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        df.coalesce(1).write.parquet(os.path.join(src, name))

    write_batch("b1", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00")])
    write_batch("b2", [(4, "2024-01-01 12:30:00")])
    write_batch("b3", [(3, "2024-01-01 09:00:00")])
    # FileStreamSource picks files oldest-mtime-first; writes can land in
    # the same clock tick, so pin strictly increasing mtimes per batch.
    import time as _time

    now = _time.time()
    offsets = {"b1": -240, "b2": -120, "b3": 0}
    for root, _, files in os.walk(src):
        off = offsets.get(os.path.basename(root))
        if off is None:
            continue
        for f in files:
            os.utime(os.path.join(root, f), (now + off, now + off))

    stream = (
        spark.readStream.schema("id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("cnt"))
    )
    q = (
        agg.select(F.col("window.start").alias("ws"), "cnt")
        .writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {r["ws"].hour: r["cnt"] for r in spark.table("late_test").collect()}
    # watermark from b1 = 12:00-1h = 11:00 -> the 10:00 window closed with
    # only event id=1; the 09:00 straggler (b3) must NOT appear anywhere;
    # the 12:00/12:30 windows are still open (never emitted in append).
    assert emitted == {10: 1}


def test_stateful_funnel_matches_batch(spark):
    """The streaming funnel's per-user depths must aggregate to the batch
    q_event_funnel counts (single availableNow batch = no late data, so
    the approximation is exact here)."""
    from tests.conftest import SF_SMALL

    depths = {
        r["user_id"]: r["depth"]
        for r in registry.QUERIES["st_funnel_stateful"](spark, SF_SMALL).collect()
    }
    batch = registry.QUERIES["q_event_funnel"](spark, SF_SMALL).collect()[0]
    n1 = sum(1 for d in depths.values() if d >= 1)
    n2 = sum(1 for d in depths.values() if d >= 2)
    n3 = sum(1 for d in depths.values() if d >= 3)
    assert (n1, n2, n3) == (
        batch["n_click"], batch["n_click_view"], batch["n_click_view_purchase"]
    )


def test_rocksdb_state_survives_restart_and_writes_artifacts(spark):
    """st_rocksdb_state must (a) produce counts equal to the batch groupBy
    — which only happens if RocksDB state written before the restart is
    recovered after it — and (b) leave genuine RocksDB artifacts (.zip
    changelog/snapshot uploads) in the checkpoint's state dir, proving the
    provider conf engaged rather than being silently ignored."""
    import os

    from npc_recommender_netflix_spark import registry
    from tests.conftest import SF_SMALL

    got = {
        r["event_type"]: r["cnt"]
        for r in registry.QUERIES["st_rocksdb_state"](spark, SF_SMALL).collect()
    }
    batch = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    want = {
        r["event_type"]: r["cnt"]
        for r in batch.groupBy("event_type").count().withColumnRenamed("count", "cnt").collect()
    }
    assert got == want

    ckpt = spark.conf.get("spark.npc.lastRocksCkpt")
    state_root = os.path.join(ckpt, "state")
    rocks_files = []
    for dirpath, _dirnames, filenames in os.walk(state_root):
        rocks_files.extend(
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith((".zip", ".sst", ".changelog"))
        )
    assert rocks_files, f"no RocksDB artifacts under {state_root}"


def test_rate_limited_backfill_took_multiple_batches(spark):
    """maxFilesPerTrigger=1 over a 4-file feed must advance in >1
    micro-batch (the throttle is real, not silently ignored) while the
    final complete-mode counts equal the batch aggregate."""
    from tests.conftest import SF_SMALL

    got = {
        (r["event_type"], r["cnt"])
        for r in registry.QUERIES["st_rate_limited_backfill"](
            spark, SF_SMALL
        ).collect()
    }
    import pyspark.sql.functions as F

    want = {
        (r["event_type"], r["cnt"])
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("cnt"))
        .collect()
    }
    assert got == want
    n_batches = int(spark.conf.get("spark.npc.lastBackfillBatches"))
    assert n_batches >= 2, f"expected a throttled multi-batch run, got {n_batches}"


def test_sql_scripting_bisection_brackets_the_revenue_median(spark):
    """The script's final [lo, hi) bracket must actually straddle the
    revenue-median cutoff: revenue at-or-below lo < half <= revenue
    at-or-below hi, with the bracket narrowed to maxc/2^12."""
    from tests.conftest import SF_SMALL

    import pyspark.sql.functions as F

    r = registry.QUERIES["q_sql_scripting"](spark, SF_SMALL).collect()[0]
    cents = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    )
    total = cents.agg(F.sum("c")).collect()[0][0]
    half = (total + 1) // 2
    below_lo = cents.where(F.col("c") <= r["lo_cents"]).agg(F.sum("c")).collect()[0][0] or 0
    below_hi = cents.where(F.col("c") <= r["hi_cents"]).agg(F.sum("c")).collect()[0][0] or 0
    assert below_lo < half <= below_hi
    maxc = cents.agg(F.max("c")).collect()[0][0]
    assert r["hi_cents"] - r["lo_cents"] <= maxc // 4096 + 1
    assert r["n_iter"] == 12


def test_cdc_apply_tombstones_prevent_resurrection(spark):
    """The CDC state after replay must match the max-seq-wins batch
    semantics EXACTLY, and a key whose last change is a delete must be
    absent from the live set no matter which batch carried the delete
    (the feed's parity split interleaves sequences across batches)."""
    from tests.conftest import SF_SMALL

    import pyspark.sql.functions as F

    got = {
        r["bucket"]: (r["n_live"], r["live_cents"], r["n_tombstones"])
        for r in registry.QUERIES["st_cdc_apply"](spark, SF_SMALL).collect()
    }
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    from pyspark.sql import Window as W

    ch = orders.select(
        (F.col("o_orderkey") % 500).alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    last = (
        ch.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("k").orderBy(F.col("seq").desc())),
        )
        .where(F.col("rn") == 1)
    )
    want = {
        r["bucket"]: (r["n_live"], r["live_cents"], r["n_tombstones"])
        for r in last.groupBy((F.col("k") % 10).cast("long").alias("bucket"))
        .agg(
            F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).cast("long").alias("n_live"),
            F.coalesce(F.sum(F.when(F.col("op") == "U", F.col("cents"))), F.lit(0))
            .cast("long").alias("live_cents"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).cast("long").alias("n_tombstones"),
        )
        .collect()
    }
    assert got == want
    assert sum(v[2] for v in got.values()) > 0, "fixture must exercise deletes"


def test_l_diversity_bounds(spark):
    """l can never exceed the number of distinct sensitive values, and
    the entropy-l lower-bounds the distinct-count l for the minimum
    group (entropy l <= distinct l always)."""
    from tests.conftest import SF_SMALL

    r = registry.QUERIES["t_l_diversity"](spark, SF_SMALL).collect()[0]
    n_sources = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("source").distinct().count()
    )
    assert 1 <= r["l_diversity"] <= n_sources
    assert 0 < r["min_entropy_l"] <= n_sources + 1e-6
    assert r["n_rows_at_risk"] <= r["n_rows"]
