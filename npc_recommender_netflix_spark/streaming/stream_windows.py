"""§2.10 Structured Streaming — windowed operators over the events stream.

Each query runs a REAL stream: file source over the events parquet (with
the §1.3 ns-timestamp recipe applied in-stream), availableNow trigger, and
a memory sink; the returned DataFrame reads the sink. The oracle checks the
batch-equivalent semantics, exact for complete in-order replay (SURVEY
§2.10).

Each streaming concern has one owner, and every key goes through it:
- scratch paths (stream feeds, file sinks, checkpoints):
  `session.scratch_dir`, under one per-process root removed at exit;
- the availableNow run: `drain` sets the checkpoint (a fresh scratch path
  unless the caller restarts one), triggers, starts and awaits, and
  returns the finished query so its progress stays readable;
- the memory sink: `run_to_memory`, named after its checkpoint, so a
  restart from the same checkpoint refills the same table;
- the events `ts` recipe: `session.events_ts`, on every feed.

Scale: windowed aggs shuffle on (window, key) with partial aggregation;
state lives in the state store keyed the same way. Watermarks bound state
size — without one, tumbling/sliding state grows with the key x window
product, which is why st_watermark is the production shape.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..registry import register
from ..session import events_ts, prepare, read_parquet, scratch_dir


def read_events_stream(spark, sf_dir):
    """Streaming file source over the events parquet; dtype-adaptive ts.

    The file source monitors a DIRECTORY; the fixture is a single file, so
    expose it via a symlink in a scratch dir (testdata stays untouched).

    The stream schema is the file's batch schema (``read_parquet``: one
    inference per file per process), so the fixture's ts dtype
    (TIMESTAMP(NANOS)-as-long under nanosAsLong, or native timestamp[us])
    is honored; a long ts is rebuilt to a microsecond timestamp in-stream
    (§1.3 recipe).
    """
    prepare(spark)
    path = f"{sf_dir}/events.parquet"
    schema = read_parquet(spark, path).schema
    stream_dir = scratch_dir("stream_")
    os.makedirs(stream_dir)
    os.symlink(path, f"{stream_dir}/events.parquet")
    return events_ts(spark.readStream.schema(schema).parquet(stream_dir))


def drain(writer, ckpt: str | None = None):
    """Run a stream writer with the availableNow trigger until its input
    is drained; return the finished query (``recentProgress`` stays
    readable). ``ckpt`` defaults to a fresh scratch path; passing an
    earlier run's ``ckpt`` restarts where that run stopped."""
    q = (
        writer.option("checkpointLocation", ckpt or scratch_dir("ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_memory(df, output_mode: str, ckpt: str | None = None):
    """`drain` a streaming DataFrame into a memory sink; return the
    finished query, whose name is the sink table. The sink is named after
    its checkpoint, so a restart from the same ``ckpt`` refills it."""
    ckpt = ckpt or scratch_dir("ckpt_")
    # expose for tools/scalecheck.py's state-size column (du of ckpt/state)
    df.sparkSession.conf.set("spark.npc.lastStateCkpt", ckpt)
    writer = (
        df.writeStream.format("memory")
        .queryName("snk_" + os.path.basename(ckpt))
        .outputMode(output_mode)
    )
    return drain(writer, ckpt)


@register(
    "st_tumbling",
    """
    SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def st_tumbling(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("cnt")
    )
    out = agg.select(F.col("window.start").alias("wstart"), "event_type", "cnt")
    return spark.table(run_to_memory(out, "complete").name)


@register(
    "st_sliding",
    """
    SELECT wstart, count(*) AS cnt FROM (
        SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
               AS wstart
        FROM events
    ) GROUP BY wstart
    """,
)
def st_sliding(spark, sf_dir):
    # 1h window sliding by 30m: every event lands in exactly 2 windows.
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour", "30 minutes")).agg(
        F.count("*").alias("cnt")
    )
    out = agg.select(F.col("window.start").alias("wstart"), "cnt")
    return spark.table(run_to_memory(out, "complete").name)


@register(
    "st_session",
    """
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    s AS (
        -- cumulative sum ordered by the SAME (ts, event_id) key as brk:
        -- with duplicate (user_id, ts) rows a ts-only order is ambiguous
        -- and could split a session differently than Spark's session_window
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS cnt
    FROM s GROUP BY user_id, sid
    """,
)
def st_session(spark, sf_dir):
    """Session windows (30-min gap) per user; oracle = gaps-and-islands SQL."""
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count("*").alias("cnt")
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "cnt",
    )
    return spark.table(run_to_memory(out, "complete").name)


@register("st_watermark")  # rows-only: late-data drop is runtime behavior
def st_watermark(spark, sf_dir):
    """1h watermark + append mode: only windows closed by the final
    watermark (max event time - 1h) are emitted; the tail is withheld."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    out = agg.select(F.col("window.start").alias("wstart"), "event_type", "cnt")
    return spark.table(run_to_memory(out, "append").name)


@register(
    "st_dedup",
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
)
def st_dedup(spark, sf_dir):
    """Streaming dedup: union the stream with itself (every event twice),
    dropDuplicates on event_id -> exact per-type counts are restored."""
    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    dedup = s1.unionByName(s2).dropDuplicates(["event_id"])
    agg = dedup.groupBy("event_type").agg(F.count("*").alias("cnt"))
    return spark.table(run_to_memory(agg, "complete").name)


@register(
    "st_dedup_within_watermark",
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
)
def st_dedup_within_watermark(spark, sf_dir):
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    (Spark 3.5+) — the production form of st_dedup, whose plain
    dropDuplicates keeps every key it has ever seen forever (state
    grows with the stream and eventually OOMs the state store). The
    WithinWatermark variant contracts that duplicates arrive within the
    watermark delay of each other (true for at-least-once replays and
    retry storms, the realistic dup source), letting the engine EVICT
    dedup state once the watermark passes — state is O(events per
    watermark window), not O(stream history).

    The fixture's duplicate pairs (self-union) arrive in the SAME
    micro-batch — zero skew between copies, maximally inside any
    delay — so exact per-type counts must be restored, and the batch
    oracle checks precisely that. At 100 TB this key plus RocksDB
    (st_rocksdb_state) is the streaming-dedup deployment recipe.
    """
    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    both = s1.unionByName(s2).withWatermark("ts", "1 hour")
    dedup = both.dropDuplicatesWithinWatermark(["event_id"])
    agg = dedup.groupBy("event_type").agg(F.count("*").alias("cnt"))
    return spark.table(run_to_memory(agg, "complete").name)


@register(
    "st_static_join",
    """
    SELECT c.c_mktsegment, count(*) AS cnt, round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def st_static_join(spark, sf_dir):
    """Stream-static join: enrich the event stream with a broadcast customer
    dim, then aggregate. The static side is re-planned per micro-batch, so
    at scale a slowly-changing dim picks up updates between batches."""
    from ..session import load_table

    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    j = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = j.groupBy("c_mktsegment").agg(
        F.count("*").alias("cnt"), (F.round(F.sum("value"), 2) + 0.0).alias("total_value")
    )
    return spark.table(run_to_memory(agg, "complete").name)


@register(
    "st_foreach_batch",
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
)
def st_foreach_batch(spark, sf_dir):
    """foreachBatch sink: per-micro-batch custom write (here: parquet append
    of per-type partial counts), then a batch read-back + final combine.
    The availableNow replay makes the partials sum to the exact counts."""
    out_dir = scratch_dir("fb_out_")
    ev = read_events_stream(spark, sf_dir)

    def write_batch(batch_df, batch_id):
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("cnt"))
            .write.mode("append")
            .parquet(out_dir)
        )

    drain(ev.writeStream.foreachBatch(write_batch))
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("cnt"))


@register(
    "st_stream_join",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
    """,
)
def st_stream_join(spark, sf_dir):
    """Stream-stream inner join: purchases joined to views by the same user
    within 10 minutes. Watermarks on both sides bound the join state (views
    retained only until no purchase can still match). availableNow replays
    everything in order, so the result equals the batch interval join."""
    j = _view_purchase_join(
        read_events_stream(spark, sf_dir),
        read_events_stream(spark, sf_dir),
        "inner",
    )
    return spark.table(run_to_memory(j, "append").name)


def _view_purchase_join(views_src, purchases_src, how: str):
    """(view_id, purchase_id, user_id): views joined to the same user's
    purchases within 10 minutes, each side watermarked by 1 hour."""
    views = (
        views_src.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        purchases_src.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTE")),
        how,
    ).select("view_id", "purchase_id", "user_id")


@register(
    "st_stream_join_outer",
    """
    WITH v AS (SELECT event_id AS vid, user_id, ts FROM events
               WHERE event_type = 'view'),
    p AS (SELECT event_id AS pid, user_id, ts FROM events
          WHERE event_type = 'purchase'),
    j AS (
        SELECT v.vid, p.pid
        FROM v LEFT JOIN p
          ON p.user_id = v.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
    )
    SELECT CAST(CASE WHEN pid IS NULL THEN 0 ELSE 1 END AS BIGINT) AS matched,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def st_stream_join_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER join — the semantics st_stream_join
    cannot give you: views with NO purchase within 10 minutes must still
    emit (purchase_id null), and in a stream that answer only becomes
    safe once the watermark proves no matching purchase can still
    arrive. This is the abandoned-browse feed every engagement pipeline
    wants, and the operator where watermarks stop being an optimization
    and become part of the RESULT.

    The subtle runtime bit this key pins down: Spark emits outer rows
    during state EVICTION, which happens in a batch AFTER the watermark
    has advanced past v_ts + join window. An availableNow run stops when
    the source drains — the final watermark never retires the last
    window, so a naive single run silently withholds the tail unmatched
    views. The fix is the production pattern: two sentinel deliveries
    (far-future heartbeat events, filtered from output) land after the
    real data, and each restart resumes the SAME checkpoint (the
    st_incremental_checkpoint recovery shape) — sentinel 1 advances the
    watermark, sentinel 2 triggers the eviction batch. The census then
    equals the batch left join exactly; matched rows multiply per
    qualifying purchase just like the batch join.

    Scale: join state is keyed by user_id; the watermark bounds it to
    the active 10-minute horizon per side, so state is O(active users),
    not O(stream).
    """
    prepare(spark)
    batch = read_parquet(spark, f"{sf_dir}/events.parquet")
    feed_dir = scratch_dir("outer_feed_")
    ckpt = scratch_dir("ckpt_")
    # expose the checkpoint for state-size measurement (tools/scalecheck.py
    # records du(ckpt/state) per ladder scale — round-9 verdict item 5)
    spark.conf.set("spark.npc.lastStateCkpt", ckpt)
    # append-mode memory sinks cannot recover a checkpoint; the restartable
    # append sink is the FILE sink (exactly-once via its own commit log)
    out_dir = scratch_dir("outer_out_")
    batch.coalesce(1).write.mode("append").parquet(feed_dir)

    ts_type = dict(batch.dtypes).get("ts")

    def sentinel(uid: int):
        # one far-future row PER SIDE: the global watermark is the MIN over
        # all watermark operators, so a view-only heartbeat would leave the
        # purchase-side watermark (and with it the join's eviction
        # threshold) stuck at the real data's horizon — the last hour of
        # unmatched views would never emit. Distinct negative user ids keep
        # the two sentinel rows from joining each other.
        one = batch.limit(1)
        if ts_type == "bigint":
            far = batch.agg(F.max("ts")).collect()[0][0] + 2 * 86400 * 10**9
            one = one.withColumn("ts", F.lit(far).cast("long"))
        else:
            one = (
                one.crossJoin(
                    batch.agg(F.expr("max(ts) + INTERVAL 2 DAYS").alias("far_ts"))
                )
                .withColumn("ts", F.col("far_ts"))
                .drop("far_ts")
            )
        view_row = (
            one.withColumn("event_id", F.lit(uid).cast("long"))
            .withColumn("user_id", F.lit(uid).cast("long"))
            .withColumn("event_type", F.lit("view"))
            .select(*batch.columns)
        )
        purchase_row = (
            one.withColumn("event_id", F.lit(uid - 100).cast("long"))
            .withColumn("user_id", F.lit(uid - 100).cast("long"))
            .withColumn("event_type", F.lit("purchase"))
            .select(*batch.columns)
        )
        return view_row.unionByName(purchase_row)

    # run 1, real data: inner matches emit, unmatched state held;
    # run 2, sentinel -1: the watermark advances past every real window;
    # run 3, sentinel -2: the eviction batch emits withheld unmatched views
    for uid in (None, -1, -2):
        if uid is not None:
            sentinel(uid).coalesce(1).write.mode("append").parquet(feed_dir)
        ev = events_ts(spark.readStream.schema(batch.schema).parquet(feed_dir))
        j = _view_purchase_join(ev, ev, "leftOuter")
        drain(
            j.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append"),
            ckpt,
        )
    return (
        spark.read.parquet(out_dir)
        .where(F.col("user_id") >= 0)
        .groupBy(
            F.when(F.col("purchase_id").isNull(), 0)
            .otherwise(1)
            .cast("long")
            .alias("matched")
        )
        .agg(F.count("*").cast("long").alias("n_rows"))
        .orderBy("matched")
    )


@register(
    "st_topk_per_window",
    """
    WITH wc AS (
        SELECT date_trunc('hour', ts) AS wstart, event_type,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT wstart, event_type, cnt,
               row_number() OVER (PARTITION BY wstart
                                  ORDER BY cnt DESC, event_type) AS rn
        FROM wc
    )
    SELECT wstart, event_type, cnt, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def st_topk_per_window(spark, sf_dir):
    """Streaming top-k: hourly per-type counts maintained by the stream,
    top-3 types per hour served by a batch rank over the materialized
    sink — the standard 'stream keeps the view fresh, serving layer
    ranks it' split, because rank-over-aggregate cannot run inside a
    streaming query (no ranking windows on update state).

    The streaming side is the same (window, key)-keyed state as
    st_tumbling; the serving rank runs on the window-bounded sink
    (hours × types rows) — at 100 TB the sink is a real table (Delta/
    Kafka-compacted) and the rank is a WindowGroupLimit over it.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").cast("long").alias("cnt")
    )
    out = agg.select(F.col("window.start").alias("wstart"), "event_type", "cnt")
    from pyspark.sql import Window as W

    sink = spark.table(run_to_memory(out, "complete").name)
    w = W.partitionBy("wstart").orderBy(F.col("cnt").desc(), "event_type")
    return (
        sink.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("wstart", "event_type", "cnt", "rn")
    )


@register(
    "st_incremental_checkpoint",
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
)
def st_incremental_checkpoint(spark, sf_dir):
    """Incremental processing with checkpoint recovery: the event feed
    arrives in TWO deliveries; an availableNow query runs after each,
    RESTARTED from the same checkpoint — the second run processes ONLY
    the new file and folds it into recovered state. This is the nightly
    incremental-ingest shape (st_tumbling replays everything in one
    shot; real pipelines restart against a growing source forever), and
    the final counts equal the batch oracle only if state actually
    survived the restart.

    Mechanics: half the events (by event_id parity) land as file A,
    the stream runs to completion; file B lands, the SAME
    checkpointLocation + queryName rerun picks up at the recorded
    offset. State lives in the state store keyed by event_type; at
    scale this is RocksDB + a real table sink instead of the memory
    sink.
    """
    return _restarted_type_counts(spark, sf_dir, scratch_dir("ckpt_"))


def _restarted_type_counts(spark, sf_dir, ckpt: str):
    """Per-type event counts over a feed delivered in two halves (by
    event_id parity). The memory-sink query runs after each delivery,
    restarted from ``ckpt``: the second run reads only the new file and
    folds it into the recovered state."""
    prepare(spark)
    batch = read_parquet(spark, f"{sf_dir}/events.parquet")
    feed_dir = scratch_dir("feed_")
    for parity in (0, 1):
        batch.where(F.col("event_id") % 2 == parity).coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)
        ev = events_ts(spark.readStream.schema(batch.schema).parquet(feed_dir))
        agg = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
        q = run_to_memory(agg, "complete", ckpt)
    return spark.table(q.name)


@register(
    "st_idempotent_sink",
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
)
def st_idempotent_sink(spark, sf_dir):
    """Exactly-once-by-idempotence sink: foreachBatch writing each
    micro-batch to a batchId-keyed partition with OVERWRITE — the
    production recipe for sinks with no transactional commit (plain
    object storage, JDBC upserts): Structured Streaming only guarantees
    at-least-once delivery of each batch to foreachBatch, so the sink
    function must absorb redelivery. Keying the write by batchId and
    overwriting makes the retry a no-op; this operator SIMULATES the
    redelivery by writing every batch twice (the crash-after-write-
    before-commit scenario), and the final census still equals the
    batch oracle — an append-mode sink would double every count and
    fail the hash.

    At 100 TB this is the difference between a re-run corrupting the
    warehouse and a re-run being safe: overwrite-by-batchId (or a MERGE
    on a batch watermark column) is O(batch) regardless of table size.
    """
    prepare(spark)
    batch = read_parquet(spark, f"{sf_dir}/events.parquet")
    feed_dir = scratch_dir("idem_feed_")
    out_dir = scratch_dir("idem_out_")
    batch.coalesce(1).write.mode("append").parquet(feed_dir)
    ev = events_ts(spark.readStream.schema(batch.schema).parquet(feed_dir))

    def write_batch(bdf, batch_id):
        target = f"{out_dir}/batch={batch_id}"
        bdf.select("event_id", "user_id", "event_type").write.mode(
            "overwrite"
        ).parquet(target)
        # simulated at-least-once redelivery (crash between write and
        # offset commit): the same batch arrives again — idempotent by
        # construction because the write is keyed and overwriting
        bdf.select("event_id", "user_id", "event_type").write.mode(
            "overwrite"
        ).parquet(target)

    drain(ev.writeStream.foreachBatch(write_batch))
    sunk = spark.read.parquet(out_dir)
    return sunk.groupBy("event_type").agg(F.count("*").cast("long").alias("cnt"))


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@register(
    "st_rocksdb_state",
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
)
def st_rocksdb_state(spark, sf_dir):
    """st_incremental_checkpoint on the PRODUCTION state store: the same
    two-delivery restart, but stream state lives in RocksDB
    (spark.sql.streaming.stateStore.providerClass) instead of the default
    in-JVM-heap HDFSBackedStateStore — the knob every at-scale deployment
    flips, because heap state stores OOM executors once keyspace × windows
    outgrows memory while RocksDB spills to local SSD with incremental
    checkpoint uploads. The final counts equal the batch oracle only if
    RocksDB state written by run 1 is genuinely recovered by run 2's
    restart; tests/test_streaming.py additionally asserts the checkpoint
    actually contains RocksDB artifacts (so a silently-ignored conf can't
    fake the pass).

    The provider conf is read per-query at start; it is set for the two
    runs and restored afterwards so co-resident streaming queries keep
    their configured store.
    """
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    ckpt = scratch_dir("ckpt_")
    # expose the checkpoint path for the artifact-level pytest
    spark.conf.set("spark.npc.lastRocksCkpt", ckpt)
    spark.conf.set(conf_key, _ROCKSDB_PROVIDER)
    try:
        return _restarted_type_counts(spark, sf_dir, ckpt)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


@register(
    "st_session_dynamic",
    """
    WITH e AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN INTERVAL 5 MINUTE
                    ELSE INTERVAL 30 MINUTE END AS gap
        FROM events
    ),
    o AS (
        SELECT user_id, ts, event_id, gap,
               max(ts + gap) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING) AS run_end
        FROM e
    ),
    b AS (
        SELECT user_id, ts, gap, event_id,
               CASE WHEN run_end IS NULL OR ts >= run_end THEN 1 ELSE 0 END
                   AS brk
        FROM o
    ),
    s AS (
        SELECT user_id, ts, gap,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM b
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts + gap) AS session_end, count(*) AS cnt
    FROM s GROUP BY user_id, sid
    """,
)
def st_session_dynamic(spark, sf_dir):
    """DYNAMIC-gap session windows: error events hold a session open
    for only 5 minutes while normal activity gets 30 — per-event gap
    expressions are the session_window feature that models 'a crash
    ends the visit quickly, browsing keeps it alive' (st_session is
    the fixed-gap base case).

    The batch oracle generalizes gaps-and-islands to variable gaps:
    a session breaks when an event starts at-or-after the RUNNING MAX
    of all previous (ts + gap) ends (a plain lag test is wrong here —
    a long-gap event can bridge past a short-gap one); the running
    max, break flags, and session rollup all ride one user_id
    clustering. Session end is max(ts + gap) within the merged
    interval set, exactly Spark's merge semantics.
    """
    ev = read_events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "error", "5 minutes").otherwise(
        "30 minutes"
    )
    agg = ev.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("cnt")
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "cnt",
    )
    return spark.table(run_to_memory(out, "complete").name)


@register(
    "st_state_reader",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def st_state_reader(spark, sf_dir):
    """State Data Source (SPARK-45511, new in Spark 4): after a stateful
    streaming aggregation runs, `spark.read.format("statestore")` opens
    the query's CHECKPOINT and reads the state-store contents as a
    DataFrame — the introspection surface that turns 'what is my
    streaming job's state right now' from a log-archaeology exercise
    into a query (state-size audits, skewed-key hunts, corruption
    postmortems, seeding a rebuilt job's initial state).

    The stream is a per-event-type running count (complete-mode agg);
    after availableNow drains it, the operator discards the SINK and
    answers from the STATE alone — key struct exploded, partition_id
    dropped (physical placement, not semantics). The oracle is the
    batch groupBy: state contents must equal what a batch engine
    computes from the same data, which is exactly the contract the
    state store exists to maintain. At scale the reader parallelizes
    per state-store partition like any DSv2 source.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
    ckpt = scratch_dir("ckpt_")
    run_to_memory(agg, "complete", ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return (
        state.select(
            F.col("key.event_type").alias("event_type"),
            # the state VALUE schema carries the aggregate's internal
            # name (`count`), not the sink-side alias — reading state is
            # reading the operator's physical schema, aliases and all
            F.col("value.count").cast("long").alias("cnt"),
        )
        .orderBy("event_type")
    )


@register(
    "st_batch_stream_parity",
    """
    SELECT date_trunc('hour', ts) AS wstart, event_type,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(*) AS BIGINT) AS n_stream,
           CAST(0 AS BIGINT) AS diff
    FROM events GROUP BY 1, 2 ORDER BY wstart, event_type
    """,
)
def st_batch_stream_parity(spark, sf_dir):
    """Batch/stream parity, EXECUTED rather than asserted: the same
    hourly-count aggregation runs once through Structured Streaming
    (file source → tumbling window → availableNow drain) and once as a
    plain batch groupBy on the same data, and the output carries both
    counts plus their difference — which the oracle pins to ZERO for
    every window. This turns §2.10's central claim ('complete in-order
    replay makes windowed streaming exactly batch-equivalent') from a
    test-suite property into a queryable operator a user can run on
    any table before trusting a migration from batch to streaming.

    The full outer join catches both failure directions (a window only
    in batch = stream dropped data; only in stream = duplication). At
    100 TB the batch side is the one data-scale pass; the streaming
    side's state is bounded by the (window, type) key space as always.
    """
    ev_stream = read_events_stream(spark, sf_dir)
    agg = ev_stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_stream")
    )
    out = agg.select(
        F.col("window.start").alias("wstart"), "event_type", "n_stream"
    )
    stream_df = spark.table(run_to_memory(out, "complete").name)

    from ..session import load_table as _lt

    batch = (
        _lt(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("wstart"), "event_type"
        )
        .agg(F.count("*").cast("long").alias("n_batch"))
    )
    return (
        batch.join(stream_df, ["wstart", "event_type"], "full_outer")
        .select(
            "wstart",
            "event_type",
            F.coalesce("n_batch", F.lit(0)).cast("long").alias("n_batch"),
            F.coalesce("n_stream", F.lit(0)).cast("long").alias("n_stream"),
            (
                F.coalesce("n_batch", F.lit(0))
                - F.coalesce("n_stream", F.lit(0))
            )
            .cast("long")
            .alias("diff"),
        )
        .orderBy("wstart", "event_type")
    )


@register(
    "st_observed_metrics",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) + 0.0
               AS total_value_usd
    FROM events
    """,
)
def st_observed_metrics(spark, sf_dir):
    """Streaming pipeline telemetry EXECUTED — df.observe() on a real
    Structured Streaming query (the streaming twin of
    u_observe_metrics): named aggregate metrics ride every micro-batch
    as a side effect of the job that runs anyway, surface in each
    StreamingQueryProgress, and because they are ADDITIVE aggregates
    their per-batch values sum to the batch-SQL totals REGARDLESS of
    how the file source slices micro-batches — which is exactly what
    the oracle verifies (count/sum over the static table).  This is
    the production 'rows seen / revenue seen per trigger' dashboard
    feed, with the batch-invariance property made checkable.

    The stream runs availableNow to completion into a discard sink;
    metrics come from the query's progress history, not the sink —
    payload rows never leave the executors.  Driver-side work is one
    progress-list fold (metadata-scale: one struct per micro-batch).
    """
    ev = read_events_stream(spark, sf_dir)
    obs = ev.observe(
        "m",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purchases"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    q = run_to_memory(obs.select("event_id"), "append")
    n_rows = n_purch = cents = 0
    for p in q.recentProgress:
        m = (p.get("observedMetrics") or {}).get("m")
        if m:
            n_rows += m["n_rows"] or 0
            n_purch += m["n_purchases"] or 0
            cents += m["cents"] or 0
    out = spark.createDataFrame(
        [(int(n_rows), int(n_purch), round(cents / 100.0, 2) + 0.0)],
        "n_rows long, n_purchases long, total_value_usd double",
    )
    return out


# st_lateness_audit needs loaders/windows the other streaming keys don't.
from pyspark.sql import Window  # noqa: E402

from ..session import load_table  # noqa: E402


@register(
    "st_lateness_audit",
    """
    WITH arr AS (
        SELECT event_type, event_id,
               epoch_us(ts) AS ts_us,
               epoch_us(ts)
                   + (CAST(list_sum(list_transform(range(1, 9),
                          jj -> (strpos('0123456789abcdef',
                                  substring(md5(CAST(event_id AS VARCHAR)),
                                            jj, 1)) - 1)
                                * 16 ** (8 - jj))) AS BIGINT) % 900)
                     * 1000000 AS arrival_us
        FROM events
    ),
    lat AS (
        SELECT event_type, ts_us,
               max(ts_us) OVER (
                   PARTITION BY event_type
                   ORDER BY arrival_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS runmax_us
        FROM arr
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN ts_us < runmax_us - 60000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late_60,
           CAST(sum(CASE WHEN ts_us < runmax_us - 300000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late_300,
           CAST(sum(CASE WHEN ts_us < runmax_us - 600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late_600,
           CAST(coalesce(max(runmax_us - ts_us), 0) // 1000000 AS BIGINT)
               AS max_late_s
    FROM lat GROUP BY event_type ORDER BY event_type
    """,
)
def st_lateness_audit(spark, sf_dir):
    """Watermark-delay sizing audit — the question every Structured
    Streaming deployment answers before setting withWatermark(): how
    late do events actually arrive, and what fraction would each
    candidate delay drop? The fixture's event times are ingest-ordered,
    so a deterministic hash-derived network delay (md5(event_id) % 900
    seconds) defines the arrival order — the standard replay harness for
    watermark logic. Per event_type stream, each event's lateness is
    (max prior event time seen on arrival) - (its own event time); the
    audit counts events a 60 s / 300 s / 600 s watermark delay would
    have dropped (event_time < watermark = running-max - delay, the
    exact Spark drop rule) and the worst lateness observed.

    Scale: one partitioned running-max window per stream key (ordered
    by arrival — in production this is the natural ingest order, so the
    sort is a no-op within micro-batches) and one partial aggregation.
    The running max EXCLUDES the current row (ROWS ... AND 1 PRECEDING):
    an event can never be late against itself — matching how the
    watermark is advanced only between micro-batches.
    """
    ev = load_table(spark, sf_dir, "events")
    h32 = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    arr = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") + (h32 % 900) * F.lit(1000000))
        .alias("arrival_us"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lat = arr.select(
        "event_type", "ts_us", F.max("ts_us").over(w).alias("runmax_us")
    )
    late = lambda d_s: F.sum(  # noqa: E731
        F.when(
            F.col("ts_us") < F.col("runmax_us") - d_s * 1000000, 1
        ).otherwise(0)
    ).cast("long")
    return (
        lat.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            late(60).alias("n_late_60"),
            late(300).alias("n_late_300"),
            late(600).alias("n_late_600"),
            F.expr(
                "coalesce(max(runmax_us - ts_us), 0) div 1000000"
            ).cast("long").alias("max_late_s"),
        )
        .orderBy("event_type")
    )

@register(
    "st_rate_limited_backfill",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
)
def st_rate_limited_backfill(spark, sf_dir):
    """Rate-limited backfill — the operational knob for replaying a
    large history through a streaming pipeline without OOMing state or
    starving co-tenant jobs: the events fixture is split into 4 files
    and replayed with maxFilesPerTrigger=1, so availableNow processing
    advances in 4 bounded micro-batches instead of one giant one. The
    oracle pins the INVARIANT that makes throttling safe: batch-split
    boundaries must not change the aggregate (complete-mode counts equal
    the batch groupBy no matter how the source is chopped).
    tests/test_streaming.py asserts the query really took multiple
    micro-batches (recentProgress), so a silently-ignored option can't
    fake the pass; the batch count is exposed via
    spark.npc.lastBackfillBatches.

    Scale: maxFilesPerTrigger (or maxBytesPerTrigger) bounds per-batch
    input so shuffle/state pressure stays constant during a 100 TB
    backfill — the same pipeline then flips to continuous ingest with
    no code change, which is the whole point of the unified API.
    """
    prepare(spark)
    batch = read_parquet(spark, f"{sf_dir}/events.parquet")
    feed_dir = scratch_dir("backfill_feed_")
    for part in range(4):
        batch.where(F.col("event_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)
    ev = events_ts(
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    agg = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("cnt"))
    q = run_to_memory(agg, "complete")
    # expose the micro-batch count for the pytest tripwire (complete-mode
    # progress events with numInputRows > 0 == throttled batches taken)
    n_batches = sum(
        1 for p in q.recentProgress if (p["numInputRows"] or 0) > 0
    )
    spark.conf.set("spark.npc.lastBackfillBatches", str(n_batches))
    return spark.table(q.name)


@register(
    "st_cdc_apply",
    """
    WITH ch AS (
        SELECT o_orderkey % 500 AS k, o_orderkey AS seq,
               CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    last AS (
        SELECT k, op, cents FROM (
            SELECT k, op, cents,
                   row_number() OVER (PARTITION BY k
                                      ORDER BY seq DESC) AS rn
            FROM ch
        ) WHERE rn = 1
    )
    SELECT CAST(k % 10 AS BIGINT) AS bucket,
           CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_live,
           CAST(coalesce(sum(CASE WHEN op = 'U' THEN cents END), 0)
                AS BIGINT) AS live_cents,
           CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tombstones
    FROM last GROUP BY k % 10 ORDER BY bucket
    """,
)
def st_cdc_apply(spark, sf_dir):
    """CDC apply — the Debezium-to-lakehouse pipeline: a keyed change
    feed (upserts + deletes with a total sequence order, synthesized
    from orders: key = orderkey % 500 so every key sees many changes)
    streams through foreachBatch, and each batch MERGES into a keyed
    state table under max-sequence-wins semantics, with deletes kept as
    TOMBSTONES. Tombstones are the load-bearing choice: a late-arriving
    update with a lower sequence than an already-applied delete must
    NOT resurrect the key, so the final table is independent of how the
    feed is batched — proven here by splitting the feed in two files
    whose replay order the engine chooses, against a batch oracle that
    computes the same argmax-seq state in one window.

    Scale: each batch's merge is one union + per-key argmax (shuffle
    keyed on k, the same key the state table is partitioned by — at
    100 TB this is MERGE INTO on a key-bucketed table, no full rewrite);
    tombstones are compacted out only after the source's watermark
    passes their sequence horizon, exactly like Kafka log compaction.
    """
    prepare(spark)
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    ch = orders.select(
        (F.col("o_orderkey") % 500).alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # parity split — deliberately interleaves sequence numbers across the
    # two files, so the max-seq-wins/tombstone semantics are exercised
    # against genuinely out-of-order batches (no driver-side constants)
    feed_dir = scratch_dir("cdc_feed_")
    ch.where(F.col("seq") % 2 == 0).coalesce(1).write.mode("append").parquet(
        feed_dir
    )
    ch.where(F.col("seq") % 2 == 1).coalesce(1).write.mode("append").parquet(
        feed_dir
    )
    state_root = scratch_dir("cdc_state_")
    state_ptr: list[str] = []

    def apply_batch(bdf, batch_id):
        s = bdf.sparkSession
        from pyspark.sql import Window as W
        from pyspark.sql import functions as SF

        if state_ptr:
            cur = s.read.parquet(state_ptr[-1])
            merged = cur.unionByName(bdf.select("k", "seq", "op", "cents"))
        else:
            merged = bdf.select("k", "seq", "op", "cents")
        wk = W.partitionBy("k").orderBy(SF.col("seq").desc())
        nxt = (
            merged.withColumn("rn", SF.row_number().over(wk))
            .where(SF.col("rn") == 1)
            .drop("rn")
        )
        out = f"{state_root}/v{batch_id}"
        nxt.write.mode("overwrite").parquet(out)
        state_ptr.append(out)

    stream = (
        spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    drain(stream.writeStream.foreachBatch(apply_batch))
    final = spark.read.parquet(state_ptr[-1])
    return (
        final.groupBy((F.col("k") % 10).cast("long").alias("bucket"))
        .agg(
            F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
            .cast("long").alias("n_live"),
            F.coalesce(
                F.sum(F.when(F.col("op") == "U", F.col("cents"))), F.lit(0)
            ).cast("long").alias("live_cents"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
            .cast("long").alias("n_tombstones"),
        )
        .orderBy("bucket")
    )
