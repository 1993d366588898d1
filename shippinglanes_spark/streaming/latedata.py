"""SURVEY §2.10 out-of-order tail — watermark late-data ACCOUNTING and an
exactly-once foreachBatch sink with batch-id replay fencing.

Both queries stage the events table into multiple files with controlled
arrival order (modification time), because late-data semantics only
exist across micro-batch boundaries: a single drained file never
advances the watermark mid-stream. Staging simulates the arrival order a
production feed has for free; the operators themselves are pure
Structured Streaming.

- stream_late_accounting: a watermarked day-window aggregation fed
  recent-then-old micro-batches, reporting (n_input, n_dropped,
  n_ontime) from StreamingQueryProgress's numRowsDroppedByWatermark.
  The oracle computes the SAME numbers from batch SQL (watermark = max
  on-time event time - delay; a row is dropped iff its day window closed
  below that), so the driver's hash check certifies Spark's late-row
  accounting against an independently derived expectation.

- stream_exactly_once_sink: foreachBatch writing per-batch VERSIONS of a
  keyed rollup (v{N} = v{N-1} + delta(batch N), overwrite-idempotent).
  After the drain, the LAST batch is forcibly replayed through the same
  writer — the versioned write makes the replay a no-op, and the final
  table hash-equals the from-scratch batch aggregate. This is the
  transactional-sink discipline (idempotent keyed writes + batch-id
  fencing) that makes foreachBatch exactly-once instead of
  at-least-once.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import functions as F

from ..registry import register
from ..session import pinned_confs, stream_partitions
from .lift import _drain, _eventtime_ts, _events_static

CUTOFF = "2024-01-08"  # late batch: ts < CUTOFF
MID = "2024-01-10"  # buffer batch: CUTOFF <= ts < MID
DELAY = "23 days"  # watermark delay: keeps day 01-07 admissible, drops earlier

LATE_FILE = "batch2_late.parquet"  # the replayable last micro-batch


def _stage_batches(spark, sf_dir: str) -> str:
    """Write events as three parquet files whose modification times force
    the file source to deliver newest-data-first: the recent tail (which
    advances the watermark), a buffer slice, then the OLD rows — which
    therefore arrive late. THREE batches because Spark's late-event
    filter for batch N uses the watermark computed after batch N-2
    (eviction uses N-1's — measured on this Spark; a two-batch split
    admits-then-evicts instead of dropping). Driver-side staging is
    arrival-order scaffolding, not part of the operator — a real feed
    arrives out of order on its own."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    stage = f"/tmp/shippinglanes_stage/late_{uuid.uuid4().hex[:8]}"
    os.makedirs(stage, exist_ok=True)
    t = pq.read_table(f"{sf_dir}/events.parquet")
    ts = t["ts"]
    if str(ts.type) == "int64":  # nanos-as-long flavor
        ts_us = pc.cast(pc.divide(ts, 1000), pa.timestamp("us"))
    else:
        ts_us = pc.cast(ts, pa.timestamp("us"))
    cut = pa.scalar(
        datetime.datetime.fromisoformat(CUTOFF), type=pa.timestamp("us")
    )
    mid = pa.scalar(
        datetime.datetime.fromisoformat(MID), type=pa.timestamp("us")
    )
    parts = [
        ("batch0_recent.parquet", pc.greater_equal(ts_us, mid)),
        (
            "batch1_buffer.parquet",
            pc.and_(pc.greater_equal(ts_us, cut), pc.less(ts_us, mid)),
        ),
        (LATE_FILE, pc.less(ts_us, cut)),
    ]
    now = time.time()
    for i, (fname, mask) in enumerate(parts):
        pq.write_table(t.filter(mask), f"{stage}/{fname}")
        mt = now - 180 + i * 60
        os.utime(f"{stage}/{fname}", (mt, mt))
    return stage


def _staged_stream(spark, sf_dir: str, stage: str, static=None):
    """The staged files as a one-file-per-micro-batch stream. ``static``
    is the events batch frame if the caller holds it."""
    if static is None:
        static = _events_static(spark, sf_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return _eventtime_ts(stream)


@register(
    "stream_late_accounting",
    section="2.10",
    oracle=f"""
    WITH wm AS (SELECT date_trunc('milliseconds', MAX(ts))
                       - INTERVAL {DELAY.split()[0]} DAY AS w
                FROM events),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped
          FROM events, wm
          WHERE ts < TIMESTAMP '{CUTOFF}' AND ts < wm.w)
    SELECT CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_input,
           d.n_dropped,
           CAST((SELECT COUNT(*) FROM events) - d.n_dropped AS BIGINT)
             AS n_ontime
    FROM d
    """,
    notes="watermark late-data accounting: the recent micro-batch advances "
    "the watermark to max(ts) - 23 days (ms-truncated, as Spark's event "
    "time stats are), then the old micro-batch's rows strictly below it "
    "are dropped by the streaming dedup's ROW-LEVEL late filter; "
    "n_dropped comes from StreamingQueryProgress.stateOperators."
    "numRowsDroppedByWatermark and must equal the batch-SQL expectation "
    "— certifying the engine's out-of-order drop semantics, not just a "
    "final aggregate. (A windowed agg counts dropped PARTIALS, one per "
    "closed window, not input rows — that's why the accounting rides a "
    "dedup, whose filter is pre-aggregation.)",
)
def stream_late_accounting(spark, sf_dir):
    static = _events_static(spark, sf_dir)
    stage = _stage_batches(spark, sf_dir)
    try:
        stream = _staged_stream(spark, sf_dir, stage, static)
        agg = stream.withWatermark("ts", DELAY).dropDuplicates(
            ["event_id", "ts"]
        )
        name = f"late_acct_{uuid.uuid4().hex[:8]}"
        with stream_partitions(spark, static):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        n_input = 0
        n_dropped = 0
        for p in q.recentProgress:
            prog = json.loads(p.json) if hasattr(p, "json") else p
            n_input += int(prog.get("numInputRows", 0))
            for so in prog.get("stateOperators", []):
                n_dropped += int(so.get("numRowsDroppedByWatermark", 0))
        q.stop()
        return spark.createDataFrame(
            [(n_input, n_dropped, n_input - n_dropped)],
            "n_input long, n_dropped long, n_ontime long",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def exactly_once_batch_writer(target: str):
    """foreachBatch callback with exactly-once discipline: batch N writes
    version directory v{N} = fold(v{N-1}, delta(batch N)) with overwrite.
    A replayed batch rebuilds the SAME version from the SAME inputs, so
    duplicates are structurally impossible — idempotence by versioned
    keyed state, the file-based analogue of a transactional MERGE with a
    txn-id fence. Runs on the driver (foreachBatch callbacks do), all
    heavy lifting stays distributed."""

    def write_batch(bdf, bid: int):
        spark = bdf.sparkSession
        delta = (
            _eventtime_ts(bdf)
            .groupBy(
                F.date_trunc("day", F.col("ts")).cast("date").cast("string")
                .alias("day"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "sum_cents"
                ),
            )
        )
        prev_dir = f"{target}/v{bid - 1}"
        if bid > 0 and os.path.isdir(prev_dir):
            base = spark.read.parquet(prev_dir)
            merged = (
                base.unionByName(delta)
                .groupBy("day", "event_type")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("sum_cents").cast("long").alias("sum_cents"),
                )
            )
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(f"{target}/v{bid}")

    return write_batch


@register(
    "stream_exactly_once_sink",
    section="2.10",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events GROUP BY 1, 2
    """,
    notes="exactly-once foreachBatch sink: versioned keyed rollup "
    "(v{N} = v{N-1} + delta, overwrite) drained one file per "
    "micro-batch, then the LAST batch is forcibly REPLAYED through the "
    "same writer before reading the result — the hash match vs the "
    "from-scratch batch aggregate proves replays cannot double-count. "
    "Integer cents keep the fold exact across merges",
)
def stream_exactly_once_sink(spark, sf_dir):
    static = _events_static(spark, sf_dir)
    stage = _stage_batches(spark, sf_dir)
    target = f"/tmp/shippinglanes_stage/eos_{uuid.uuid4().hex[:8]}"
    try:
        stream = _staged_stream(spark, sf_dir, stage, static)
        writer = exactly_once_batch_writer(target)
        with stream_partitions(spark, static):
            q = (
                stream.writeStream.foreachBatch(writer)
                .option("checkpointLocation", f"{target}_ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
        versions = sorted(
            int(d[1:]) for d in os.listdir(target) if d.startswith("v")
        )
        last = versions[-1]
        # forced replay: the last micro-batch (= the late staged file) goes
        # through the writer AGAIN with the same batch id
        replay_df = spark.read.parquet(f"{stage}/{LATE_FILE}")
        writer(replay_df, last)
        result = spark.read.parquet(f"{target}/v{last}").localCheckpoint()
        return result
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)
        shutil.rmtree(f"{target}_ckpt", ignore_errors=True)


def _stage_chrono_with_flush(spark, sf_dir: str) -> str:
    """Stage events as one data batch plus ONE far-future FLUSH file
    holding one dummy row.
    Outer-join null emission is watermark-driven: an unmatched left row
    surfaces only after the watermark passes its join bound, and the
    watermark advances using the batch BEFORE last and evicts in the
    batch AFTER it advances. A second flush batch used to carry that
    eviction pass; the engine's no-data micro-batch (pinned on for the
    drain) runs it after the flush batch advances the watermark, so one
    flush suffices (round 12, hash-verified at all three SFs). Chronological
    order means no real row ever arrives late (this query is about
    OUTER emission, not drops — stream_late_accounting covers drops)."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    stage = f"/tmp/shippinglanes_stage/outer_{uuid.uuid4().hex[:8]}"
    os.makedirs(stage, exist_ok=True)
    t = pq.read_table(f"{sf_dir}/events.parquet")
    ts = t["ts"]
    if str(ts.type) == "int64":  # nanos-as-long flavor
        ts_us = pc.cast(pc.divide(ts, 1000), pa.timestamp("us"))
    else:
        ts_us = pc.cast(ts, pa.timestamp("us"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts_us)
    far = pc.max(ts_us).as_py() + datetime.timedelta(days=30)

    def dummy(offset_days: int):
        return pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": pa.array(
                    [far + datetime.timedelta(days=offset_days)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["flush"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        ).select(t.column_names)

    # one data batch + ONE flush batch: chronological arrival only
    # matters ACROSS micro-batches (the watermark updates between them),
    # so splitting the real data into several batches buys nothing and
    # each extra micro-batch pays a full incremental re-plan + state
    # pass. Round 12: the second flush batch dropped — after the flush
    # batch advances the watermark past every real row's eviction bound,
    # the engine's NO-DATA micro-batch (noDataMicroBatches, pinned on
    # by the drain) runs the eviction pass itself; the flush rows' own
    # state never needs to evict because they are filtered from the result.
    # Verified hash-equal to the batch interval join at all three SFs.
    parts = [
        ("b0_data.parquet", t),
        ("b2_flush.parquet", dummy(0)),
    ]
    now = time.time()
    for i, (fname, tab) in enumerate(parts):
        pq.write_table(tab, f"{stage}/{fname}")
        mt = now - 240 + i * 60
        os.utime(f"{stage}/{fname}", (mt, mt))
    return stage


@register(
    "stream_join_outer",
    section="2.10",
    oracle="""
    WITH v AS (SELECT user_id AS p_user, event_id AS view_id, ts AS v_ts
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase')
    SELECT p.p_user, p.purchase_id, v.view_id
    FROM p LEFT JOIN v ON v.p_user = p.p_user
       AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR AND v.v_ts <= p.p_ts
    """,
    notes="stream-stream LEFT OUTER join: purchases joined to the same "
    "user's preceding-hour views, with null rows for view-less "
    "purchases. Unlike the inner join (watermark-independent "
    "emissions), outer nulls exist ONLY via watermark eviction — state "
    "for an unmatched purchase is held until the watermark passes its "
    "bound, then emitted with nulls. The drain stages events "
    "chronologically and appends one far-future flush batch; the "
    "engine's no-data micro-batch then runs the eviction pass, so "
    "every real row's state evicts before the stream ends. Flush rows "
    "are filtered from the result. Hash-equal to the batch LEFT "
    "interval join — a full value oracle for watermark-eviction "
    "semantics",
)
def stream_join_outer(spark, sf_dir):
    static = _events_static(spark, sf_dir)
    stage = _stage_chrono_with_flush(spark, sf_dir)
    stream = _staged_stream(spark, sf_dir, stage, static)
    # the flush rows ride BOTH sides: the outer join's eviction watermark
    # is the MIN of the two sides' watermarks, so a flush on only one
    # side leaves the other stalled an hour below the end and the last
    # unmatched purchases never emit (measured: 2 rows short)
    views = (
        stream.where(F.col("event_type").isin("view", "flush"))
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        stream.where(F.col("event_type").isin("purchase", "flush"))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("p_user", "purchase_id", "view_id")
    # the eviction pass after the flush batch IS the no-data micro-batch,
    # so pin it on for the drain instead of trusting the session default
    no_data = {"spark.sql.streaming.noDataMicroBatches.enabled": "true"}
    try:
        with pinned_confs(spark, no_data):
            out = _drain(joined, "stream_join_outer", "append", static)
    finally:
        shutil.rmtree(stage, ignore_errors=True)  # the result is in memory
    return out.where(F.col("p_user") >= 0)
