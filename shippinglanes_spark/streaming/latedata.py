"""SURVEY §2.10 out-of-order tail — watermark late-data ACCOUNTING and an
exactly-once foreachBatch sink with batch-id replay fencing.

The queries here stage the events table into files with controlled
arrival order (modification time), because late-data semantics only
exist across micro-batch boundaries: a single drained file never
advances the watermark mid-stream. Staging simulates the arrival order a
production feed has for free; the operators themselves are pure
Structured Streaming.

- stream_late_accounting: a watermarked dedup fed recent-then-old
  micro-batches, reporting (n_input, n_dropped, n_ontime) from
  StreamingQueryProgress's numRowsDroppedByWatermark. The oracle
  computes the SAME numbers from batch SQL (watermark = max on-time
  event time - delay; a late-batch row is dropped iff its event time is
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

import datetime
import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from ..io import event_time
from ..registry import register
from .lift import _drain, _events_static, _events_stream, _stage_dir

CUTOFF = "2024-01-08"  # late batch: ts < CUTOFF
MID = "2024-01-10"  # buffer batch: CUTOFF <= ts < MID
DELAY = "23 days"  # watermark delay: keeps day 01-07 admissible, drops earlier

LATE_FILE = "batch2_late.parquet"  # the replayable last micro-batch


@contextmanager
def _staged(spark, sf_dir: str, prefix: str, split):
    """Stage the events table as the files ``split(table)`` returns, a
    list of ``(file name, pyarrow table)``, with ascending modification
    times so the file source delivers them in list order, one file per
    micro-batch. Yields ``(stage dir, stream, static)``: the staged
    files as a one-file-per-micro-batch stream, and the batch frame over
    them that sizes its drain and gives the stream the staged files' own
    schema. ``ts`` is normalized to ``timestamp[us]`` once, before the
    split. The stage is removed when the block exits.
    Driver-side staging is arrival-order scaffolding, not part of the
    operator: a real feed arrives out of order on its own."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with _stage_dir(prefix) as stage:
        t = pq.read_table(f"{sf_dir}/events.parquet")
        ts = t["ts"]
        if ts.type == pa.int64():  # nanos-as-long flavor
            ts = pc.divide(ts, 1000)
        ts = pc.cast(ts, pa.timestamp("us"))
        parts = split(t.set_column(t.schema.get_field_index("ts"), "ts", ts))
        now = time.time()
        for i, (fname, part) in enumerate(parts):
            pq.write_table(part, f"{stage}/{fname}")
            mt = now + (i - len(parts)) * 60
            os.utime(f"{stage}/{fname}", (mt, mt))
        static = _events_static(spark, stage, "*.parquet")
        stream = _events_stream(
            spark, stage, static, "*.parquet", one_file_per_batch=True
        )
        yield stage, stream, static


def _late_split(t):
    """Newest data first: the recent tail (which advances the
    watermark), a buffer slice, then the OLD rows, which therefore
    arrive late. THREE batches because Spark's late-event filter for
    batch N uses the watermark computed after batch N-2 (eviction uses
    N-1's, measured on this Spark; a two-batch split admits-then-evicts
    instead of dropping)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ts = t["ts"]
    cut, mid = (
        pa.scalar(datetime.datetime.fromisoformat(d), type=pa.timestamp("us"))
        for d in (CUTOFF, MID)
    )
    return [
        ("batch0_recent.parquet", t.filter(pc.greater_equal(ts, mid))),
        (
            "batch1_buffer.parquet",
            t.filter(pc.and_(pc.greater_equal(ts, cut), pc.less(ts, mid))),
        ),
        (LATE_FILE, t.filter(pc.less(ts, cut))),
    ]


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
    with _staged(spark, sf_dir, "late", _late_split) as (_, stream, static):
        dedup = stream.withWatermark("ts", DELAY).dropDuplicates(["event_id", "ts"])
        progress = _drain(dedup, static, name="late_acct").recentProgress
    n_input = sum(p.numInputRows for p in progress)
    n_dropped = sum(
        so.numRowsDroppedByWatermark for p in progress for so in p.stateOperators
    )
    return spark.createDataFrame(
        [(n_input, n_dropped, n_input - n_dropped)],
        "n_input long, n_dropped long, n_ontime long",
    )


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
            event_time(bdf)
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
    with _staged(spark, sf_dir, "late", _late_split) as (stage, stream, static):
        with _stage_dir("eos") as target:
            writer = exactly_once_batch_writer(target)
            _drain(stream, static, foreach_batch=writer, checkpoint=f"{target}/_ckpt")
            last = max(int(d[1:]) for d in os.listdir(target) if d.startswith("v"))
            # forced replay: the last micro-batch (= the late staged file)
            # goes through the writer AGAIN with the same batch id
            writer(spark.read.parquet(f"{stage}/{LATE_FILE}"), last)
            return spark.read.parquet(f"{target}/v{last}").localCheckpoint()


def _flush_split(t):
    """Chronological order, one data batch plus ONE far-future FLUSH
    file holding one dummy row.

    Outer-join null emission is watermark-driven: an unmatched left row
    surfaces only after the watermark passes its join bound, and the
    watermark advances using the batch BEFORE last and evicts in the
    batch AFTER it advances. The flush batch advances the watermark past
    every real row's eviction bound, and the engine's no-data
    micro-batch (pinned on by the drain) then runs the eviction pass;
    the flush rows' own state never needs to evict because they are
    filtered from the result. Chronological arrival only matters ACROSS
    micro-batches, so the real data stays one batch (each extra
    micro-batch pays a full incremental re-plan and state pass), and no
    real row ever arrives late: this query is about OUTER emission, not
    drops (stream_late_accounting covers drops)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    far = pc.max(t["ts"]).as_py() + datetime.timedelta(days=30)
    flush = pa.table(
        {
            "event_id": pa.array([-1], pa.int64()),
            "ts": pa.array([far], pa.timestamp("us")),
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array(["flush"], pa.string()),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    ).select(t.column_names)
    return [("b0_data.parquet", t), ("b2_flush.parquet", flush)]


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
    with _staged(spark, sf_dir, "outer", _flush_split) as (_, stream, static):
        # the flush rows ride BOTH sides: the outer join's eviction
        # watermark is the MIN of the two sides' watermarks, so a flush on
        # only one side leaves the other stalled an hour below the end and
        # the last unmatched purchases never emit (measured: 2 rows short)
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
        q = _drain(joined, static, name="stream_join_outer")
    # the memory sink outlives the stage; the flush rows are dropped here
    return spark.table(q.name).where(F.col("p_user") >= 0)
