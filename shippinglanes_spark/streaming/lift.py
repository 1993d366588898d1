"""SURVEY §2.10 stream_lift — batch ops re-run as Structured Streaming.

The engine's event operators are plain DataFrame expressions, so lifting
them to a stream is a source swap: `readStream` over the same files, the
same aggregation, a memory sink. `stream_lift` runs evt_tumbling's
aggregation as a stream (availableNow trigger drains the source, complete
mode emits every window) and its oracle is evt_tumbling's own SQL — the
hash match IS the batch≡stream equivalence proof. Watermarked append-mode
(the production late-data config) is exercised in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import functions as F

from ..core import as_date, epoch_us, money
from ..io import event_time
from ..registry import register
from ..session import apply_runtime_confs, stream_partitions


@register(
    "stream_lift",
    section="2.10",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    notes="evt_tumbling lifted to Structured Streaming; oracle = the batch SQL, "
    "so the driver's hash check proves batch≡stream",
)
def stream_lift(spark, sf_dir):
    static = _events_static(spark, sf_dir)
    stream = _events_stream(spark, sf_dir, static)
    agg = stream.groupBy(
        as_date(F.date_trunc("day", F.col("ts"))).cast("string").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        money(F.sum("value")).alias("sum_value"),
    )
    return spark.table(_drain(agg, static, "complete", "stream_lift").name)


@register(
    "stream_session_window",
    section="2.10",
    oracle="""
    WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
               FROM events),
    g AS (SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER (
                           PARTITION BY user_id ORDER BY ts_us, event_id)
                         > 1800000000 THEN 1 ELSE 0 END AS new_sess
          FROM e),
    s AS (SELECT *, CAST(SUM(new_sess) OVER (
                      PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS session_id
          FROM g)
    SELECT user_id, MIN(ts_us) AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
    notes="F.session_window as a STREAMING stateful aggregation (gap-merge "
    "session state, availableNow drain, complete mode); oracle = the batch "
    "window-SQL sessionize CTE, so the driver's hash check proves "
    "batch-sessionize ≡ stream-session-window on identical input",
)
def stream_session_window(spark, sf_dir):
    static = _events_static(spark, sf_dir)
    stream = _events_stream(spark, sf_dir, static)
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            epoch_us(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )
    return spark.table(_drain(agg, static, "complete", "stream_sessions").name)


@register(
    "stream_dedup",
    section="2.10",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
               FROM events)
    SELECT event_id, user_id, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts_us, user_id) AS rn
      FROM e)
    WHERE rn = 1
    """,
    notes="streaming replay-dedup: keep the earliest copy per event_id via a "
    "min(struct) stateful aggregation (arrival-order independent, unlike "
    "stream dropDuplicates); oracle = the batch evt_late_dedup SQL, so the "
    "hash check proves batch≡stream dedup",
)
def stream_dedup(spark, sf_dir):
    """Duplicate/late-replay consolidation as a streaming stateful
    aggregation: min over struct(ts, tiebreak, payload) per event_id is
    deterministic regardless of arrival order — the property file-order-
    based dropDuplicates lacks — and its state is one struct per key,
    mergeable across micro-batches."""
    static = _events_static(spark, sf_dir)
    stream = _events_stream(spark, sf_dir, static)
    first_copy = F.min(
        F.struct(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
    ).alias("fc")
    agg = (
        stream.groupBy("event_id")
        .agg(first_copy)
        .select(
            "event_id",
            F.col("fc.user_id").alias("user_id"),
            F.col("fc.event_type").alias("event_type"),
            F.col("fc.value").alias("value"),
        )
    )
    return spark.table(_drain(agg, static, "complete", "stream_dedup").name)


def tumbling_watermarked(spark, sf_dir, gap: str = "1 hour"):
    """Production-shaped variant: event-time window + watermark, append
    mode (late rows beyond the watermark are dropped). Used by the
    streaming tests; not a declared query because append-mode emission
    depends on watermark advancement, not on the data alone."""
    stream = _events_stream(spark, sf_dir)
    return (
        stream.withWatermark("ts", gap)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


STAGE_ROOT = "/tmp/shippinglanes_stage"


@contextmanager
def _stage_dir(prefix: str):
    """A fresh scratch directory ``STAGE_ROOT/<prefix>_<id>`` for one
    query's staged input, sink or checkpoint, removed when the block
    exits, also when it raises."""
    path = f"{STAGE_ROOT}/{prefix}_{uuid.uuid4().hex[:8]}"
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _events_static(spark, src_dir, glob="events.parquet"):
    """The ``glob`` files under ``src_dir`` as a batch DataFrame: the
    schema of the stream over the same files and the bounded input that
    sizes its drain."""
    apply_runtime_confs(spark)
    return spark.read.option("pathGlobFilter", glob).parquet(src_dir)


def _events_stream(
    spark, src_dir, static=None, glob="events.parquet", one_file_per_batch=False
):
    """The ``glob`` files under ``src_dir`` as a file stream with
    event-time ``ts`` (``io.event_time``). ``static`` is the
    ``_events_static`` frame over the same files when the caller already
    holds it (reading it again costs a schema-inference job)."""
    if static is None:
        static = _events_static(spark, src_dir, glob)
    reader = spark.readStream.schema(static.schema).option("pathGlobFilter", glob)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)
    return event_time(reader.parquet(src_dir))


def _drain(
    df,
    bounded_input,
    output_mode="append",
    name="drain",
    foreach_batch=None,
    checkpoint=None,
):
    """Run a streaming DataFrame to completion (availableNow trigger)
    and return the stopped query. The sink is the memory table
    ``q.name`` unless ``foreach_batch`` is given, which then writes each
    micro-batch under ``checkpoint``. The drain's confs are pinned by
    ``session.stream_partitions``: state partitions sized from
    ``bounded_input`` (a plain driver session's 200-partition default
    costs ~200 state tasks per micro-batch) and no-data micro-batches
    on."""
    writer = (
        df.writeStream.queryName(f"{name}_{uuid.uuid4().hex[:8]}")
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if foreach_batch is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(foreach_batch).option(
            "checkpointLocation", checkpoint
        )
    with stream_partitions(df.sparkSession, bounded_input):
        q = writer.start()
        q.awaitTermination()
        q.stop()
    return q


@register(
    "stream_join",
    section="2.10",
    oracle="""
    WITH v AS (SELECT user_id AS v_user, event_id AS view_id, ts AS v_ts
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase')
    SELECT p_user, purchase_id, view_id
    FROM p JOIN v ON p_user = v_user
       AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts
    """,
    notes="stream-stream inner join (watermark-bounded state) drained and "
    "hash-compared to the batch interval join - inner-join emissions are "
    "watermark-independent, so the equality is exact",
)
def stream_join(spark, sf_dir):
    static = _events_static(spark, sf_dir)
    q = _drain(stream_stream_join(spark, sf_dir, static), static, name="stream_join")
    return spark.table(q.name)


@register(
    "stream_stateful_totals",
    section="2.10",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
    notes="applyInPandasWithState custom accumulator (explicit GroupState) "
    "drained; the fixture is one file = one micro-batch, so the final "
    "update per user equals the batch aggregate - a full value oracle for "
    "the custom-stateful-operator surface",
)
def stream_stateful_totals(spark, sf_dir):
    from .stateful import running_user_totals

    static = _events_static(spark, sf_dir)
    q = _drain(
        running_user_totals(spark, sf_dir, static), static, "update", "stream_totals"
    )
    return spark.table(q.name).select(
        "user_id", "n_events", money(F.col("sum_value")).alias("sum_value")
    )


def stream_stream_join(spark, sf_dir, static=None):
    """Stream-stream inner join: each purchase joined to the same user's
    views from the preceding hour. Watermarks on both sides bound the
    join state (Spark drops buffered rows older than watermark+bound) —
    the production shape for event-correlation at scale. Inner-join
    emissions are watermark-independent, so the drained result equals the
    batch interval join (asserted in tests/test_streaming.py)."""
    ev = _events_stream(spark, sf_dir, static)
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
    ).select("p_user", "purchase_id", "view_id")


@register(
    "stream_sliding",
    section="2.10",
    oracle="""
    WITH b AS (SELECT date_trunc('hour', MIN(ts)) - INTERVAL 5 HOUR AS lo,
                      date_trunc('hour', MAX(ts)) AS hi
               FROM events),
    ws AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS w_start FROM b)
    SELECT epoch_us(w_start) AS w_start_us, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ws JOIN events ON ts >= w_start AND ts < w_start + INTERVAL 6 HOUR
    GROUP BY w_start, event_type
    """,
    notes="evt_sliding lifted to Structured Streaming: overlapping 6h/1h "
    "windows as a streaming stateful aggregation (each event updates 6 "
    "window states), availableNow drain; oracle = the batch evt_sliding "
    "SQL, so the hash check proves batch≡stream for overlapping windows",
)
def stream_sliding(spark, sf_dir):
    static = _events_static(spark, sf_dir)
    stream = _events_stream(spark, sf_dir, static)
    agg = (
        stream.select(F.window("ts", "6 hours", "1 hour").alias("w"), "event_type")
        .groupBy("w", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            epoch_us(F.col("w.start")).alias("w_start_us"),
            "event_type",
            "n",
        )
    )
    return spark.table(_drain(agg, static, "complete", "stream_sliding").name)


@register(
    "stream_incremental_rollup",
    section="2.10",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    notes="the foreachBatch delta-rollup MAINTENANCE pipeline as a "
    "declared query: stream events one file per micro-batch into "
    "per-(day, batch) delta partitions, then fold the deltas with "
    "read_rollup. Oracle = the plain batch aggregate — the hash match "
    "proves the incremental table equals the from-scratch answer "
    "(idempotent replays and multi-batch days are separately tested in "
    "tests/test_maintenance.py)",
)
def stream_incremental_rollup(spark, sf_dir):
    """Incremental materialized-view maintenance end-to-end: the stream
    writes partial aggregates as (day, batch) delta partitions (dynamic
    partition overwrite makes replays idempotent), and the read folds
    them — sums are algebraic, so folded partials equal the one-shot
    aggregate exactly. At 100 TB the rollup table is the thing that
    makes daily dashboards O(days), not O(events)."""
    from ..sources.maintenance import incremental_rollup, read_rollup

    with _stage_dir("rollup") as stage:
        deltas = f"{stage}/deltas"
        incremental_rollup(spark, sf_dir, deltas)
        # localCheckpoint materializes the fold before the stage goes
        return (
            read_rollup(spark, deltas)
            .select(
                F.col("day").cast("string").alias("day"),
                "event_type",
                F.col("n").cast("long").alias("n"),
                "sum_value",
            )
            .localCheckpoint()
        )


@register(
    "stream_rate_limit",
    section="2.10",
    oracle="""
    WITH r AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                      ROW_NUMBER() OVER (
                        PARTITION BY user_id, date_trunc('hour', ts)
                        ORDER BY epoch_us(ts), event_id) AS rn
               FROM events)
    SELECT user_id, event_id, ts_us FROM r WHERE rn <= 3
    """,
    notes="evt_rate_limit lifted to streaming: applyInPandasWithState "
    "keeps the per-(user, hour) admission tally as GroupState, so the "
    "budget survives across micro-batches/replays; drained result is "
    "hash-equal to the batch window SQL - a full value oracle for a "
    "second custom-stateful operator shape (filtering, vs the totals "
    "accumulator)",
)
def stream_rate_limit(spark, sf_dir):
    from .stateful import rate_limited_events

    static = _events_static(spark, sf_dir)
    q = _drain(
        rate_limited_events(spark, sf_dir, static=static),
        static,
        "update",
        "stream_ratelimit",
    )
    return spark.table(q.name)


@register(
    "stream_transform_with_state",
    section="2.10",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
    FROM events GROUP BY user_id
    """,
    notes="the Spark 4 transformWithStateInPandas arbitrary-state API "
    "(StatefulProcessor + typed ValueState handles — the successor to "
    "applyInPandasWithState, with timers/TTL/multiple state variables): "
    "per-user activity profile accumulated across micro-batches, drained "
    "final rows hash-equal to the batch aggregate. NOT driver-declared: "
    "the TWS state-server protocol needs google.protobuf, absent from "
    "this container (environment-gated like multimodal_decode's codecs); "
    "tests/test_streaming.py runs it where protobuf exists",
    declare=False,
)
def stream_transform_with_state(spark, sf_dir):
    from .stateful import user_activity_tws

    static = _events_static(spark, sf_dir)
    q = _drain(user_activity_tws(spark, sf_dir, static), static, "update", "stream_tws")
    return spark.table(q.name)


@register(
    "stream_topk_per_window",
    section="2.10",
    oracle="""
    WITH d AS (SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
                        AS day,
                      event_type, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2)
    SELECT day, event_type, n FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY day
                                   ORDER BY n DESC, event_type) AS rn
      FROM d)
    WHERE rn <= 3
    """,
    notes="windowed top-k as a STREAM: complete-mode day/type counts "
    "drained, then the rank applied over the drained state — the "
    "trending-now dashboard shape; the hash match vs the batch "
    "window-SQL proves the streaming aggregation state equals the "
    "from-scratch counts before ranking",
)
def stream_topk_per_window(spark, sf_dir):
    from pyspark.sql import Window

    static = _events_static(spark, sf_dir)
    stream = _events_stream(spark, sf_dir, static)
    agg = stream.groupBy(
        as_date(F.date_trunc("day", F.col("ts"))).cast("string").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    drained = spark.table(_drain(agg, static, "complete", "stream_topk").name)
    w = Window.partitionBy("day").orderBy(F.desc("n"), "event_type")
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )
