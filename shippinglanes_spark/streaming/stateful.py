"""Custom stateful streaming operator via applyInPandasWithState.

`running_user_totals` keeps per-user (event count, value sum) state
across micro-batches — the `applyInPandasWithState` shape a production
pipeline uses for custom sessionization/accumulation that the built-in
windowed aggregations can't express. State is a GroupState holding one
tuple per user; timeouts are disabled (accumulate forever).

tests/test_streaming.py proves the streamed totals equal the batch
groupBy over the same files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .lift import _events_stream

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)
STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def running_user_totals(
    spark: SparkSession, sf_dir: str, static: DataFrame | None = None
) -> DataFrame:
    """Streaming per-user running totals with explicit GroupState.
    ``static`` is the events batch frame if the caller holds it."""
    stream = _events_stream(spark, sf_dir, static, one_file_per_batch=True)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


RATE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
    ]
)
# per-user tally of events already admitted per hour bucket
RATE_STATE_SCHEMA = StructType(
    [
        StructField("hours", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def rate_limited_events(
    spark: SparkSession,
    sf_dir: str,
    per_hour: int = 3,
    static: DataFrame | None = None,
) -> DataFrame:
    """Streaming per-key rate limiter with explicit GroupState: admit the
    first `per_hour` events per user per hour bucket, drop the rest.
    State = the per-hour admission tally (two parallel arrays — GroupState
    structs can't hold maps), so replayed/late micro-batches continue the
    same budget. The ingestion-throttling shape every feed handler needs;
    drained output equals the batch evt_rate_limit SQL (one file = one
    micro-batch, admission order = (ts, event_id))."""
    stream = _events_stream(spark, sf_dir, static, one_file_per_batch=True)

    def limiter(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            hours, counts = state.get
            tally = dict(zip(hours, counts))
        else:
            tally = {}
        frames = []
        for pdf in pdfs:
            us = (
                pd.to_datetime(pdf["ts"])
                .astype("datetime64[ns]")
                .astype("int64")
                // 1000
            )
            frames.append(pd.DataFrame({"event_id": pdf["event_id"], "us": us}))
        allr = pd.concat(frames).sort_values(["us", "event_id"])
        kept_e, kept_t = [], []
        for eid, us in zip(allr["event_id"], allr["us"]):
            hr = int(us) // 3_600_000_000
            c = tally.get(hr, 0)
            if c < per_hour:
                tally[hr] = c + 1
                kept_e.append(int(eid))
                kept_t.append(int(us))
        state.update((list(tally.keys()), list(tally.values())))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(kept_e),
                "event_id": kept_e,
                "ts_us": kept_t,
            }
        )

    return (
        stream.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            limiter,
            outputStructType=RATE_OUTPUT_SCHEMA,
            stateStructType=RATE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TWS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_types", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)
TWS_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("types", ArrayType(StringType())),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


def user_activity_tws(
    spark: SparkSession, sf_dir: str, static: DataFrame | None = None
) -> DataFrame:
    """Per-user activity profile via transformWithStateInPandas — the
    Spark 4 arbitrary-state API (StatefulProcessor + typed state
    handles) that supersedes applyInPandasWithState: explicit state
    variables, timers, and TTL support. State = (event count, distinct
    event types, first/last event time); emits the running profile each
    micro-batch, so the drained final row per user equals the batch
    aggregate."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    stream = _events_stream(spark, sf_dir, static, one_file_per_batch=True)
    rows = stream.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )

    class ActivityProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("profile", TWS_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._state.exists():
                n, types, first_us, last_us = self._state.get()
                types = set(types)
            else:
                n, types, first_us, last_us = 0, set(), None, None
            for pdf in rows:
                n += len(pdf)
                types.update(pdf["event_type"])
                lo = int(pdf["ts_us"].min())
                hi = int(pdf["ts_us"].max())
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
            self._state.update((n, sorted(types), first_us, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_types": [len(types)],
                    "first_us": [first_us],
                    "last_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    return rows.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=ActivityProcessor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
