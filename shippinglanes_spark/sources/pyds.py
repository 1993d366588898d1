"""Spark 4 Python Data Source API (SURVEY §2.1 extension).

A custom connector written in pure Python — the extension surface that
lets an engine ingest ANY feed (registry APIs, proprietary binary logs,
message buses) without a JVM connector. The demo source is a
deterministic synthetic vessel registry: every field derives from
vessel_id by fixed integer arithmetic, so a plain SQL oracle can
recompute the exact same relation and the driver's hash check certifies
the whole read path (schema -> partitions -> per-partition generator).

Scale shape: `partitions()` returns one InputPartition per id-range
slice, so the read parallelizes exactly like a real connector's splits;
each partition generates only its own range (no driver materialization).
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from ..registry import register
from ..session import stream_partitions

FLAGS = ["PA", "LR", "MH", "HK", "SG", "MT", "CY", "BS"]
N_VESSELS = 2000
N_PARTS = 8


def _make_datasource():
    """Build the DataSource class lazily (the pyspark.sql.datasource
    import is Spark 4+ only)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class VesselRegistryReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", N_VESSELS))
            self.k = int(options.get("partitions", N_PARTS))

        def partitions(self):
            per = (self.n + self.k - 1) // self.k
            return [
                RangePartition(i * per, min((i + 1) * per, self.n))
                for i in range(self.k)
            ]

        def read(self, partition):
            # deterministic pure-integer derivation: the oracle recomputes
            # the identical rows in SQL
            for vid in range(partition.start, partition.end):
                yield (
                    vid,
                    f"IMO{9_000_000 + vid}",
                    (vid * 7919) % 200_000,
                    FLAGS[vid % 8],
                )

    class VesselRegistryDataSource(DataSource):
        @classmethod
        def name(cls):
            return "vessel_registry"

        def schema(self):
            return "vessel_id bigint, imo string, dwt bigint, flag string"

        def reader(self, schema):
            return VesselRegistryReader(self.options)

    return VesselRegistryDataSource


@register(
    "source_python_datasource",
    section="2.1",
    oracle=f"""
    WITH v AS (SELECT UNNEST(range({N_VESSELS})) AS vessel_id)
    SELECT flag,
           CAST(COUNT(*) AS BIGINT) AS n_vessels,
           CAST(SUM(dwt) AS BIGINT) AS total_dwt,
           MIN(imo) AS first_imo
    FROM (SELECT vessel_id,
                 'IMO' || CAST(9000000 + vessel_id AS VARCHAR) AS imo,
                 (vessel_id * 7919) % 200000 AS dwt,
                 ['{"','".join(FLAGS)}'][CAST(vessel_id % 8 AS INT) + 1]
                   AS flag
          FROM v)
    GROUP BY flag
    """,
    notes="Spark 4 Python Data Source API: a pure-Python connector "
    "(DataSource + DataSourceReader + InputPartition range splits) "
    "registered and read like any format — the extension surface for "
    "feeds with no JVM connector. The synthetic registry derives every "
    "field from vessel_id by integer arithmetic, so the SQL oracle "
    "recomputes the identical relation and hash-certifies the "
    "schema/partition/generator path end to end",
)
def source_python_datasource(spark, sf_dir):
    spark.dataSource.register(_make_datasource())
    v = spark.read.format("vessel_registry").option("n", N_VESSELS).load()
    return v.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n_vessels"),
        F.sum("dwt").cast("long").alias("total_dwt"),
        F.min("imo").alias("first_imo"),
    )


_STREAM_BATCHES = 5
_PER_BATCH = 200


def _make_stream_datasource():
    """Streaming flavor of the Python Data Source API (Spark 4
    SimpleDataSourceStreamReader): a bounded synthetic position feed —
    offsets advance one batch of rows at a time and stop at
    _STREAM_BATCHES, so an availableNow drain terminates."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class FeedReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"batch": 0}

        def read(self, start):
            b = start["batch"]
            if b >= _STREAM_BATCHES:
                return iter([]), {"batch": b}
            rows = [
                (
                    b * _PER_BATCH + i,
                    b,
                    ((b * _PER_BATCH + i) * 7919) % 360,
                )
                for i in range(_PER_BATCH)
            ]
            return iter(rows), {"batch": b + 1}

        def readBetweenOffsets(self, start, end):
            rows = []
            for b in range(start["batch"], end["batch"]):
                rows.extend(
                    (
                        b * _PER_BATCH + i,
                        b,
                        ((b * _PER_BATCH + i) * 7919) % 360,
                    )
                    for i in range(_PER_BATCH)
                )
            return iter(rows)

    class PositionFeedDataSource(DataSource):
        @classmethod
        def name(cls):
            return "position_feed"

        def schema(self):
            return "msg_id bigint, batch bigint, heading bigint"

        def simpleStreamReader(self, schema):
            return FeedReader()

    return PositionFeedDataSource


@register(
    "source_python_stream",
    section="2.1",
    oracle=f"""
    WITH m AS (SELECT UNNEST(range({_STREAM_BATCHES * _PER_BATCH})) AS msg_id)
    SELECT CAST(msg_id // {_PER_BATCH} AS BIGINT) AS batch,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((msg_id * 7919) % 360) AS BIGINT) AS heading_sum
    FROM m GROUP BY 1
    """,
    notes="Spark 4 Python STREAMING Data Source "
    "(SimpleDataSourceStreamReader): a pure-Python micro-batch feed "
    "with driver-side offset tracking (initialOffset / read / "
    "readBetweenOffsets for replay) — the extension surface for "
    "streaming feeds with no JVM connector. The synthetic feed is "
    "bounded and integer-derived, so the drained result is "
    "hash-certified against a SQL recomputation; readBetweenOffsets "
    "is the replay path a checkpoint recovery exercises",
)
def source_python_stream(spark, sf_dir):
    spark.dataSource.register(_make_stream_datasource())
    stream = spark.readStream.format("position_feed").load()
    agg = stream.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("heading").cast("long").alias("heading_sum"),
    )
    name = f"pystream_{uuid.uuid4().hex[:8]}"
    # Not lift._drain: availableNow snapshots only the FIRST offset
    # advance of a simple stream reader (one read() call), so drain with
    # a running query instead. No processingTime trigger: the default
    # fires the next micro-batch as soon as the previous commits, and
    # processAllAvailable() blocks exactly until the bounded feed reports
    # no new offsets, so no poll interval adds latency.
    expect = _STREAM_BATCHES * _PER_BATCH
    # the pin must outlive start(): micro-batch 0 reads the conf on the
    # stream thread, which may plan after start() returns. The feed's
    # size is known up front (three bigint columns per row), so it sizes
    # the state partitions by the same byte rule as the file drains.
    with stream_partitions(spark, expect * 3 * 8):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    assert spark.table(name).agg(F.sum("n")).first()[0] == expect
    return spark.table(name)
