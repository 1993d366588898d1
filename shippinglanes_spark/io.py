"""Table loading: parquet fixtures -> DataFrames with normalized types.

The ten fixture tables (TESTDATA.md) are the engine's data model. Reads go
through ``table()`` so every operator sees the same normalized schema:

- ``events.ts`` is stored as parquet TIMESTAMP(NANOS) which Spark cannot
  read natively; with ``spark.sql.legacy.parquet.nanosAsLong`` we read the
  raw int64 nanoseconds and convert to a TimestampType at microsecond
  precision (``timestamp_micros(ts div 1000)``) — exactly DuckDB's
  truncation of the same column, so oracle comparisons agree to the µs.
- Everything else is read straight from the parquet footer schema
  (self-describing; never hand-declared), keeping predicate pushdown and
  column pruning intact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_confs

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


# DataFrame *plans* are immutable and reusable; memoizing them avoids
# re-listing files + re-reading parquet footers on every query (a fixed
# ~100ms/table tax that dominates sub-second queries). Keyed by the
# SparkContext applicationId (not id(spark): address reuse after a
# session restart would otherwise serve plans bound to a dead context).
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing the events timestamp."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = event_time(df)
    _PLAN_CACHE[key] = df
    return df


def event_time(df: DataFrame) -> DataFrame:
    """Normalize an events frame's ``ts`` to TimestampType (LTZ), the one
    event-time rule every batch and stream read of events goes through.

    The fixture's ts flavor has drifted between generator versions:
    TIMESTAMP(NANOS) (read as int64 via nanosAsLong), TIMESTAMP_NTZ
    (Arrow isAdjustedToUTC=false under Spark 4 inference), or plain
    TIMESTAMP. Watermarks, ``unix_micros`` and event-time windows reject
    NTZ; the UTC session makes every branch value-preserving to the
    microsecond."""
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the ten tables as temp views so `spark.sql(...)` works —
    same names the DuckDB oracle uses (region, nation, ..., embeddings)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
