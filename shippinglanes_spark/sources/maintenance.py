"""Lake maintenance utilities: small-file compaction and incremental
rollup maintenance — the operational half of a 100 TB parquet lake.

- `compact(...)`: rewrite a parquet directory into ~target-sized files
  (small-file explosion is the classic lake pathology: every file costs
  a task + a footer read; compaction restores scan efficiency).
- `incremental_rollup(...)`: maintain a daily aggregate table with
  Structured Streaming `foreachBatch`. Each micro-batch writes its
  *partial* aggregate as a delta partitioned by (day, batch); a replayed
  batch overwrites exactly its own (day, batch) partitions (dynamic
  partition overwrite), so reruns are idempotent AND a day whose events
  span multiple micro-batches keeps every batch's contribution — the two
  properties a blind per-day overwrite cannot have at once. Readers go
  through `read_rollup(...)`, which folds the deltas (sums are algebraic,
  so folding partials is exact); a periodic `compact(...)` of the delta
  directory bounds file count at scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import as_date, money
from ..registry import register
from ..streaming.lift import _drain, _events_static, _events_stream


def compact(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite src_dir's parquet into ~target_file_bytes files at
    dst_dir. Returns the file count written. Uses the source's on-disk
    size to pick the output file count (repartition, not coalesce, so
    skewed inputs still rebalance)."""
    import os

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src_dir)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_dir)
    df.repartition(n_files).write.mode("overwrite").parquet(dst_dir)
    out = spark.read.parquet(dst_dir)
    assert out.count() == df.count()
    import glob

    return len(glob.glob(f"{dst_dir}/*.parquet"))


def incremental_rollup(
    spark: SparkSession,
    src_dir: str,
    rollup_dir: str,
    glob: str = "events.parquet",
):
    """Maintain a per-(day, event_type) rollup of events via foreachBatch.

    Each micro-batch writes its partial aggregate as a delta partitioned
    by (day, batch=batch_id). Dynamic partition overwrite means a
    *replayed* batch replaces exactly its own delta partitions
    (idempotent), while distinct batches touching the same day coexist —
    so the folded rollup (`read_rollup`) equals the batch aggregate even
    when one day's events arrive across many micro-batches. Deltas keep
    raw (unrounded) sums: rounding happens once at read time, because
    round-then-sum of partials diverges from sum-then-round of the whole.
    Drains every file present (availableNow) through ``lift._drain``
    and returns the finished streaming query."""
    static = _events_static(spark, src_dir, glob)
    stream = _events_stream(spark, src_dir, static, glob, one_file_per_batch=True)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        agg = batch.groupBy(
            as_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        ).withColumn("batch", F.lit(batch_id))
        # dynamic mode, set on this write only so the session's mode is
        # untouched: only this batch's (day, batch) partitions replaced
        agg.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("day", "batch").parquet(rollup_dir)

    ckpt = f"{rollup_dir}_ckpt"
    return _drain(stream, static, name="rollup", foreach_batch=upsert, checkpoint=ckpt)


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Fold the rollup's per-batch deltas into the current aggregate.

    Sum/count are algebraic, so folding partials is exact; the monetary
    rounding contract is applied here, once, over the full sum."""
    deltas = spark.read.parquet(rollup_dir)
    return deltas.groupBy("day", "event_type").agg(
        F.sum("n").alias("n"),
        money(F.sum("sum_value")).alias("sum_value"),
    )


@register(
    "maintenance_compaction",
    section="2.1",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY 1
    """,
    notes="small-file compaction as a declared lifecycle query: the "
    "events table is first exploded into 40 tiny files (the streaming-"
    "ingest pathology — every file costs a task, a footer read, and an "
    "open at scan time), then compact() rewrites the directory into "
    "~target-size files via repartition (not coalesce — skewed inputs "
    "rebalance). The query asserts the file count actually collapsed "
    "and returns content aggregates from the COMPACTED copy; the "
    "oracle aggregates the source table, so a hash match proves "
    "compaction is content-preserving end to end",
)
def maintenance_compaction(spark, sf_dir):
    import glob
    import os

    from .io_roundtrip import _scratch

    base = os.path.basename(sf_dir.rstrip("/"))
    src = _scratch(f"compact_src_{base}")
    dst = _scratch(f"compact_dst_{base}")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(40).write.mode("overwrite").parquet(src)
    n_small = len(glob.glob(f"{src}/*.parquet"))
    n_after = compact(spark, src, dst, target_file_bytes=64 * 1024 * 1024)
    assert n_after < n_small, (n_after, n_small)
    back = spark.read.parquet(dst)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("event_id").cast("long").alias("n_ids"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias(
            "value_cents"
        ),
    )
