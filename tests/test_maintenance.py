"""Lake maintenance: compaction, incremental rollup, schema evolution."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from shippinglanes_spark.io import table
from shippinglanes_spark.sources.maintenance import (
    compact,
    incremental_rollup,
    read_rollup,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, ".tmp")


def test_compaction_reduces_files(spark, sf_dir):
    src = os.path.join(TMP, "frag")
    dst = os.path.join(TMP, "compacted")
    li = table(spark, sf_dir, "lineitem")
    li.repartition(64).write.mode("overwrite").parquet(src)  # fragment it
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 64
    n = compact(spark, src, dst, target_file_bytes=64 * 1024 * 1024)
    assert n <= 2
    got = spark.read.parquet(dst).agg(F.sum("l_quantity")).first()[0]
    want = li.agg(F.sum("l_quantity")).first()[0]
    assert abs(got - want) < 1e-6


def test_incremental_rollup_equals_batch(spark, sf_dir):
    rollup = os.path.join(TMP, "rollup")
    shutil.rmtree(rollup, ignore_errors=True)
    shutil.rmtree(rollup + "_ckpt", ignore_errors=True)
    incremental_rollup(spark, sf_dir, rollup)
    got = {
        (str(r.day), r.event_type): (r.n, r.sum_value)
        for r in read_rollup(spark, rollup).collect()
    }
    ev = table(spark, sf_dir, "events")
    want = {
        (str(r.day), r.event_type): (r.n, r.sum_value)
        for r in ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .collect()
    }
    assert got == want

    # replay idempotency: rerun with a fresh checkpoint, same result
    shutil.rmtree(rollup + "_ckpt", ignore_errors=True)
    incremental_rollup(spark, sf_dir, rollup)
    again = {
        (str(r.day), r.event_type): (r.n, r.sum_value)
        for r in read_rollup(spark, rollup).collect()
    }
    assert again == want


def test_incremental_rollup_day_split_across_batches(spark, sf_dir):
    """A day whose events span multiple input files (one file per
    micro-batch) must keep every batch's contribution — the failure mode
    of a blind per-day overwrite."""
    src = os.path.join(TMP, "split_events")
    rollup = os.path.join(TMP, "split_rollup")
    for d in (src, rollup, rollup + "_ckpt"):
        shutil.rmtree(d, ignore_errors=True)
    ev = table(spark, sf_dir, "events")
    # two files, both containing rows from every day (odd/even event_id)
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/half=0")
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/half=1")
    incremental_rollup(spark, src, rollup, glob="*.parquet")
    got = {
        (str(r.day), r.event_type): (r.n, r.sum_value)
        for r in read_rollup(spark, rollup).collect()
    }
    want = {
        (str(r.day), r.event_type): (r.n, r.sum_value)
        for r in ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .collect()
    }
    assert got == want


def test_incremental_rollup_keeps_session_overwrite_mode(spark, sf_dir):
    """The rollup's dynamic partition overwrite is set per write: after
    stream_incremental_rollup the session's mode reads its prior value,
    so later partitioned overwrites in the session stay static."""
    from shippinglanes_spark.registry import all_queries

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        assert all_queries()["stream_incremental_rollup"].fn(spark, sf_dir).count() > 0
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, prev)


def test_schema_evolution_mergeschema(spark):
    base = os.path.join(TMP, "evolve")
    shutil.rmtree(base, ignore_errors=True)
    spark.range(3).select(F.col("id").alias("k"), F.lit("a").alias("v1")).write.parquet(
        f"{base}/p=1"
    )
    spark.range(3).select(
        F.col("id").alias("k"), F.lit("b").alias("v1"), F.lit(1.5).alias("v2")
    ).write.parquet(f"{base}/p=2")
    merged = spark.read.option("mergeSchema", True).parquet(base)
    assert set(merged.columns) == {"k", "v1", "v2", "p"}
    old = merged.where(F.col("p") == 1)
    assert old.where(F.col("v2").isNull()).count() == 3  # absent column -> nulls
