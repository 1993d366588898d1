"""Job-floor investigation (VERDICT r7 item 5): measure the 4 headline
queries stuck above 2x vs DuckDB at ~40-60 ms absolute, against
candidate single-action rewrites and against the measured Spark
single-job floor, per-task Python floor and one-batch stateful
streaming drain floor.

Methodology mirrors bench.py's steady-state: one warm session, same
DataFrame handle re-executed (plan reused), min of N, toPandas().
Run manually; paste conclusions into BASELINE.md / bench.py notes.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import best_of
from shippinglanes_spark.io import table
from shippinglanes_spark.registry import all_queries
from shippinglanes_spark.session import get_spark
from shippinglanes_spark.streaming.lift import _drain

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def steady(df, n=5):
    df.toPandas()  # cold/plan
    return round(best_of(n, df.toPandas), 4)


def stateful_drain_floor(spark, n=5):
    """Min wall seconds of a one-batch stateful availableNow drain of a
    one-row file at one state partition (a 0-byte bounded input): the
    fixed cost of one micro-batch with a state store, which every
    stream_* drain pays per batch whatever its row count."""
    src = tempfile.mkdtemp(prefix="floor_drain_")
    try:
        spark.range(1).write.mode("overwrite").parquet(src)
        agg = spark.readStream.schema("id long").parquet(src).groupBy("id").count()
        _drain(agg, 0, "complete", "floor_drain")  # cold/plan
        return round(best_of(n, lambda: _drain(agg, 0, "complete", "floor_drain")), 4)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def fused_funnel(spark, sf_dir):
    """One groupBy: signup min + sorted purchase array, conv = first
    purchase >= signup (array filter). Single shuffle, single job."""
    from shippinglanes_spark.core import epoch_us

    ev = table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", epoch_us("ts").alias("ts_us"))
    g = (
        e.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts_us"))
            ).alias("signup_us"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("event_type") == "purchase", F.col("ts_us"))
                )
            ).alias("pts"),
        )
        .where(F.col("signup_us").isNotNull())
    )
    conv = F.array_min(
        F.filter(F.col("pts"), lambda t: t >= F.col("signup_us"))
    )
    return g.select(
        "user_id",
        "signup_us",
        conv.alias("conv_us"),
        (conv - F.col("signup_us")).alias("delta_us"),
    )


def fused_intersect(spark, sf_dir):
    """Union + per-key flag agg: one shuffle, no join, no broadcast."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    a = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey", F.lit(1).alias("s")
    )
    b = o.where(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey"), F.lit(2).alias("s")
    )
    return (
        a.unionByName(b)
        .groupBy("c_custkey")
        .agg(F.bit_or("s").alias("m"))
        .where(F.col("m") == 3)
        .select("c_custkey")
    )


def main():
    spark = get_spark(app_name="floor-probe", cpus="32", shuffle_partitions=8)
    Q = all_queries()
    # absolute single-job floor: 1-row parquet-less local relation,
    # and a single-scan count over the smallest real table
    floor_df = spark.range(1).selectExpr("id")
    nation = table(spark, SF, "nation").groupBy().count()
    # Python-task floor: a one-row identity mapInArrow next to the same
    # job without Python, both in ONE task (a default range(1) runs
    # defaultParallelism tasks); the gap is the fixed cost of a Python task
    one_task = spark.range(0, 1, 1, 1)
    py_floor_df = one_task.mapInArrow(lambda batches: batches, "id long")
    print("floor range(1):", steady(floor_df))
    print("floor range(1), one task:", steady(one_task))
    print("floor python task (1-row mapInArrow):", steady(py_floor_df))
    print("floor stateful drain (1 row, 1 batch, 1 state partition):",
          stateful_drain_floor(spark))
    print("floor nation-agg:", steady(nation))
    for name in ("agg_pivot", "fn_json", "evt_funnel", "set_intersect"):
        print(f"{name} current:", steady(Q[name].fn(spark, SF)))
    ff = fused_funnel(spark, SF)
    fi = fused_intersect(spark, SF)
    print("evt_funnel fused:", steady(ff))
    print("set_intersect fused:", steady(fi))
    # value-equality of the rewrites vs the registered queries
    cur_f = Q["evt_funnel"].fn(spark, SF).toPandas().sort_values("user_id").reset_index(drop=True)
    new_f = ff.toPandas().sort_values("user_id").reset_index(drop=True)
    print("funnel identical:", cur_f.equals(new_f[cur_f.columns]))
    cur_i = sorted(r[0] for r in Q["set_intersect"].fn(spark, SF).collect())
    new_i = sorted(r[0] for r in fi.collect())
    print("intersect identical:", cur_i == new_i)


if __name__ == "__main__":
    main()
