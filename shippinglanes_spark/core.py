"""Shared expression helpers keeping Spark<->DuckDB oracle parity.

Cross-engine discipline (see FIXTURES.md "gotchas"):
- timestamps in OUTPUT: cast to date or epoch-µs bigint on both sides;
- money/ratio aggregates: ROUND identically on both sides;
- integer aggregates in DuckDB: CAST(... AS BIGINT) (sum(int) is HUGEINT);
- window order: always add a unique tiebreak key (event_id / o_orderkey).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_us(col: Column | str) -> Column:
    """Microseconds since epoch for a TimestampType column (UTC session).

    Matches DuckDB's ``epoch_us(ts)`` on the same naive data.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def money(col: Column, dp: int = 2) -> Column:
    """Round a monetary/float aggregate for hash stability."""
    return F.round(col, dp)


def as_date(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("date")


def fan_out(df, min_partitions: int | None = None):
    """Redistribute a narrow DataFrame whose source has fewer splits than
    the cluster has cores, so a compute-heavy downstream expression (JSON
    parse, regex, UDF) parallelizes.

    Single-file single-row-group parquet inputs scan as ONE task no
    matter what maxPartitionBytes says (a row group is the atomic split
    unit), serializing everything fused into the scan stage. A 100 TB
    table has thousands of row groups and never needs this; it exists for
    the small-source + expensive-map shape and is a no-op when the input
    is already split at least as wide as the session's parallelism.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Work-based fan-out width: one task per this many estimated input
# bytes. Sized so a cheap codegen'd per-row map (JSON parse: ~100 ms of
# single-core work per MB of compressed input) still gets a few ms of
# work per task; heavy Python/HOF fan-outs should keep plain fan_out
# (their per-byte work is 10-100x larger, so defaultParallelism-wide
# splits stay justified at fixture scale).
FAN_OUT_TASK_BYTES = 256 << 10


def input_width(spark, bounded_input, floor: int = 1) -> int:
    """One task per FAN_OUT_TASK_BYTES of input: ceil(input bytes /
    FAN_OUT_TASK_BYTES) clamped to [floor, defaultParallelism].

    ``bounded_input`` is a byte count, or a DataFrame whose optimized
    plan's size estimate is the byte count (for a file scan, the files'
    on-disk size). A plan without a usable estimate gets
    defaultParallelism."""
    cap = spark.sparkContext.defaultParallelism
    if isinstance(bounded_input, int):
        n_bytes = bounded_input
    else:
        try:
            n_bytes = int(
                str(
                    bounded_input._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
        except Exception:  # stats unavailable (exotic plan)
            return cap
    return max(floor, min(cap, -(-n_bytes // FAN_OUT_TASK_BYTES)))


def fan_out_scaled(df):
    """fan_out with the width derived from the INPUT SIZE instead of the
    core count: ceil(estimated bytes / FAN_OUT_TASK_BYTES) clamped to
    [2, defaultParallelism].

    Why: a width of defaultParallelism turns a tiny relation into 32
    near-empty tasks whose scheduling outweighs their work — measured as
    the fn_json 8-vs-32-core inversion in the round-11 driver bench
    (0.048 s @8 vs 0.235 s @32 on identical code; guide §2.6). A
    work-derived width is the same at ANY core count (no inversion by
    construction) and still reaches full parallelism on large inputs,
    where estimated bytes / FAN_OUT_TASK_BYTES exceeds the clamp.

    Below the clamp the input is repartitioned to `width` without
    looking at its native split count, so an input read from more
    splits than `width` is repartitioned DOWN to `width`. That is
    harmless: the width already gives every task about
    FAN_OUT_TASK_BYTES of input, so the extra native splits were
    smaller than one task's worth of work and merging them only drops
    per-task overhead. The keyless repartition shuffles an input
    estimated below defaultParallelism * FAN_OUT_TASK_BYTES and changes
    no row's value, only which task computes it."""
    cap = df.sparkSession.sparkContext.defaultParallelism
    width = input_width(df.sparkSession, df, floor=2)
    if width < cap:
        # small input: the stats already made the decision — skip
        # fan_out's df.rdd.getNumPartitions() probe, which costs a
        # second plan materialization per build (~0.1-0.2 s of py4j
        # round-trips at fixture scale).
        return df.repartition(width)
    return fan_out(df, width)
