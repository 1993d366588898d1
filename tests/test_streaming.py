"""Streaming lift: batch≡stream on identical input, and the watermarked
append-mode path used in production for late data."""

from __future__ import annotations

import os
import uuid

from shippinglanes_spark.registry import all_queries
from shippinglanes_spark.streaming.lift import tumbling_watermarked


def test_stream_lift_equals_batch(spark, sf_dir):
    Q = all_queries()
    batch = {
        (r.day, r.event_type): (r.n, r.sum_value)
        for r in Q["evt_tumbling"].fn(spark, sf_dir).collect()
    }
    stream = {
        (r.day, r.event_type): (r.n, r.sum_value)
        for r in Q["stream_lift"].fn(spark, sf_dir).collect()
    }
    assert batch == stream


def test_watermarked_append_runs(spark, sf_dir):
    agg = tumbling_watermarked(spark, sf_dir)
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    out = spark.table(name).collect()
    # append mode emits only windows fully below the final watermark:
    # every day of the month-long fixture except the last open one(s).
    days = {r.w.start.day for r in out}
    assert len(days) >= 25
    assert all(r.n > 0 for r in out)


def test_stateful_totals_equal_batch(spark, sf_dir):
    import uuid as _uuid

    from shippinglanes_spark.io import table
    from shippinglanes_spark.streaming.stateful import running_user_totals
    from pyspark.sql import functions as F

    out = running_user_totals(spark, sf_dir)
    name = f"stateful_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    # update mode re-emits a user's row per batch; the last emission per
    # user is the final state
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.table(name).collect()
    }
    ev = table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, r.t)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("t"),
        )
        .collect()
    }
    assert got == want


def test_stream_stream_join_equals_batch(spark, sf_dir):
    import uuid as _uuid

    from pyspark.sql import functions as F

    from shippinglanes_spark.io import table
    from shippinglanes_spark.streaming.lift import stream_stream_join

    out = stream_stream_join(spark, sf_dir)
    name = f"ssj_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = {
        (r.p_user, r.purchase_id, r.view_id) for r in spark.table(name).collect()
    }
    ev = table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    want = {
        (r.p_user, r.purchase_id, r.view_id)
        for r in p.join(
            v,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v_ts") <= F.col("p_ts")),
        )
        .select("p_user", "purchase_id", "view_id")
        .collect()
    }
    assert got == want and len(got) > 0


def test_late_rows_dropped_exact_count(spark, tmp_path):
    """Constructed micro-batches with known late rows: batch 0 advances
    the watermark, batch 1 is a buffer (Spark's late filter lags the
    eviction watermark by one batch), batch 2 injects 4 old rows of
    which exactly 3 sit below the watermark — accounting must say 3."""
    import json
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from shippinglanes_spark.io import event_time

    def us(day, hour=0):
        import datetime

        return datetime.datetime(2024, 1, day, hour)

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    # watermark delay 2 days; batch0 max = Jan 10 -> wm = Jan 8T00:00
    batches = [
        [(1, us(10)), (2, us(9))],  # recent: advances wm to Jan 8
        [(3, us(9, 12))],  # buffer batch
        # late batch: 3 rows strictly below Jan 8, 1 at Jan 8T06 (kept)
        [(4, us(5)), (5, us(6)), (6, us(7, 23)), (7, us(8, 6))],
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            }
        )
        pq.write_table(t, f"{stage}/f{i}.parquet")
        os.utime(f"{stage}/f{i}.parquet", (now - 180 + i * 60,) * 2)
    stream = event_time(
        spark.readStream.schema("event_id long, ts timestamp_ntz")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    dedup = stream.withWatermark("ts", "2 days").dropDuplicates(
        ["event_id", "ts"]
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        dedup.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = 0
    for p in q.recentProgress:
        prog = json.loads(p.json)
        for so in prog.get("stateOperators", []):
            dropped += int(so.get("numRowsDroppedByWatermark", 0))
    q.stop()
    assert dropped == 3
    admitted = {r.event_id for r in spark.table(name).collect()}
    assert admitted == {1, 2, 3, 7}


def test_exactly_once_sink_replay_idempotent(spark, sf_dir, tmp_path):
    """Replaying ANY batch (not just the last) through the exactly-once
    writer must leave the folded sink identical — the versioned keyed
    write is the fence."""
    from shippinglanes_spark.streaming.latedata import (
        LATE_FILE,
        _late_split,
        _staged,
        exactly_once_batch_writer,
    )
    from shippinglanes_spark.streaming.lift import _drain

    target = str(tmp_path / "eos")
    writer = exactly_once_batch_writer(target)
    with _staged(spark, sf_dir, "late", _late_split) as (stage, stream, static):
        _drain(stream, static, foreach_batch=writer, checkpoint=str(tmp_path / "ckpt"))
        versions = sorted(int(d[1:]) for d in os.listdir(target) if d[0] == "v")
        last = versions[-1]
        before = {
            (r.day, r.event_type): (r.n, r.sum_cents)
            for r in spark.read.parquet(f"{target}/v{last}").collect()
        }
        # replay the LAST batch twice and an EARLIER batch once
        late_df = spark.read.parquet(f"{stage}/{LATE_FILE}")
        writer(late_df, last)
        writer(late_df, last)
        if len(versions) >= 2:
            buf_df = spark.read.parquet(f"{stage}/batch1_buffer.parquet")
            writer(buf_df, versions[-2])
        after = {
            (r.day, r.event_type): (r.n, r.sum_cents)
            for r in spark.read.parquet(f"{target}/v{last}").collect()
        }
    assert after == before


def test_transform_with_state_equals_batch(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 arbitrary-state API) profile
    must equal the batch aggregate. Skipped where the TWS state-server
    dependency (protobuf) is absent — the environment gate is the
    reason the query is registered with declare=False."""
    import pytest

    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from shippinglanes_spark.registry import all_queries

    Q = all_queries()
    got = {
        r.user_id: (r.n_events, r.n_types, r.first_us, r.last_us)
        for r in Q["stream_transform_with_state"].fn(spark, sf_dir).collect()
    }
    from shippinglanes_spark.io import table

    ev = table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, r.t, r.f, r.l)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_type").alias("t"),
            F.unix_micros(F.min("ts").cast("timestamp")).alias("f"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("l"),
        )
        .collect()
    }
    assert got == want


def test_stream_partitions_pin_restores_conf(spark):
    """The drain-time state-partition pin must restore the caller's
    shuffle-partition setting afterwards (batch plans untouched)."""
    from shippinglanes_spark.core import FAN_OUT_TASK_BYTES
    from shippinglanes_spark.session import stream_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_partitions(spark, 2 * FAN_OUT_TASK_BYTES):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # exception-safe: the finally path restores too
    try:
        with stream_partitions(spark, 3 * FAN_OUT_TASK_BYTES):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_input_width_byte_rule(spark):
    """One task per FAN_OUT_TASK_BYTES of input, clamped to
    [1, defaultParallelism]; fan_out_scaled keeps its floor of 2."""
    from shippinglanes_spark.core import (
        FAN_OUT_TASK_BYTES,
        fan_out_scaled,
        input_width,
    )

    cap = spark.sparkContext.defaultParallelism
    assert cap > 2
    assert input_width(spark, 0) == 1
    assert input_width(spark, FAN_OUT_TASK_BYTES) == 1
    assert input_width(spark, FAN_OUT_TASK_BYTES + 1) == 2
    assert input_width(spark, 1 << 50) == cap
    tiny = spark.range(0, 1, 1, 1)
    assert input_width(spark, tiny) == 1
    assert fan_out_scaled(tiny).rdd.getNumPartitions() == 2


def test_stateful_drain_state_partitions_follow_input(spark, sf_dir):
    """A stateful drain over the sf0.001 events file (27 KB, well under
    one FAN_OUT_TASK_BYTES) runs its state operator on one partition,
    as the progress events a StreamingQueryListener receives report."""
    import threading

    import pytest
    from pyspark.sql.streaming import StreamingQueryListener

    from shippinglanes_spark.core import FAN_OUT_TASK_BYTES

    if os.path.getsize(f"{sf_dir}/events.parquet") > FAN_OUT_TASK_BYTES:
        pytest.skip("events input spans more than one task's bytes")

    class Widths(StreamingQueryListener):
        def __init__(self):
            self.widths = []
            self.done = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.widths += [
                so.numShufflePartitions for so in event.progress.stateOperators
            ]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    listener = Widths()
    spark.streams.addListener(listener)
    try:
        all_queries()["stream_session_window"].fn(spark, sf_dir)
        assert listener.done.wait(30)
    finally:
        spark.streams.removeListener(listener)
    assert listener.widths and set(listener.widths) == {1}


def _stage_leftovers() -> set[str]:
    """Every entry under the stage root, plus the ``/tmp/rollup_*`` dirs
    the incremental rollup once staged outside it."""
    import glob

    from shippinglanes_spark.streaming.lift import STAGE_ROOT

    staged = set(glob.glob(f"{STAGE_ROOT}/*"))
    return staged | set(glob.glob("/tmp/rollup_*"))


def test_stream_join_outer_leaves_no_stage_dir(spark, sf_dir):
    """The drained result lives in the memory sink, so the staged input
    files are removed once the drain ends."""
    before = _stage_leftovers()
    out = all_queries()["stream_join_outer"].fn(spark, sf_dir)
    assert _stage_leftovers() - before == set()
    assert out.count() > 0  # still readable after the stage is gone


def test_stream_incremental_rollup_leaves_no_stage_dir_on_error(
    spark, sf_dir, monkeypatch
):
    """A fold that raises still removes the rollup's delta and checkpoint
    directories."""
    import pytest

    from shippinglanes_spark.sources import maintenance

    def fold_fails(*args, **kwargs):
        raise RuntimeError("fold failed")

    monkeypatch.setattr(maintenance, "read_rollup", fold_fails)
    before = _stage_leftovers()
    with pytest.raises(RuntimeError, match="fold failed"):
        all_queries()["stream_incremental_rollup"].fn(spark, sf_dir)
    assert _stage_leftovers() - before == set()


def test_stream_join_outer_pins_no_data_batches(spark, sf_dir):
    """The outer join's eviction pass is the no-data micro-batch: with the
    session conf turned off the drain must still match its oracle, and the
    caller's value must read back afterwards."""
    from shippinglanes_spark.testing import compare

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        compare(spark, all_queries()["stream_join_outer"], sf_dir)
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, prev)


def test_stager_splits(spark, sf_dir):
    """Both splits stage the events rows at timestamp[us] under their
    file names, in ascending modification time (= arrival order); the
    late split partitions the rows, the flush split appends one flush
    row; the stage is gone after the block."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from shippinglanes_spark.streaming.latedata import (
        LATE_FILE,
        _flush_split,
        _late_split,
        _staged,
    )

    n_events = pq.read_metadata(f"{sf_dir}/events.parquet").num_rows
    splits = {
        _late_split: ["batch0_recent.parquet", "batch1_buffer.parquet", LATE_FILE],
        _flush_split: ["b0_data.parquet", "b2_flush.parquet"],
    }
    rows = {}
    for split, names in splits.items():
        with _staged(spark, sf_dir, "test", split) as (stage, _, static):
            by_arrival = sorted(
                os.listdir(stage), key=lambda f: os.stat(f"{stage}/{f}").st_mtime
            )
            assert by_arrival == names
            mtimes = [os.stat(f"{stage}/{f}").st_mtime for f in names]
            assert mtimes == sorted(set(mtimes))
            tables = [pq.read_table(f"{stage}/{f}") for f in names]
            assert {t.schema.field("ts").type for t in tables} == {
                pa.timestamp("us")
            }
            rows[split] = [t.num_rows for t in tables]
            assert static.count() == sum(rows[split])
        assert not os.path.exists(stage)
        if split is _flush_split:
            assert tables[1].column("event_type").to_pylist() == ["flush"]
    assert sum(rows[_late_split]) == n_events and min(rows[_late_split]) > 0
    assert rows[_flush_split] == [n_events, 1]


def test_stream_paths_have_one_home():
    """The file-fed stream drains share one drain loop, one event-time
    rule and one stage root: ``.writeStream`` is written only in
    ``lift._drain`` and ``source_python_stream`` (whose feed needs a
    running query), ``ts div 1000`` only in ``io.py``, and the stage
    root's path only at ``STAGE_ROOT``."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "shippinglanes_spark"
    writers, ts_rule, stage_root = set(), set(), []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text()
        lines = src.splitlines()
        funcs = [
            n
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for no, line in enumerate(lines, 1):
            if ".writeStream" in line:
                inner = [f for f in funcs if f.lineno <= no <= f.end_lineno]
                owner = min(inner, key=lambda f: f.end_lineno - f.lineno, default=None)
                writers.add((rel, owner and owner.name))
            if "ts div 1000" in line:
                ts_rule.add(rel)
            if "/tmp/shippinglanes_stage" in line:
                stage_root.append((rel, line.strip()))
    assert writers == {
        ("streaming/lift.py", "_drain"),
        ("sources/pyds.py", "source_python_stream"),
    }
    assert ts_rule == {"io.py"}
    assert stage_root == [
        ("streaming/lift.py", 'STAGE_ROOT = "/tmp/shippinglanes_stage"')
    ]
