"""The traced run: per-operation spans and per-layer counters.

Every number comes from outside the engine: wall clocks around the calls
the benchmark makes, Spark's SQL and application status stores (which keep
every SQL execution, its jobs, stages and aggregated SQL metrics even with
the UI disabled), each fresh DataFrame's QueryPlanningTracker, and a
StreamingQueryListener for micro-batch progress. Spans and records stay in
memory until ``Tracer.dump``.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# SQL metric name -> per-execution record field
_SQL_METRICS = {
    "number of output rows": "output_rows",
    "time to collect": "broadcast_collect_s",
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_total_s",
    "data sent to Python workers": "py_bytes_sent",
    "number of written files": "files_written",
    "written output": "bytes_written",
}
# SQLPlanMetric(name,accumulatorId,metricType) as Scala prints it
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.+?),(\d+),[\w.$]+\)")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

# Per-operation layer metrics (BENCHMARK.json per_layer names); a run
# reports each as its mean over the traced operations.
OP_METRICS = (
    "build.s",
    "build.sql_executions",
    "build.jobs",
    "plan.analysis_s",
    "plan.optimization_s",
    "plan.planning_s",
    "exec.s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.output_rows",
    "exec.shuffle_records",
    "exec.shuffle_bytes",
    "exec.spill_bytes",
    "exec.broadcast_collect_s",
    "exec.gc_s",
    "py.boot_s",
    "py.init_s",
    "py.total_s",
    "py.bytes_sent",
    "fetch.s",
    "fetch.rows",
    "fetch.bytes",
    "streaming.batches",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.input_rows",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.rows_dropped_by_watermark",
    "sources.write_s",
    "sources.files_written",
    "sources.bytes_written",
)


def parse_metric(text: str) -> float:
    """Value of one aggregated SQL metric string from the status store.

    Counts read "1,234"; sizes "16.2 KiB"; timings "448 ms" or "2.2 s".
    Metrics aggregated over several tasks read
    "total (min, med, max ...)\\n<total> (<min>, ...)", whose total is
    the first figure of the last line."""
    figure = text.strip().rsplit("\n", 1)[-1].split(" (", 1)[0].split()
    if len(figure) == 1:
        return float(figure[0].replace(",", ""))
    number, unit = figure
    return float(number) * (_SIZE_UNITS.get(unit) or _TIME_UNITS[unit])


class _ProgressListener(StreamingQueryListener):
    """Appends one record per streaming micro-batch."""

    def __init__(self, sink: list[dict]):
        self._sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators
        self._sink.append(
            {
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "add_batch_ms": d.get("addBatch", 0),
                "query_planning_ms": d.get("queryPlanning", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "commit_offsets_ms": d.get("commitOffsets", 0),
                "state_rows": sum(s.numRowsTotal for s in ops),
                "state_memory_bytes": sum(s.memoryUsedBytes for s in ops),
                "rows_dropped_by_watermark": sum(
                    s.numRowsDroppedByWatermark for s in ops
                ),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans and layer counters for the operations of one traced window."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._spark = spark
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = sc.statusStore()
        self._bus = sc.listenerBus()
        self._t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        self._seen = self._sql.executionsCount()
        self.spans: list[dict] = []
        self.executions: list[dict] = []
        self.batches: list[dict] = []
        self.ops: list[dict] = []
        self._listener = _ProgressListener(self.batches)
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    @contextmanager
    def span(self, op: int, name: str, parent: str | None = "op"):
        start = time.perf_counter() - self._t0
        try:
            yield
        finally:
            end = time.perf_counter() - self._t0
            self.spans.append(
                {"op": op, "name": name, "parent": parent, "start_s": start, "end_s": end}
            )

    def operation(self, op: int, query: str, build, act, fresh: bool):
        """Run one operation as spans build -> plan -> exec and record its
        layer counters. ``build()`` returns the DataFrame, ``act(df)``
        runs the action; ``fresh`` says the DataFrame was built by this
        operation, so its planning belongs to it."""
        n_batches = len(self.batches)
        with self.span(op, "op", None):
            t = time.perf_counter()
            with self.span(op, "build"):
                df = build()
            build_s = time.perf_counter() - t
            built = self._take(op, "build")
            with self.span(op, "plan"):
                phases = self._plan(df) if fresh else {}
            t = time.perf_counter()
            with self.span(op, "exec"):
                out = act(df)
            exec_s = time.perf_counter() - t
        acted = self._take(op, "exec")
        batches = self.batches[n_batches:]
        both = built + acted
        rec = {
            "op": op,
            "query": query,
            "build.s": build_s,
            "build.sql_executions": len(built),
            "build.jobs": sum(e["jobs"] for e in built),
            "plan.analysis_s": phases.get("analysis", 0.0),
            "plan.optimization_s": phases.get("optimization", 0.0),
            "plan.planning_s": phases.get("planning", 0.0),
            "exec.s": exec_s,
        }
        for key in ("jobs", "stages", "tasks", "output_rows", "shuffle_records",
                    "shuffle_bytes", "spill_bytes", "broadcast_collect_s", "gc_s"):
            rec[f"exec.{key}"] = sum(e[key] for e in acted)
        for key in ("boot_s", "init_s", "total_s", "bytes_sent"):
            rec[f"py.{key}"] = sum(e[f"py_{key}"] for e in both)
        if out is None:
            rec.update({"fetch.s": 0.0, "fetch.rows": 0, "fetch.bytes": 0})
        else:
            rec["fetch.s"] = max(0.0, exec_s - sum(e["duration_s"] for e in acted))
            rec["fetch.rows"] = len(out)
            rec["fetch.bytes"] = int(out.memory_usage(index=False, deep=True).sum())
        rec["streaming.batches"] = len(batches)
        for key in ("add_batch_ms", "query_planning_ms", "wal_commit_ms",
                    "commit_offsets_ms", "input_rows", "rows_dropped_by_watermark"):
            rec[f"streaming.{key}"] = sum(b[key] for b in batches)
        for key in ("state_rows", "state_memory_bytes"):
            rec[f"streaming.{key}"] = max((b[key] for b in batches), default=0)
        writes = [e for e in both if e["files_written"]]
        rec["sources.write_s"] = sum(e["duration_s"] for e in writes)
        rec["sources.files_written"] = sum(e["files_written"] for e in writes)
        rec["sources.bytes_written"] = sum(e["bytes_written"] for e in writes)
        self.ops.append(rec)
        return out

    def layer_means(self) -> dict[str, float]:
        n = len(self.ops)
        return {k: sum(r[k] for r in self.ops) / n for k in OP_METRICS}

    def dump(self) -> dict:
        return {
            "ops": self.ops,
            "spans": self.spans,
            "executions": self.executions,
            "batches": self.batches,
        }

    # -- status-store reads -------------------------------------------------

    def _plan(self, df) -> dict[str, float]:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1000
        return phases

    def _take(self, op: int, span: str) -> list[dict]:
        """Records of the SQL executions started since the last call."""
        self._bus.waitUntilEmpty()
        n = self._sql.executionsCount()
        if n <= self._seen:
            return []
        found = self._sql.executionsList(self._seen, n - self._seen)
        self._seen = n
        out = [self._execution(found.apply(i), op, span) for i in range(found.size())]
        self.executions.extend(out)
        return out

    def _execution(self, e, op: int, span: str) -> dict:
        eid = e.executionId()
        done = e.completionTime()
        end = done.get().getTime() if done.isDefined() else e.submissionTime()
        rec = {
            "op": op,
            "span": span,
            "id": eid,
            "description": e.description()[:120],
            "duration_s": (end - e.submissionTime()) / 1000,
            "jobs": e.jobs().size(),
            "stages": 0,
            "tasks": 0,
            "gc_s": 0.0,
            "shuffle_records": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
        }
        stages = e.stages().iterator()
        while stages.hasNext():
            s = self._app.lastStageAttempt(stages.next())
            if s.status().toString() == "SKIPPED":  # shuffle output reused
                continue
            rec["stages"] += 1
            rec["tasks"] += s.numCompleteTasks()
            rec["gc_s"] += s.jvmGcTime() / 1000
            rec["shuffle_records"] += s.shuffleWriteRecords()
            rec["shuffle_bytes"] += s.shuffleWriteBytes()
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        for field in _SQL_METRICS.values():
            rec[field] = 0.0
        values = self._sql.executionMetrics(eid)
        for name, acc in self._metric_ids(e):
            v = values.get(acc)
            if v.isDefined():
                rec[_SQL_METRICS[name]] += parse_metric(v.get())
        return rec

    @staticmethod
    def _metric_ids(e) -> set[tuple[str, int]]:
        """(name, accumulator id) of the wanted SQL metrics, parsed
        from one string of the plan's metric list (one call instead of
        three per metric); the list repeats nodes that AQE re-planned."""
        return {
            (name, int(acc))
            for name, acc in _PLAN_METRIC.findall(e.metrics().toString())
            if name in _SQL_METRICS
        }
