"""Benchmark the spark-lanes engine on one named workload.

    python3 perfbench/run.py --workload steady_headline --seed 1 --seconds 5 --trace 0

One process, one client, closed loop: each operation (one query run) starts
when the previous one has returned. ``--seed`` only fixes the query order of
each pass; the fixtures are read-only. ``--trace 0`` times the window and
prints the end-to-end metrics; ``--trace 1`` runs the same window with
per-operation spans and prints the per-layer metrics. After the window every
distinct query is checked once against its DuckDB oracle. The last stdout
line is one JSON object: correct, attempted, failed, metrics.

Everything the run writes stays in the checkout: Spark's local and temp
dirs, the record file under ``.bench_work/records/`` and the sinks'
``.tmp/`` and ``spark-warehouse/`` outputs (removed again at the end). The
one exception is the engine's fixed staging root, see ``STAGE_ROOT``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
# Streaming queries stage their inputs here (a path fixed in
# streaming/latedata.py); stream_join_outer leaves its directory behind.
STAGE_ROOT = Path("/tmp/shippinglanes_stage")
SHUFFLE_PARTITIONS = 8
DRIVER_HEAP = "2g"
FLOOR_REPEATS = 5

sys.path.insert(0, str(ROOT))

from perfbench import stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        started = int(f.read().rsplit(")", 1)[1].split()[19]) / ticks
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - started


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds a process has used, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU seconds the whole machine lost to its hypervisor, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _fixture_root() -> Path:
    """$SPARK_GRAFT_TESTDATA, else the parent of $SPARK_GRAFT_SF_DIR, else
    ~/testdata: the directory holding sf0.001/, sf0.01/ and sf0.1/."""
    if os.environ.get("SPARK_GRAFT_TESTDATA"):
        return Path(os.environ["SPARK_GRAFT_TESTDATA"])
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return Path(os.environ["SPARK_GRAFT_SF_DIR"]).parent
    return Path.home() / "testdata"


def _isolate_env() -> int:
    """Point every scratch location of Spark, the JVM and Python workers
    into the checkout, and pin the core count and the driver heap. Must
    run before the JVM starts. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # A heap that starts at its maximum is never resized, so GC work and
    # peak RSS do not depend on when the heap happened to grow.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_HEAP}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    return cpus


class _Outputs:
    """Entries the run adds to the sink and staging directories, removed
    at the end of the run so that repeated runs do not pile up."""

    def __init__(self):
        self._dirs = (ROOT / ".tmp", ROOT / "spark-warehouse", STAGE_ROOT)
        self._before = {d: set(os.listdir(d)) if d.is_dir() else None for d in self._dirs}

    def _added(self, d: Path) -> list[Path]:
        if not d.is_dir():
            return []
        before = self._before[d]
        if before is None:
            return [d]
        return [d / n for n in os.listdir(d) if n not in before]

    def stage_bytes(self) -> int:
        total = 0
        for top in self._added(STAGE_ROOT):
            for dirpath, _, files in os.walk(top):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def remove(self) -> None:
        for d in self._dirs:
            for p in self._added(d):
                if p.is_dir():
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    p.unlink(missing_ok=True)


def _floor_s(spark) -> float:
    """Heat canary: median of a few one-row ``spark.range(1)`` collects."""
    times = []
    for _ in range(FLOOR_REPEATS):
        t = time.perf_counter()
        spark.range(1).collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _act(df, sink: str):
    if sink == "pandas":
        return df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    return None


def check_outputs(spark, registry, last, sf_dir) -> dict[str, str]:
    """Compare, with the comparison in ``shippinglanes_spark.testing``, the
    result of each query's last DataFrame of the window with its DuckDB
    oracle; returns the mismatches as {query: reason}. On a rebuilding
    workload that DataFrame was built after every reuse the window made.
    Executing it again here costs one action per query, outside timing."""
    from shippinglanes_spark.testing import compare, duckdb_conn

    bad = {}
    con = duckdb_conn(sf_dir)
    try:
        for name, df in last.items():
            ran = dataclasses.replace(registry[name], fn=lambda s, d, df=df: df)
            try:
                compare(spark, ran, sf_dir, con)
            except Exception as e:  # noqa: BLE001 - a mismatch or a failed re-run
                bad[name] = f"{type(e).__name__}: {e}"[:300]
    finally:
        con.close()
    return bad


def run_window(spark, registry, wl, sf_dir, handles, rng, seconds, tracer=None):
    """The timed closed loop: whole passes over the pool, each pass in a
    fresh seeded order, until ``seconds`` have passed and the tail
    percentile has enough samples. Returns (ops, window_s, last), where
    ``last`` maps each query to the DataFrame its last operation ran."""
    ops = []
    last = {}
    t0 = time.perf_counter()
    passes = 0
    while passes < wl.min_passes or time.perf_counter() - t0 < seconds:
        for name in rng.sample(wl.pool, len(wl.pool)):
            def build(name=name):
                df = registry[name].fn(spark, sf_dir) if wl.rebuild else handles[name]
                last[name] = df
                return df

            error = None
            t = time.perf_counter()
            try:
                if tracer is None:
                    _act(build(), wl.sink)
                else:
                    tracer.operation(
                        len(ops), name, build, lambda df: _act(df, wl.sink), wl.rebuild
                    )
            except Exception:
                error = traceback.format_exc(limit=3)
            latency = time.perf_counter() - t
            ops.append({"query": name, "pass": passes, "latency_s": latency, "error": error})
        passes += 1
    return ops, time.perf_counter() - t0, last


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while the table was read
            children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            found.append(child)
            todo.append(child)
    return found


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it forked
    have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def bench(wl, seed: int, seconds: float, trace: bool, cpus: int, sf_dir: str) -> dict:
    from shippinglanes_spark.io import tables
    from shippinglanes_spark.registry import all_queries
    from shippinglanes_spark.session import get_spark

    layers = {}
    t = time.perf_counter()
    spark = get_spark(
        app_name="spark-lanes-perfbench", cpus=cpus, shuffle_partitions=SHUFFLE_PARTITIONS
    )
    layers["session.get_spark_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        registry = all_queries()
        layers["registry.load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        tables(spark, sf_dir)
        layers["io.tables_cold_s"] = time.perf_counter() - t

        # Untimed warm-up: passes run as the window will, so the JIT has
        # compiled the hot paths before timing starts. Steady handles are
        # built once, here.
        handles = {} if wl.rebuild else {n: registry[n].fn(spark, sf_dir) for n in wl.pool}
        for _ in range(wl.warm_passes):
            for name in wl.pool:
                df = handles[name] if name in handles else registry[name].fn(spark, sf_dir)
                _act(df, wl.sink)

        floor_before = _floor_s(spark)
        tracer = None
        if trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark)
        setup_s = _process_age_s()
        rng = random.Random(seed)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        cpu0, steal0 = _cpu_s(jvm_pid) + _cpu_s("self"), _steal_s()
        ops, window_s, last = run_window(
            spark, registry, wl, sf_dir, handles, rng, seconds, tracer
        )
        box = {
            "driver_cpu_s": _cpu_s(jvm_pid) + _cpu_s("self") - cpu0,
            "steal_s": _steal_s() - steal0,
            "floor_before_s": floor_before,
            "floor_after_s": _floor_s(spark),
        }
        peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        if tracer is not None:
            tracer.close()

        mismatches = check_outputs(spark, registry, last, sf_dir)
    finally:
        _stop(spark)

    for op in ops:
        if op["error"] is None and op["query"] in mismatches:
            op["error"] = "oracle mismatch: " + mismatches[op["query"]]
    good = [op["latency_s"] for op in ops if op["error"] is None]
    if not good:
        raise RuntimeError(f"every operation failed; first error:\n{ops[0]['error']}")
    failed = len(ops) - len(good)
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": len(good) / window_s,
        "latency_p50_s": statistics.median(good),
        "latency_tail_s": stats.percentile(good, wl.tail_pct),
        "peak_rss_mb": peak_rss_mb,
    }
    layers["box.floor_s"] = (box["floor_before_s"] + box["floor_after_s"]) / 2
    layers["box.steal_s"] = box["steal_s"]
    record = {
        "workload": wl.name,
        "seed": seed,
        "trace": trace,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "passes": 1 + max(op["pass"] for op in ops),
        "window_s": window_s,
        "tail_pct": wl.tail_pct,
        "box": box,
        "attempted": len(ops),
        "failed": failed,
        "error_rate": stats.error_rate(failed, len(ops)),
        "mismatches": mismatches,
        "metrics": metrics,
        "layers": layers,
        "operations": ops,
    }
    if tracer is not None:
        layers.update(tracer.layer_means())
        layers["trace.ops_per_s"] = metrics["ops_per_s"]
        record["trace_data"] = tracer.dump()
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    try:
        import shippinglanes_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2
    sf_dir = _fixture_root() / wl.sf
    if not (sf_dir / "lineitem.parquet").is_file():
        print(f"perfbench: no fixtures at {sf_dir} (set SPARK_GRAFT_TESTDATA)", file=sys.stderr)
        return 2

    cpus = _isolate_env()
    outputs = _Outputs()
    try:
        record = bench(wl, args.seed, args.seconds, bool(args.trace), cpus, str(sf_dir))
        record["layers"]["sources.stage_bytes_left"] = outputs.stage_bytes()
    finally:
        outputs.remove()

    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = records / f"{wl.name}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    path.write_text(json.dumps(record, indent=1, default=str))

    values = record["layers"] if args.trace else record["metrics"]
    declared = _declared("per_layer" if args.trace else "end_to_end")
    metrics = {n: {"value": values[n], "unit": u} for n, u in declared}

    print(f"workload {wl.name}  seed {args.seed}  sf {wl.sf}  cpus {cpus}  "
          f"passes {record['passes']}  window {record['window_s']:.2f} s  record {path}")
    for name, m in metrics.items():
        print(f"  {name:36s} {m['value']:>14.6g} {m['unit']}")
    print(f"  {'error_rate':36s} {record['error_rate']:>14.6g} ratio  "
          f"({record['failed']} failed of {record['attempted']} attempted)")
    print(f"  latency_tail_s is p{wl.tail_pct} of {record['attempted'] - record['failed']} operations")
    box = record["box"]
    print(f"  box: floor {box['floor_before_s']:.4f} s before, {box['floor_after_s']:.4f} s after; "
          f"in the window {box['steal_s']:.2f} s stolen, {box['driver_cpu_s']:.2f} s driver CPU")
    for name, why in record["mismatches"].items():
        print(f"  MISMATCH {name}: {why}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


def _declared(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the metrics BENCHMARK.json declares of one kind."""
    with open(ROOT / "BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


if __name__ == "__main__":
    sys.exit(main())
