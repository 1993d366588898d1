"""Two traced runs of one seed on a small sf0.001 slice must read the same
work counters per query: the data-flow counters do not depend on heat,
JIT state or caches, which is what makes them usable as a regression gate.
"""

from __future__ import annotations

import os
import random

import pytest

pytest.importorskip("pyspark")

from perfbench import run  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import Workload  # noqa: E402

SLICE = Workload(
    "slice",
    "sf0.001",
    ("evt_sessionize", "join_multi5", "udaf_grouped"),
    rebuild=True,
    sink="pandas",
    warm_passes=1,
    min_passes=7,
)
SEED = 7


@pytest.fixture(scope="module")
def spark():
    from shippinglanes_spark.session import get_spark

    if not (run._fixture_root() / SLICE.sf / "lineitem.parquet").is_file():
        pytest.skip("fixtures not found; set SPARK_GRAFT_TESTDATA")
    spark = get_spark(
        app_name="perfbench-tests",
        cpus=len(os.sched_getaffinity(0)),
        shuffle_partitions=run.SHUFFLE_PARTITIONS,
    )
    yield spark
    run._stop(spark)


def _traced_counters(spark) -> dict[str, set[tuple[float, float]]]:
    from shippinglanes_spark.registry import all_queries

    tracer = Tracer(spark)
    try:
        run.run_window(
            spark,
            all_queries(),
            SLICE,
            str(run._fixture_root() / SLICE.sf),
            {},
            random.Random(SEED),
            0,
            tracer,
        )
    finally:
        tracer.close()
    assert len(tracer.ops) == SLICE.min_passes * len(SLICE.pool)
    out: dict[str, set[tuple[float, float]]] = {}
    for rec in tracer.ops:
        out.setdefault(rec["query"], set()).add(
            (rec["exec.output_rows"], rec["exec.shuffle_records"])
        )
    return out


def test_work_counters_repeat_exactly(spark):
    first = _traced_counters(spark)
    second = _traced_counters(spark)
    assert set(first) == set(SLICE.pool)
    for name in SLICE.pool:
        # one value per query, within a run and across the two runs
        assert len(first[name]) == 1, (name, first[name])
        assert first[name] == second[name], name
        rows, shuffled = next(iter(first[name]))
        assert rows > 0 and shuffled > 0, name
