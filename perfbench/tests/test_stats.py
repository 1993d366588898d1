"""Unit tests for the benchmark's order statistics and metric parsing."""

from __future__ import annotations

import dataclasses
import json
from pathlib import Path

import pytest

from perfbench import stats
from perfbench.workloads import WORKLOADS


@pytest.mark.parametrize(
    "n, pct",
    [(10, None), (11, 9), (20, 50), (30, 66), (67, 85), (70, 85), (98, 89), (1000, 99)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert stats.beyond(n, pct) >= stats.TAIL_BEYOND
        if pct < 99:
            assert stats.beyond(n, pct + 1) < stats.TAIL_BEYOND


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 21)]  # 1..20, shuffled below
    values = values[7:] + values[:7]
    assert stats.percentile(values, 50) == 10.0
    assert stats.percentile(values, 85) == 17.0
    assert stats.percentile(values, 100) == 20.0
    assert stats.percentile(values, 1) == 1.0
    # exactly ten samples lie beyond the reported tail of 20 samples
    tail = stats.percentile(values, stats.tail_percentile(20))
    assert sum(v > tail for v in values) == 10


def test_error_rate_base_is_attempted_operations():
    assert stats.error_rate(0, 98) == 0.0
    assert stats.error_rate(7, 70) == 0.1
    assert stats.error_rate(20, 20) == 1.0
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 2)


def test_every_workload_window_has_enough_samples_for_its_tail():
    assert WORKLOADS["steady_headline"].tail_pct == 91
    assert WORKLOADS["cold_pipeline"].tail_pct == 50
    assert WORKLOADS["stream_sink"].tail_pct == 50
    for wl in WORKLOADS.values():
        n = wl.min_passes * len(wl.pool)
        assert stats.beyond(n, wl.tail_pct) >= stats.TAIL_BEYOND
    with pytest.raises(ValueError):
        dataclasses.replace(WORKLOADS["cold_pipeline"], min_passes=1).tail_pct


def test_declared_workloads_and_layers_exist():
    pytest.importorskip("pyspark")
    from perfbench.tracing import OP_METRICS

    bench = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    for w in bench["workloads"]:
        assert w["name"] in WORKLOADS
        assert f"p{WORKLOADS[w['name']].tail_pct}" in w["why"]
    assert set(OP_METRICS) <= {m["name"] for m in bench["per_layer"]}


def test_parse_metric_reads_status_store_strings():
    pytest.importorskip("pyspark")
    from perfbench.tracing import parse_metric

    assert parse_metric("1,000") == 1000
    assert parse_metric("16.2 KiB") == pytest.approx(16.2 * 1024)
    assert parse_metric("464.0 B") == 464
    assert parse_metric("448 ms") == pytest.approx(0.448)
    assert parse_metric("2.2 s") == pytest.approx(2.2)
    aggregated = "total (min, med, max (stageId: taskId))\n3.5 MiB (1.0 MiB, 1.2 MiB, 1.3 MiB (stage 4.0: task 9))"
    assert parse_metric(aggregated) == pytest.approx(3.5 * (1 << 20))
