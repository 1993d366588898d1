"""The benchmark's workloads: which queries, at which scale, run how.

Query lists are pinned here rather than imported from ``bench.py`` so that
a change to another harness cannot silently change what this one measures.
"""

from __future__ import annotations

from dataclasses import dataclass

from .stats import tail_percentile


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # fixture directory name under the fixture root
    pool: tuple[str, ...]  # registry query names, one pass runs each once
    rebuild: bool  # True: every operation calls the registry fn afresh
    sink: str  # "pandas": toPandas(); "noop": write to the noop sink
    warm_passes: int  # untimed passes over the pool in set-up
    min_passes: int  # the shortest timed window, in whole passes

    @property
    def tail_pct(self) -> int:
        """The percentile reported as latency_tail_s: the highest one with
        enough samples beyond it in the shortest window."""
        pct = tail_percentile(self.min_passes * len(self.pool))
        if pct is None:
            raise ValueError(f"{self.name}: {self.min_passes} passes are too few for a tail")
        return pct


# bench.py's 14 HEADLINE queries (registry names).
HEADLINE = (
    "agg_groupby",
    "join_multi5",
    "win_rank",
    "evt_sessionize",
    "evt_tumbling",
    "agg_rollup",
    "join_semi",
    "set_intersect",
    "agg_pivot",
    "fn_json",
    "text_tokenize_tf",
    "sim_cosine_pairs",
    "sim_knn",
    "evt_funnel",
)

# The six costliest eager builds (most Spark jobs inside the registry fn),
# then four queries heavy in planning or on the perf-tail list.
COLD_POOL = (
    "graph_kcore",
    "text_neardup_clusters",
    "pipeline_dedup_end2end",
    "graph_weighted_path",
    "emb_kmeans_iters",
    "pipeline_semdedup",
    "join_multi5",
    "tpch_q2_min_cost_supplier",
    "agg_weighted_median",
    "evt_sessionize",
)

# Streaming drains and a file sink: the queries whose work is writing
# files, WAL and state checkpoints rather than returning rows. A subset of
# the ten the workload was first drawn from, small enough for the
# benchmark's time budget: the stream-stream outer join (whose stager
# leaks, see run.STAGE_ROOT), a pandas state store, a session window, the
# watermark-drop accounting and a dynamic partition overwrite. Their
# latencies are well apart, so the median of a 4-pass window falls among
# stream_stateful_totals' samples rather than on the edge between two
# queries, where a median moves with whichever query lands on it.
STREAM_POOL = (
    "stream_join_outer",
    "stream_stateful_totals",
    "stream_session_window",
    "stream_late_accounting",
    "sink_dynamic_overwrite",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("steady_headline", "sf0.1", HEADLINE, False, "pandas", 1, 8),
        Workload("cold_pipeline", "sf0.001", COLD_POOL, True, "noop", 2, 2),
        Workload("stream_sink", "sf0.001", STREAM_POOL, True, "noop", 1, 4),
    )
}
