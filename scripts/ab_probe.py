"""Alternating same-session A/B adjudication (VERDICT r10 item 1).

Two family movers flagged in BENCH_r10 remain unadjudicated:
source_python_stream (driver 2.89x, judge rested 2.3x) and
join_set_similarity_weighted (driver 4.05x, judge rested 3.0x). Neither
file changed in round 10 and the plan gate saw 0 changed tuples, so the
working hypothesis is box throttle — but "code unchanged" is an
inference, not a measurement. This probe measures it.

Methodology note (learned the hard way in round 11): the first draft
timed queries with .toPandas() on a 32-shuffle-partition session and
got ratios of 0.22x-12.65x ON THE CONTROLS — bench_ref's families
numbers are noop-sink timings at shuffle_partitions=8, so any probe
that doesn't replicate that measures the methodology gap, not the
query. This version delegates every trial to `bench.py
--isolated-child`, the exact clean-JVM arm the drift watch itself uses
(same session conf, same warmup, same noop sink, min-of-3 builds), so
the ratio vs bench_ref is apples-to-apples up to the known iso-vs-sweep
downward bias (survivors are real, clears are trustworthy).

Each trial is one fresh subprocess running the suspects AND controls
back to back, so box-wide throttle hits all five alike and the
BETWEEN-name ratio pattern is the verdict:
  - suspects at ref while controls at ref  -> CLEARED (environmental).
  - suspects elevated, controls at ref     -> REAL, investigate.
  - everything elevated                    -> box hot, rerun after idle.

Controls mirror the suspects' cost shape:
  - source_python_datasource: same Python DataSource machinery (worker
    round-trips) minus the streaming trigger cadence.
  - join_set_similarity: the unweighted sibling of the weighted
    suspect — near-identical plan (prefix-filter PPJoin), ref 2.134 s.
  - sim_knn: broadcast + zip_with compute, a stable steady family.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRIALS = int(os.environ.get("AB_TRIALS", "4"))

SUSPECTS = ["source_python_stream", "join_set_similarity_weighted"]
CONTROLS = ["source_python_datasource", "join_set_similarity", "sim_knn"]
# interleave so a mid-trial throttle onset hits suspects and controls
PLAN = [
    "source_python_stream",
    "source_python_datasource",
    "join_set_similarity_weighted",
    "join_set_similarity",
    "sim_knn",
]


def one_trial() -> dict[str, float]:
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "bench.py"),
            "--isolated-child",
            ",".join(PLAN),
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    return json.loads(r.stdout.strip().splitlines()[-1])


def main() -> None:
    with open(os.path.join(REPO, "bench_ref.json")) as f:
        ref = json.load(f)["families"]
    times: dict[str, list[float]] = {n: [] for n in PLAN}
    for t in range(TRIALS):
        got = one_trial()
        for name in PLAN:
            v = got.get(name, -1.0)
            if v > 0:
                times[name].append(v)
            print(f"trial {t} {name}: {v}", flush=True)
    print("\n=== A/B verdicts (median of clean-JVM trials vs bench_ref) ===")
    ratios = {}
    for name in PLAN:
        if not times[name]:
            print(f"{name}: ALL TRIALS FAILED")
            ratios[name] = float("inf")
            continue
        med = statistics.median(times[name])
        ratios[name] = round(med / ref[name], 2)
        print(
            f"{name}: median={med} ref={ref[name]} ratio={ratios[name]} "
            f"trials={times[name]}"
        )
    ctrl_ok = all(ratios[c] <= 1.3 for c in CONTROLS)
    for s in SUSPECTS:
        if ratios[s] <= 1.3:
            print(f"VERDICT {s}: CLEARED (at ref)")
        elif ctrl_ok:
            print(f"VERDICT {s}: REAL elevation (controls at ref) — investigate")
        else:
            print(f"VERDICT {s}: INCONCLUSIVE (controls also elevated — box hot)")


if __name__ == "__main__":
    main()
