"""The driver's BENCH artifact keeps only a bounded stdout tail and
parses the final JSON line. Round 6 lost its bench number because the
437-entry families dict outgrew that capture ("parsed": null); bench.py
now prints a bounded summary last and files the detail. This test pins
the summary's serialized size so registry growth can never silently
break the artifact again."""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from bench import HEADLINE, TAIL_CAPTURE, TAIL_HEADROOM as HEADROOM, summarize


def _fake_out(n_families: int) -> dict:
    timings = {k: 123.456 for k in HEADLINE}
    families = {f"some_quite_long_query_name_{i:04d}": 123.456 for i in range(n_families)}
    return {
        "metric": "headline_suite_wall",
        "value": 1234.567,
        "unit": "sec",
        "queries": timings,
        "queries_cold": timings,
        "cold_total": 9999.999,
        "sf": 0.1,
        "families": families,
        "families_total": 99999.999,
        # isolation batch = 10 slowest + up to 5 regression candidates
        "families_isolated": dict(list(families.items())[:15]),
        "family_errors": {f"broken_query_{i}": "x" * 300 for i in range(25)},
        # regression gate: at most 5 entries (find_regressions caps k)
        "regressions": {
            f"some_quite_long_query_name_{i:04d}": 123.45 for i in range(5)
        },
        # headliner gate: worst case is every slot of the k=5 cap full
        "headline_regressions": {k: 123.45 for k in list(HEADLINE)[:5]},
        "regressions_ref_round": 7,
        # drift watch: 10 movers with full prev/now/ratio/iso evidence
        # (detail-file shape; summarize must compress to 5 ratios)
        "families_drift": {
            "ref_round": 7,
            "common_n": n_families,
            "total_prev": 88888.888,
            "total_now": 99999.999,
            "pct": 12.5,
            "top_movers": {
                f"some_quite_long_query_name_{i:04d}": {
                    "prev": 111.111,
                    "now": 123.456,
                    "ratio": 1.11,
                    # half the movers got a clean-JVM number: summarize
                    # must prefer ratio_clean where present
                    **({"iso": 120.001, "ratio_clean": 1.08} if i % 2 == 0 else {}),
                }
                for i in range(10)
            },
        },
    }


def test_summary_is_bounded_regardless_of_registry_size():
    for n in (50, 446, 2000):
        line = json.dumps(summarize(_fake_out(n), have_detail=True))
        assert len(line) <= TAIL_CAPTURE - HEADROOM, (n, len(line))


def test_summary_carries_the_numbers_the_judge_reads():
    s = summarize(_fake_out(446), have_detail=True)
    assert s["value"] == 1234.567
    assert set(s["queries"]) == set(HEADLINE)
    assert s["families_n"] == 446
    assert s["families_total"] == 99999.999
    assert len(s["families_isolated"]) == 10  # 10-slowest slice of the 15-entry batch
    assert s["family_errors_n"] == 25  # count, never the 300-char bodies
    assert s["detail"] == "bench_full.json"
    assert len(s["regressions"]) == 5  # gate verdict rides the short line
    assert len(s["headline_regressions"]) == 5  # headliner gate too
    assert s["regressions_ref_round"] == 7
    # drift verdict: total pct + at most 5 mover ratios on the short line
    assert s["families_drift"]["pct"] == 12.5
    assert len(s["families_drift"]["movers"]) == 5
    # clean-JVM ratio preferred when the mover was isolated (even
    # indices carry ratio_clean=1.08), in-sweep ratio otherwise
    vals = list(s["families_drift"]["movers"].values())
    assert vals == [1.08, 1.11, 1.08, 1.11, 1.08]


def test_headline_errors_pass_through_but_errors_stay_counted():
    out = _fake_out(10)
    out["headline_errors"] = {"win_rank": "AnalysisException: boom"}
    s = summarize(out, have_detail=False)
    assert s["headline_errors"] == {"win_rank": "AnalysisException: boom"}
    assert "detail" not in s


def test_find_regressions_gate_semantics():
    from bench import find_regressions

    ref = {"a": 1.0, "b": 2.0, "c": 0.04, "d": 1.0, "zero": 0.0}
    now = {
        "a": 1.6,      # >1.5x and >=0.5s -> flagged
        "b": 2.9,      # 1.45x -> under threshold, not flagged
        "c": 0.2,      # 5x but under the 0.5s absolute floor -> not flagged
        "d": 0.9,      # faster than 1.5x -> not flagged
        "new_query": 99.0,  # absent from ref -> can't regress
        "zero": 9.0,   # prev==0 guard -> not flagged
    }
    assert find_regressions(now, ref) == {"a": 1.6}
    # worst-k cap: 7 regressions in, only the 5 worst ratios out
    ref7 = {f"q{i}": 1.0 for i in range(7)}
    now7 = {f"q{i}": 2.0 + i for i in range(7)}
    out = find_regressions(now7, ref7)
    assert len(out) == 5
    assert set(out) == {"q2", "q3", "q4", "q5", "q6"}  # worst ratios
    # empty reference (first round with the gate): nothing flags
    assert find_regressions(now7, {}) == {}


def test_families_drift_semantics():
    """The sub-threshold drift watch (round-9 verdict item 1): common
    names only (new queries can't read as drift), signed pct over the
    common-name totals, top-k ABSOLUTE movers in either direction."""
    from bench import families_drift

    ref = {"a": 1.0, "b": 2.0, "c": 10.0, "zero": 0.0}
    now = {
        "a": 1.2,           # +0.2 s
        "b": 1.0,           # -1.0 s (improvement: still a mover)
        "c": 10.5,          # +0.5 s
        "new_query": 99.0,  # absent from ref: excluded entirely
        "zero": 5.0,        # prev==0 guard: excluded
    }
    d = families_drift(now, ref, ref_round=9, k=2)
    assert d["common_n"] == 3
    assert d["total_prev"] == 13.0 and d["total_now"] == 12.7
    assert d["pct"] == -2.3
    # top-2 absolute movers: b (1.0 s) then c (0.5 s); a (0.2 s) cut
    assert list(d["top_movers"]) == ["b", "c"]
    assert d["top_movers"]["b"] == {"prev": 2.0, "now": 1.0, "ratio": 0.5}
    # empty reference (first round with the watch): explicit no-verdict
    assert families_drift(now, {}, ref_round=None) == {}


def test_summary_regressions_field_explicit_when_sweep_ran():
    out = _fake_out(50)
    out["regressions"] = {}  # sweep ran, nothing regressed
    s = summarize(out, have_detail=True)
    assert s["regressions"] == {}  # explicit empty, not missing
    # headline-only run (no sweep): no families key -> no regressions key
    out2 = {k: v for k, v in _fake_out(0).items() if "famil" not in k and "regress" not in k}
    s2 = summarize(out2, have_detail=True)
    assert "regressions" not in s2


def test_headline_gate_semantics():
    """The headliner gate reuses find_regressions with floor=0.1 —
    sub-100-ms headliners sit at the measured single-action floor and
    must never flag, while round 8's real mover (sim_pairs_thresh
    0.203 -> 0.312, +54%) must."""
    from bench import find_regressions

    ref = {
        "sim_pairs_thresh": 0.203,  # the round-8 unflagged mover
        "evt_funnel": 0.042,        # job-floor query
        "sim_knn": 0.208,
    }
    now = {
        "sim_pairs_thresh": 0.312,  # 1.54x and >=0.1s -> flagged
        "evt_funnel": 0.090,        # 2.1x but under the 0.1s floor
        "sim_knn": 0.239,           # 1.15x -> under threshold
    }
    got = find_regressions(now, ref, floor=0.1)
    assert got == {"sim_pairs_thresh": 1.54}
    # a ref with no headliner snapshot yet (pre-round-9 bench_ref
    # shape): nothing can flag, the gate reports explicit {}
    assert find_regressions(now, {}, floor=0.1) == {}


def test_summary_headline_regressions_explicit_when_timed():
    out = _fake_out(50)
    out["headline_regressions"] = {}
    s = summarize(out, have_detail=True)
    assert s["headline_regressions"] == {}  # explicit empty, not missing


def test_summary_bounded_even_when_every_headliner_fails():
    # a headliner either times or errors — main() never records both,
    # and regressions are found among TIMED headliners only, so the
    # all-fail case carries an empty headline gate
    out = _fake_out(446)
    out["queries"] = {}
    out["queries_cold"] = {}
    out["headline_regressions"] = {}
    out["headline_errors"] = {k: "E" * 300 for k in HEADLINE}
    s = summarize(out, have_detail=True)
    line = json.dumps(s)
    assert len(line) <= TAIL_CAPTURE - HEADROOM, len(line)
    # under this error load the drift verdict degraded to pct + pointer
    # rather than pushing the line past the capture
    assert s["families_drift"] == {"pct": 12.5, "movers": "see bench_full.json"}


def test_confirm_rejudges_flags_on_clean_jvm_numbers():
    """Both gates re-judge their sampled flags on the clean-JVM child's
    numbers: a failed isolation keeps the sampled flag, a clean ratio
    <= 1.5 or a clean time under the gate's floor clears it, and a
    survivor reports the clean ratio."""
    from bench import FAMILY_FLOOR, HEADLINE_FLOOR, confirm

    ref = {"failed": 1.0, "missing": 1.0, "flat": 1.0, "held": 1.0}
    sampled = {"failed": 3.0, "missing": 2.5, "flat": 2.0, "held": 1.8}
    iso = {"failed": -1.0, "flat": 1.5, "held": 1.6}
    # "flat" reads 1.5x clean, not > 1.5: cleared
    assert confirm(sampled, iso, ref, FAMILY_FLOOR) == {
        "failed": 3.0,   # isolation failed: sampled flag kept
        "missing": 2.5,  # absent from the child's output: kept too
        "held": 1.6,     # clean 1.6x still > 1.5: clean ratio reported
    }
    # a clean time under the floor clears even a large clean ratio
    assert confirm({"q": 9.0}, {"q": 0.09}, {"q": 0.03}, HEADLINE_FLOOR) == {}
    # the floors: 0.1 s for headliners, 0.5 s for families — a 0.3 s
    # clean time at 3x survives the first and is cleared by the second
    assert (HEADLINE_FLOOR, FAMILY_FLOOR) == (0.1, 0.5)
    assert confirm({"q": 4.0}, {"q": 0.3}, {"q": 0.1}, HEADLINE_FLOOR) == {"q": 3.0}
    assert confirm({"q": 4.0}, {"q": 0.3}, {"q": 0.1}, FAMILY_FLOOR) == {}
