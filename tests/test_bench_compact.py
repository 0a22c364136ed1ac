"""The driver parses the FINAL stdout line of bench.py from a ~2,000-char
tail capture. VERDICT r14 item 1: the r13/r14 totals-only line left the
driver's per-query and scaling tables empty. The restored "queries" map must
(a) always fit the tail budget whole, (b) carry the most expensive specs
first, and (c) account for every elided spec so the line stays auditable
against the total."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _fake_out(timings):
    return {
        "value": round(sum(timings.values()), 3),
        "reps": 3,
        "sf": 0.1,
        "calibration": {"median": 0.29, "membw_median": 0.37},
        "vs_prior": {
            "prior_total": 250.0,
            "delta_total": -1.0,
            "load_ratio": 1.001,
            "delta_total_load_adjusted": -1.2,
        },
    }


def test_compact_line_fits_tail_budget_with_long_names():
    # Worst case: many specs, long names (real registry max ~28 chars).
    timings = {f"extremely_long_spec_name_number_{i:03d}": 5.0 - i * 0.03 for i in range(140)}
    compact = bench._compact_summary(_fake_out(timings), timings)
    line = json.dumps(compact)
    assert len(line) <= bench._COMPACT_BUDGET, len(line)
    # Round-trips as one JSON object (what the driver does with the line).
    assert json.loads(line)["queries"]


def test_compact_packs_most_expensive_first_and_accounts_elided():
    timings = {f"q{i:03d}": float(i) / 10 for i in range(119)}  # 0.0 .. 11.8 s
    compact = bench._compact_summary(_fake_out(timings), timings)
    q = compact["queries"]
    # every included spec costs >= every elided spec
    included_min = min(timings[name] for name in q)
    elided = {n: s for n, s in timings.items() if n not in q}
    if elided:
        assert included_min >= max(elided.values())
    assert compact["elided"]["n"] == len(elided)
    assert abs(compact["elided"]["sum_sec"] - round(sum(elided.values()), 1)) < 0.11
    # real-registry-sized maps keep the heavy head: at least 40 entries fit
    assert len(q) >= 40


def test_compact_small_suite_includes_everything():
    timings = {f"q{i}": 1.0 for i in range(10)}
    compact = bench._compact_summary(_fake_out(timings), timings)
    assert len(compact["queries"]) == 10
    assert compact["elided"] == {"n": 0, "sum_sec": 0.0}
