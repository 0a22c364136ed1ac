"""The driver parses the FINAL stdout line of bench.py from a ~2,000-char
tail capture. VERDICT r14 item 1: the r13/r14 totals-only line left the
driver's per-query and scaling tables empty. The restored "queries" map must
(a) always fit the tail budget whole, (b) carry the most expensive specs
first, and (c) account for every elided spec so the line stays auditable
against the total."""

import json
import os
import sys

import pytest

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


@pytest.mark.parametrize(
    "timings",
    [
        # Many specs, long names (real registry max ~28 chars).
        {f"extremely_long_spec_name_number_{i:03d}": 5.0 - i * 0.03 for i in range(140)},
        # Budget edge: the final elided count and seconds must fit in what
        # the fixed part reserved for them.
        {"x" * 19 + f"{i:04d}": round(20.0 - i * 0.01, 2) for i in range(164)},
    ],
    ids=["long_names_140", "elided_growth_164"],
)
def test_compact_line_fits_tail_budget_with_long_names(timings):
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


def test_baseline_is_the_full_record_for_this_core_count(tmp_path):
    """vs_prior compares against BENCH_FULL_c{cpus}.json's exact per-query
    map, never a compact driver line or another core count's record."""
    full = {"value": 3.5, "sf": 0.1, "queries": {"a": 1.234, "b": 2.266}}
    compact = {"value": 3.5, "sf": 0.1, "n": 2, "queries": {"b": 2.3},
               "elided": {"n": 1, "sum_sec": 1.2}}
    (tmp_path / "BENCH_FULL_c8.json").write_text(json.dumps(full) + "\n")
    (tmp_path / "BENCH_r15.json").write_text(json.dumps({"parsed": compact}))
    assert bench.baseline(8, root=str(tmp_path))["queries"] == full["queries"]
    assert bench.baseline(32, root=str(tmp_path)) is None
