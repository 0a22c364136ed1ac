"""Self-tests of the benchmark harness.

Run from the repository root:

    python -m pytest perfbench/tests -q

The smoke tests start the real harness (``perfbench/run.py --smoke``: an
sf0.001 star schema and a small CDC feed) in a subprocess, one JVM each.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.harness import ANALYTIC, tail  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(workload: str, *args: str, seed: int = 1, seconds: float = 1, trace: int = 0):
    """Run the harness; return (printed metric lines, notes, final record)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--smoke", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    record = json.loads(lines[-1])
    printed = {}
    notes = {}
    for line in lines[:-1]:
        if line.startswith("# "):
            key, _, val = line[2:].partition(": ")
            notes[key] = val
        else:
            name, value, unit = line.split()
            printed[name] = (float(value), unit)
    return printed, notes, record


def _assert_every_metric(kind: str, printed: dict, record: dict) -> None:
    want = {m["name"]: m["unit"] for m in _spec()[kind]}
    got = {n: m["unit"] for n, m in record["metrics"].items()}
    assert got == want
    assert {n: u for n, (_, u) in printed.items()} == want
    assert record["attempted"] >= 1


@pytest.mark.parametrize("trace", [0, 1])
def test_query_smoke_prints_every_metric(trace):
    printed, notes, record = bench("analytic", trace=trace)
    _assert_every_metric("per_layer" if trace else "end_to_end", printed, record)
    assert record["correct"] and record["failed"] == 0
    if trace:
        m = record["metrics"]
        assert m["plans.build_jobs"]["value"] > 0 and m["plans.exec_jobs"]["value"] > 0
        assert m["sources.read_table_jobs"]["value"] > 0
        per_query = sum(m[f"q.{q}.build_s"]["value"] + m[f"q.{q}.exec_s"]["value"]
                        for q in ANALYTIC)
        assert per_query == pytest.approx(m["plans.build_s"]["value"] + m["plans.exec_s"]["value"])
        # the per-query spans cover the traced pass up to cache release
        assert float(notes["trace.accounted_share"]) > 0.8


@pytest.mark.parametrize("trace", [0, 1])
def test_cdc_smoke_prints_every_metric(trace):
    printed, notes, record = bench("cdc_ingest", seconds=2.5, trace=trace)
    _assert_every_metric("per_layer" if trace else "end_to_end", printed, record)
    assert record["correct"] and record["failed"] == 0
    assert "'consistent': True" in notes["reconcile"]
    if trace:
        m = record["metrics"]
        assert m["streaming.apply_jobs"]["value"] > 0
        assert m["streaming.state_rows"]["value"] > 0
        assert m["streaming.apply_p50_s"]["value"] <= float(notes["freshness_p50_s"])


def test_corrupt_expected_hash_raises_error_rate():
    _, notes, record = bench("analytic", "--inject", "corrupt_hash")
    assert record["failed"] >= 1 and not record["correct"]
    assert float(notes["error_rate"]) > 0


def test_dropped_batch_raises_error_rate():
    _, notes, record = bench("cdc_ingest", "--inject", "drop_batch", seconds=2.5)
    assert record["failed"] >= 1 and not record["correct"]
    assert float(notes["error_rate"]) > 0


def test_second_seed_permutes_order_and_keeps_verified_outputs():
    _, notes1, rec1 = bench("analytic", seed=1)
    _, notes2, rec2 = bench("analytic", seed=2)
    assert rec1["correct"] and rec2["correct"]
    assert notes1["order"] != notes2["order"]
    assert sorted(ast.literal_eval(notes1["order"])) == sorted(ast.literal_eval(notes2["order"]))
    assert notes1["verified"] == notes2["verified"]


def test_second_seed_changes_the_feed():
    boot1, batches1 = datagen.cdc_feed(1, 100, 3, 50)
    boot2, batches2 = datagen.cdc_feed(2, 100, 3, 50)
    assert [c.envelope() for c in batches1[0]] != [c.envelope() for c in batches2[0]]
    again = datagen.cdc_feed(1, 100, 3, 50)[1]
    assert [c.envelope() for b in batches1 for c in b] == [c.envelope() for b in again for c in b]


def test_feed_is_out_of_order_with_deletes_and_unique_ts():
    boot, batches = datagen.cdc_feed(3, 1000, 4, 500)
    changes = [c for b in batches for c in b]
    ts = [c.ts_ms for c in boot + changes]
    assert len(set(ts)) == len(ts)
    deletes = sum(c.op == "d" for c in changes) / len(changes)
    assert 0.07 < deletes < 0.13
    assert any(max(c.ts_ms for c in a) > min(c.ts_ms for c in b)
               for a, b in zip(batches, batches[1:]))


def test_reduce_feed_keeps_latest_change_and_drops_deleted_keys():
    row = {"id": 1}
    feed = [
        datagen.Change(1, "u", 30, {**row, "v": "new"}),
        datagen.Change(1, "c", 10, {**row, "v": "old"}),
        datagen.Change(2, "c", 5, {"id": 2}),
        datagen.Change(2, "d", 20, {"id": 2}),
        datagen.Change(3, "d", 1, {"id": 3}),
        datagen.Change(3, "c", 2, {"id": 3}),
    ]
    assert datagen.reduce_feed(feed) == {1: {"id": 1, "v": "new"}, 3: {"id": 3}}


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert tail(list(range(10))) is None
    pct, value = tail([float(x) for x in range(100)])
    assert value == 89.0 and pct == 90.0
