"""Ratchet gate for the fixture-audit inventory (VERDICT r11 item 2).

The committed snapshot ``FIXTURES_AUDIT.json`` records, for every registry
spec, whether its formula has INDEPENDENT evidence (a pure-Python /
crafted-fixture test) or rests solely on the mirrored DuckDB oracle. This
test re-derives the inventory from the live test tree and enforces:

1. the mirrored-only set may only SHRINK (no new spec ships without either
   an independent fixture or a conscious snapshot update that the diff
   makes visible);
2. the hand-derived-math families — where the Jonckheere–Terpstra bug
   class lives — stay at ZERO mirrored-only specs;
3. the snapshot on disk matches the live classification (stale snapshots
   would silently weaken rule 1).
"""

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from fixture_audit import build_inventory  # noqa: E402

SNAPSHOT = ROOT / "FIXTURES_AUDIT.json"

#: Modules whose specs implement hand-derived math on both engines — the
#: highest-risk class for mirrored formula bugs. Every spec here must carry
#: independent (third-way) evidence.
ZERO_MIRROR_MODULES = {
    "stats_inference",
    "survival",
    "causal_experiments",
    "ml_eval",
    "corpus_lm",
    "learning",
    "sketches",
    "timeseries",
}


def test_snapshot_matches_live_inventory():
    live = build_inventory()
    snap = json.loads(SNAPSHOT.read_text())
    live_cats = {k: v["category"] for k, v in live.items()}
    snap_cats = {k: v["category"] for k, v in snap.items()}
    assert live_cats == snap_cats, (
        "FIXTURES_AUDIT.json is stale — regenerate with "
        "`python tools/fixture_audit.py --json > FIXTURES_AUDIT.json` "
        "and review the category diff"
    )


def test_mirrored_only_never_grows():
    live = build_inventory()
    snap = json.loads(SNAPSHOT.read_text())
    snap_mirrored = {k for k, v in snap.items() if v["category"] == "mirrored-only"}
    live_mirrored = {k for k, v in live.items() if v["category"] == "mirrored-only"}
    regressions = live_mirrored - snap_mirrored
    assert not regressions, (
        f"specs regressed to mirrored-only (lost their independent test?): "
        f"{sorted(regressions)}"
    )


def test_high_risk_families_have_zero_mirrored_only():
    live = build_inventory()
    offenders = sorted(
        k
        for k, v in live.items()
        if v["category"] == "mirrored-only" and v["module"] in ZERO_MIRROR_MODULES
    )
    assert not offenders, (
        f"hand-derived-math specs with no independent fixture: {offenders} — "
        "add a pure-Python definitional test (see tests/test_independent_fixtures.py)"
    )


def test_mirrored_only_is_empty():
    """Round 13 drove the mirrored-only class to ZERO (127 at round 11,
    48 after the r13 relational/stream batches, 0 after the similarity and
    lakehouse batches). From here on this is an absolute gate, stronger
    than the shrink-only ratchet: no spec may ever ship whose only formula
    proof is the DuckDB oracle that mirrors the same math."""
    live = build_inventory()
    offenders = sorted(k for k, v in live.items() if v["category"] == "mirrored-only")
    assert not offenders, f"specs with no independent/plan evidence: {offenders}"


def test_plan_only_is_empty():
    """Round 13, closing act: the PLAN-ONLY residue (26 specs whose plan
    shape was gated but whose values had no third-way proof) got
    definitional fixtures in tests/test_independent_fixtures_r13c.py.
    Every registry spec now carries INDEPENDENT formula evidence — this
    gate holds the whole inventory there."""
    live = build_inventory()
    offenders = sorted(
        k for k, v in live.items() if v["category"] != "independent"
    )
    assert not offenders, f"specs without independent formula evidence: {offenders}"
