"""Fixture audit — inventory of INDEPENDENT formula evidence per spec.

The one correctness-risk class the 408/408 driver wall cannot see is a
formula mirrored wrong on BOTH engines (the round-10 Jonckheere–Terpstra
sparse-support bug: Spark and the DuckDB oracle shared the same wrong
equi-join semantics, so ten rounds of hash gates stayed green). The only
defense is evidence computed a THIRD way: a pure-Python/brute-force
reference, a crafted fixture with hand-computed expectations, or a
published closed-form constant.

This tool classifies every registry spec by the strongest evidence found:

* ``independent``  — the spec name or its builder function appears in a
  formula-bearing test file (everything in tests/ except the plan-shape,
  registry-sweep, and scaling-artifact gates). These tests follow the
  repo-wide pattern of computing expectations definitionally in pure
  Python (see tests/test_roundten_b.py) or on crafted frames.
* ``plan-only``    — referenced only by plan-shape/perf gates
  (test_plans_quality.py); the PLAN is proven, the formula is still
  mirrored-only.
* ``mirrored-only``— no test references it at all: its only formula proof
  is the DuckDB oracle that mirrors the same math. This is the JT-bug
  risk class.

Usage::

    python tools/fixture_audit.py            # markdown summary to stdout
    python tools/fixture_audit.py --json     # full JSON inventory

The committed snapshot lives in FIXTURES_AUDIT.json and is ratcheted by
tests/test_fixture_audit.py: the mirrored-only set may only shrink.

Caveat (honest limits): the classifier is lexical. A test that merely
times or smoke-runs a builder counts as "independent" even though it
asserts nothing about values; conversely a spec proven through a shared
core helper under a different name may be under-credited. The ratchet
test pins the HIGH-RISK families (stats, graph) by hand-verified name so
the headline claim does not rest on the heuristic alone.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from projet_data_infrastructure_spark.plans.registry import all_specs  # noqa: E402

TESTS = ROOT / "tests"

# Files whose references prove plan shape / registration / scaling, not the
# formula. Hits here never lift a spec out of the mirrored-only class.
NON_FORMULA_FILES = {
    "test_registry.py",       # registry shape + smoke sweep
    "test_plans_quality.py",  # .explain plan gates
    "test_scaling_artifact.py",  # SCALING.md artifact gate
    "conftest.py",
}


def spec_identifiers(spec) -> set[str]:
    ids = {spec.name}
    fn_name = getattr(spec.fn, "__name__", "")
    if fn_name and fn_name != "<lambda>":
        ids.add(fn_name)
    return ids


def build_inventory() -> dict:
    specs = all_specs()
    # one pass over test files, then word-boundary lookups per identifier
    files: dict[str, str] = {
        p.name: p.read_text() for p in sorted(TESTS.glob("*.py"))
    }
    inventory: dict[str, dict] = {}
    for s in specs:
        hits_formula: list[str] = []
        hits_plan: list[str] = []
        for ident in sorted(spec_identifiers(s)):
            pat = re.compile(r"\b" + re.escape(ident) + r"\b")
            for fname, text in files.items():
                if not pat.search(text):
                    continue
                lines = [
                    i + 1
                    for i, ln in enumerate(text.splitlines())
                    if pat.search(ln)
                ]
                ref = f"{fname}:{lines[0]}"
                if fname in NON_FORMULA_FILES:
                    if ref not in hits_plan:
                        hits_plan.append(ref)
                elif ref not in hits_formula:
                    hits_formula.append(ref)
        if hits_formula:
            cat = "independent"
        elif hits_plan:
            cat = "plan-only"
        else:
            cat = "mirrored-only"
        inventory[s.name] = {
            "category": cat,
            "module": s.fn.__module__.rsplit(".", 1)[-1],
            "formula_evidence": hits_formula,
            "plan_evidence": hits_plan,
        }
    return inventory


def main() -> None:
    inv = build_inventory()
    if "--json" in sys.argv:
        print(json.dumps(inv, indent=1))
        return
    by_cat: dict[str, list[str]] = {}
    for name, row in inv.items():
        by_cat.setdefault(row["category"], []).append(name)
    total = len(inv)
    print(f"# Fixture audit — {total} specs\n")
    for cat in ("independent", "plan-only", "mirrored-only"):
        names = sorted(by_cat.get(cat, []))
        print(f"## {cat}: {len(names)} ({100 * len(names) / total:.0f}%)\n")
        if cat != "independent":
            by_mod: dict[str, list[str]] = {}
            for n in names:
                by_mod.setdefault(inv[n]["module"], []).append(n)
            for mod in sorted(by_mod):
                print(f"- **{mod}**: {', '.join(sorted(by_mod[mod]))}")
            print()


if __name__ == "__main__":
    main()
