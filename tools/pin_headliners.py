"""Freeze the round's bench headliner set into BENCH_HEADLINERS.json.

Run ONCE at the start of a round, before the first measurement, then commit
the file. Every subsequent ``bench.py`` run this round — the builder's local
runs AND the driver's end-of-round run — replays exactly this list, so
vs_prior totals always compare identical compositions (VERDICT r13 item 3:
the live auto-selection reads LOCAL_ORACLE_sf0.1.json, which is refreshed
mid-round, and r13's driver/local runs drifted to 119- vs 116-spec sets).

Selection = frozen BENCH_CORE ∪ "bench"-tagged specs ∪ top-``TOP_N``
registered specs by measured Spark cost. This file is the only home of the
rule; ``bench.py`` and ``tools/bench_compare.py`` only read the pin.

Usage::

    python tools/pin_headliners.py [round_number]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench
from projet_data_infrastructure_spark.plans import all_specs

#: Measured-cost headliners (VERDICT r11 item 5): the hand-curated bench
#: tags can miss a heavy spec, so the top-N by Spark-side cost join the pin.
TOP_N = 70


def _top_measured_names(n: int) -> list[str]:
    """Top-n spec names, most expensive first, by Spark-side cost from the
    committed full-registry oracle run at sf0.1 (``tools/check_oracle.py``
    writes per-spec ``spark_sec``)."""
    with open(os.path.join(ROOT, "LOCAL_ORACLE_sf0.1.json")) as f:
        results = json.load(f)["results"]
    timed = [
        (rec["spark_sec"], name)
        for name, rec in results.items()
        if isinstance(rec.get("spark_sec"), (int, float))
    ]
    return [name for _sec, name in sorted(timed, reverse=True)[:n]]


def main() -> None:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else None
    registry = all_specs()
    bench_names = {s.name for s in registry if "bench" in s.tags}
    auto = set(_top_measured_names(TOP_N))
    names = sorted(bench_names | auto | set(bench.BENCH_CORE))
    unknown = [n for n in names if n not in {s.name for s in registry}]
    assert not unknown, f"pinned names not in registry: {unknown}"
    rec = {
        "round": rnd,
        "rule": f"BENCH_CORE ∪ bench-tagged ∪ top-{TOP_N} by LOCAL_ORACLE_sf0.1 spark_sec",
        "n": len(names),
        "names": names,
    }
    out = os.path.join(ROOT, "BENCH_HEADLINERS.json")
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")
    print(f"pinned {len(names)} headliners -> {out}")


if __name__ == "__main__":
    main()
