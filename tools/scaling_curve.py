"""Measured scaling curves for the heaviest registry specs (VERDICT r10
item 2: convert SCALE.md's analytical 100x argument into observed evidence).

For each heavy spec, runs the query at sf0.001 / sf0.01 / sf0.1 and records

* wall seconds (median over ``SPARK_GRAFT_SCALING_REPS`` noop-sink runs),
* shuffle read+write bytes,
* executor run time (CPU-proxy) and input bytes,

attributed per run as totals over the completed stages the run added to
the Spark status store (the UI is enabled for this session only). It then
fits the growth exponent per adjacent SF decade, ``alpha = log(m_hi/m_lo) / log(10)``:
linear scaling is alpha = 1, quadratic alpha = 2. Shuffle-byte and
input-byte exponents are the scale-design signal (wall time at small SF is
dominated by the fixed per-job scheduling floor, so its exponent
UNDERSTATES at the low decade and converges toward the data exponent as
real work grows); the committed gate is the top decade (sf0.01 -> sf0.1),
where fixed overheads matter least.

Writes SCALING.json (machine-readable, test-gated by
tests/test_scaling_artifact.py) and prints a markdown table for SCALING.md.

Usage: python tools/scaling_curve.py [sf_root]   (default /root/testdata)
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import UI_CONF, completed_stages, timed_run, warm_up
from projet_data_infrastructure_spark.plans import all_specs
from projet_data_infrastructure_spark.session import get_spark

#: The expensive families from BENCH_COMPARE.md: graph iterations, rank
#: statistics, minhash, curation, perplexity bucketing, matrix profile,
#: Newton fits. One representative per shape plus every >3 s headliner.
HEAVY = (
    "pagerank_fixed_point",
    "personalized_pagerank",
    "bellman_ford_distances",
    "kcore_decomposition",
    "clustering_coefficient",
    "adamic_adar_links",
    "kendall_tau_b",
    "minhash_signatures",
    "corpus_curation_pipeline",
    "ccnet_perplexity_buckets",
    "matrix_profile_daily",
    "cox_ph_binary_newton",
    # round-11 breadth: one per remaining shuffle-heavy family
    "minhash_lsh_pairs",        # banded dedup joins
    "crossdoc_dup_ngrams",      # n-gram bucket joins
    "ivf_topk_batch",           # ANN bucketed search
    "semantic_contamination",   # eval->train IVF contamination
    "c4_line_dedup",            # line-digest global dedup
    "tpch_q9_product_profit",   # large-large relational join
)

SFS = ("sf0.001", "sf0.01", "sf0.1")

# Env overrides (round 12, for the synthetic-sf1 decade extension;
# defaults keep the committed SCALING.json gate semantics unchanged):
#   SPARK_GRAFT_SCALING_SFS   comma list of SF dirs — names under sf_root
#                             or absolute paths (label = basename)
#   SPARK_GRAFT_SCALING_SPECS comma list of spec names (default HEAVY)
#   SPARK_GRAFT_SCALING_OUT   output JSON path (default ../SCALING.json)
if os.environ.get("SPARK_GRAFT_SCALING_SFS"):
    SFS = tuple(os.environ["SPARK_GRAFT_SCALING_SFS"].split(","))
if os.environ.get("SPARK_GRAFT_SCALING_SPECS"):
    HEAVY = tuple(os.environ["SPARK_GRAFT_SCALING_SPECS"].split(","))


def _stage_totals(stages: list[dict]) -> dict[str, int]:
    return {
        "shuffle_bytes": sum(
            s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0) for s in stages
        ),
        "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
        "executor_ms": sum(s.get("executorRunTime", 0) for s in stages),
    }


def main() -> None:
    sf_root = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata"
    reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "2"))
    spark = get_spark("scaling-curve", extra_conf=UI_CONF)
    specs = {s.name: s for s in all_specs() if s.name in HEAVY}
    missing = [n for n in HEAVY if n not in specs]
    assert not missing, f"heavy specs missing from registry: {missing}"

    # Labels are basenames; two SFS entries sharing a basename (e.g.
    # /root/testdata/sf0.1 and /root/synthdata/sf0.1) would silently
    # overwrite each other's measurements and corrupt the fitted exponents
    # (ADVICE r12) — fail loudly instead.
    _labels = [os.path.basename(e.rstrip("/")) for e in SFS]
    assert len(_labels) == len(set(_labels)), (
        f"SPARK_GRAFT_SCALING_SFS basenames collide: {_labels}; "
        "use distinct directory names per scale point"
    )

    results: dict[str, dict[str, dict[str, float]]] = {n: {} for n in HEAVY}
    for sf_entry in SFS:
        sf_dir = sf_entry if "/" in sf_entry else f"{sf_root}/{sf_entry}"
        sf = os.path.basename(sf_entry.rstrip("/"))
        warm_up(spark, sf_dir)
        for name in HEAVY:
            walls: list[float] = []
            deltas: list[dict[str, int]] = []
            for _ in range(reps):
                before = set(completed_stages(spark))
                walls.append(timed_run(spark, specs[name], sf_dir))
                deltas.append(_stage_totals(
                    [s for sid, s in completed_stages(spark).items() if sid not in before]
                ))
            med = statistics.median
            results[name][sf] = {
                "wall_sec": round(med(walls), 3),
                "shuffle_bytes": int(med([d["shuffle_bytes"] for d in deltas])),
                "input_bytes": int(med([d["input_bytes"] for d in deltas])),
                "executor_ms": int(med([d["executor_ms"] for d in deltas])),
            }
            print(f"{sf} {name}: {results[name][sf]}", file=sys.stderr)

    def expo(lo: float, hi: float) -> float | None:
        if lo <= 0 or hi <= 0:
            return None
        return round(math.log(hi / lo) / math.log(10.0), 3)

    labels = [os.path.basename(e.rstrip("/")) for e in SFS]
    out = {"sfs": labels, "reps": reps, "specs": {}}
    for name in HEAVY:
        r = results[name]
        ex = {}
        for metric in ("wall_sec", "shuffle_bytes", "executor_ms"):
            pairs = []
            for lo_sf, hi_sf in zip(labels, labels[1:]):
                pairs.append(expo(r[lo_sf][metric], r[hi_sf][metric]))
            ex[metric] = pairs
        out["specs"][name] = {"measured": r, "exponents": ex}

    out_path = os.environ.get(
        "SPARK_GRAFT_SCALING_OUT",
        os.path.join(os.path.dirname(__file__), "..", "SCALING.json"),
    )
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)

    # Markdown for SCALING.md
    sflist = "/".join(labels)
    print(f"| spec | wall s ({sflist}) | shuffle MB ({sflist}) |"
          " α wall | α shuffle |")
    print("|---|---|---|---|---|")
    for name in HEAVY:
        r, ex = results[name], out["specs"][name]["exponents"]
        walls = "/".join(f"{r[sf]['wall_sec']:.2f}" for sf in labels)
        shuf = "/".join(f"{r[sf]['shuffle_bytes'] / 1e6:.2f}" for sf in labels)
        aw = ", ".join("-" if e is None else f"{e:.2f}" for e in ex["wall_sec"])
        ash = ", ".join(
            "-" if e is None else f"{e:.2f}" for e in ex["shuffle_bytes"]
        )
        print(f"| {name} | {walls} | {shuf} | {aw} | {ash} |")
    spark.stop()


if __name__ == "__main__":
    main()
