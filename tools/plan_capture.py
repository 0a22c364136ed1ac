"""Capture .explain("formatted") for named specs (or every pinned headliner)
into plans/<label>/<query>.txt, plus a one-line smell summary per query.

Usage:
    python tools/plan_capture.py <label> [name ...]

With no names, captures every pinned headliner (``bench.headliners()``).
Smells flagged: BatchEvalPython/ArrowEvalPython nodes, SortMergeJoin,
CartesianProduct, Exchange count, and range-partitioned sorts
(``RangeSort``: an ``orderBy`` without a limit, which costs a sampling job,
a shuffle-map job and the sort; a result bounded by construction sorts in
one task through ``operators.ranks.bounded_order`` instead).

Each spec's optimized logical plan also goes to
plans/<label>/<query>.optimized.txt with expression ids and lambda-variable
suffixes normalized (see :func:`optimized_plan`), so two builds of the same
plan capture byte-identical files: ``diff -r plans/<a> plans/<b>`` after
capturing both labels is a plan-identity check for a refactor.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import headliners
from projet_data_infrastructure_spark.plans import all_specs
from projet_data_infrastructure_spark.session import get_spark


_EXPR_ID = re.compile(r"#\d+L?")
_LAMBDA_VAR = re.compile(r"(lambda \w+?)_\d+\b")
_PLAN_ID = re.compile(r"plan_id=\d+")
_STAGE_ID = re.compile(r"(QueryStage) \d+")


def optimized_plan(df) -> str:
    """``df``'s optimized logical plan with the session-dependent ids
    normalized: expression ids (``#123``, ``#123L``) become ``#x``,
    lambda-variable suffixes (``lambda x_12``) are dropped, and in the
    physical plans printed inside cached relations the ``plan_id`` and the
    adaptive query-stage ids (which follow execution order) become ``x``."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = _PLAN_ID.sub("plan_id=x", _STAGE_ID.sub(r"\1 x", plan))
    return _LAMBDA_VAR.sub(r"\1", _EXPR_ID.sub("#x", plan))


def smell_summary(plan: str) -> str:
    """The one-line smell summary of a formatted plan."""
    n_exch = len(re.findall(r"\bExchange\b", plan))
    smells = []
    for pat in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "SortMergeJoin", "BroadcastNestedLoopJoin"):
        k = len(re.findall(pat, plan))
        if k:
            smells.append(f"{pat}x{k}")
    k = len(re.findall(r"\brangepartitioning\(", plan))
    if k:
        smells.append(f"RangeSortx{k}")
    return f"exch={n_exch} {' '.join(smells)}"


def main() -> None:
    label = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or headliners()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", label)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    specs = {s.name: s for s in all_specs()}
    rows = []
    for name in names:
        spec = specs.get(name)
        if spec is None:
            print(f"!! unknown spec {name}")
            continue
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
            optimized = optimized_plan(df)
        except Exception as e:  # streaming specs EXECUTE in fn(); skip plan
            rows.append((name, f"ERROR {type(e).__name__}: {e}"))
            continue
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        with open(os.path.join(out_dir, f"{name}.optimized.txt"), "w") as f:
            f.write(optimized)
        rows.append((name, smell_summary(plan)))
    for name, info in rows:
        print(f"{name:40s} {info}")
    spark.stop()


if __name__ == "__main__":
    main()
