"""Generate PLANS.md: formatted physical plans for the headline queries.

Evidence artifact for plan review — shows broadcasts, pushed filters, pruned
read schemas, TakeOrderedAndProject, codegen stage boundaries.
Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from projet_data_infrastructure_spark.plans import all_specs
from projet_data_infrastructure_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-report")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    out = [
        "# PLANS — physical plans of the headline (bench) queries",
        "",
        f"Generated by `tools/explain_report.py` at `{sf_dir}`. The plan-quality",
        "tests (`tests/test_plans_quality.py`) assert the load-bearing properties;",
        "this file is the human-readable evidence.",
        "",
    ]
    for spec in all_specs():
        if "bench" not in spec.tags:
            continue
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        tree = plan.split("\n\n")[0]
        out.append(f"## {spec.name}\n\n```\n{tree}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} sections)")
    spark.stop()


if __name__ == "__main__":
    main()
