"""A/B a session conf override across named specs (fresh JVM per variant).

Usage: python tools/ab_conf.py '<json extra_conf>' name [name ...]
Prints per-spec median of bench.py's REPS noop-sink runs under
get_spark(extra_conf=...). Run once with '{}' (current session.py defaults)
and once with the override; compare the two outputs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import REPS, timed_run, warm_up
from projet_data_infrastructure_spark.plans import all_specs
from projet_data_infrastructure_spark.session import get_spark


def main() -> None:
    extra = json.loads(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-conf", extra_conf=extra)
    specs = {s.name: s for s in all_specs()}
    warm_up(spark, sf_dir)

    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(REPS):
        for name in names:
            samples[name].append(timed_run(spark, specs[name], sf_dir))
    out = {n: round(statistics.median(ts), 3) for n, ts in samples.items()}
    print("ABRESULT " + json.dumps({"conf": extra, "timings": out,
                                    "total": round(sum(out.values()), 3)}))


if __name__ == "__main__":
    main()
