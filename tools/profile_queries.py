"""Per-query time breakdown: fn() construction (incl. eager jobs like
localCheckpoint/count), physical planning, and noop-sink execution.

Usage: python tools/profile_queries.py [name ...]   (default: top-30 of the
bench baseline BENCH_FULL_c{cpus}.json, else every pinned headliner).
Prints one line per query, after bench.py's warm-up.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _release_cached_blocks, baseline, headliners, warm_up
from projet_data_infrastructure_spark.plans import all_specs
from projet_data_infrastructure_spark.session import default_parallelism, get_spark


def main() -> None:
    names = sys.argv[1:]
    if not names:
        prior = baseline(default_parallelism())
        if prior is None:
            names = headliners()
        else:
            q = prior["queries"]
            names = sorted(q, key=lambda n: -q[n])[:30]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    specs = {s.name: s for s in all_specs()}
    warm_up(spark, sf_dir)

    print(f"{'query':38s} {'fn()':>7s} {'plan':>7s} {'exec':>7s} {'total':>7s}")
    for name in names:
        spec = specs.get(name)
        if spec is None:
            print(f"{name:38s} MISSING")
            continue
        t0 = time.perf_counter()
        try:
            df = spec.fn(spark, sf_dir)
        except Exception as e:
            print(f"{name:38s} fn-ERROR {type(e).__name__}: {e}")
            continue
        t1 = time.perf_counter()
        try:
            df._jdf.queryExecution().executedPlan()
        except Exception:
            pass
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        _release_cached_blocks(spark)
        print(
            f"{name:38s} {t1 - t0:7.3f} {t2 - t1:7.3f} {t3 - t2:7.3f} {t3 - t0:7.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
