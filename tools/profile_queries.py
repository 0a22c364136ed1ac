"""Per-query time breakdown: fn() construction (incl. eager jobs like
localCheckpoint/count), physical planning, and noop-sink execution.

Usage: python tools/profile_queries.py [name ...]   (default: top-30 by
BENCH_LOCAL_r13.json). Prints one line per query; run AFTER a JIT warmup.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from projet_data_infrastructure_spark.plans import all_specs
from projet_data_infrastructure_spark.session import get_spark


def _release(spark):
    spark.catalog.clearCache()
    try:
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
    except Exception:
        pass


def main() -> None:
    names = sys.argv[1:]
    if not names:
        with open(os.path.join(ROOT, "BENCH_LOCAL_r13.json")) as f:
            q = json.load(f)["queries"]
        names = [n for n, _ in sorted(q.items(), key=lambda kv: -kv[1])[:30]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    specs = {s.name: s for s in all_specs()}
    # warmup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from projet_data_infrastructure_spark.sources.readers import TABLES, read_table
    for t in TABLES:
        read_table(spark, sf_dir, t).limit(1).collect()

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
        _release(spark)
        print(
            f"{name:38s} {t1 - t0:7.3f} {t2 - t1:7.3f} {t3 - t2:7.3f} {t3 - t0:7.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
