"""A/B a session conf override across named specs (fresh JVM per variant).

Usage: python tools/ab_conf.py '<json extra_conf>' name [name ...]
Prints per-spec median of 3 noop-sink reps under get_spark(extra_conf=...).
Run once with '{}' (current session.py defaults) and once with the override;
compare the two outputs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_data_infrastructure_spark.plans import all_specs
from projet_data_infrastructure_spark.session import get_spark


def main() -> None:
    extra = json.loads(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-conf", extra_conf=extra)
    specs = {s.name: s for s in all_specs()}
    from projet_data_infrastructure_spark.sources.readers import TABLES, read_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLES:
        read_table(spark, sf_dir, t).limit(1).collect()

    reps = int(os.environ.get("SPARK_GRAFT_AB_REPS", "3"))
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for name in names:
            spec = specs[name]
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            try:
                for rdd in list(
                    spark.sparkContext._jsc.getPersistentRDDs().values()
                ):
                    rdd.unpersist(False)
            except Exception:
                pass
    out = {n: round(statistics.median(ts), 3) for n, ts in samples.items()}
    print("ABRESULT " + json.dumps({"conf": extra, "timings": out,
                                    "total": round(sum(out.values()), 3)}))


if __name__ == "__main__":
    main()
