"""Hostile-session replica of the driver window.

The external driver builds ITS OWN SparkSession — unknown timezone, none of
our house conf — and calls ``__spark_entry__.queries()``. This tool
reproduces that: a vanilla ``local[8]`` session pinned to America/New_York
with 16 shuffle partitions (deliberately NOT our defaults), the first N
oracled registry names (the driver window) run through ``__spark_entry__``,
each canon-hash-compared against its DuckDB oracle at sf0.01.

Usage: python tools/hostile_probe.py [n_window] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from tools.check_oracle import register_views, value_hash  # noqa: E402


def main() -> int:
    n_window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("hostile-probe")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    import __spark_entry__ as m

    smoke = m.entry(spark)
    assert smoke.count() >= 0  # driver smoke check

    qmap = m.queries()
    omap = m.oracle_sql()
    window = [n for n in qmap if n in omap][:n_window]

    con = duckdb.connect()
    register_views(con, sf_dir)

    n_pass = n_fail = 0
    for name in window:
        t0 = time.time()
        try:
            sdf = qmap[name](spark, sf_dir)
            srows = sdf.collect()
            scols = [c.lower() for c in sdf.columns]
            ores = con.sql(omap[name])
            ocols = [c.lower() for c in ores.columns]
            orows = ores.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        ok = (
            len(srows) == len(orows)
            and sorted(scols) == sorted(ocols)
            and value_hash(srows, scols) == value_hash(orows, ocols)
        )
        if ok:
            n_pass += 1
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            print(
                f"FAIL {name}: rows {len(srows)}/{len(orows)} cols-match="
                f"{sorted(scols) == sorted(ocols)}"
            )
    print(f"\n{n_pass} pass, {n_fail} fail / {len(window)} window")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
