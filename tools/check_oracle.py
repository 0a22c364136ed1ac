"""Local replica of the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB at a given SF,
compares row count, column names, and an order-insensitive value hash.
Usage: python tools/check_oracle.py [--record] [sf_dir] [only_query ...]

``--record`` on a full-registry run writes the verdict and per-spec Spark
timings to ``LOCAL_ORACLE_<sf>.json``; without it the run writes nothing.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from projet_data_infrastructure_spark.plans import all_specs  # noqa: E402
from projet_data_infrastructure_spark.session import get_spark  # noqa: E402
from projet_data_infrastructure_spark.sources.readers import TABLES  # noqa: E402


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def canon_strict(v):
    """Driver-faithful canon: floats stay floats (no integral-float→int
    collapse) and Decimal is type-tagged, so an Arrow-exported HUGEINT
    (decimal128 "1234" or double "1234.0") will NOT silently equal the
    Spark side's integer "1234" — the r7 driver reds were invisible to the
    looser :func:`canon`."""
    from decimal import Decimal

    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return "dec:" + str(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def value_hash(rows, colnames, canon_fn=canon):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    digests = sorted(
        hashlib.md5("|".join(canon_fn(r[i]) for i in order).encode()).hexdigest()
        for r in rows
    )
    return hashlib.md5("\n".join(digests).encode()).hexdigest()


def register_views(con, sf_dir: str) -> None:
    """One DuckDB view per source table over its parquet file, under the
    table names the oracle SQL references."""
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")


def main() -> int:
    record = "--record" in sys.argv
    if record:
        sys.argv.remove("--record")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    results: dict[str, dict] = {}
    con = duckdb.connect()
    register_views(con, sf_dir)

    specs = [s for s in all_specs() if not only or s.name in only]
    n_pass = n_fail = 0
    for spec in specs:
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = [f.lower() for f in sdf.columns]
            spark_sec = round(time.time() - t0, 3)
        except Exception as e:
            print(f"FAIL {spec.name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            results[spec.name] = {"status": "fail", "err": f"{type(e).__name__}: {str(e)[:300]}"}
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ok?  {spec.name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            results[spec.name] = {"status": "rows_only", "spark_rows": len(srows)}
            n_pass += 1
            continue
        try:
            # Execute the (potentially expensive) oracle query ONCE into a
            # temp table, then read BOTH comparison surfaces from it: the
            # native fetchall() path and the Arrow export path. DuckDB exports
            # HUGEINT to Arrow as double (and DECIMAL as decimal128), so the
            # Arrow surface catches type-level divergence fetchall() hides —
            # and a temp-table scan preserves those result types exactly while
            # avoiding a second full execution (ADVICE r8).
            con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle_out AS {spec.oracle}")
            ores = con.sql("SELECT * FROM _oracle_out")
            ocols = [c.lower() for c in ores.columns]
            orows = ores.fetchall()
            arrow_rows = [
                tuple(r)
                for r in zip(
                    *(
                        col.to_pylist()
                        for col in con.sql("SELECT * FROM _oracle_out").arrow().columns
                    )
                )
            ]
        except Exception as e:
            print(f"FAIL {spec.name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            results[spec.name] = {"status": "fail", "err": f"duckdb {type(e).__name__}: {str(e)[:300]}"}
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            sh = value_hash([tuple(r) for r in srows], scols)
            oh = value_hash(orows, ocols)
            # Strict (driver-faithful) comparison on BOTH DuckDB fetch paths:
            # fail if either the native fetch or the Arrow export diverges
            # from Spark under the no-float-collapse canon.
            stuples = [tuple(r) for r in srows]
            sh_strict = value_hash(stuples, scols, canon_strict)
            oh_strict = value_hash(orows, ocols, canon_strict)
            ah_strict = value_hash(arrow_rows, ocols, canon_strict)
            if sh != oh:
                problems.append("value-hash mismatch")
            elif sh_strict != oh_strict:
                problems.append("STRICT value-hash mismatch (fetchall path)")
            elif sh_strict != ah_strict:
                problems.append("STRICT value-hash mismatch (arrow path)")
            if sh != oh:
                # show a sample difference for debugging
                skeys = {
                    "|".join(canon(v) for v in sorted_row): None
                    for sorted_row in (
                        tuple(r[i] for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                        for r in (tuple(x) for x in srows)
                    )
                }
                for orow in orows:
                    key = "|".join(
                        canon(orow[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    if key not in skeys:
                        problems.append(f"oracle-only row: {key[:160]}")
                        break
        if problems:
            print(f"FAIL {spec.name}: {'; '.join(problems[:3])}")
            results[spec.name] = {"status": "fail", "err": "; ".join(problems[:3])}
            n_fail += 1
        else:
            print(f"PASS {spec.name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            # spark_sec is the SPARK-side cost only (collect() wall before
            # the oracle runs) — bench.py derives the headliner set from it.
            results[spec.name] = {
                "status": "pass",
                "rows": len(srows),
                "spark_sec": spark_sec,
            }
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail / {len(specs)} total")
    # A recorded full-registry run leaves an evidence artifact next to the
    # driver's CORRECTNESS_r{N}.json (the driver window covers ~50
    # specs/round; this records the local gate's verdict on every
    # registered spec). Plain runs and variant sweeps (e.g. the
    # 7-shuffle-partition invariance run) leave the tracked file alone.
    if record and not only:
        import json

        out = {
            "sf_dir": sf_dir,
            "n_pass": n_pass,
            "n_fail": n_fail,
            "n_total": len(specs),
            "results": results,
        }
        sf_tag = os.path.basename(os.path.normpath(sf_dir))
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            f"LOCAL_ORACLE_{sf_tag}.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {path}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
