"""Expected query results from the DuckDB oracle, in the repo's own canon.

Each registry spec carries DuckDB SQL over the star-schema parquet views.
The expected result of a query is its row count and the order-insensitive
value hash of ``tools/check_oracle.py`` (``value_hash`` with ``canon``), so
the benchmark accepts exactly what the repo's correctness gate accepts.
"""

from __future__ import annotations

import os


def value_hash(rows, cols) -> str:
    from check_oracle import value_hash  # tools/ is put on sys.path by run.py

    return value_hash(rows, cols)


def expected_results(sf_dir: str, specs) -> dict[str, tuple[int, str] | None]:
    """``name -> (rows, hash)``; ``None`` for a spec without an oracle."""
    import duckdb

    from projet_data_infrastructure_spark.sources.readers import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out: dict[str, tuple[int, str] | None] = {}
        for spec in specs:
            if spec.oracle is None:
                out[spec.name] = None
                continue
            res = con.sql(spec.oracle)
            cols = [c.lower() for c in res.columns]
            rows = res.fetchall()
            out[spec.name] = (len(rows), value_hash(rows, cols))
        return out
    finally:
        con.close()


def result_of(df) -> tuple[int, str]:
    """Collect a Spark result and reduce it to ``(rows, hash)``."""
    rows = [tuple(r) for r in df.collect()]
    return len(rows), value_hash(rows, [c.lower() for c in df.columns])
