"""Versioned snapshot table: atomic overwrite without Delta.

Delta Lake gives transactional MERGE/overwrite via its commit log; this
container has no delta-spark, and a plain ``mode("overwrite")`` parquet write
deletes-then-writes — a concurrent reader can observe partial state. This is
the minimal sound stand-in:

* each write lands in a fresh ``v=<n>/`` subdirectory,
* a tiny ``_LATEST`` pointer file is atomically renamed into place last,
* readers resolve the pointer and read only that snapshot directory.

Readers therefore always see a complete snapshot (writers never touch a
published directory). This is the classic snapshot-pointer scheme Delta/
Iceberg formalize; swap in Delta transparently when available
(``streaming/sinks.py`` already prefers it).

The writer also records the schema it wrote in the process schema catalog
(``sources/readers.record_schema``), as Delta writes ``metaData.schemaString``
into its log. Every snapshot read goes through ``readers.read_parquet``, so
a fold's read of the stored state, ``read_cdc_state``, time travel and
``snapshot_diff`` start no schema-inference job for a snapshot this process
wrote. A restarted process infers each snapshot's schema once, on its first
read.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from projet_data_infrastructure_spark.sources.readers import read_parquet, record_schema

_POINTER = "_LATEST"


def _pointer_path(table_path: str) -> str:
    return os.path.join(table_path, _POINTER)


def latest_version(table_path: str) -> int | None:
    try:
        with open(_pointer_path(table_path)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def write_snapshot(df: DataFrame, table_path: str) -> int:
    """Write a new immutable snapshot, record its schema and atomically
    publish it."""
    os.makedirs(table_path, exist_ok=True)
    version = (latest_version(table_path) or 0) + 1
    snap_dir = os.path.join(table_path, f"v={version}")
    df.write.mode("overwrite").parquet(snap_dir)
    record_schema(df.sparkSession, snap_dir, df.schema)
    # POSIX rename within the same directory is atomic: readers see either
    # the old pointer or the new one, never a torn write.
    fd, tmp = tempfile.mkstemp(dir=table_path, prefix="._latest_")
    with os.fdopen(fd, "w") as f:
        f.write(str(version))
    os.replace(tmp, _pointer_path(table_path))
    return version


def read_snapshot(spark: SparkSession, table_path: str, version: int | None = None) -> DataFrame:
    """Read the published (or a specific historical) snapshot — time travel."""
    v = version if version is not None else latest_version(table_path)
    if v is None:
        raise FileNotFoundError(f"no published snapshot at {table_path}")
    return read_parquet(spark, os.path.join(table_path, f"v={v}"))


def snapshot_exists(table_path: str) -> bool:
    return latest_version(table_path) is not None


def fold_snapshot(
    rows: DataFrame, table_path: str, reduce: Callable[[DataFrame], DataFrame]
) -> int:
    """Fold a micro-batch into the published snapshot: publish
    ``reduce(stored ∪ rows)``, or ``reduce(rows)`` when nothing is stored yet.

    ``reduce`` must be associative over unions (a per-key argmax, a register
    max or sum), so the stored state equals one reduction over every row
    ever folded, however the rows were sliced into batches. One reduction
    per batch: reducing ``rows`` first only adds an exchange the outer
    reduction redoes."""
    if snapshot_exists(table_path):
        stored = read_snapshot(rows.sparkSession, table_path)
        rows = stored.unionByName(rows, allowMissingColumns=True)
    return write_snapshot(reduce(rows), table_path)


def compact_snapshot(spark: SparkSession, table_path: str, target_files: int = 1) -> int:
    """Rewrite the published snapshot into ``target_files`` files (OPTIMIZE
    analog). Streaming CDC apply publishes one snapshot per micro-batch,
    each fragmented by the batch's parallelism; compaction republishes the
    same rows as few large files — readers flip atomically, history stays
    readable. At scale run per partition and size target_files to ~1 GiB
    outputs."""
    df = read_snapshot(spark, table_path)
    return write_snapshot(df.coalesce(target_files), table_path)


def vacuum_snapshots(table_path: str, keep_last: int = 2) -> list[int]:
    """Drop snapshot directories older than the newest ``keep_last`` (VACUUM
    analog). Never touches the published version. Returns dropped versions."""
    import shutil

    current = latest_version(table_path)
    if current is None:
        return []
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(table_path)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )
    cutoff = max(current - keep_last + 1, 1)
    dropped = [v for v in versions if v < cutoff and v != current]
    for v in dropped:
        shutil.rmtree(os.path.join(table_path, f"v={v}"), ignore_errors=True)
    return dropped


def ensure_lake_table(spark: SparkSession, table_path: str, schema: str) -> bool:
    """K7 analog: bootstrap the lake location if it does not exist.

    The reference probes its object-store location on startup and creates it
    with a marker write when absent (``/root/reference/spark/SaveDelta.scala:44-59``,
    exists-check + test write against the MinIO bucket). Here the storage
    primitive is the versioned-snapshot table, so bootstrap = publish an
    empty v1 snapshot of the declared ``schema``: concurrent readers observe
    a valid empty table, never a missing path. Returns True if the table
    already existed.
    """
    if snapshot_exists(table_path):
        return True
    write_snapshot(spark.createDataFrame([], schema), table_path)
    return False


def snapshot_diff(
    spark: SparkSession,
    table_path: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """Change-data-feed between two published versions (Delta CDF analog:
    ``table_changes`` in `read_delta.py`'s Delta stack would serve this).

    Emits one row per changed key with ``_change_type`` ∈ {insert, delete,
    update}; unchanged rows are dropped. Non-key columns are compared via a
    single md5 fingerprint computed scan-side, so the full-outer join
    carries (keys + 32-byte digest) per row, never the payload — at 100 TB
    the exchange is key-width, and the join is the only shuffle.
    """
    from pyspark.sql import functions as F

    old = read_snapshot(spark, table_path, v_old)
    new = read_snapshot(spark, table_path, v_new)
    data_cols = [c for c in old.columns if c not in key_cols]

    def fingerprinted(df: DataFrame):
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in data_cols
        ]
        return df.select(*key_cols, F.md5(F.concat_ws("\x1f", *parts)).alias("_fp"))

    o, n = fingerprinted(old).alias("o"), fingerprinted(new).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols]
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(F.col(f"o.{key_cols[0]}").isNull(), F.lit("insert"))
        .when(F.col(f"n.{key_cols[0]}").isNull(), F.lit("delete"))
        .when(F.col("o._fp") != F.col("n._fp"), F.lit("update"))
    )
    keys = [F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in key_cols]
    return joined.select(*keys, change.alias("_change_type")).filter(
        F.col("_change_type").isNotNull()
    )
