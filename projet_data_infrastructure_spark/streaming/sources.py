"""Streaming sources (SURVEY §2.1 S1/S2/S8).

* Kafka CDC topic scan (S1): identical options to the reference
  (``/root/reference/spark/SaveDelta.scala:104-112``) — requires the Kafka
  connector jars on a real cluster; not runnable in this container.
* Rate source fallback (S2, ``SaveDelta.scala:123-127``): built-in, used in
  tests exactly as the reference used it when Kafka was unreachable.
* File replay source: replays a parquet table as a stream for deterministic
  end-to-end runs (the driver star schema's ``events``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """S1: CDC topic scan with the reference's exact resilience options."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """S2: synthetic fallback stream (columns: timestamp, value)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def epoch_us_divisor(parquet_path: str, ts_field: str = "ts") -> int:
    """Divisor that converts the raw epoch longs a ``readStream`` with a
    BIGINT schema yields for ``ts_field`` into MICROSECONDS.

    The driver's testdata generation has shipped ``events.ts`` as both
    parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds; a stream
    schema declaring ``ts BIGINT`` surfaces the raw stored longs at either
    unit (ns under ``spark.sql.legacy.parquet.nanosAsLong``), so a
    hard-coded ``div 1000`` silently compresses every timestamp 1000× the
    moment the data is regenerated at µs. Read the unit from parquet
    metadata (driver-side, no Spark job) and divide accordingly — the
    stream-side analog of ``read_table``'s dtype-gated normalization."""
    import glob
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(parquet_path):
        # A Spark-written table is a DIRECTORY of part files with one shared
        # schema — probe the first part (synthetic scaling fixtures ship this
        # layout; the driver testdata ships single files). Hive-partitioned
        # layouts nest part files in subdirectories, so fall back to a
        # recursive glob (ADVICE r13); the single-schema assumption means the
        # first part's unit speaks for the whole table.
        parts = sorted(glob.glob(os.path.join(parquet_path, "*.parquet")))
        if not parts:
            parts = sorted(
                glob.glob(os.path.join(parquet_path, "**", "*.parquet"), recursive=True)
            )
        if not parts:
            raise FileNotFoundError(
                f"no parquet parts under {parquet_path} (searched recursively; "
                f"unit detection assumes one shared schema across parts)"
            )
        parquet_path = parts[0]
    t = pq.read_schema(parquet_path).field(ts_field).type
    unit = getattr(t, "unit", "us")
    if unit not in ("ns", "us"):
        raise ValueError(f"epoch_us_divisor: unsupported parquet unit {unit!r}")
    return 1000 if unit == "ns" else 1


def file_replay_stream(
    spark: SparkSession,
    directory: str,
    schema: str | T.StructType,
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay the parquet files under ``directory`` as a stream: the one file
    source of the package (the ``stream_*`` specs, via
    ``sinks.replay_foreach_batch`` or a memory sink, and the tests).

    ``glob`` keeps only the file names it matches: the file source takes the
    load path as its base path, so a single file fails ("basePath must be a
    directory") and is read as its directory plus a glob.
    ``max_files_per_trigger`` makes each file its own micro-batch under
    availableNow."""
    reader = spark.readStream.schema(schema).format("parquet")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(directory)
