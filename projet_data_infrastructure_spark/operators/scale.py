"""Scale-pattern operators: skew-salted aggregation, bucketed co-located
joins, and partition-layout helpers.

These encode the 100 TB playbook as reusable operators (AQE handles many
cases automatically — session.py enables it — but explicit forms are needed
when AQE can't see the skew, e.g. pre-aggregation before a high-cardinality
shuffle, or when a key is reused across many joins and deserves a bucketed
layout on disk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count_avg(
    df: DataFrame, key: str, value_col: str, n_salts: int = 16
) -> DataFrame:
    """Two-stage skew-proof count+avg: salt → partial agg → final agg.

    A single hot key (one employee generating millions of events) funnels
    into one reducer under plain groupBy. Salting splits every key across
    ``n_salts`` reducers for the heavy first stage; the second stage combines
    ``n_salts`` partial rows per key — negligible. Results are identical to
    the unsalted aggregation (count and sum are algebraic).
    """
    salted = df.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)))
    partial = salted.groupBy(key, "_salt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.count(value_col).alias("_vcnt"),  # non-null count: avg semantics
        F.sum(value_col).alias("_sum"),
    )
    return partial.groupBy(key).agg(
        F.sum("_cnt").alias("count_activity"),
        (F.sum("_sum") / F.sum("_vcnt")).alias("mean_duration"),
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof fact⋈dim equi-join: join on (key, salt) instead of key.

    A single hot key funnels its whole row mass through ONE shuffle task
    under a plain sort-merge join. The fact side draws a uniform salt per
    row; the dim side is replicated ``n_salts`` times, so the hot key's
    rows spread across ``n_salts`` tasks. The result is EXACTLY the plain
    join's (the salt is internal and dropped). Cost model: dim shuffle
    volume × n_salts — use when the dim is too big to broadcast but cheap
    to replicate. AQE's skew-join splits sort-merge partitions
    automatically when runtime stats expose the skew; the explicit form is
    for skew you already know about, for streaming joins (no AQE replan),
    and for pinning the plan in tests."""
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    left = fact.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    right = dim.withColumn("_salt", F.explode(salts))
    joined = left.join(
        right,
        (left[fact_key] == right[dim_key]) & (left["_salt"] == right["_salt"]),
        how,
    )
    return joined.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int = 32,
    sort_by: str | None = None,
    path: str | None = None,
) -> None:
    """Persist with a bucketed layout so future equi-joins/aggs on ``key``
    skip the shuffle entirely (both sides bucket-aligned ⇒ SortMergeJoin
    without Exchange). This is the disk-layout half of join co-location.

    ``path`` makes the table external (data under an explicit directory
    instead of the session warehouse) — needed when the host session's
    warehouse location is unknown or read-only."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def explain_has(df: DataFrame, *needles: str) -> dict[str, bool]:
    """Plan introspection helper (used by plan-quality tests): which of the
    given operator names appear in the formatted physical plan."""
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return {n: (n in plan) for n in needles}


def zorder_key(bucket_cols: list[Column], bits: int = 8) -> Column:
    """Morton (Z-order) interleave of pre-bucketed integer columns.

    Input columns must already be integers in [0, 2^bits); the result
    interleaves their bits (col 0 gets the low bit of each group) so that
    sorting by it clusters rows that are close in EVERY dimension. Pure
    shift/mask expressions — codegen-friendly, no UDF."""
    z = F.lit(0).cast("long")
    n = len(bucket_cols)
    for i in range(bits):
        for j, c in enumerate(bucket_cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n + j)
    return z


def zorder_layout(
    df: DataFrame, cols: list[str], n_files: int = 8, bits: int = 8
) -> DataFrame:
    """Cluster ``df`` for multi-column data skipping: min-max scale each key
    to a 2^bits grid, Morton-interleave, range-partition + sort by the
    Z-value. Each output file then covers a tight hyper-rectangle in ALL
    ``cols``, so parquet footer min/max prunes files for predicates on any
    of them — the Delta ZORDER effect with plain parquet. One extra
    metadata-cheap agg (global min/max) + one range exchange; at 100 TB this
    runs once per compaction window, not per query."""
    bounds = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    buckets = []
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = float(bounds[f"mn_{c}"]), float(bounds[f"mx_{c}"])
        span = mx - mn if mx > mn else 1.0
        scaled = (F.coalesce(F.col(c).cast("double"), F.lit(mn)) - F.lit(mn)) / F.lit(span)
        buckets.append(F.least(F.floor(scaled * top).cast("long"), F.lit(top)))
    z = zorder_key(buckets, bits)
    return (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def range_sorted_layout(df: DataFrame, col: str, n_files: int = 8) -> DataFrame:
    """1-D clustered layout: range-partition + sort by one key so output
    files cover DISJOINT key ranges (parquet footer min/max then prunes
    every file outside a predicate's range — the single-column complement
    of :func:`zorder_layout`, and strictly tighter for one key). Spark
    samples the key distribution for balanced range bounds, so skewed keys
    still yield even files. One range exchange; run per compaction window,
    not per query."""
    return df.repartitionByRange(n_files, col).sortWithinPartitions(col)
