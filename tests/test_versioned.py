"""Versioned snapshot table: atomic publish, time travel, pointer behavior."""

import os

import pytest
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.streaming.versioned import (
    latest_version,
    read_snapshot,
    snapshot_exists,
    write_snapshot,
)


def test_publish_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    assert not snapshot_exists(path)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, path)

    v1 = write_snapshot(spark.range(3), path)
    v2 = write_snapshot(spark.range(10), path)
    assert (v1, v2) == (1, 2)
    assert latest_version(path) == 2
    assert read_snapshot(spark, path).count() == 10
    assert read_snapshot(spark, path, version=1).count() == 3  # immutable history


def test_reader_never_sees_partial_state(spark, tmp_path):
    # a published snapshot is untouched by an in-flight writer: the new
    # version lands in its own directory before the pointer flips.
    path = str(tmp_path / "tbl")
    write_snapshot(spark.range(5), path)
    df = read_snapshot(spark, path)
    write_snapshot(spark.range(100), path)  # concurrent publish
    assert df.count() == 5  # the handle resolved v1 and still reads it
    assert read_snapshot(spark, path).count() == 100


def test_compact_and_vacuum(spark, tmp_path):
    from projet_data_infrastructure_spark.streaming.versioned import (
        compact_snapshot,
        latest_version,
        read_snapshot,
        vacuum_snapshots,
        write_snapshot,
    )

    target = str(tmp_path / "t")
    df = spark.range(1000).repartition(16)
    write_snapshot(df, target)  # v1: 16 fragments
    import glob

    n_before = len(glob.glob(f"{target}/v=1/*.parquet"))
    assert n_before >= 16
    v2 = compact_snapshot(spark, target, target_files=1)
    assert v2 == 2 and latest_version(target) == 2
    assert len(glob.glob(f"{target}/v=2/*.parquet")) == 1
    # identical content, history intact
    assert read_snapshot(spark, target).count() == 1000
    assert read_snapshot(spark, target, version=1).count() == 1000

    write_snapshot(spark.range(5), target)  # v3
    dropped = vacuum_snapshots(target, keep_last=2)
    assert dropped == [1]
    assert read_snapshot(spark, target, version=2).count() == 1000  # kept
    assert read_snapshot(spark, target).count() == 5


def test_ensure_lake_table_bootstraps_once(spark, tmp_path):
    from projet_data_infrastructure_spark.streaming.versioned import (
        ensure_lake_table,
        read_snapshot,
        write_snapshot,
    )

    target = str(tmp_path / "lake_t")
    assert ensure_lake_table(spark, target, "id long, name string") is False
    snap = read_snapshot(spark, target)
    assert snap.count() == 0 and snap.columns == ["id", "name"]
    # second call: table exists, no new version published
    write_snapshot(spark.range(3).selectExpr("id", "'x' AS name"), target)
    assert ensure_lake_table(spark, target, "id long, name string") is True
    assert read_snapshot(spark, target).count() == 3


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    """insert/delete/update classification, unchanged rows suppressed, and
    null-valued data columns compared safely."""
    from projet_data_infrastructure_spark.streaming.versioned import (
        snapshot_diff,
        write_snapshot,
    )

    path = str(tmp_path / "t")
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, "d", 40)],
        "id long, name string, score int",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "C", 30), (4, "d", 41), (5, "e", 50)],
        "id long, name string, score int",
    )
    v1 = write_snapshot(old, path)
    v2 = write_snapshot(new, path)
    out = {r.id: r._change_type for r in snapshot_diff(spark, path, v1, v2, ["id"]).collect()}
    assert out == {1: "delete", 3: "update", 4: "update", 5: "insert"}
    # id 2 (identical incl. the NULL) must NOT appear


# --------------------------------------------------------------------------
# The writer records what it wrote in the schema catalog
# --------------------------------------------------------------------------


def _registered(spark, path):
    from projet_data_infrastructure_spark.sources import readers

    return readers._schemas.get(readers._key(spark, os.path.abspath(path)))


def _changes(spark, rows):
    """CDC change rows whose payload has a nested struct, an array and a
    TIMESTAMP_NTZ, some of them non-nullable as built."""
    return spark.createDataFrame(rows, "id long, name string, ts_ms long, op string").select(
        F.col("id"),
        F.struct(
            F.col("name").alias("name"),
            F.array(F.col("id"), F.col("id") * 2).alias("ids"),
        ).alias("info"),
        F.array(F.struct(F.col("id").alias("k"), F.lit("v").alias("v"))).alias("tags"),
        F.timestamp_micros(F.col("ts_ms") * 1000).cast("timestamp_ntz").alias("seen"),
        F.col("ts_ms"),
        F.col("op"),
    )


def _hll_rows(spark):
    return spark.createDataFrame(
        [("view", 1, 3), ("view", 1, 5), ("buy", 7, 2)], "event_type string, bucket int, m int"
    )


def _cms_rows(spark):
    return spark.range(6).select(
        (F.col("id") % 2).cast("int").alias("s"),
        (F.col("id") % 3).cast("int").alias("bucket"),
        F.lit(1).cast("long").alias("cnt"),
    )


def test_registered_schema_equals_inferred(spark, tmp_path):
    """For the CDC, HLL, Count-Min and compaction snapshots the schema the
    writer records is exactly what inference on a cleared memo returns."""
    from projet_data_infrastructure_spark.plans.lakehouse import _hll_reduce
    from projet_data_infrastructure_spark.plans.sketches import _cms_reduce
    from projet_data_infrastructure_spark.sources import readers
    from projet_data_infrastructure_spark.streaming.cdc import apply_cdc_batch_ooo
    from projet_data_infrastructure_spark.streaming.versioned import (
        compact_snapshot,
        fold_snapshot,
    )

    cdc = str(tmp_path / "cdc")
    apply_cdc_batch_ooo(cdc, _changes(spark, [(1, "a", 10, "c"), (2, "b", 10, "c")]))
    apply_cdc_batch_ooo(cdc, _changes(spark, [(1, "A", 20, "u"), (2, "b", 30, "d")]))
    hll, cms = str(tmp_path / "hll"), str(tmp_path / "cms")
    for _ in range(2):
        fold_snapshot(_hll_rows(spark), hll, _hll_reduce)
        fold_snapshot(_cms_rows(spark), cms, _cms_reduce)
    compact_snapshot(spark, cdc)

    snaps = [f"{t}/v={v}" for t in (cdc, hll, cms) for v in (1, 2)] + [f"{cdc}/v=3"]
    registered = {p: _registered(spark, p) for p in snaps}
    readers._schemas.clear()
    for p in snaps:
        n0 = readers.schema_inferences()
        inferred = readers.read_parquet(spark, p).schema
        assert readers.schema_inferences() == n0 + 1
        assert registered[p] == inferred == spark.read.parquet(p).schema, p
    assert registered[f"{cdc}/v=3"].simpleString().startswith(
        "struct<id:bigint,info:struct<name:string,ids:array<bigint>>,"
        "tags:array<struct<k:bigint,v:string>>,seen:timestamp_ntz,"
    )


def test_restarted_reader_gets_same_rows(spark, tmp_path):
    """A cleared memo stands in for a restarted stream: the CDC view and time
    travel read the same rows after inferring again."""
    from projet_data_infrastructure_spark.sources import readers
    from projet_data_infrastructure_spark.streaming.cdc import (
        apply_cdc_batch_ooo,
        read_cdc_state,
    )

    cdc = str(tmp_path / "cdc")
    apply_cdc_batch_ooo(cdc, _changes(spark, [(1, "a", 10, "c"), (2, "b", 10, "c")]))
    apply_cdc_batch_ooo(cdc, _changes(spark, [(1, "A", 20, "u"), (2, "b", 30, "d")]))

    def rows():
        return (
            sorted(read_cdc_state(spark, cdc).collect()),
            sorted(read_snapshot(spark, cdc, version=1).collect()),
        )

    before = rows()
    readers._schemas.clear()
    after = rows()
    assert after == before
    assert [r.info.name for r in after[0]] == ["A"]
    assert sorted(r.info.name for r in after[1]) == ["a", "b"]


def test_schema_memo_is_bounded_lru(spark, tmp_path, monkeypatch):
    from projet_data_infrastructure_spark.sources import readers

    monkeypatch.setattr(readers, "SCHEMA_MEMO_SIZE", 2)
    path = str(tmp_path / "t")
    for n in (3, 4, 5):
        write_snapshot(spark.range(n), path)
    assert len(readers._schemas) == 2
    assert _registered(spark, f"{path}/v=1") is None  # the oldest went first
    assert _registered(spark, f"{path}/v=3") is not None
    n0 = readers.schema_inferences()
    assert read_snapshot(spark, path, version=1).count() == 3
    assert readers.schema_inferences() == n0 + 1
    assert len(readers._schemas) == 2
    assert _registered(spark, f"{path}/v=2") is None
    assert read_snapshot(spark, path, version=2).count() == 4
    assert read_snapshot(spark, path).count() == 5
