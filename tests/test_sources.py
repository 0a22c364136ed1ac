"""Source paths that round 1 left plan-only, now executed: JDBC against
embedded Derby (S4/K3) and the S7 dim-ingest rename path via CSV."""

import os

import pytest
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.sources.readers import (
    read_csv_dim,
    read_excel,
    read_jdbc,
    read_table,
)


def test_jdbc_partitioned_read_roundtrip(spark, tmp_path):
    db = str(tmp_path / "derbydb")
    src = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )
    (
        src.write.format("jdbc")
        .option("url", f"jdbc:derby:{db};create=true")
        .option("dbtable", "t")
        .mode("overwrite")
        .save()
    )
    back = read_jdbc(
        spark,
        f"jdbc:derby:{db}",
        "t",
        partition_column="k",
        num_partitions=4,
        lower_bound=0,
        upper_bound=1000,
    )
    # range-partitioned cursors, not one driver-side cursor
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == float(sum(2 * i for i in range(1000)))


def test_jdbc_unpartitioned_read(spark, tmp_path):
    db = str(tmp_path / "derbydb2")
    spark.range(5).select(F.col("id").alias("k")).write.format("jdbc").option(
        "url", f"jdbc:derby:{db};create=true"
    ).option("dbtable", "t").mode("overwrite").save()
    assert read_jdbc(spark, f"jdbc:derby:{db}", "t").count() == 5


def test_csv_dim_rename(spark, tmp_path):
    p = tmp_path / "hr.csv"
    p.write_text("id_salarie,nom,ville\n1,Ana,Paris\n2,Luc,Lyon\n")
    df = read_csv_dim(
        spark, str(p), rename={"id_salarie": "employee_id", "nom": "name"}
    )
    assert set(df.columns) == {"employee_id", "name", "ville"}
    rows = {r["employee_id"]: r["name"] for r in df.collect()}
    assert rows == {1: "Ana", 2: "Luc"}


def test_read_excel_raises_without_openpyxl(spark, tmp_path):
    # openpyxl is absent in this container: the Excel reader must surface
    # the ImportError (caller falls back to read_csv_dim), not swallow it.
    try:
        import openpyxl  # noqa: F401

        pytest.skip("openpyxl installed; fallback behavior not applicable")
    except ImportError:
        pass
    with pytest.raises(Exception):
        read_excel(spark, str(tmp_path / "missing.xlsx"))


def test_python_datasource_partition_planning(spark):
    """The custom Python Data Source must parallelize: 8 planned partitions
    -> 8 scan partitions, and the union of per-partition reads equals the
    full deterministic stream."""
    from projet_data_infrastructure_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("deterministic_range")
        .option("n", 400)
        .option("partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    rows = df.collect()
    assert len(rows) == 400
    assert {r.id for r in rows} == set(range(400))
    h = (37 * 2654435761) % 2**32
    r37 = next(r for r in rows if r.id == 37)
    assert (r37.bucket, r37.score) == (h % 7, (h % 1000) / 100.0)


def test_events_ts_ntz_invariant_to_session_confs(spark):
    """VERDICT r5 item 1: the driver hash-mismatch on ``cusum_drift_flags``.

    A host session with ``inferTimestampNTZ=false`` used to surface
    ``events.ts`` as LTZ, so every ``to_date``/``hour`` shifted with the
    session timezone AT EXECUTION time. ``read_table`` must now deliver
    TIMESTAMP_NTZ regardless of prior conf state, and the values must be
    stable across a post-build session-tz flip (DuckDB semantics: the naive
    parquet wall-clock, verbatim).
    """
    from tests.conftest import SF_SMOKE  # noqa: PLC0415

    infer_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    tz_key = "spark.sql.session.timeZone"
    old_infer, old_tz = spark.conf.get(infer_key), spark.conf.get(tz_key)
    try:
        # Adversarial driver state: NTZ inference off, far-from-UTC zone.
        spark.conf.set(infer_key, "false")
        spark.conf.set(tz_key, "America/New_York")
        df = read_table(spark, SF_SMOKE, "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        days = df.select(F.to_date("ts").alias("d"))
        # Flip the session tz AFTER the plan is built, BEFORE execution —
        # exactly the driver's build-then-collect gap.
        spark.conf.set(tz_key, "Pacific/Kiritimati")
        got = {str(r["d"]) for r in days.distinct().collect()}
        import duckdb

        want = {
            str(r[0])
            for r in duckdb.sql(
                f"SELECT DISTINCT CAST(ts AS DATE) FROM '{SF_SMOKE}/events.parquet'"
            ).fetchall()
        }
        assert got == want
    finally:
        spark.conf.set(infer_key, old_infer)
        spark.conf.set(tz_key, old_tz)


# --------------------------------------------------------------------------
# Schema catalog: read_table / read_parquet infer once per file set + confs
# --------------------------------------------------------------------------

def _write(path, table):
    import pyarrow.parquet as pq

    pq.write_table(table, str(path))


def test_read_table_second_read_runs_no_job(spark, tmp_path, jobs):
    import pyarrow as pa

    _write(tmp_path / "nation.parquet", pa.table({"n_nationkey": [1, 2], "n_name": ["a", "b"]}))
    first, n_first = jobs(lambda: read_table(spark, str(tmp_path), "nation"))
    second, n_second = jobs(lambda: read_table(spark, str(tmp_path), "nation"))
    assert n_first == 1 and n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_catalog_sees_rewritten_file(spark, tmp_path):
    """A rewrite of the same path with another column type misses the memo,
    whether the mtime moved or (restored by hand) only the size did."""
    import pyarrow as pa

    path = tmp_path / "t.parquet"
    _write(path, pa.table({"a": pa.array([1, 2], pa.int64())}))
    assert dict(read_table(spark, str(tmp_path), "t").dtypes) == {"a": "bigint"}

    _write(path, pa.table({"a": ["x", "y"]}))
    assert dict(read_table(spark, str(tmp_path), "t").dtypes) == {"a": "string"}

    mtime = os.stat(path).st_mtime_ns
    _write(path, pa.table({"a": [1.5, 2.5, 3.5]}))
    os.utime(path, ns=(mtime, mtime))
    df = read_table(spark, str(tmp_path), "t")
    assert dict(df.dtypes) == {"a": "double"}
    assert sorted(r.a for r in df.collect()) == [1.5, 2.5, 3.5]


def test_catalog_keys_on_inference_confs(spark, tmp_path):
    """A tz-naive timestamp is TIMESTAMP_NTZ or TIMESTAMP depending on
    inferTimestampNTZ: a memo hit under the other setting would be stale."""
    import datetime

    import pyarrow as pa

    from projet_data_infrastructure_spark.sources.readers import read_parquet

    path = tmp_path / "naive.parquet"
    _write(path, pa.table({"t": pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("us"))}))
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert dict(read_parquet(spark, str(path)).dtypes)["t"] == "timestamp_ntz"
        spark.conf.set(key, "false")
        assert dict(read_parquet(spark, str(path)).dtypes)["t"] == "timestamp"
        spark.conf.set(key, "true")
        assert dict(read_parquet(spark, str(path)).dtypes)["t"] == "timestamp_ntz"
    finally:
        spark.conf.set(key, old)


def test_events_nanos_ts_identical_on_memo_hit(spark, tmp_path):
    """The memo holds the raw footer schema (ts as bigint under
    nanosAsLong), so the ns → µs normalisation runs on every read."""
    import pyarrow as pa

    ns = [1_704_067_200_123_456_789, 1_704_153_600_000_000_999, 1_709_251_199_999_999_999]
    _write(
        tmp_path / "events.parquet",
        pa.table({"event_id": [1, 2, 3], "ts": pa.array(ns, pa.timestamp("ns"))}),
    )
    keys = (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    )
    old = {k: spark.conf.get(k) for k in keys}
    try:
        micros = F.unix_micros(F.col("ts").cast("timestamp"))

        def ts_micros():
            df = read_table(spark, str(tmp_path), "events")
            assert dict(df.dtypes)["ts"] == "timestamp_ntz"
            return [r.us for r in df.orderBy("event_id").select(micros.alias("us")).collect()]

        assert ts_micros() == ts_micros() == [n // 1000 for n in ns]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_schema_memo_threads_keep_bound(monkeypatch):
    """foreachBatch callbacks run on their own threads: concurrent records
    and lookups must neither raise nor let the memo outgrow its bound."""
    import sys
    import threading
    from collections import OrderedDict

    from pyspark.sql import types as T

    from projet_data_infrastructure_spark.sources import readers

    monkeypatch.setattr(readers, "_schemas", OrderedDict())
    monkeypatch.setattr(readers, "SCHEMA_MEMO_SIZE", 1)
    schema = T.StructType([T.StructField("a", T.LongType())])
    errors = []

    def work():
        # Every thread records and looks up the same three keys, so each
        # record evicts a key another thread may be moving to the end.
        try:
            for i in range(20_000):
                readers._remember(i % 3, schema)
                readers._lookup((i + 1) % 3)
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(readers._schemas) == 1
