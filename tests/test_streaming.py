"""Streaming sources/sinks/monitor: rate source (SaveDelta.scala:123-127
analog), checkpointed append sink, foreachBatch HTTP sink (slack notifier
analog), watermark late-data drop, listener metrics."""

import time

from pyspark.sql import functions as F

from projet_data_infrastructure_spark.streaming.monitor import attach_monitor, reconcile
from projet_data_infrastructure_spark.streaming.sinks import (
    csv_sink,
    drain,
    foreach_batch_http_sink,
    jsonl_sink,
    stream_append_sink,
    text_sink,
    with_event_date,
)
from projet_data_infrastructure_spark.streaming.sources import file_replay_stream, rate_stream

EVENTS_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
)


def events_stream(spark, sf_dir="/root/testdata/sf0.001"):
    from projet_data_infrastructure_spark.streaming.sources import epoch_us_divisor

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = file_replay_stream(spark, sf_dir, EVENTS_SCHEMA, glob="events.parquet")
    div = epoch_us_divisor(f"{sf_dir}/events.parquet")
    return raw.withColumn("ts", F.timestamp_micros(F.expr(f"ts div {div}")))


def test_epoch_us_divisor_adapts_to_parquet_unit(tmp_path):
    # The driver's testdata has shipped events.ts at both TIMESTAMP(NANOS)
    # and TIMESTAMP(MICROS) across rounds; a hard-coded ns divide compressed
    # every streamed timestamp 1000x when the data flipped to us (every
    # ts-dependent live-stream spec silently broke). Pin unit detection.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet_data_infrastructure_spark.streaming.sources import epoch_us_divisor

    base = 1_700_000_000_000_000  # us epoch
    for unit, expect in (("us", 1), ("ns", 1000)):
        t = pa.table({"ts": pa.array([base * expect], type=pa.timestamp(unit))})
        path = str(tmp_path / f"ev_{unit}.parquet")
        pq.write_table(t, path)
        assert epoch_us_divisor(path) == expect


def test_events_stream_ts_matches_batch_read(spark):
    # End-to-end pin: the streamed ts must equal the batch reader's
    # dtype-gated normalization on the real testdata, whatever unit the
    # driver generated it at.
    from projet_data_infrastructure_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    drain(
        events_stream(spark, sf)
        .select("event_id", "ts")
        .writeStream.format("memory")
        .queryName("ts_unit_probe")
        .trigger(availableNow=True)
        .start()
    )
    streamed = {
        r["event_id"]: r["ts"] for r in spark.table("ts_unit_probe").collect()
    }
    batch = {
        r["event_id"]: r["ts"]
        for r in read_table(spark, sf, "events").select("event_id", "ts").collect()
    }
    assert len(streamed) == len(batch)
    mismatched = [k for k in batch if streamed[k] != batch[k]]
    assert not mismatched, f"{len(mismatched)} ts mismatches, e.g. {mismatched[:3]}"


def test_rate_source_produces_rows(spark, tmp_path):
    q = (
        rate_stream(spark, rows_per_second=50)
        .writeStream.format("memory")
        .queryName("rate_sink")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table("rate_sink").count() == 0:
            time.sleep(0.5)
        assert spark.table("rate_sink").count() > 0
    finally:
        q.stop()


def test_stream_append_sink_checkpointed(spark, tmp_path):
    out, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    stream = with_event_date(events_stream(spark), "ts")
    drain(stream_append_sink(stream, out, ckpt, available_now=True, partition_by="event_date"))
    written = spark.read.parquet(out)
    expected = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert written.count() == expected
    # date partitioning materialized (pruning-ready layout)
    assert "event_date" in written.columns

    # idempotent restart: same checkpoint, no new data → no duplicates
    drain(stream_append_sink(events_stream(spark).transform(lambda d: with_event_date(d, "ts")),
                             out, ckpt, available_now=True, partition_by="event_date"))
    assert spark.read.parquet(out).count() == expected


def test_jsonl_sink_roundtrip_and_sharding(spark, tmp_path):
    # Training-export format: JSON lines, optionally hash-sharded so a key's
    # rows land in one shard file. Roundtrip must preserve rows; sharding
    # must keep each doc_id in exactly one file.
    import glob
    import json

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "jsonl")
    jsonl_sink(docs, out, shard_by="doc_id", n_shards=4)
    back = spark.read.json(out)
    assert back.count() == docs.count()
    assert set(back.columns) == {"doc_id", "text", "lang"}
    seen: dict[int, str] = {}
    for f in glob.glob(f"{out}/part-*"):
        with open(f) as fh:
            for line in fh:
                d = json.loads(line)
                assert seen.setdefault(d["doc_id"], f) == f
    assert len(seen) == docs.count()


def test_incremental_microbatches_respect_max_files(spark, tmp_path):
    # maxFilesPerTrigger=1 must split the backlog into one micro-batch per
    # file (incremental processing with checkpointed offsets), not one giant
    # availableNow batch — the property that bounds per-batch memory when a
    # stream restarts against a deep backlog.
    src = str(tmp_path / "src")
    for i in range(3):
        (
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id", "id * 2 AS v")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    stream = file_replay_stream(spark, src, "id bigint, v bigint", max_files_per_trigger=1)
    batches: list[tuple[int, int]] = []

    def handle(df, bid):
        batches.append((bid, df.count()))

    drain(
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert sum(c for _, c in batches) == 30
    assert len(batches) >= 3


def test_foreach_batch_http_sink_collects(spark):
    posted = []
    stream = events_stream(spark).withColumn(
        "comment", F.when(F.col("event_type") == "error", F.lit("failed run"))
    )
    drain(foreach_batch_http_sink(stream, posted.extend, filter_expr="comment IS NOT NULL"))
    n_errors = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter("event_type = 'error'")
        .count()
    )
    assert len(posted) == n_errors
    assert all(p["comment"] == "failed run" for p in posted)


def test_foreach_batch_http_sink_chunks_burst_batches(spark):
    # Driver-memory guard (verdict r4 item 5): a burst micro-batch must
    # reach `post` as bounded chunks, never one unbounded list.
    calls: list[list[dict]] = []
    stream = events_stream(spark).withColumn("comment", F.lit("x"))
    drain(foreach_batch_http_sink(stream, calls.append, filter_expr=None, max_rows_per_post=100))
    total = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert sum(len(c) for c in calls) == total
    assert len(calls) >= 2  # the burst was actually split
    assert max(len(c) for c in calls) <= 100

    import pytest

    with pytest.raises(ValueError):
        foreach_batch_http_sink(stream, calls.append, max_rows_per_post=0)


def test_csv_dim_rename_caps_driver_materialization(spark, monkeypatch):
    # The fixture-prep toPandas() is for bounded dims only — an oversized
    # dim must raise cleanly, not OOM the driver (verdict r4 item 5).
    import pytest

    from projet_data_infrastructure_spark.plans import extras

    monkeypatch.setattr(extras, "_CSV_DIM_MAX_ROWS", 10)
    monkeypatch.setattr(extras, "_CSV_DIM_CACHE", {})
    with pytest.raises(ValueError, match="toPandas"):
        extras.q_csv_dim_rename(spark, "/root/testdata/sf0.001")


def test_watermark_drops_late_data(spark, tmp_path):
    # Two files arriving in order: recent events, then a very late one.
    early = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:59:00")], "id long, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    late = spark.createDataFrame(
        [(3, "2024-01-01 05:00:00")], "id long, ts string"  # hours behind watermark
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    src = str(tmp_path / "src")
    early.coalesce(1).write.parquet(src)

    agg = (
        file_replay_stream(spark, src, "id LONG, ts TIMESTAMP", max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    flat = agg.select(F.col("w.start").alias("wstart"), "n")

    def run_once():
        drain(
            flat.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run_once()
    late.coalesce(1).write.mode("append").parquet(src)
    run_once()
    # the 05:00 window must NOT appear: it is behind the advanced watermark
    finalized = {r["wstart"].hour for r in spark.read.parquet(out).collect()}
    assert 5 not in finalized


def test_monitor_listener_counts(spark, tmp_path):
    monitor = attach_monitor(spark)
    out, ckpt = str(tmp_path / "m_lake"), str(tmp_path / "m_ckpt")
    drain(
        stream_append_sink(
            events_stream(spark), out, ckpt, available_now=True, query_name="monitored"
        )
    )
    deadline = time.time() + 15
    expected = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    while time.time() < deadline and monitor.stats.total_rows < expected:
        time.sleep(0.5)
    assert monitor.stats.total_rows == expected
    assert monitor.stats.batches >= 1
    rec = reconcile(monitor.stats.total_rows, spark.read.parquet(out).count())
    assert rec["consistent"]
    spark.streams.removeListener(monitor)


def test_csv_and_text_sinks(spark, tmp_path):
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("twice"))
    csv_sink(df, str(tmp_path / "csv"))
    assert spark.read.option("header", "true").csv(str(tmp_path / "csv")).count() == 10
    text_sink(df.select(F.col("id").cast("string")), str(tmp_path / "txt"))
    assert spark.read.text(str(tmp_path / "txt")).count() == 10


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark window
    are suppressed, but — unlike dropDuplicates — the seen-key state is
    EVICTED once the watermark passes, so a key recurring long after its
    first arrival is emitted again. That bounded-state contract is what
    makes streaming dedup viable on an infinite stream."""
    batch1 = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:00:30"),  # duplicate within the window
            (2, "2024-01-01 10:01:00"),
        ],
        "id long, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    # advances the watermark past id 1's expiry (10:00 + 10 min): the
    # eviction takes effect at this batch's END, so the recurrence goes in a
    # third batch
    batch2 = spark.createDataFrame(
        [(99, "2024-01-01 11:30:00")], "id long, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    batch3 = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00")], "id long, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))

    src = str(tmp_path / "src")
    batch1.coalesce(1).write.parquet(src)
    dedup = (
        file_replay_stream(spark, src, "id LONG, ts TIMESTAMP", max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["id"])
    )
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run_once():
        drain(
            dedup.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run_once()
    batch2.coalesce(1).write.mode("append").parquet(src)
    run_once()
    batch3.coalesce(1).write.mode("append").parquet(src)
    run_once()
    rows = sorted((r.id, str(r.ts)) for r in spark.read.parquet(out).collect())
    ids = [r[0] for r in rows]
    assert ids.count(2) == 1
    # id 1: once from batch1 (dup suppressed) and AGAIN at 12:00 after eviction
    assert ids.count(1) == 2


def test_observe_metrics_reach_monitor(spark, tmp_path):
    """df.observe() quality counters computed ON the data path (no extra
    scan) surface in the progress listener per batch — the modern
    replacement for the reference's O(table) re-read loop, now carrying
    semantic metrics (null count, value sum), not just row counts."""
    from projet_data_infrastructure_spark.streaming.monitor import attach_monitor

    monitor = attach_monitor(spark)
    src = str(tmp_path / "obs_src")
    spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0)], "id long, value double"
    ).coalesce(1).write.parquet(src)
    stream = file_replay_stream(spark, src, "id LONG, value DOUBLE")
    observed = stream.observe(
        "quality",
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
    )
    drain(
        observed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "obs_out"))
        .option("checkpointLocation", str(tmp_path / "obs_ck"))
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 15
    while time.time() < deadline and "quality" not in monitor.stats.observed:
        time.sleep(0.5)
    m = monitor.stats.observed.get("quality")
    assert m is not None, "observed metrics never arrived"
    assert m["n"] == 3 and m["n_null_value"] == 1
    spark.streams.removeListener(monitor)


def test_signature_dedup_first_arrival_wins_across_batches(spark, tmp_path):
    """Incremental signature dedup: a signature seen in batch 1 keeps its
    original winner even when batch 2 brings a SMALLER doc_id with the same
    text — first-arrival-wins is the only order a stream can honor. New
    signatures in batch 2 still land."""
    from projet_data_infrastructure_spark.operators.dedup import (
        apply_signature_dedup_batch,
    )
    from projet_data_infrastructure_spark.streaming.versioned import read_snapshot

    target = str(tmp_path / "sig_store")
    t_dup = "alpha beta gamma delta epsilon zeta"
    t_new = "one two three four five six seven"
    b1 = spark.createDataFrame([(10, t_dup)], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(5, t_dup), (20, t_new)], "doc_id long, text string"
    )
    apply_signature_dedup_batch(target, b1)
    apply_signature_dedup_batch(target, b2)
    state = {r.doc_id for r in read_snapshot(spark, target).collect()}
    assert state == {10, 20}, state


def test_drain_raises_and_stops_a_stalled_stream(spark, tmp_path, monkeypatch):
    """A query still running at the drain timeout raises TimeoutError and is
    stopped, so it cannot keep writing into whatever runs next."""
    import pytest

    from projet_data_infrastructure_spark.streaming import sinks

    monkeypatch.setattr(sinks, "DRAIN_TIMEOUT_S", 1)
    src = str(tmp_path / "src")
    spark.range(3).coalesce(1).write.parquet(src)
    stream = file_replay_stream(spark, src, "id bigint")
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: time.sleep(4))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(TimeoutError):
        drain(q)
    assert not q.isActive
    assert spark.streams.active == []
