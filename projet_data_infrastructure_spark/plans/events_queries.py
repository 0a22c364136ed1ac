"""Event-stream query surface (SURVEY.md §2.10 + the watermark/window/session
operators the reference lacks but the engine ships).

Batch and Structured Streaming share the same DataFrame algebra, so each
operator here is defined once and exercised two ways:

* as a batch query over ``events`` with a DuckDB oracle (this file), and
* as a real ``readStream`` run in ``streaming/`` (tests + the two
  ``stream_*`` specs below, which execute an actual availableNow streaming
  query inside the driver's session and return the sink table).

Event-time notes: ``events.ts`` is stored as parquet TIMESTAMP(NANOS); both
engines truncate to µs (see ``sources/readers.py``). All epoch math pins the
session TZ to UTC so NTZ↔epoch conversions are total functions of the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.plans._portable import (
    pround,
    pround_sql,
    value_cents,
)
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.session import default_parallelism
from projet_data_infrastructure_spark.sources.readers import read_table, read_table_balanced
from projet_data_infrastructure_spark.streaming.sinks import drain

# --------------------------------------------------------------------------
# F1/P2: JSON field extraction (get_json_object ≈ SaveDelta.scala:140-147)
# --------------------------------------------------------------------------


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table_balanced(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    ).filter(F.col("k_value") > 50)


_JSON_EXTRACT_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
"""

# --------------------------------------------------------------------------
# T1/P2/P3: Debezium envelope round-trip. We build the envelope JSON from
# events (integers only — float JSON rendering is engine-specific), then
# parse it back with from_json + the declared schema (the reference declared
# a schema but bypassed it with get_json_object; we enforce it — SURVEY §1.2)
# and apply the tombstone filter.
# --------------------------------------------------------------------------

_ENVELOPE_SCHEMA = (
    "payload STRUCT<after: STRUCT<id: BIGINT, user_id: BIGINT, value_cents: BIGINT>, "
    "op: STRING, ts_ms: BIGINT>"
)


def q_cdc_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table_balanced(spark, sf_dir, "events")
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))  # UTC pinned by read_table
    envelope = F.concat(
        F.lit('{"payload":{"after":{"id":'),
        F.col("event_id").cast("string"),
        F.lit(',"user_id":'),
        F.col("user_id").cast("string"),
        F.lit(',"value_cents":'),
        value_cents().cast("string"),
        F.lit('},"op":"c","ts_ms":'),
        ts_ms.cast("string"),
        F.lit("}}"),
    )
    parsed = ev.select(envelope.alias("value")).select(
        F.from_json("value", _ENVELOPE_SCHEMA).alias("j")
    )
    return parsed.select(
        F.col("j.payload.after.id").alias("id"),
        F.col("j.payload.after.user_id").alias("user_id"),
        F.col("j.payload.after.value_cents").alias("value_cents"),
        F.col("j.payload.op").alias("op"),
        F.col("j.payload.ts_ms").alias("ts_ms"),
    ).filter(F.col("id").isNotNull())


def _xml_envelope(ev: DataFrame) -> DataFrame:
    """The XML envelope round-trip over an events frame, batch or stream:
    render each event as ``<event><id/><user/><type/><cents/></event>``,
    parse it back with ``from_xml`` and a typed schema, keep purchases."""
    xml = F.concat(
        F.lit("<event><id>"),
        F.col("event_id").cast("string"),
        F.lit("</id><user>"),
        F.col("user_id").cast("string"),
        F.lit("</user><type>"),
        F.col("event_type"),
        F.lit("</type><cents>"),
        value_cents().cast("string"),
        F.lit("</cents></event>"),
    )
    parsed = ev.select(xml.alias("doc")).select(
        F.from_xml(
            "doc", "id BIGINT, user BIGINT, type STRING, cents BIGINT"
        ).alias("x")
    )
    return (
        parsed.select(
            F.col("x.id").alias("id"),
            F.col("x.user").alias("user_id"),
            F.col("x.type").alias("event_type"),
            F.col("x.cents").alias("value_cents"),
        )
        .filter(F.col("event_type") == "purchase")
    )


def q_xml_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 native XML surface (`from_xml`, SPARK-44751): the CDC
    envelope exercise re-run over XML — build a deterministic XML document
    per event, parse it back with a typed schema, extract and filter.
    Element-only layout (attribute handling is prefix-configurable and adds
    nothing here). DuckDB has no XML type, so the oracle builds the SAME
    string and extracts the fields with anchored regexes — both engines
    genuinely parse the document they were handed. Purchase-only filter
    proves predicate pushdown through the parse projection."""
    return _xml_envelope(read_table_balanced(spark, sf_dir, "events"))


_XML_ENVELOPE_SQL = """
WITH doc AS (
    SELECT '<event><id>' || event_id || '</id><user>' || user_id
        || '</user><type>' || event_type || '</type><cents>'
        || CAST(floor(value * 100 + 0.5) AS BIGINT) || '</cents></event>' AS x
    FROM events
)
SELECT CAST(regexp_extract(x, '<id>([0-9]+)</id>', 1) AS BIGINT) AS id,
       CAST(regexp_extract(x, '<user>([0-9]+)</user>', 1) AS BIGINT) AS user_id,
       regexp_extract(x, '<type>([a-z]+)</type>', 1) AS event_type,
       CAST(regexp_extract(x, '<cents>(-?[0-9]+)</cents>', 1) AS BIGINT) AS value_cents
FROM doc
WHERE regexp_extract(x, '<type>([a-z]+)</type>', 1) = 'purchase'
"""


_CDC_ENVELOPE_SQL = """
WITH envelope AS (
    SELECT '{"payload":{"after":{"id":' || event_id
        || ',"user_id":' || user_id
        || ',"value_cents":' || CAST(floor(value * 100 + 0.5) AS BIGINT)
        || '},"op":"c","ts_ms":' || epoch_ms(ts) || '}}' AS value
    FROM events
)
SELECT CAST(json_extract_string(value, '$.payload.after.id') AS BIGINT) AS id,
       CAST(json_extract_string(value, '$.payload.after.user_id') AS BIGINT) AS user_id,
       CAST(json_extract_string(value, '$.payload.after.value_cents') AS BIGINT) AS value_cents,
       json_extract_string(value, '$.payload.op') AS op,
       CAST(json_extract_string(value, '$.payload.ts_ms') AS BIGINT) AS ts_ms
FROM envelope
WHERE json_extract_string(value, '$.payload.after.id') IS NOT NULL
"""

# F3: µs-epoch round-trip (SaveDelta.scala:143 did this lossily; we don't).


def q_epoch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        "event_id",
        ts_us.alias("ts_us"),
        F.timestamp_micros(ts_us).cast("timestamp_ntz").alias("ts_decoded"),
    )


_EPOCH_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, make_timestamp(epoch_us(ts)) AS ts_decoded
FROM events
"""

# --------------------------------------------------------------------------
# Event-time windows (absent from the reference — SURVEY §2.10 "Absent";
# one-liners in Spark, validated against explicit bucket math in DuckDB).
# Buckets are hour/minute-granular: both engines align those to midnight.
# --------------------------------------------------------------------------


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), pround(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events", "sum_value")
    )


_TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, event_type,
       count(*) AS n_events, {pround_sql('sum(value)', 2)} AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("wstart"), "n_events")
    )


# Slide divides width ⇒ every event is in exactly 2 windows with starts
# time_bucket_30(ts) and time_bucket_30(ts) - 30min.
_SLIDING_SQL = """
WITH exploded AS (
    SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS wstart
    FROM events, (SELECT unnest([0, 1]) AS k)
)
SELECT wstart, count(*) AS n_events FROM exploded GROUP BY 1
"""


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# Gaps-and-islands: a new session starts when the gap since the previous
# event is >= 10 min (Spark's session window end = last_event + gap,
# exclusive). session_end = max(ts) + gap.
_SESSION_SQL = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts) + INTERVAL 10 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), numbered AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 10 MINUTE AS session_end,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""

# Deterministic dedup (streaming dropDuplicates made order-stable):
# keep the earliest event per (user_id, event_type).


def q_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_type", "event_id", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_DEDUP_EARLIEST_SQL = """
SELECT user_id, event_type, event_id, ts FROM (
    SELECT user_id, event_type, event_id, ts,
           row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
    FROM events
) WHERE rn = 1
"""

# Watermark semantics, batch analog: drop events older than max(ts) - 7 days.


def q_late_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    horizon = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("horizon"))
    return (
        ev.join(F.broadcast(horizon))
        .filter(F.col("ts") >= F.col("horizon"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_recent"))
    )


_LATE_DATA_SQL = """
SELECT event_type, count(*) AS n_recent
FROM events
WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
GROUP BY event_type
"""


def q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(pround(F.sum("value"), 2).alias("total_value"))
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(10)
    )


_TOPK_USERS_SQL = f"""
SELECT user_id, {pround_sql('sum(value)', 2)} AS total_value
FROM events GROUP BY user_id
ORDER BY total_value DESC, user_id LIMIT 10
"""

# --------------------------------------------------------------------------
# REAL Structured Streaming runs (availableNow) inside the caller's session.
# The file source replays events.parquet as a stream; results land in a
# memory sink and are returned as the sink table. Oracle: the batch
# equivalent — streaming and batch must agree on the same input.
# --------------------------------------------------------------------------

_EVENTS_STREAM_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # FileStreamSource internally sets basePath to the load path, so a
    # single-file glob fails ("basePath must be a directory"); monitor the
    # directory and filter to the events file instead.
    raw = (
        spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    # LTZ (plain timestamp) here: watermarks/event-time require TimestampType;
    # UTC is pinned above so epoch↔wall-clock is deterministic. Integer `div`:
    # see sources/readers.py (ns epochs exceed double precision). The divisor
    # is unit-detected from parquet metadata — the testdata has shipped ts at
    # both ns and µs across driver rounds (streaming/sources.py).
    from projet_data_infrastructure_spark.streaming.sources import epoch_us_divisor

    div = epoch_us_divisor(os.path.join(sf_dir, "events.parquet"))
    return raw.withColumn("ts", F.timestamp_micros(F.expr(f"ts div {div}")))


#: Streaming state-partition sizing (r14, guide §2): a stateful micro-batch
#: spawns one state store instance PER shuffle partition PER stateful
#: operator (a stream-stream join holds four), and each pays a fixed
#: commit/maintenance/eviction cost every batch — including the no-data
#: watermark-flush batch, which measured as expensive as the data batch.
#: AQE cannot coalesce streaming state, so derive the partition count from
#: the input size instead of inheriting the session's batch shuffle setting:
#: one state partition per ~512 KiB of the ``sf_dir`` events/documents
#: parquet bytes, clamped to [2, session shuffle partitions]. At sf0.1
#: (2 MB events) this is 4 instead of 32 (stream_stream_join 12.7 s → 2.7 s
#: measured, identical rows); on a real cluster the clamp cap is the
#: configured shuffle partitions, so large inputs keep full parallelism.
_STREAM_STATE_TARGET_BYTES = 512 * 1024


def _stream_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    total = 0
    try:
        for fname in os.listdir(sf_dir):
            if fname.endswith(".parquet") and fname.startswith(("events", "documents")):
                total += os.path.getsize(os.path.join(sf_dir, fname))
    except OSError:
        return cap
    if total <= 0:
        return cap
    return max(2, min(cap, -(-total // _STREAM_STATE_TARGET_BYTES)))


def _run_stream(df_writer, spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    # State partitions are pinned at first query start from the session's
    # shuffle-partition conf; set the size-derived value for the duration of
    # the run and restore the batch setting after (the conf is session-wide,
    # but query construction here is single-threaded).
    parts = _stream_state_partitions(spark, sf_dir)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        drain(df_writer.queryName(name).trigger(availableNow=True).format("memory").start())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def q_stream_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    out = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", pround(F.col("value"), 2).alias("value_r")
    )
    return _run_stream(out.writeStream.outputMode("append"), spark, "stream_filter_sink", sf_dir)


_STREAM_FILTER_SQL = f"""
SELECT event_id, user_id, {pround_sql('value', 2)} AS value_r
FROM events WHERE event_type = 'purchase'
"""


def q_stream_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE: the XML envelope parse running under Structured Streaming —
    `from_xml` is a plain projection, so it drops into a micro-batch plan
    unchanged (append mode, no state); the value is pinning that the typed
    XML path produces byte-identical output batch vs stream. Oracle: the
    batch XML SQL."""
    parsed = _xml_envelope(_events_stream(spark, sf_dir))
    return _run_stream(
        parsed.writeStream.outputMode("append"), spark, "stream_xml_sink", sf_dir)


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("wstart"), "event_type", "n_events"
        )
    )
    return _run_stream(agg.writeStream.outputMode("complete"), spark, "stream_tumbling_sink", sf_dir)


_STREAM_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, event_type, count(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live SLIDING windows (2 h length / 1 h slide) — every event lands in
    two overlapping windows, completing the streaming window matrix
    (tumbling / sliding / session). Complete mode for the same reason as
    the session spec: append can't flush trailing windows after the final
    availableNow batch. Oracle: each event counted under both its hourly
    window starts (floor(ts) and floor(ts) − 1 h, epoch-aligned exactly as
    Spark aligns them)."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("wstart"),
            "event_type",
            "n_events",
        )
    )
    return _run_stream(agg.writeStream.outputMode("complete"), spark, "stream_sliding_sink", sf_dir)


_STREAM_SLIDING_SQL = """
WITH e AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS b, event_type FROM events),
w AS (
    SELECT b AS wstart, event_type FROM e
    UNION ALL
    SELECT b - INTERVAL 1 HOUR AS wstart, event_type FROM e
)
SELECT wstart, event_type, count(*) AS n_events FROM w GROUP BY 1, 2
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live session windows. Append mode cannot emit trailing sessions after
    the final availableNow batch (the watermark never passes them), so the
    live form runs in complete mode — total state is the session count, which
    is bounded by active users × open sessions, not the input size."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    return _run_stream(agg.writeStream.outputMode("complete"), spark, "stream_session_sink", sf_dir)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stateful dedup: the stream unioned with itself (every row arrives
    twice) through dropDuplicates — state is the seen-id set, append mode.
    Exercises streaming dedup state for real; the oracle is simply the
    distinct input."""
    s = _events_stream(spark, sf_dir)
    doubled = s.unionByName(s)
    out = doubled.dropDuplicates(["event_id"]).select("event_id", "user_id", "event_type")
    return _run_stream(out.writeStream.outputMode("append"), spark, "stream_dedup_sink", sf_dir)


_STREAM_DEDUP_SQL = "SELECT event_id, user_id, event_type FROM events"


def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live custom stateful operator: applyInPandasWithState running
    (count, sum) per user. The file source delivers events.parquet as ONE
    micro-batch under availableNow, so the update-mode emission is exactly
    one final row per user — which makes this custom-state path
    oracle-checkable against the batch aggregate."""
    from projet_data_infrastructure_spark.streaming.stateful import running_totals

    stream = _events_stream(spark, sf_dir)
    rt = running_totals(stream)
    res = _run_stream(rt.writeStream.outputMode("update"), spark, "stream_rt_sink", sf_dir)
    return res.select(
        F.col("key").alias("user_id"),
        "n_events",
        pround(F.col("total_value"), 2).alias("total_value_r"),
    )


_STREAM_RT_SQL = f"""
SELECT user_id, count(*) AS n_events,
       {pround_sql('sum(coalesce(value, 0))', 2)} AS total_value_r
FROM events GROUP BY user_id
"""


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stream-static enrichment join: the event stream against the
    static customer dim (broadcast per micro-batch, re-read each batch so a
    dim refresh is picked up without restarting the query). No watermark
    needed — the static side is not stateful. The per-segment rollup keeps
    the output bounded for the oracle."""
    from projet_data_infrastructure_spark.sources.readers import read_table

    s = _events_stream(spark, sf_dir)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = s.join(F.broadcast(dim), "user_id").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("total_value"),
    )
    return _run_stream(
        enriched.writeStream.outputMode("complete"), spark, "stream_static_sink", sf_dir)


_STREAM_STATIC_SQL = f"""
SELECT c_mktsegment, count(*) AS n_events,
       {pround_sql('sum(coalesce(value, 0))', 2)} AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def _view_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The attribution interval join over the event stream: each view
    ``(view_id, v_user, view_ts)`` joined with ``how`` to the same user's
    purchases ``(purchase_id, p_user, purchase_ts)`` at most 2 h later.
    Both sides carry a 1-hour watermark, so join state stays bounded by
    2 h + 1 h of events however long the stream runs."""
    s = _events_stream(spark, sf_dir)
    views = (
        s.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        s.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 2 HOURS")),
        how,
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stream-stream interval join: purchases joined to the view that
    preceded them (same user, ≤ 2 h gap), both sides watermarked — the
    attribution join every event pipeline runs. State is bounded by the
    watermark: each side buffers only 2 h + 1 h of events, however long the
    streams run. availableNow delivers the file as one batch, so the append
    output is the complete match set — oracle-checkable against the batch
    self-join. gap_sec counts second-boundary crossings (µs epochs divided
    to seconds BEFORE subtracting) to match DuckDB's date_diff semantics."""
    j = _view_purchase_join(spark, sf_dir, "inner")
    out = j.select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        F.expr(
            "unix_micros(purchase_ts) div 1000000 - unix_micros(view_ts) div 1000000"
        ).alias("gap_sec"),
    )
    return _run_stream(out.writeStream.outputMode("append"), spark, "stream_ssj_sink", sf_dir)


_STREAM_SSJ_SQL = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       date_diff('second', v.ts, p.ts) AS gap_sec
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stream-stream LEFT OUTER interval join — the attribution join
    with abandonment tracking: views that never converted surface as
    null-purchase rows. The part worth pinning is WHEN Spark emits them:
    an unmatched view leaves state (and is emitted null-augmented) only
    once the watermark has passed the last instant it could still match,
    i.e. ``view_ts + 2h < max(event_ts) − 1h delay``. Views younger than
    that trailing window are withheld — the oracle reproduces exactly that
    cutoff, so the result is deterministic and hash-checkable, not
    "whatever happened to flush"."""
    j = _view_purchase_join(spark, sf_dir, "leftOuter")
    out = j.select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        F.expr(
            "unix_micros(purchase_ts) div 1000000 - unix_micros(view_ts) div 1000000"
        ).alias("gap_sec"),
    )
    return _run_stream(out.writeStream.outputMode("append"), spark, "stream_ssj_left_sink", sf_dir)


_STREAM_SSJ_LEFT_SQL = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       date_diff('second', v.ts, p.ts) AS gap_sec
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
UNION ALL
SELECT v.event_id AS view_id, NULL AS purchase_id, v.user_id, NULL AS gap_sec
FROM events v, (SELECT date_trunc('milliseconds', max(ts)) AS m FROM events) mx
WHERE v.event_type = 'view'
  AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
  )
  AND v.ts + INTERVAL 2 HOUR < mx.m - INTERVAL 1 HOUR
"""


def q_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer stream-stream interval join, completing the join-type
    matrix (inner/left/full). The view side's unmatched emission follows
    the derived state watermark exactly (``view_ts + 2h < wm`` — measured
    at two scale factors). The purchase side's boundary is NOT a closed
    form of the data: Spark guarantees eviction for ``purchase_ts + 2h <
    wm`` but may opportunistically emit younger unmatched purchases
    depending on batch/cleanup internals (measured: the boundary moved
    between wm−2h and wm across scale factors). The spec therefore trims
    the unmatched-purchase side to the GUARANTEED band — every row of the
    trimmed result came out of the real streaming join, and the result is
    deterministic and hash-checkable instead of depending on emission
    timing."""
    j = _view_purchase_join(spark, sf_dir, "fullOuter")
    out = j.select(
        "view_id",
        "purchase_id",
        F.coalesce(F.col("v_user"), F.col("p_user")).alias("user_id"),
        F.expr(
            "unix_micros(purchase_ts) div 1000000 - unix_micros(view_ts) div 1000000"
        ).alias("gap_sec"),
        "purchase_ts",
    )
    res = _run_stream(
        out.writeStream.outputMode("append"), spark, "stream_ssj_full_sink", sf_dir)
    # Deterministic projection of the nondeterministic emission band (see
    # docstring): unmatched purchases younger than wm - 2h are dropped.
    # Spark's event-time watermark is millisecond-truncated, and events.ts
    # carries sub-ms microseconds — truncate before subtracting so the trim
    # agrees with the engine (and the oracle) on boundary rows.
    cut = read_table(spark, sf_dir, "events").agg(
        (
            F.date_trunc("MILLISECOND", F.max("ts")) - F.expr("INTERVAL 3 HOURS")
        ).alias("cut")
    )
    return (
        res.join(F.broadcast(cut))
        .filter(~(F.col("view_id").isNull() & (F.col("purchase_ts") >= F.col("cut"))))
        .select("view_id", "purchase_id", "user_id", "gap_sec")
    )


_STREAM_SSJ_FULL_SQL = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       date_diff('second', v.ts, p.ts) AS gap_sec
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
UNION ALL
SELECT v.event_id AS view_id, NULL AS purchase_id, v.user_id, NULL AS gap_sec
FROM events v, (SELECT date_trunc('milliseconds', max(ts)) AS m FROM events) mx
WHERE v.event_type = 'view'
  AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
  )
  AND v.ts + INTERVAL 2 HOUR < mx.m - INTERVAL 1 HOUR
UNION ALL
SELECT NULL AS view_id, p.event_id AS purchase_id, p.user_id, NULL AS gap_sec
FROM events p, (SELECT date_trunc('milliseconds', max(ts)) AS m FROM events) mx
WHERE p.event_type = 'purchase'
  AND NOT EXISTS (
      SELECT 1 FROM events v
      WHERE v.event_type = 'view' AND v.user_id = p.user_id
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
  )
  AND p.ts + INTERVAL 2 HOUR < mx.m - INTERVAL 1 HOUR
"""


# --------------------------------------------------------------------------
# Time-series resample + forward-fill: per user, an hourly grid from first
# to last activity, carrying the last observed value forward through silent
# hours (gap-filling for downstream models). The per-hour representative is
# the LAST event by (ts, event_id) — deterministic under ties. Money in
# integer cents; grid densification is sequence+explode (generator-style,
# no driver loop); the fill is one ignore-nulls running window per user.
# --------------------------------------------------------------------------


def _hourly_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(user_id, hr, cents)``: every hour from each user's first to last
    active hour, ``cents`` the last event's (by ts, event_id) value in that
    hour and NULL in silent hours — the gap-filling input of both resample
    specs."""
    from pyspark.sql.window import Window

    ev2 = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "ts",
        "event_id",
        value_cents().alias("cents"),
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "hr").orderBy(F.desc("ts"), F.desc("event_id"))
    )
    hourly = ev2.withColumn("rn", rn).filter(F.col("rn") == 1).select("user_id", "hr", "cents")
    bounds = ev2.groupBy("user_id").agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    # AQE-coalesce fan-out trap (round-13 full sweep): the per-user bounds
    # aggregate is tiny in BYTES, so AQE coalesces it to 1-2 partitions —
    # and the sequence+explode below then fans out ~|hours| rows per user
    # on those same tasks (64% of this spec's executor time on ONE task,
    # measured). A user-specified hash repartition is AQE-exempt and keys
    # the grid by user_id, which the downstream join/windows reuse.
    grid = bounds.repartition(default_parallelism(), "user_id").select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
    )
    return grid.join(hourly, ["user_id", "hr"], "left")


def q_resample_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projet_data_infrastructure_spark.operators.asof import carry_forward

    return carry_forward(
        _hourly_grid(spark, sf_dir),
        key="user_id",
        order=("hr",),
        carry={"filled_cents": "cents"},
    ).select("user_id", F.col("hr").alias("hour_ts"), "filled_cents")


def q_resample_hourly_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with LINEAR INTERPOLATION — the other standard
    time-series repair next to ``resample_hourly_ffill``: a missing hour
    gets ``pv + (nv − pv)·frac`` between its surrounding observations
    (frac = integer hour offsets, so the division is the same IEEE op in
    both engines; grid spans min..max observed, so both neighbors always
    exist). Same scale shape as the ffill form: per-user windows over the
    hourly aggregate, grid via sequence+explode, no global sort."""
    from projet_data_infrastructure_spark.operators.asof import carry_forward

    joined = _hourly_grid(spark, sf_dir)
    obs_hr = F.when(F.col("cents").isNotNull(), F.col("hr"))
    # Backward carry (previous observation) + forward carry (next) via the
    # registered PIT core — one window sort per direction, same key shuffle.
    annotated = carry_forward(
        carry_forward(
            joined,
            key="user_id",
            order=("hr",),
            carry={"pv": "cents", "pd": obs_hr},
        ),
        key="user_id",
        order=("hr",),
        carry={"nv": "cents", "nd": obs_hr},
        backward=True,
    )
    pv, pd_, nv, nd = (F.col(c) for c in ("pv", "pd", "nv", "nd"))
    hours = lambda c: F.unix_micros(c.cast("timestamp")) / F.lit(3600000000)  # noqa: E731
    frac = (hours(F.col("hr")) - hours(pd_)) / (hours(nd) - hours(pd_))
    interp = F.when(
        F.col("cents").isNotNull(), F.col("cents").cast("double")
    ).otherwise(pv.cast("double") + (nv - pv).cast("double") * frac)
    return annotated.select(
        "user_id",
        F.col("hr").alias("hour_ts"),
        pround(interp, 4).alias("interp_cents"),
    )


_RESAMPLE_INTERP_SQL = f"""
WITH ev2 AS (
    SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
), hourly AS (
    SELECT user_id, hr, cents FROM (
        SELECT user_id, hr, cents,
               row_number() OVER (PARTITION BY user_id, hr
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev2
    ) WHERE rn = 1
), bounds AS (
    SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM ev2 GROUP BY user_id
), grid AS (
    SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
    FROM bounds
), joined AS (
    SELECT g.user_id, g.hr, h.cents FROM grid g
    LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
), winned AS (
    SELECT user_id, hr, cents,
           last_value(cents IGNORE NULLS) OVER back AS pv,
           last_value(CASE WHEN cents IS NOT NULL THEN hr END IGNORE NULLS)
               OVER back AS pd,
           first_value(cents IGNORE NULLS) OVER fwd AS nv,
           first_value(CASE WHEN cents IS NOT NULL THEN hr END IGNORE NULLS)
               OVER fwd AS nd
    FROM joined
    WINDOW back AS (PARTITION BY user_id ORDER BY hr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           fwd AS (PARTITION BY user_id ORDER BY hr
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, hr AS hour_ts,
       {pround_sql(
           "CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE) "
           "ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) "
           "  * ((epoch_us(hr) / 3600000000) - (epoch_us(pd) / 3600000000)) "
           "    / ((epoch_us(nd) / 3600000000) - (epoch_us(pd) / 3600000000)) END", 4)}
    AS interp_cents
FROM winned
"""


_RESAMPLE_SQL = """
WITH ev2 AS (
    SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
), hourly AS (
    SELECT user_id, hr, cents FROM (
        SELECT user_id, hr, cents,
               row_number() OVER (PARTITION BY user_id, hr
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev2
    ) WHERE rn = 1
), bounds AS (
    SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM ev2 GROUP BY user_id
), grid AS (
    SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
    FROM bounds
)
SELECT g.user_id, g.hr AS hour_ts,
       last_value(h.cents IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
"""


# --------------------------------------------------------------------------
# Per-event sessionization: assign a session ordinal to EVERY event (the
# row-level complement of session_window_agg's per-session aggregate) — the
# standard feature-engineering precursor to funnels/attribution. A new
# session starts after a >30 min silence. Gap arithmetic is integer seconds
# (µs div 1e6, matching DuckDB's boundary-count date_diff); the lag and the
# running sum share one (user_id, ts, event_id) sort → one Exchange.
# --------------------------------------------------------------------------

_SESSION_GAP_S = 1800


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = sec - F.lag(sec).over(w)
    new_sess = (gap.isNull() | (gap > _SESSION_GAP_S)).cast("long")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(new_sess).over(run).alias("session_id"),
    )


_SESSIONIZE_SQL = f"""
WITH g AS (
    SELECT event_id, user_id, ts,
           epoch_us(ts) // 1000000
               - lag(epoch_us(ts) // 1000000)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
    FROM events
)
SELECT event_id, user_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap > {_SESSION_GAP_S} THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
FROM g
"""


def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions containing exactly one event —
    the engagement KPI every web-analytics stack reports. Composes the
    sessionization algebra above (gap ordinals on one per-user sort) with
    a per-session rollup keyed on (user, session) and a per-day share; the
    session's day is its FIRST event's date (min over the session — a
    deterministic attribution rule both engines state identically). The
    rate is a ratio of two integers, portable-rounded."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = sec - F.lag(sec).over(w)
    new_sess = (gap.isNull() | (gap > _SESSION_GAP_S)).cast("long")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.sum(new_sess).over(run).alias("session_id"),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.min("day").alias("day"), F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_session.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            pround(
                F.col("n_bounces").cast("double") / F.col("n_sessions").cast("double"),
                6,
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


_SESSION_BOUNCE_SQL = f"""
WITH g AS (
    SELECT user_id, ts, event_id,
           epoch_us(ts) // 1000000
               - lag(epoch_us(ts) // 1000000)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
    FROM events
),
sess AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           sum(CASE WHEN gap IS NULL OR gap > {_SESSION_GAP_S} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM g
),
per_session AS (
    SELECT user_id, session_id, min(day) AS day, count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
)
SELECT day,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       {pround_sql('CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)', 6)}
           AS bounce_rate
FROM per_session
GROUP BY day
ORDER BY day
"""


def q_session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session PATHS — the ordered event-type sequence each session
    walked (view>view>purchase…), counted across the corpus: the
    product-analytics staple behind funnel discovery. Builds on the same
    sessionization window; the path is one grouped ``collect_list`` of
    (ts, event_id, event_type) structs, sorted by struct order (ts, then
    event_id — deterministic under timestamp ties) and joined to a string;
    per-path counting is an ordinary hash agg over short strings. State per
    session is its event list — bounded by session length, never by user
    history."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = sec - F.lag(sec).over(w)
    new_sess = (gap.isNull() | (gap > _SESSION_GAP_S)).cast("long")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(new_sess).over(run).alias("session_id"),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


_SESSION_PATHS_SQL = f"""
WITH g AS (
    SELECT event_id, user_id, ts, event_type,
           epoch_us(ts) // 1000000
               - lag(epoch_us(ts) // 1000000)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
    FROM events
), se AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(sum(CASE WHEN gap IS NULL OR gap > {_SESSION_GAP_S} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
    FROM g
), paths AS (
    SELECT user_id, session_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM se GROUP BY user_id, session_id
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 20
"""


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: for each
    (from, to) pair of consecutive events per user, the count and the
    conditional probability P(to | from). One lag window (shared
    (user_id, ts, event_id) sort — same Exchange as sessionization), one
    small agg, and the normalizing row-sum is a window over the ≤|types|²
    matrix, not the corpus. The behavioral-model baseline next to
    ``session_paths_topk``'s exact paths."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    total = F.sum("n_transitions").over(Window.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        pround(F.col("n_transitions") / total.cast("double"), 6).alias("p"),
    )


_TRANSITION_SQL = f"""
WITH pairs AS (
    SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
           event_type AS to_type
    FROM events
), counts AS (
    SELECT from_type, to_type, count(*) AS n_transitions
    FROM pairs WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       {pround_sql('n_transitions / CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)', 6)} AS p
FROM counts
"""


def q_user_series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity between users: Pearson correlation of their
    hourly activity-value series, top-20 most-correlated pairs (the
    distributed-similarity-search family — EDBT'19 streaming-similarity
    theme — expressed relationally).

    Determinism: values are compared in exact cents, so every pairwise
    accumulator (n, Σx, Σy, Σxy, Σx², Σy²) is an INTEGER sum — no float
    addition order anywhere until the single closed-form division at the
    end, which both engines evaluate identically. Pairs need ≥ 8
    overlapping hours and nonzero variance on both sides.

    Scale shape: the hour bucket is the blocking key — users only pair up
    within hours where both were active, so the join is an equi-join on
    hour with per-hour fan-out (never a global cross join), followed by
    one hash aggregate on (user_a, user_b) with map-side partials and a
    TakeOrderedAndProject top-k."""
    ev = read_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("h", F.date_trunc("hour", F.col("ts")))
        .groupBy("user_id", "h")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
        # Explicit parallelism on the blocking key: the hourly aggregate is
        # a few MB, so AQE coalesces it to one partition — and the per-hour
        # pair fan-out below then runs on a single task (measured 7.4 s;
        # 32-way ≈ 3x). User-specified repartitioning is coalesce-exempt,
        # and the self-join keys on h so this is its only exchange.
        .repartition(default_parallelism(), "h")
    )
    a = hourly.select(
        F.col("user_id").alias("ua"), F.col("h").alias("h"), F.col("cents").alias("xa")
    )
    b = hourly.select(
        F.col("user_id").alias("ub"), F.col("h").alias("h"), F.col("cents").alias("xb")
    )
    joined = a.join(b, "h").filter(F.col("ua") < F.col("ub"))
    acc = joined.groupBy("ua", "ub").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = (n * F.col("sxy") - sx * sy).cast("double")
    vx = (n * F.col("sxx") - sx * sx).cast("double")
    vy = (n * F.col("syy") - sy * sy).cast("double")
    corr = cov / F.sqrt(vx * vy)
    return (
        acc.filter((n >= 8) & (vx > 0) & (vy > 0))
        .select("ua", "ub", n.alias("n_hours"), pround(corr, 6).alias("corr"))
        .orderBy(F.desc("corr"), F.asc("ua"), F.asc("ub"))
        .limit(20)
    )


_USER_CORR_SQL = f"""
WITH hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY user_id, date_trunc('hour', ts)
),
pairs AS (
    SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS n,
           CAST(sum(a.cents) AS BIGINT) AS sx, CAST(sum(b.cents) AS BIGINT) AS sy,
           CAST(sum(a.cents * b.cents) AS BIGINT) AS sxy,
           CAST(sum(a.cents * a.cents) AS BIGINT) AS sxx,
           CAST(sum(b.cents * b.cents) AS BIGINT) AS syy
    FROM hourly a JOIN hourly b ON a.h = b.h AND a.user_id < b.user_id
    GROUP BY a.user_id, b.user_id
),
scored AS (
    SELECT ua, ub, n,
           CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
           CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
           CAST(n * syy - sy * sy AS DOUBLE) AS vy
    FROM pairs
)
SELECT ua, ub, n AS n_hours,
       {pround_sql('cov / sqrt(vx * vy)', 6)} AS corr
FROM scored
WHERE n >= 8 AND vx > 0 AND vy > 0
ORDER BY corr DESC, ua, ub
LIMIT 20
"""


SPECS: list[QuerySpec] = [
    QuerySpec("json_extract", q_json_extract, _JSON_EXTRACT_SQL, ("json",)),
    QuerySpec(
        "user_series_correlation",
        q_user_series_correlation,
        _USER_CORR_SQL,
        ("timeseries", "stats"),
        doc="Top-20 user pairs by Pearson correlation of hourly cents series "
        "(integer accumulators, hour-blocked equi-join)",
    ),
    QuerySpec(
        "sessionize_events",
        q_sessionize_events,
        _SESSIONIZE_SQL,
        ("timeseries", "window"),
        doc="Row-level session ordinals from a 30-min inactivity gap, one Exchange",
    ),
    QuerySpec(
        "session_bounce_rate",
        q_session_bounce_rate,
        _SESSION_BOUNCE_SQL,
        ("timeseries", "window", "agg"),
        doc="Daily share of single-event sessions over the gap-sessionized "
        "stream; first-event day attribution, integer-ratio rate",
    ),
    QuerySpec(
        "session_paths_topk",
        q_session_paths_topk,
        _SESSION_PATHS_SQL,
        ("timeseries", "window", "agg"),
        doc="Top-20 ordered event-type paths per session (funnel discovery)",
    ),
    QuerySpec(
        "event_transition_matrix",
        q_event_transition_matrix,
        _TRANSITION_SQL,
        ("timeseries", "window", "stats"),
        doc="First-order Markov transition counts and P(to|from) over event types",
    ),
    QuerySpec(
        "resample_hourly_ffill",
        q_resample_hourly_ffill,
        _RESAMPLE_SQL,
        ("timeseries", "window", "bench"),
        doc="Hourly grid densification + ignore-nulls forward fill per user",
    ),
    QuerySpec(
        "resample_hourly_interp",
        q_resample_hourly_interp,
        _RESAMPLE_INTERP_SQL,
        ("timeseries", "window"),
        doc="Hourly grid densification + linear interpolation between "
        "surrounding observations per user",
    ),
    QuerySpec("cdc_envelope_parse", q_cdc_envelope, _CDC_ENVELOPE_SQL, ("cdc", "json", "bench")),
    QuerySpec(
        "xml_envelope_extract",
        q_xml_envelope,
        _XML_ENVELOPE_SQL,
        ("xml", "scalar"),
        doc="Spark 4 from_xml typed envelope parse; oracle re-parses the same "
        "document with anchored regexes",
    ),
    QuerySpec("epoch_us_roundtrip", q_epoch_roundtrip, _EPOCH_SQL, ("scalar",)),
    QuerySpec("tumbling_window_agg", q_tumbling_window, _TUMBLING_SQL, ("window", "streaming", "bench")),
    QuerySpec("sliding_window_agg", q_sliding_window, _SLIDING_SQL, ("window", "streaming")),
    QuerySpec("session_window_agg", q_session_window, _SESSION_SQL, ("window", "streaming")),
    QuerySpec("dedup_earliest_event", q_dedup_earliest, _DEDUP_EARLIEST_SQL, ("dedup", "streaming")),
    QuerySpec("late_data_filter", q_late_data_filter, _LATE_DATA_SQL, ("streaming",)),
    QuerySpec("topk_users_by_value", q_topk_users, _TOPK_USERS_SQL, ("agg", "topk")),
    QuerySpec("stream_filter_project", q_stream_filter, _STREAM_FILTER_SQL, ("streaming-live",)),
    QuerySpec(
        "stream_xml_envelope",
        q_stream_xml,
        _XML_ENVELOPE_SQL,
        ("streaming-live", "xml"),
        doc="from_xml under Structured Streaming (append, stateless) — "
        "stream output hash-matches the batch XML oracle",
    ),
    QuerySpec("stream_tumbling_counts", q_stream_tumbling, _STREAM_TUMBLING_SQL, ("streaming-live",)),
    QuerySpec("stream_session_counts", q_stream_session, _SESSION_SQL, ("streaming-live",)),
    QuerySpec(
        "stream_sliding_counts",
        q_stream_sliding,
        _STREAM_SLIDING_SQL,
        ("streaming-live",),
        doc="Live 2h/1h sliding windows (complete mode) — streaming window "
        "matrix: tumbling/sliding/session",
    ),
    QuerySpec("stream_dedup_ids", q_stream_dedup, _STREAM_DEDUP_SQL, ("streaming-live", "dedup")),
    QuerySpec(
        "stream_running_totals",
        q_stream_running_totals,
        _STREAM_RT_SQL,
        ("streaming-live", "stateful"),
    ),
    QuerySpec(
        "stream_stream_join",
        q_stream_stream_join,
        _STREAM_SSJ_SQL,
        ("streaming-live", "join"),
    ),
    QuerySpec(
        "stream_stream_left_join",
        q_stream_stream_left_join,
        _STREAM_SSJ_LEFT_SQL,
        ("streaming-live", "join"),
        doc="Left-outer interval join; unmatched emission pinned to the watermark-eviction cutoff",
    ),
    QuerySpec(
        "stream_stream_full_join",
        q_stream_stream_full_join,
        _STREAM_SSJ_FULL_SQL,
        ("streaming-live", "join"),
        doc="Full-outer interval join; per-side derived state-watermark eviction pinned",
    ),
    QuerySpec(
        "stream_static_join",
        q_stream_static_join,
        _STREAM_STATIC_SQL,
        ("streaming-live", "join"),
    ),
]


# --------------------------------------------------------------------------
# MATCH_RECOGNIZE-style row-pattern detection (from round 9)
# --------------------------------------------------------------------------
#: View, then a click with NO error between, then a purchase with NO error
#: between — the "clean conversion journey" row pattern. Letters are the
#: distinct event-type initials (click/error/purchase/signup/view).
_JOURNEY_PATTERN = "v[^e]*c[^e]*p"


def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-2016 MATCH_RECOGNIZE-style row-pattern detection, which Spark
    has no primitive for: encode each user's time-ordered journey as a
    string of event-type initials and run a regex over it — here "a view,
    then a click with no error between, then a purchase with no error
    between" (the clean-conversion pattern). ONE per-user aggregate is
    the only corpus shuffle; group payload is the user's own history
    (per-user bounded), and the regex runs once per user inside
    whole-stage codegen. Ties at identical timestamps order by event_id —
    deterministic in both engines. Output: per-pattern-match user count
    plus total journey users (the funnel specs' stage semantics, but over
    ARBITRARY regex-expressible sequences)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    journeys = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type)))"
                ", r -> substring(r.event_type, 1, 1))"
            ),
        ).alias("journey")
    )
    return journeys.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.col("journey").rlike(_JOURNEY_PATTERN).cast("long")
        ).alias("n_matched"),
    )


_PATTERN_SQL = f"""
WITH journeys AS (
    SELECT user_id,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS journey
    FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CAST(regexp_matches(journey, '{_JOURNEY_PATTERN}') AS INT))
            AS BIGINT) AS n_matched
FROM journeys
"""




SPECS.append(
    QuerySpec(
        "event_pattern_match",
        q_event_pattern_match,
        _PATTERN_SQL,
        ("timeseries", "funnel", "bench"),
        doc="MATCH_RECOGNIZE-style regex over per-user time-ordered "
        "event-initial journeys; one per-user aggregate",
    )
)
