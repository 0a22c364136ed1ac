"""CDC ingestion: Debezium envelope schema, parse, and apply (SURVEY §2.10).

The reference consumed the Debezium topic with per-field ``get_json_object``
and ignored its own declared schema (``/root/reference/spark/SaveDelta.scala:87-95``
vs ``:140-147``), handled only ``payload.after``, and appended — no updates,
no deletes. This module does CDC properly, Spark-first:

* one ``from_json`` with the full envelope schema (before/after/op/ts_ms),
* tombstone + malformed-row policy as explicit filters,
* ``apply_cdc_batch_ooo``: op-aware upsert/delete semantics for
  ``foreachBatch`` — a deterministic keep-latest-by-key fold of each batch
  into a versioned snapshot that keeps tombstones, so late (out-of-order)
  changes cannot override newer ones; ``read_cdc_state`` is its live view.

Scale: parsing is JVM-side json decoding within whole-stage codegen; the
apply step shuffles once on the key (latest-wins reduction), which is the
minimum any CDC-apply can do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from projet_data_infrastructure_spark.streaming import versioned

#: Row payload of the reference's sport_activities stream
#: (SaveDelta.scala:87-95; µs-epoch start_datetime per FIXTURES.md).
ACTIVITY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("id_employee", T.IntegerType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("start_datetime", T.LongType()),  # µs epoch
        T.StructField("sport_type", T.StringType()),
        T.StructField("distance", T.DoubleType()),
        T.StructField("activity_duration", T.IntegerType()),
        T.StructField("comment", T.StringType()),
    ]
)


def envelope_schema(row_schema: T.StructType = ACTIVITY_SCHEMA) -> T.StructType:
    """Full Debezium envelope: payload.{before,after,op,ts_ms}."""
    return T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("before", row_schema),
                        T.StructField("after", row_schema),
                        T.StructField("op", T.StringType()),
                        T.StructField("ts_ms", T.LongType()),
                    ]
                ),
            )
        ]
    )


def parse_envelope(
    raw: DataFrame,
    value_col: str = "value",
    row_schema: T.StructType = ACTIVITY_SCHEMA,
    decode_micros: tuple[str, ...] = ("start_datetime",),
) -> DataFrame:
    """Kafka record value (JSON string) → typed change rows.

    Output: one column per payload field, plus ``op`` and ``ts_ms``.
    Tombstones (null after for op != 'd') and malformed JSON (null payload)
    are dropped, mirroring the reference's ``id IS NOT NULL`` filter
    (SaveDelta.scala:149) — but delete events are KEPT (op='d' carries its
    key in ``before``).
    """
    # Carry the source's monotonic sequence (Kafka `offset`) through as
    # `_seq` so latest_by_key can break equal-ts_ms ties deterministically.
    # Inputs without an offset column (file replay, tests) keep the original
    # schema — `_seq` is only added when the source provides one.
    extra = [F.col("offset").cast("long").alias("_seq")] if "offset" in raw.columns else []
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), envelope_schema(row_schema)).alias("j"),
        *extra,
    ).select("j.payload.*", *(["_seq"] if extra else []))
    # For deletes the row image lives in `before`; otherwise in `after`.
    img = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    tail = ["op", "ts_ms"] + (["_seq"] if extra else [])
    out = parsed.select(img.alias("row"), *tail).filter(F.col("row.id").isNotNull())
    cols = [F.col(f"row.{f.name}").alias(f.name) for f in row_schema.fields]
    out = out.select(*cols, *tail)
    for c in decode_micros:
        # µs-epoch → timestamp; the reference's from_unixtime(x/1e6) dropped
        # sub-second precision (SaveDelta.scala:143) — timestamp_micros keeps it.
        out = out.withColumn(c, F.timestamp_micros(F.col(c)))
    return out


def latest_by_key(changes: DataFrame, key: str = "id") -> DataFrame:
    """Keep the last change per key — one shuffle.

    Order: ts_ms, then the source sequence ``_seq`` (Kafka offset, when
    :func:`parse_envelope` saw one) which makes equal-millisecond batches
    deterministic, then op as a documented last resort (update beats delete
    only when the source provides no sequence at all)."""
    from pyspark.sql.window import Window

    order = [F.desc("ts_ms")]
    if "_seq" in changes.columns:
        order.append(F.desc("_seq"))
    order.append(F.desc("op"))
    w = Window.partitionBy(key).orderBy(*order)
    return changes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def apply_cdc_batch_ooo(target_path: str, changes: DataFrame, key: str = "id") -> None:
    """Op-aware, out-of-order-safe CDC apply for ``foreachBatch``.

    Real CDC feeds (multi-partition Kafka topics, backfills, replayed
    windows) interleave — an update with ``ts_ms=5`` can arrive a batch
    AFTER the delete with ``ts_ms=10`` it logically precedes, so a
    last-batch-wins apply would resurrect stale rows. This apply keeps the
    change metadata (``op``/``ts_ms``/``_seq``) — including DELETE
    TOMBSTONES — inside the stored state and folds each batch into it with
    :func:`latest_by_key` (``versioned.fold_snapshot``), so the end state
    is the per-key argmax over (ts_ms, _seq, op) of every change ever seen,
    independent of how changes were sliced into batches. On an in-order
    feed that is the plain upsert/delete end state. Read the user-facing
    table with :func:`read_cdc_state`, which drops tombstones and metadata.

    Scale: one keyed shuffle per batch over |state| + |batch| rows — the
    same asymptotics as any snapshot-based merge; with Delta installed the
    equivalent is a MERGE whose condition compares ``s.ts_ms >= t.ts_ms``
    (tombstones retained as flagged rows, vacuumed by retention).
    """
    versioned.fold_snapshot(changes, target_path, lambda rows: latest_by_key(rows, key))


def read_cdc_state(spark, target_path: str) -> DataFrame:
    """User-facing view of an :func:`apply_cdc_batch_ooo` table: live rows
    only (tombstones filtered), change metadata dropped."""
    state = versioned.read_snapshot(spark, target_path)
    meta = [c for c in ("op", "ts_ms", "_seq") if c in state.columns]
    return state.filter(F.col("op") != "d").drop(*meta)
