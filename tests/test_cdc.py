"""CDC envelope parsing + apply semantics (SURVEY §2.10, FIXTURES.md golden
rows: insert op:c, snapshot op:r, update op:u, delete op:d, tombstone,
malformed JSON)."""

import json

from pyspark.sql import functions as F

from projet_data_infrastructure_spark.streaming.cdc import (
    apply_cdc_batch_ooo,
    latest_by_key,
    parse_envelope,
    read_cdc_state,
)
from projet_data_infrastructure_spark.streaming.sinks import drain
from projet_data_infrastructure_spark.streaming.versioned import read_snapshot


def envelope(op, after=None, before=None, ts_ms=1713456790123):
    return json.dumps({"payload": {"before": before, "after": after, "op": op, "ts_ms": ts_ms}})


ROW1 = {
    "id": 1,
    "id_employee": 7,
    "first_name": "Ana",
    "last_name": "B",
    "start_datetime": 1713456789000000,
    "sport_type": "Course à pied",
    "distance": 9500.0,
    "activity_duration": 3420,
    "comment": "Nouveau record personnel !",
}
ROW1_V2 = dict(ROW1, comment="edited", activity_duration=3600)
ROW2 = dict(ROW1, id=2, id_employee=8, comment=None)


def golden_frame(spark):
    values = [
        envelope("c", after=ROW1, ts_ms=1000),
        envelope("r", after=ROW2, ts_ms=1001),
        envelope("u", after=ROW1_V2, before=ROW1, ts_ms=2000),
        envelope("d", before=ROW2, after=None, ts_ms=3000),
        "not json at all {{{",
        envelope("c", after=None),  # tombstone-ish: no row image
    ]
    return spark.createDataFrame([(v,) for v in values], "value string")


def test_parse_envelope_golden(spark):
    parsed = parse_envelope(golden_frame(spark)).orderBy("ts_ms").collect()
    # malformed + imageless rows dropped; c/r/u/d kept
    assert [r["op"] for r in parsed] == ["c", "r", "u", "d"]
    ins = parsed[0]
    assert ins["id"] == 1 and ins["id_employee"] == 7
    # µs-epoch decoded WITH sub-second precision (reference lost it)
    assert ins["start_datetime"].microsecond == 0  # value is whole-second µs
    assert ins["comment"] == "Nouveau record personnel !"
    # delete carries the key from `before`
    assert parsed[3]["id"] == 2


def test_parse_envelope_keeps_unicode(spark):
    row = parse_envelope(golden_frame(spark)).filter(F.col("op") == "c").collect()[0]
    assert row["sport_type"] == "Course à pied"


def test_latest_by_key(spark):
    changes = parse_envelope(golden_frame(spark))
    latest = {r["id"]: r for r in latest_by_key(changes).collect()}
    assert latest[1]["comment"] == "edited"  # update wins over insert
    assert latest[2]["op"] == "d"  # delete wins over snapshot read


def test_streaming_cdc_apply_end_to_end(spark, tmp_path):
    """Full CDC path: envelope stream → foreachBatch(apply) → lake state.

    Mirrors the reference's always-on job (SaveDelta.scala:104-163) but with
    true op-aware apply instead of blind append."""
    src = str(tmp_path / "envelopes")
    target = str(tmp_path / "state")
    golden_frame(spark).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("value string").format("parquet").load(src)

    def handle(batch_df, batch_id):
        apply_cdc_batch_ooo(target, parse_envelope(batch_df))

    drain(
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    rows = {r["id"]: r for r in read_cdc_state(spark, target).collect()}
    assert set(rows) == {1}  # delete applied, update applied
    assert rows[1]["activity_duration"] == 3600


def test_latest_by_key_offset_tiebreak(spark):
    """Equal ts_ms resolves by the source sequence (Kafka offset), not op."""
    raw = spark.createDataFrame(
        [
            (envelope("u", after=dict(ROW1, comment="resurrected"), before=ROW1, ts_ms=7000), 10),
            (envelope("d", before=ROW1, after=None, ts_ms=7000), 11),
        ],
        "value string, offset long",
    )
    changes = parse_envelope(raw)
    assert "_seq" in changes.columns
    latest = {r["id"]: r for r in latest_by_key(changes).collect()}
    # The delete has the later offset: it must win even though 'u' > 'd'
    # in the op-only ordering.
    assert latest[1]["op"] == "d"


def test_streaming_cdc_restart_incremental(spark, tmp_path):
    """Checkpointed restart: a second run with the same checkpoint processes
    ONLY files that arrived after the first run (real file-source offset
    tracking), and the applied state reflects both batches."""
    src = tmp_path / "envelopes"
    src.mkdir()
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema("value string").format("text").load(str(src))

        def handle(batch_df, batch_id):
            parsed = parse_envelope(batch_df)
            if parsed.take(1):
                apply_cdc_batch_ooo(target, parsed)

        drain(
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    (src / "batch1.jsonl").write_text(
        "\n".join([envelope("c", after=ROW1, ts_ms=1000), envelope("c", after=ROW2, ts_ms=1001)])
    )
    run_once()
    assert {r["id"] for r in read_cdc_state(spark, target).collect()} == {1, 2}

    (src / "batch2.jsonl").write_text(
        "\n".join(
            [
                envelope("u", after=ROW1_V2, before=ROW1, ts_ms=2000),
                envelope("d", before=ROW2, after=None, ts_ms=2001),
            ]
        )
    )
    run_once()
    rows = {r["id"]: r for r in read_cdc_state(spark, target).collect()}
    assert set(rows) == {1} and rows[1]["activity_duration"] == 3600
    # Restart with NO new files: no new snapshot version is published
    # (the replayed source yields an empty batch, which we skip applying).
    from projet_data_infrastructure_spark.streaming.versioned import latest_version

    v_before = latest_version(target)
    run_once()
    assert latest_version(target) == v_before


def test_apply_cdc_batch_upsert_delete(spark, tmp_path):
    target = str(tmp_path / "activities")
    changes = parse_envelope(golden_frame(spark))
    apply_cdc_batch_ooo(target, changes)
    state = read_cdc_state(spark, target)
    rows = {r["id"]: r for r in state.collect()}
    assert set(rows) == {1}  # id 2 deleted, id 1 upserted to v2
    assert rows[1]["activity_duration"] == 3600

    # second batch: re-insert id 2, update id 1 again
    batch2 = spark.createDataFrame(
        [
            (envelope("c", after=ROW2, ts_ms=4000),),
            (envelope("u", after=dict(ROW1, comment="v3"), before=ROW1_V2, ts_ms=5000),),
        ],
        "value string",
    )
    apply_cdc_batch_ooo(target, parse_envelope(batch2))
    rows = {r["id"]: r for r in read_cdc_state(spark, target).collect()}
    # time travel: v1 still shows the pre-batch-2 state (its live rows; the
    # stored state keeps delete tombstones)
    v1 = read_snapshot(spark, target, version=1).filter(F.col("op") != "d")
    assert {r["id"] for r in v1.collect()} == {1}
    assert set(rows) == {1, 2}
    assert rows[1]["comment"] == "v3"


def test_parse_envelope_tolerates_schema_drift(spark):
    """Producer-side drift must not break the consumer: unknown payload
    fields are ignored (from_json drops them), fields missing from the JSON
    come back NULL — the declared schema is the contract, as the reference's
    schema SHOULD have been (SaveDelta.scala declared one, then bypassed it)."""
    extra_field = envelope("c", after=dict(ROW1, brand_new_col="surprise"), ts_ms=1000)
    missing_fields = json.dumps(
        {"payload": {"after": {"id": 9, "id_employee": 3}, "op": "c", "ts_ms": 1001}}
    )
    raw = spark.createDataFrame([(extra_field,), (missing_fields,)], "value string")
    rows = {r["id"]: r for r in parse_envelope(raw).collect()}
    assert set(rows) == {1, 9}
    assert rows[1]["comment"] == ROW1["comment"]  # known fields intact
    assert "brand_new_col" not in rows[1].asDict()  # unknown field dropped
    assert rows[9]["sport_type"] is None  # absent field → NULL, row kept
    assert rows[9]["start_datetime"] is None  # µs decode passes NULL through


def test_apply_cdc_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying the SAME micro-batch (foreachBatch retry after a sink
    failure — the at-least-once case) leaves the table state unchanged:
    keep-latest upsert + delete is a natural idempotent reduction, so
    retries are exactly-once-equivalent without a batch-id ledger."""
    target = str(tmp_path / "replay")
    changes = parse_envelope(golden_frame(spark))
    apply_cdc_batch_ooo(target, changes)
    before = sorted(
        tuple(r) for r in read_cdc_state(spark, target).select("id", "comment").collect()
    )
    apply_cdc_batch_ooo(target, changes)  # replay, verbatim
    after = sorted(
        tuple(r) for r in read_cdc_state(spark, target).select("id", "comment").collect()
    )
    assert after == before


def test_apply_cdc_batch_ooo_late_arrivals(spark, tmp_path):
    """Reconciliation-grade out-of-order apply: a change arriving a batch
    LATE must not override a logically-newer change already applied —
    tombstones included: apply_cdc_batch_ooo stores op/ts_ms with the
    state and re-reduces."""
    target = str(tmp_path / "ooo")
    # batch 1: delete id1 @ ts 10, update id2 -> "new" @ ts 20
    b1 = spark.createDataFrame(
        [
            (envelope("d", before=ROW1, ts_ms=10),),
            (envelope("u", after=dict(ROW2, comment="new"), before=ROW2, ts_ms=20),),
        ],
        "value string",
    )
    apply_cdc_batch_ooo(target, parse_envelope(b1))
    # batch 2 (late replay): update id1 @ ts 5, create id2 -> "old" @ ts 15
    b2 = spark.createDataFrame(
        [
            (envelope("u", after=dict(ROW1, comment="late"), before=ROW1, ts_ms=5),),
            (envelope("c", after=dict(ROW2, comment="old"), ts_ms=15),),
        ],
        "value string",
    )
    apply_cdc_batch_ooo(target, parse_envelope(b2))
    rows = {r["id"]: r for r in read_cdc_state(spark, target).collect()}
    assert set(rows) == {2}  # id1 stays deleted despite the late update
    assert rows[2]["comment"] == "new"  # ts 20 beats late ts 15
    assert "op" not in rows[2].asDict() and "ts_ms" not in rows[2].asDict()
    # replaying batch 2 verbatim changes nothing (idempotent reduction)
    apply_cdc_batch_ooo(target, parse_envelope(b2))
    again = {r["id"]: r["comment"] for r in read_cdc_state(spark, target).collect()}
    assert again == {2: "new"}


def test_apply_cdc_batch_ooo_batch_slicing_invariant(spark, tmp_path):
    """Property: the ooo apply's end state equals the order-free reduction
    (latest_by_key over ALL changes, tombstones dropped) for EVERY way the
    change stream is sliced into micro-batches and every delivery order —
    including replays. Deterministic sweep over slicings and orders of an
    8-change / 3-key feed with ts inversions and delete-update races."""
    import itertools

    changes = [
        ("c", dict(ROW1, comment="a1"), None, 10),
        ("u", dict(ROW1, comment="a2"), ROW1, 30),
        ("d", None, ROW1, 20),              # delete OLDER than the last update
        ("c", dict(ROW2, comment="b1"), None, 5),
        ("d", None, ROW2, 40),              # delete NEWER than every b-change
        ("u", dict(ROW2, comment="b2"), ROW2, 35),
        ("c", dict(ROW1, id=3, comment="c1"), None, 50),
        ("u", dict(ROW1, id=3, comment="c2"), dict(ROW1, id=3), 45),
    ]
    envs = [envelope(op, after=a, before=b, ts_ms=ts) for op, a, b, ts in changes]
    # expected: per id, the max-ts change; drop ids whose winner is a delete
    expected = {1: "a2", 3: "c1"}  # id1: u@30 beats d@20; id2: d@40 wins; id3: c@50

    def run(slices):
        target = str(tmp_path / f"t{run.i}")
        run.i += 1
        for sl in slices:
            b = spark.createDataFrame([(envs[i],) for i in sl], "value string")
            apply_cdc_batch_ooo(target, parse_envelope(b))
        rows = {r["id"]: r["comment"] for r in read_cdc_state(spark, target).collect()}
        assert rows == expected, (slices, rows)

    run.i = 0
    idx = list(range(len(envs)))
    cases = [
        [idx],                                   # one batch
        [idx[:4], idx[4:]],                      # two halves
        [idx[4:], idx[:4]],                      # halves REVERSED
        [[i] for i in idx],                      # one change per batch
        [[i] for i in reversed(idx)],            # fully reversed singles
        [idx[::2], idx[1::2]],                   # interleaved slices
        [idx[:4], idx[4:], idx[:4]],             # replay of batch 1
        [list(p) for p in itertools.permutations([0, 2, 1])] + [idx[3:]],
    ]
    for slices in cases:
        run(slices)
