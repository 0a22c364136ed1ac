"""Semantics tests for the round-9 specs: strict N-step funnel state
machine, streaming incremental dedup batch-split invariance, Mann-Whitney
vs a hand computation, Spearman on constructed monotone data, and the
journey-pattern regex."""

import math

import pyspark.sql.functions as F
import pytest

import projet_data_infrastructure_spark.plans.corpus_lm as cl
import projet_data_infrastructure_spark.plans.events_queries as evq
import projet_data_infrastructure_spark.plans.stats_inference as si
import projet_data_infrastructure_spark.plans.streaming_parity as spar
import projet_data_infrastructure_spark.plans.timeseries as tsm
from projet_data_infrastructure_spark.streaming.sinks import drain

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- N-step funnel state machine

_THREE = ("view", "click", "purchase")
_TWO = ("view", "purchase")


def _run_funnel(spark, rows, steps):
    from projet_data_infrastructure_spark.streaming.stateful import funnel_state

    src = spark.createDataFrame(
        rows, "user_id BIGINT, ts_us BIGINT, event_type STRING"
    )
    # availableNow single-batch replay through a memory stream is overkill
    # for a unit test; drive the update function through a one-batch stream.
    import tempfile

    work = tempfile.mkdtemp(prefix="funnel_unit_")
    src.coalesce(1).write.parquet(f"{work}/in")
    stream = spark.readStream.schema(src.schema).format("parquet").load(f"{work}/in")
    drain(
        funnel_state(stream, steps)
        .writeStream.outputMode("update")
        .queryName(f"funnel_unit_{len(steps)}")
        .trigger(availableNow=True)
        .format("memory")
        .start()
    )
    return {
        r.user_id: tuple(r[f"first_{step}_us"] for step in steps)
        for r in spark.table(f"funnel_unit_{len(steps)}").collect()
    }


@pytest.mark.parametrize(
    "steps, expected",
    [
        (
            _THREE,
            {1: (10, 20, 30), 2: (30, None, None), 3: (10, 20, None), 4: (10, 10, 10)},
        ),
        (_TWO, {1: (10, 30), 2: (30, None), 3: (10, 15), 4: (10, 10)}),
    ],
    ids=["three_step", "two_step"],
)
def test_funnel_strict_sequencing(spark, steps, expected):
    out = _run_funnel(
        spark,
        [
            # user 1: clean v(10) -> c(20) -> p(30)
            (1, 10, "view"),
            (1, 20, "click"),
            (1, 30, "purchase"),
            # user 2: click BEFORE the first view must not count; the
            # purchase precedes the view (and any qualifying click) so it
            # must not count.
            (2, 20, "click"),
            (2, 25, "purchase"),
            (2, 30, "view"),
            # user 3: with the click step, a purchase between view and
            # click must not count (strict order: purchase at-or-after the
            # click); without it the purchase follows the view and counts.
            (3, 10, "view"),
            (3, 15, "purchase"),
            (3, 20, "click"),
            # user 4: equal timestamps qualify (at-or-after semantics).
            (4, 10, "view"),
            (4, 10, "click"),
            (4, 10, "purchase"),
            # user 5: no view -> no emission at all.
            (5, 10, "click"),
        ],
        steps,
    )
    assert out == expected


def test_funnel_state_carries_across_batches(spark):
    # The per-step timestamps must survive a state round-trip: view, click
    # and purchase arrive in three availableNow runs over one checkpoint,
    # and each run sees only its own event — the click and the purchase can
    # qualify only through the restored earlier steps.
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet_data_infrastructure_spark.streaming.stateful import funnel_state

    base = tempfile.mkdtemp(prefix="funnelstate_")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)

    def run_batch(user_id, ts_us, event_type, fname):
        # One flat file per batch: the file source discovers files under the
        # monitored dir, not the part-file dirs df.write.parquet creates.
        tbl = pa.table(
            {
                "user_id": pa.array([user_id], pa.int64()),
                "ts_us": pa.array([ts_us], pa.int64()),
                "event_type": pa.array([event_type], pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(src, fname))
        stream = spark.readStream.schema(
            "user_id BIGINT, ts_us BIGINT, event_type STRING"
        ).parquet(src)
        collected = []
        # memory sink cannot recover from a checkpoint; foreachBatch can.
        drain(
            funnel_state(stream, _THREE)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda df, _id: collected.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        return [
            (r.user_id, r.first_view_us, r.first_click_us, r.first_purchase_us)
            for r in collected
        ]

    assert run_batch(7, 10, "view", "b1.parquet") == [(7, 10, None, None)]
    assert run_batch(7, 20, "click", "b2.parquet") == [(7, 10, 20, None)]
    assert run_batch(7, 30, "purchase", "b3.parquet") == [(7, 10, 20, 30)]


def test_stream_funnel3_equals_batch(spark):
    stream_row = spar.q_stream_funnel_three_step(spark, SF).first()
    import projet_data_infrastructure_spark.plans.advanced as r8

    batch_row = r8.q_funnel_three_step(spark, SF).first()
    assert stream_row.asDict() == batch_row.asDict()


# ------------------------------------- streaming incremental dedup


def test_stream_incremental_dedup_batch_split_invariant(spark, monkeypatch):
    # The accumulated foreachBatch result must not depend on HOW the new
    # docs are split into micro-batches: force a multi-file source with
    # maxFilesPerTrigger=1 and compare against the batch spec.
    import tempfile

    import projet_data_infrastructure_spark.plans.corpus_lm as r8

    batch = {
        r.new_doc: (r.matched_index_doc, r.jac_micro, r.n_matches)
        for r in r8.q_incremental_index_dedup(spark, SF).collect()
    }

    from projet_data_infrastructure_spark.plans.corpus_lm import (
        doc_token_sets,
        jaccard_best_match,
        minhash_band_rows,
    )
    from projet_data_infrastructure_spark.sources.readers import read_table_balanced

    docs = read_table_balanced(spark, SF, "documents")
    new_docs = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    index_docs = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    idx_bands = minhash_band_rows(index_docs).select(
        F.col("doc_id").alias("index_doc"), "band", "key"
    ).localCheckpoint(eager=True)
    idx_toks = doc_token_sets(index_docs).localCheckpoint(eager=True)

    work = tempfile.mkdtemp(prefix="incrdedup_split_")
    src = f"{work}/new_docs"
    # two files -> two micro-batches under maxFilesPerTrigger=1
    new_docs.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    new_docs.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(new_docs.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    out_dir = f"{work}/matches"
    batch_ids = []

    def handle(batch_df, batch_id):
        batch_ids.append(batch_id)
        batch_bands = minhash_band_rows(batch_df).select(
            F.col("doc_id").alias("new_doc"), "band", "key"
        )
        cand = (
            batch_bands.join(idx_bands, ["band", "key"])
            .select("new_doc", "index_doc")
            .distinct()
        )
        jaccard_best_match(cand, doc_token_sets(batch_df), idx_toks).write.mode(
            "append"
        ).parquet(out_dir)

    drain(
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    assert len(batch_ids) >= 2  # genuinely split
    streamed = {
        r.new_doc: (r.matched_index_doc, r.jac_micro, r.n_matches)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch


# --------------------------------------------------- Mann-Whitney U


def test_mann_whitney_hand_fixture(spark, monkeypatch):
    # arm 1 values {1,3}, arm 0 values {2,2}: ranks 1,(2.5,2.5),4
    # R1 = 1 + 4 = 5; U1 = 5 - 2*3/2 = 2; mu = 2; z = 0 / sigma = 0.
    rows = [
        (1, "purchase", 1.0),
        (2, "purchase", 2.0),
        (3, "purchase", 2.0),
        (4, "purchase", 3.0),
    ]
    df = spark.createDataFrame(rows, "event_id BIGINT, event_type STRING, value DOUBLE")
    from projet_data_infrastructure_spark.functions.hashing import hash64

    arms = {
        r.event_id: r.arm
        for r in df.select(
            "event_id", F.pmod(hash64(F.col("event_id")), F.lit(2)).alias("arm")
        ).collect()
    }
    # reassign values so arm-1 gets {1,3}: pick any two ids of arm 1
    ones = [eid for eid, a in arms.items() if a == 1]
    zeros = [eid for eid, a in arms.items() if a == 0]
    if len(ones) != 2:
        # rebuild with ids chosen to split 2/2 (hash is fixed, so search)
        cands = list(range(1, 50))
        ones = [e for e in cands if _arm_of(spark, e) == 1][:2]
        zeros = [e for e in cands if _arm_of(spark, e) == 0][:2]
    rows = [
        (ones[0], "purchase", 1.0),
        (ones[1], "purchase", 3.0),
        (zeros[0], "purchase", 2.0),
        (zeros[1], "purchase", 2.0),
    ]
    fixture = spark.createDataFrame(
        rows, "event_id BIGINT, event_type STRING, value DOUBLE"
    )
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: fixture)
    out = si.q_mann_whitney_u(spark, SF).first()
    assert (out.n1, out.n2) == (2, 2)
    assert out.u1_r == 2.0
    assert out.z_r == 0.0


def _arm_of(spark, eid: int) -> int:
    from projet_data_infrastructure_spark.functions.hashing import hash64

    return (
        spark.range(eid, eid + 1)
        .select(F.pmod(hash64(F.col("id")), F.lit(2)).alias("a"))
        .first()
        .a
    )


def test_mann_whitney_z_magnitude_sane(spark):
    out = si.q_mann_whitney_u(spark, SF).first()
    # arms are a deterministic fair coin over a symmetric null -> |z| small
    assert out.n1 + out.n2 > 100
    assert abs(out.z_r) < 5.0
    assert not math.isnan(out.z_r)


# ------------------------------------------------------- Spearman


def test_spearman_monotone_fixture(spark, monkeypatch):
    rows = [(float(q), float(100 + 7 * q) + 0.25) for q in range(1, 21)]
    df = spark.createDataFrame(rows, "l_quantity DOUBLE, l_extendedprice DOUBLE")
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: df)
    out = si.q_spearman_corr_qty_price(spark, SF).first()
    assert out.n == 20
    assert out.rho_r == 1.0

    anti = spark.createDataFrame(
        [(float(q), float(1000 - 7 * q) + 0.25) for q in range(1, 21)],
        "l_quantity DOUBLE, l_extendedprice DOUBLE",
    )
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: anti)
    out2 = si.q_spearman_corr_qty_price(spark, SF).first()
    assert out2.rho_r == -1.0


def test_spearman_ties_average_ranks(spark, monkeypatch):
    # all-equal prices -> zero variance in one variable -> rho undefined
    # (NaN division); constructed HALF-tied data instead: ranks still
    # correlate positively but strictly below 1.
    rows = [(1.0, 10.2), (2.0, 10.2), (3.0, 20.7), (4.0, 20.7)]
    df = spark.createDataFrame(rows, "l_quantity DOUBLE, l_extendedprice DOUBLE")
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: df)
    out = si.q_spearman_corr_qty_price(spark, SF).first()
    assert 0.5 < out.rho_r < 1.0


# ------------------------------------------------- journey pattern


def test_event_pattern_fixture(spark, monkeypatch):
    rows = [
        # user 1: v c p -> match
        (1, 1, 10, "view"),
        (1, 2, 20, "click"),
        (1, 3, 30, "purchase"),
        # user 2: v e c p -> error between view and click -> NO match
        (2, 4, 10, "view"),
        (2, 5, 15, "error"),
        (2, 6, 20, "click"),
        (2, 7, 30, "purchase"),
        # user 3: v c e p -> error between click and purchase -> NO match
        (3, 8, 10, "view"),
        (3, 9, 20, "click"),
        (3, 10, 25, "error"),
        (3, 11, 30, "purchase"),
        # user 4: e v s c s p -> signups are allowed, error is before the
        # view -> match
        (4, 12, 5, "error"),
        (4, 13, 10, "view"),
        (4, 14, 15, "signup"),
        (4, 15, 20, "click"),
        (4, 16, 25, "signup"),
        (4, 17, 30, "purchase"),
        # user 5: p c v (reversed) -> NO match
        (5, 18, 10, "purchase"),
        (5, 19, 20, "click"),
        (5, 20, 30, "view"),
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, event_id BIGINT, ts BIGINT, event_type STRING"
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    monkeypatch.setattr(evq, "read_table", lambda sp, sf, name: df)
    out = evq.q_event_pattern_match(spark, SF).first()
    assert out.n_users == 5
    assert out.n_matched == 2


# --------------------------------------------------- round-9 stats pack


def _pure_python_kw(values_by_arm):
    # plain-Python tie-corrected Kruskal-Wallis for the fixture
    all_vals = sorted(v for vs in values_by_arm.values() for v in vs)
    n = len(all_vals)
    # average ranks with ties
    from collections import Counter

    cnt = Counter(all_vals)
    rank = {}
    cum = 0
    for v in sorted(cnt):
        t = cnt[v]
        rank[v] = (2 * (cum + t) - t + 1) / 2
        cum += t
    h = 0.0
    for vs in values_by_arm.values():
        rg = sum(rank[v] for v in vs)
        h += rg * rg / len(vs)
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    tie3 = sum(t**3 - t for t in cnt.values())
    return h / (1 - tie3 / (n**3 - n))


def test_kruskal_wallis_fixture(spark, monkeypatch):
    from projet_data_infrastructure_spark.functions.hashing import hash64

    # find event ids per arm under the real hash coin
    ids = {0: [], 1: [], 2: []}
    for r in (
        spark.range(1, 200)
        .select("id", F.pmod(hash64(F.col("id")), F.lit(3)).alias("a"))
        .collect()
    ):
        ids[r.a].append(r.id)
    arm_vals = {0: [1.0, 2.0, 2.0], 1: [3.0, 4.0, 4.0], 2: [2.0, 5.0, 6.0]}
    rows = []
    for g, vals in arm_vals.items():
        for eid, v in zip(ids[g], vals):
            rows.append((eid, "purchase", v))
    df = spark.createDataFrame(rows, "event_id BIGINT, event_type STRING, value DOUBLE")
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: df)
    out = si.q_kruskal_wallis_h(spark, SF).first()
    expected = _pure_python_kw({g: [int(v) for v in vs] for g, vs in arm_vals.items()})
    assert out.n == 9 and out.df == 2
    assert abs(out.h_r - expected) < 1e-6


def test_welch_t_fixture(spark, monkeypatch):
    from projet_data_infrastructure_spark.functions.hashing import hash64

    ids = {0: [], 1: []}
    for r in (
        spark.range(1, 200)
        .select("id", F.pmod(hash64(F.col("id")), F.lit(2)).alias("a"))
        .collect()
    ):
        ids[r.a].append(r.id)
    arm_vals = {0: [1.00, 2.00, 3.00, 4.00], 1: [2.00, 4.00, 6.00]}
    rows = [
        (eid, "purchase", v)
        for g, vals in arm_vals.items()
        for eid, v in zip(ids[g], vals)
    ]
    df = spark.createDataFrame(rows, "event_id BIGINT, event_type STRING, value DOUBLE")
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: df)
    out = si.q_welch_t_test(spark, SF).first()
    # plain-Python Welch on cents
    a = [100, 200, 300, 400]
    b = [200, 400, 600]
    import statistics

    va, vb = statistics.variance(a), statistics.variance(b)
    se2 = va / 4 + vb / 3
    t = (statistics.mean(a) - statistics.mean(b)) / se2**0.5
    dfw = se2**2 / ((va / 4) ** 2 / 3 + (vb / 3) ** 2 / 2)
    assert (out.n0, out.n1) == (4, 3)
    assert abs(out.t_r - t) < 1e-5
    assert abs(out.df_r - dfw) < 1e-3


def test_cramers_v_bounds(spark, monkeypatch):
    # perfectly independent grid -> V == 0; perfectly associated -> V == 1
    import datetime

    base = datetime.datetime(2024, 1, 1)  # a Monday (isodow 1)
    indep = []
    eid = 0
    for d in range(2):
        for t in ("view", "click"):
            for _ in range(10):
                indep.append((t, base + datetime.timedelta(days=d)))
                eid += 1
    df = spark.createDataFrame(indep, "event_type STRING, ts TIMESTAMP")
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: df)
    out = si.q_cramers_v(spark, SF).first()
    assert out.chi2_r == 0.0 and out.v_r == 0.0

    assoc = [("view", base)] * 10 + [("click", base + datetime.timedelta(days=1))] * 10
    df2 = spark.createDataFrame(assoc, "event_type STRING, ts TIMESTAMP")
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: df2)
    out2 = si.q_cramers_v(spark, SF).first()
    assert out2.v_r == 1.0


def test_cohens_kappa_bounds(spark, monkeypatch):
    import projet_data_infrastructure_spark.plans.llm_queries as llm

    perfect = spark.createDataFrame(
        [(i, "en", "en") for i in range(10)] + [(i, "fr", "fr") for i in range(10, 20)],
        "doc_id BIGINT, lang_labeled STRING, lang_pred STRING",
    )
    monkeypatch.setattr(llm, "q_lang_id", lambda sp, sf: perfect)
    out = si.q_cohens_kappa(spark, SF).first()
    assert out.kappa_r == 1.0 and out.agree == 20

    # agreement exactly at chance level -> kappa == 0
    chance = spark.createDataFrame(
        [(i, lab, pred) for i, (lab, pred) in enumerate(
            [("en", "en"), ("en", "fr"), ("fr", "en"), ("fr", "fr")] * 5
        )],
        "doc_id BIGINT, lang_labeled STRING, lang_pred STRING",
    )
    monkeypatch.setattr(llm, "q_lang_id", lambda sp, sf: chance)
    out2 = si.q_cohens_kappa(spark, SF).first()
    assert out2.kappa_r == 0.0


# ------------------------------------------------- Kendall tau-b


def test_kendall_tau_b_fixture(spark, monkeypatch):
    # small fixture with ties in both variables, vs the O(n^2) definition
    pts = [(1, 10), (1, 20), (2, 20), (3, 15), (3, 30), (4, 5), (5, 30)]
    conc = disc = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            dq = pts[i][0] - pts[j][0]
            du = pts[i][1] - pts[j][1]
            if dq * du > 0:
                conc += 1
            elif dq * du < 0:
                disc += 1
    n = len(pts)
    from collections import Counter

    n1 = sum(t * (t - 1) // 2 for t in Counter(q for q, _ in pts).values())
    n2 = sum(t * (t - 1) // 2 for t in Counter(u for _, u in pts).values())
    n0 = n * (n - 1) / 2
    expected = (conc - disc) / ((n0 - n1) * (n0 - n2)) ** 0.5

    df = spark.createDataFrame(
        [(float(q), float(u) + 0.4) for q, u in pts],
        "l_quantity DOUBLE, l_extendedprice DOUBLE",
    )
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: df)
    out = si.q_kendall_tau_b(spark, SF).first()
    assert out.n == n and out.conc == conc and out.disc == disc
    assert abs(out.tau_b_r - expected) < 1e-6


def test_kendall_tau_b_perfect_monotone(spark, monkeypatch):
    df = spark.createDataFrame(
        [(float(q), float(100 + 3 * q) + 0.2) for q in range(1, 31)],
        "l_quantity DOUBLE, l_extendedprice DOUBLE",
    )
    monkeypatch.setattr(si, "read_table", lambda sp, sf, name: df)
    out = si.q_kendall_tau_b(spark, SF).first()
    assert out.disc == 0
    assert out.tau_b_r == 1.0


# ------------------------------------------------- normal SF + BH


def test_zelen_severo_matches_erfc(spark):
    import math

    from projet_data_infrastructure_spark.functions.stats import two_sided_p_sql

    zs = [0.0, 0.5, 1.0, 1.96, 2.5, 3.2, -1.5]
    df = spark.createDataFrame([(z,) for z in zs], "z DOUBLE")
    got = {r.z: r.p for r in df.selectExpr("z", f"{two_sided_p_sql('z')} AS p").collect()}
    for z in zs:
        exact = math.erfc(abs(z) / math.sqrt(2.0))
        assert abs(got[z] - exact) < 2e-7, z


def test_bh_step_up_fixture(spark, monkeypatch):
    # Known p-vector via crafted counts is brittle; instead verify the BH
    # invariants on the real output: rejections form a prefix of the
    # p-ranked list, and every rejected p <= rank*alpha/m while the first
    # non-rejected beyond the cut fails its own threshold ONLY IF no later
    # rank passes (step-up semantics).
    rows = si.q_bh_fdr_nation_urgency(spark, SF).collect()
    m = len(rows)
    byrank = sorted(rows, key=lambda r: r.p_rank)
    rejected = [r.p_rank for r in byrank if r.bh_reject]
    if rejected:
        cut = max(rejected)
        assert sorted(rejected) == list(range(1, cut + 1))  # prefix property
        cut_row = next(r for r in byrank if r.p_rank == cut)
        assert cut_row.p_r * m <= cut * 0.10 + 1e-9
    for r in byrank:
        if not r.bh_reject:
            # no rank beyond the cut may satisfy its threshold
            later_pass = [
                s
                for s in byrank
                if s.p_rank >= r.p_rank and s.p_r * m <= s.p_rank * 0.10 + 1e-12
            ]
            assert not later_pass or max(x.p_rank for x in later_pass) <= max(
                rejected or [0]
            )


# --------------------------------- watermark-bounded streaming dedup


def test_dedup_within_watermark_evicts_state(spark, tmp_path):
    # THE semantic difference vs plain dropDuplicates: once the event-time
    # watermark passes a key's expiry (first-seen ts + delay), its dedup
    # state is EVICTED, so a same-key redelivery with a fresh (non-late)
    # timestamp is emitted AGAIN — bounded state trades forever-dedup for
    # survivability. Batch 0: key 1 @ t0 plus a t+3h row advancing the
    # watermark to 2h; batch 1: a dummy row (end-of-batch cleanup evicts
    # key 1, expiry 1h < watermark 2h); batch 2: key 1 redelivered @ 2.5h
    # (not late) -> emitted a second time. Plain dropDuplicates would
    # suppress it forever.
    import datetime as _dt
    import glob
    import os
    import time

    import pyarrow.parquet as pq

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING"
    t0 = _dt.datetime(2024, 1, 1, 0, 0, 0)
    t3h = _dt.datetime(2024, 1, 1, 3, 0, 0)
    t25 = _dt.datetime(2024, 1, 1, 2, 30, 0)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, t0, 10, "view"), (2, t3h, 11, "view")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(3, t3h, 12, "view")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([(1, t25, 10, "view")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    now = time.time()
    for f in glob.glob(f"{src}/part-*.parquet"):
        ids = set(pq.read_table(f, columns=["event_id"])["event_id"].to_pylist())
        age = 180 if ids == {1, 2} else (120 if ids == {3} else 60)
        os.utime(f, (now - age, now - age))
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    drain(
        stream.writeStream.outputMode("append")
        .queryName("dedup_wm_unit")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .format("memory")
        .start()
    )
    counts = {}
    for r in spark.table("dedup_wm_unit").collect():
        counts[r.event_id] = counts.get(r.event_id, 0) + 1
    assert counts.get(2) == 1 and counts.get(3) == 1
    assert counts.get(1) == 2, counts  # state evicted -> re-emitted


def test_dedup_within_watermark_suppresses_in_window(spark, tmp_path):
    # duplicates arriving while the key is still within the watermark ARE
    # suppressed (both copies in one batch here).
    import datetime as _dt

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING"
    b = spark.createDataFrame(
        [
            (1, _dt.datetime(2024, 1, 1, 0, 0, 0), 10, "view"),
            (1, _dt.datetime(2024, 1, 1, 0, 10, 0), 10, "view"),
        ],
        schema,
    )
    src = str(tmp_path / "src")
    b.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    drain(
        stream.writeStream.outputMode("append")
        .queryName("dedup_wm_unit2")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .format("memory")
        .start()
    )
    assert spark.table("dedup_wm_unit2").count() == 1


# ------------------------------------------------- TextRank


def test_textrank_fixture_matches_pure_python(spark, monkeypatch):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta"),
            (2, "beta gamma beta gamma delta"),
            (3, "alpha beta alpha beta gamma"),
        ],
        "doc_id BIGINT, text STRING",
    )
    monkeypatch.setattr(cl, "read_table", lambda sp, sf, name: docs)
    out = {r.word: r.tr_micro for r in cl.q_textrank_keywords(spark, SF).collect()}

    # pure-Python replica: window +/-2 pairs, canonicalized, wt >= 2,
    # integer fixed-point walk
    from collections import Counter, defaultdict

    pair_counts = Counter()
    for _, text in [(1, "alpha beta gamma alpha beta"),
                    (2, "beta gamma beta gamma delta"),
                    (3, "alpha beta alpha beta gamma")]:
        ws = text.split()
        for i, w in enumerate(ws):
            for d in (1, 2):
                if i + d < len(ws) and ws[i + d] != w:
                    a, b = sorted((w, ws[i + d]))
                    pair_counts[(a, b)] += 1
    edges = defaultdict(list)
    for (a, b), wt in pair_counts.items():
        if wt >= 2:
            edges[a].append((b, wt))
            edges[b].append((a, wt))
    wdeg = {v: sum(w for _, w in es) for v, es in edges.items()}
    r = {v: 1_000_000 for v in edges}
    for _ in range(3):
        inc = {v: 0 for v in edges}
        for v, es in edges.items():
            for u, wt in es:
                inc[u] += (r[v] * wt) // wdeg[v]
        r = {v: 150000 + (85 * inc[v]) // 100 for v in edges}
    assert out == dict(sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:20])


def test_textrank_hub_ranks_first(spark, monkeypatch):
    # a star graph: the hub co-occurs with every spoke, spokes only with
    # the hub -> the hub must carry the top score
    docs = spark.createDataFrame(
        [(i, f"hub spoke{i} hub spoke{i}") for i in range(1, 7)],
        "doc_id BIGINT, text STRING",
    )
    monkeypatch.setattr(cl, "read_table", lambda sp, sf, name: docs)
    rows = cl.q_textrank_keywords(spark, SF).collect()
    assert rows[0].word == "hub"
    assert all(rows[0].tr_micro >= x.tr_micro for x in rows[1:])


# ------------------------------------------------- PACF


def test_pacf_matches_pure_python(spark, monkeypatch):
    import datetime as _dt

    # deterministic pseudo-AR series on a complete day grid
    base = _dt.datetime(2024, 1, 1)
    vals = []
    x = 100.0
    for t in range(60):
        x = 50.0 + 0.6 * x + ((t * 37) % 11 - 5)  # bounded deterministic noise
        vals.append((base + _dt.timedelta(days=t), round(x, 2)))
    df = spark.createDataFrame(vals, "ts TIMESTAMP, value DOUBLE")
    monkeypatch.setattr(tsm, "read_table", lambda sp, sf, name: df)
    out = tsm.q_pacf_durbin_levinson(spark, SF).first()

    ys = [float(int(v * 100 + 0.5)) for _, v in vals]  # cents as double
    n = len(ys)
    m = sum(ys) / n
    d0 = sum((v - m) ** 2 for v in ys)
    r = {k: sum((ys[i] - m) * (ys[i - k] - m) for i in range(k, n)) / d0 for k in range(1, 5)}
    phi = {(1, 1): r[1]}
    for k in range(2, 5):
        num = r[k] - sum(phi[(k - 1, j)] * r[k - j] for j in range(1, k))
        den = 1.0 - sum(phi[(k - 1, j)] * r[j] for j in range(1, k))
        phi[(k, k)] = num / den
        for j in range(1, k):
            phi[(k, j)] = phi[(k - 1, j)] - phi[(k, k)] * phi[(k - 1, k - j)]
    assert out.n_days == 60
    for k in range(1, 5):
        assert abs(out[f"pacf{k}_r"] - phi[(k, k)]) < 1e-6, k
    # AR(1)-ish: pacf1 strong, pacf2+ small
    assert out.pacf1_r > 0.3
    assert abs(out.pacf2_r) < abs(out.pacf1_r)


# ------------------------------------------------- McNemar


def test_mcnemar_fixture(spark, monkeypatch):
    import projet_data_infrastructure_spark.plans.learning as learning
    import projet_data_infrastructure_spark.plans.llm_queries as llm

    # 10 paired docs: heuristic right on 1-6 (b-candidates), NB right on
    # 5-8; discordant: heur-only {1,2,3,4}, nb-only {7,8} -> b=4, c=2
    heur = spark.createDataFrame(
        [(i, "en", "en" if i <= 6 else "fr") for i in range(1, 11)],
        "doc_id BIGINT, lang_labeled STRING, lang_pred STRING",
    )
    nb = spark.createDataFrame(
        [(i, "en", "en" if 5 <= i <= 8 else "fr") for i in range(1, 11)],
        "doc_id BIGINT, true_lang STRING, pred STRING",
    )
    monkeypatch.setattr(llm, "q_lang_id", lambda sp, sf: heur)
    monkeypatch.setattr(learning, "nb_predictions", lambda sp, sf: nb)
    out = si.q_mcnemar_lang_classifiers(spark, SF).first()
    assert out.n == 10
    assert out.heur_only_right == 4 and out.nb_only_right == 2
    # chi2 = (4-2)^2/6
    assert abs(out.chi2_r - 4.0 / 6.0) < 1e-6  # pround 6
    import math

    z = 2.0 / math.sqrt(6.0)
    assert abs(out.p_r - math.erfc(z / math.sqrt(2.0))) < 2e-7


def test_nb_confusion_unchanged_by_refactor(spark):
    # the confusion-matrix spec must be byte-identical to grouping the
    # factored per-doc predictions
    import projet_data_infrastructure_spark.plans.learning as learning

    conf = {
        (r.lang, r.pred_lang): r.n_docs
        for r in learning.q_naive_bayes_lang(spark, SF).collect()
    }
    pred = learning.nb_predictions(spark, SF).collect()
    from collections import Counter

    re_grouped = Counter((r.true_lang, r.pred) for r in pred)
    assert conf == dict(re_grouped)
