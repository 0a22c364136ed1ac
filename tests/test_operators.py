"""Batch operator units: transforms, joins, aggregates, dedup, similarity,
text, multimodal — crafted inputs with known answers."""

from pyspark.sql import functions as F

from projet_data_infrastructure_spark.operators import dedup, similarity
from projet_data_infrastructure_spark.operators.aggregates import column_profile, top_k
from projet_data_infrastructure_spark.operators.joins import fk_violation_count
from projet_data_infrastructure_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synthetic_assets,
)
from projet_data_infrastructure_spark.operators.text import fingerprint, predict_lang, tokens
from projet_data_infrastructure_spark.operators.transforms import align_key_type, mask_columns


def test_mask_columns_role_gated(spark):
    df = spark.createDataFrame([(1, "Ana", 50000)], "id int, name string, salary int")
    masked = mask_columns(df, ["name"], role="bi")
    assert masked.collect()[0]["name"] is None
    assert masked.collect()[0]["salary"] == 50000
    clear = mask_columns(df, ["name"], role="analyst")
    assert clear.collect()[0]["name"] == "Ana"


def test_align_key_type(spark):
    a = spark.createDataFrame([(1,)], "id_employee string")
    b = spark.createDataFrame([(1,)], "id_employee int")
    aligned = align_key_type(a, "id_employee", b)
    assert dict(aligned.dtypes)["id_employee"] == "int"


def test_fk_violation_count(spark):
    fact = spark.createDataFrame([(1,), (2,), (99,)], "k int")
    dim = spark.createDataFrame([(1,), (2,)], "k int")
    assert fk_violation_count(fact, dim, "k") == 1


def test_top_k_deterministic_ties(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",), ("b",), ("c",)], "g string")
    rows = top_k(df, "g", k=2).collect()
    assert [(r["g"], r["cnt"]) for r in rows] == [("a", 2), ("b", 2)]


def test_column_profile(spark):
    df = spark.createDataFrame([(1, None), (2, 5.0), (3, -1.0)], "a int, b double")
    row = column_profile(df, ["b"]).collect()[0]
    assert row["n_rows"] == 3 and row["b_nulls"] == 1
    assert row["b_min"] == -1.0 and row["b_max"] == 5.0


def test_exact_dedup_finds_planted_dups(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "HELLO  world"), (4, "unique")],
        "doc_id long, text string",
    )
    groups = {r["keeper_id"]: r["n_docs"] for r in dedup.exact_dedup_groups(df).collect()}
    assert groups[1] == 2  # raw-text dup
    kept = {r["doc_id"] for r in dedup.exact_dedup_keep(df).collect()}
    # normalized dedup collapses whitespace but NOT case-insensitive raw md5;
    # normalize() lowercases → doc 3 also collapses into doc 1's cluster
    assert kept == {1, 4}


def test_minhash_identical_docs_pair(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words entirely here today")],
        "doc_id long, text string",
    )
    sig = dedup.minhash_signatures(df)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(sig).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "spark query engine with columnar storage and fast joins"),
            (2, "spark query engine with columnar storage and fast join"),
            (3, "totally unrelated cooking recipe involving onions butter"),
        ],
        "doc_id long, text string",
    )
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash32(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


def test_jaccard_bounds(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")], "doc_id long, text string"
    )
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard_raw"] for r in
            dedup.ngram_jaccard_pairs(df).collect()}
    assert rows[(1, 2)] == 1.0
    assert (1, 3) not in rows or rows[(1, 3)] == 0.0  # no shared tokens → no join row


def test_cosine_topk_self_similarity(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<float>",
    )
    q = df.filter("vec_id = 0").select(F.col("embedding").alias("qvec"))
    rows = similarity.brute_force_topk(df.filter("vec_id != 0"), q, k=3).collect()
    assert rows[0]["vec_id"] == 1 and rows[0]["sim"] == 1.0
    assert rows[-1]["vec_id"] == 2 and abs(rows[-1]["sim"]) < 1e-9


def test_pandas_cosine_matches_jvm_path(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qrow = emb.filter("vec_id = 0").collect()[0]["embedding"]
    jvm = similarity.brute_force_topk(
        emb.filter("vec_id != 0"),
        emb.filter("vec_id = 0").select(F.col("embedding").alias("qvec")),
        k=10,
    ).collect()
    pnd = similarity.cosine_topk_pandas(emb.filter("vec_id != 0"), list(qrow), k=10).collect()
    assert [(r["vec_id"], r["sim"]) for r in jvm] == [(r["vec_id"], r["sim"]) for r in pnd]


def test_ivf_assign_buckets(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1]), (3, [0.1, 0.9])],
        "vec_id long, embedding array<float>",
    )
    assign = {r["vec_id"]: r["centroid_id"] for r in
              similarity.ivf_assign(df, n_centroids=2).collect()}
    assert assign[2] == 0 and assign[3] == 1


def test_derived_n_centroids_grows_with_table():
    # The registered bucketed near-dup derives C ≈ √N (floor 8) so the query
    # keeps its sub-quadratic shape at any scale factor instead of pinning
    # the sf0.01 constant.
    d = similarity.derived_n_centroids
    assert d(0) == 8 and d(64) == 8  # floor dominates small tables
    assert d(500) == 22  # sf0.01 embeddings
    assert d(1_000_000) == 1_000
    assert d(4 * 10**12) == 2 * 10**6  # 100 TB-ish row counts keep scaling
    assert d(10_000, floor=16) == 100


def test_text_tokens_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "  Hello   world "), (2, "hello world")], "doc_id long, text string"
    )
    out = df.select("doc_id", fingerprint(F.col("text")).alias("fp"),
                    F.size(tokens(F.col("text"))).alias("n")).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["fp"] == by_id[2]["fp"]  # whitespace/case-invariant
    assert by_id[1]["n"] == 2


def test_predict_lang_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "le chat et la maison est les"),
            (3, "der hund und die katze ist nicht"),
            (4, "zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["p"] for r in
           df.select("doc_id", predict_lang(tokens(F.col("text"))).alias("p")).collect()}
    assert out[1] == "en" and out[2] == "fr" and out[3] == "de" and out[4] == "und"


def test_multimodal_features_and_sampling(spark):
    assets = synthetic_assets(spark, n=30)
    feats = extract_features(assets)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(r["n_bytes"] > 0 and r["width"] is not None for r in rows)
    assert all(len(r["feature"]) == 8 for r in rows)
    # deterministic: same input → same features
    again = {r["asset_id"]: r["feature"] for r in extract_features(assets).collect()}
    assert all(again[r["asset_id"]] == r["feature"] for r in rows)
    sampled = frame_sample_plan(assets, every_nth=5)
    assert sampled.count() == 6  # 10 per type → every 5th → 2 per type × 3


def test_approx_quantiles_within_tolerance(spark):
    # The banded-oracle spec attests each engine's own sketch lands within
    # ±2% of the exact nearest-rank quantiles — assert the Spark-side flags
    # hold and the exact reference is sane (positive, monotone).
    from projet_data_infrastructure_spark.plans.extras import q_approx_quantiles

    row = q_approx_quantiles(spark, "/root/testdata/sf0.001").first()
    exacts = [row[f"p{q}_exact_usd"] for q in (25, 50, 75, 95)]
    assert all(v > 0 for v in exacts)
    assert exacts == sorted(exacts)
    for q in (25, 50, 75, 95):
        assert row[f"p{q}_within_2pct"] is True, q


def test_approx_distinct_banded(spark):
    from projet_data_infrastructure_spark.plans.extras import q_approx_distinct

    row = q_approx_distinct(spark, "/root/testdata/sf0.001").first()
    assert row["exact_customers"] > 0
    assert row["est_within_5pct"] is True


def test_multimodal_size_histogram_contract(spark):
    # The oracled spec's DuckDB side reproduces the stub decoder via
    # ascii(substr(text, ...)): valid ONLY while the corpus is pure ASCII
    # and non-empty. Pin that precondition and the histogram's totals.
    from projet_data_infrastructure_spark.plans.extras import q_multimodal_size_hist
    from projet_data_infrastructure_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    bad = docs.filter(
        (F.length("text") == 0)
        | (F.length(F.encode(F.col("text"), "utf-8")) != F.length("text"))
    ).count()
    assert bad == 0  # ASCII + non-empty: the cross-engine width/height math holds
    hist = q_multimodal_size_hist(spark, "/root/testdata/sf0.001").collect()
    assert sum(r["n_assets"] for r in hist) == docs.count()
    assert all(r["min_bytes"] > 0 and r["sum_width"] > 0 for r in hist)


def test_multimodal_bad_payload_survives(spark):
    df = spark.createDataFrame(
        [(1, "image/png", bytearray(b"ok")), (2, "image/png", None)],
        "asset_id long, media_type string, content binary",
    )
    rows = {r["asset_id"]: r for r in extract_features(df).collect()}
    assert rows[1]["width"] is not None
    assert rows[2]["width"] is None  # empty payload → NULL dims, no crash


def test_stratified_sample_partition_invariant(spark):
    # The hash draw must select the SAME rows regardless of physical layout
    # (df.sample would not) — the property that makes corpus downsampling
    # reproducible across cluster sizes.
    from projet_data_infrastructure_spark.operators.text import stratified_sample_hash
    from projet_data_infrastructure_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    rates = {"en": 0.3, "fr": 1.0}
    a = {r.doc_id for r in stratified_sample_hash(docs, "lang", rates).collect()}
    b = {
        r.doc_id
        for r in stratified_sample_hash(docs.repartition(17), "lang", rates).collect()
    }
    assert a == b
    # all French docs kept, English roughly 30%
    n_fr = docs.filter("lang = 'fr'").count()
    kept_fr = docs.filter("lang = 'fr'").join(
        spark.createDataFrame([(i,) for i in a], "doc_id long"), "doc_id"
    ).count()
    assert kept_fr == n_fr


def test_partition_by_size_class_spreads_assets(spark):
    from projet_data_infrastructure_spark.operators.multimodal import (
        extract_features,
        partition_by_size_class,
        synthetic_assets,
    )

    assets = synthetic_assets(spark, n=96)
    classed = partition_by_size_class(assets, n_partitions_per_class=4)
    assert "size_class" in classed.columns
    # all synthetic payloads are tiny → one class, still spread over tasks
    per_part = classed.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert len(per_part) > 1  # not collapsed into a single partition
    # plumbing unchanged downstream: decode still yields one row per asset
    assert extract_features(classed).count() == 96


def test_trained_ivf_recall_floor(spark):
    # The k-means-trained centroids must drop into the same assign/probe
    # algebra and deliver usable ANN recall: for each probe query, top-5 by
    # bucketed search vs brute-force ground truth.
    from projet_data_infrastructure_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign_to,
        ivf_train_centroids,
    )
    from projet_data_infrastructure_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_train_centroids(emb, n_centroids=4)
    assign = ivf_assign_to(emb, cents)
    assign_map = {r.vec_id: r.centroid_id for r in assign.collect()}

    hits = total = 0
    for qid in (0, 17, 33):
        qvec = emb.filter(F.col("vec_id") == qid).select(F.col("embedding").alias("qvec"))
        truth = {
            r.vec_id
            for r in brute_force_topk(
                emb.filter(F.col("vec_id") != qid), qvec, k=5
            ).collect()
        }
        bucket = assign_map[qid]
        cand_ids = [v for v, c in assign_map.items() if c == bucket and v != qid]
        cands = emb.filter(F.col("vec_id").isin(cand_ids))
        got = {r.vec_id for r in brute_force_topk(cands, qvec, k=5).collect()}
        hits += len(truth & got)
        total += len(truth)
    # single-probe IVF trades recall for C× less work; trained centroids
    # should still find a solid share of the true neighbors
    assert hits / total >= 0.4, f"recall {hits}/{total}"


def test_multiprobe_full_probe_equals_bruteforce(spark):
    """nprobe = C probes every bucket, so IVF search must return exactly the
    brute-force top-k; nprobe=1 must equal brute force restricted to the
    query's own ``ivf_assign`` bucket, and the ``ivf_topk_multiprobe`` spec
    (nprobe=3) brute force restricted to the query's 3 nearest buckets,
    ranked here in Python."""
    from projet_data_infrastructure_spark.operators import similarity
    from projet_data_infrastructure_spark.plans.llm_queries import q_ivf_topk_multiprobe
    from projet_data_infrastructure_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    full = similarity.ivf_topk(emb, query_id=0, k=5, n_centroids=8, nprobe=8)
    qvec = emb.filter("vec_id = 0").selectExpr("embedding AS qvec")
    brute = similarity.brute_force_topk(emb.filter("vec_id != 0"), qvec, k=5)
    assert [tuple(r) for r in full.collect()] == [tuple(r) for r in brute.collect()]

    assign = {r.vec_id: r.centroid_id for r in similarity.ivf_assign(emb, 8).collect()}

    def in_buckets(buckets):
        ids = [v for v, c in assign.items() if c in buckets and v != 0]
        cands = emb.filter(F.col("vec_id").isin(ids))
        return [tuple(r) for r in similarity.brute_force_topk(cands, qvec, k=5).collect()]

    one = similarity.ivf_topk(emb, query_id=0, k=5, n_centroids=8, nprobe=1)
    assert [tuple(r) for r in one.collect()] == in_buckets({assign[0]})
    cents = similarity.seed_vectors(emb, 8)
    q = dict(cents)[0]
    nearest3 = {
        cid
        for _, cid in sorted(
            (sum((x - y) ** 2 for x, y in zip(q, c)), cid) for cid, c in cents
        )[:3]
    }
    three = q_ivf_topk_multiprobe(spark, SF_SMOKE)
    assert [tuple(r) for r in three.collect()] == in_buckets(nearest3)


def test_resize_assets_aspect_and_bounds(spark):
    """Resize targets preserve aspect ratio, never exceed max_side, never
    upscale; empty payloads yield NULL dims, not task failure."""
    from projet_data_infrastructure_spark.operators.multimodal import (
        resize_assets,
        synthetic_assets,
    )
    from pyspark.sql import functions as F

    assets = synthetic_assets(spark, n=32).union(
        spark.createDataFrame([(999, "image/png", None)],
                              "asset_id long, media_type string, content binary")
    )
    out = resize_assets(assets, max_side=32).collect()
    by_id = {r.asset_id: r for r in out}
    assert by_id[999].width is None and by_id[999].resized is None
    for r in out:
        if r.asset_id == 999:
            continue
        assert max(r.target_w, r.target_h) <= 32
        assert r.target_w <= r.width and r.target_h <= r.height
        # aspect preserved within rounding
        assert abs(r.target_w / r.target_h - r.width / r.height) < 0.2
        assert r.resized is not None


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

_EMB = "/root/testdata/sf0.001/embeddings.parquet"


def test_pq_encode_shape_and_determinism(spark):
    emb = spark.read.parquet(_EMB)
    enc = similarity.pq_encode(emb).collect()
    assert len(enc) == emb.count()
    for r in enc[:20]:
        parts = r["pq_code"].split(",")
        assert len(parts) == 8
        assert all(0 <= int(p) < 16 for p in parts)
    # Partition-invariant: the code is a pure function of the vector.
    enc2 = {
        r["vec_id"]: r["pq_code"]
        for r in similarity.pq_encode(emb.repartition(7)).collect()
    }
    assert {r["vec_id"]: r["pq_code"] for r in enc} == enc2


def test_pq_encode_plan_is_map_side(spark):
    # Encode must be a pure projection over the scan: no Exchange, no join.
    emb = spark.read.parquet(_EMB)
    plan = similarity.pq_encode(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pq_adc_recall_vs_exact_l2(spark):
    # ADC distances are approximations; the point is that the top-k they
    # induce overlaps heavily with the exact-L2 top-k. Deterministic data,
    # deterministic floor.
    emb = spark.read.parquet(_EMB)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    qlit = F.expr("array(" + ",".join(repr(x) for x in q) + ")")
    exact = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") != 0)
        .select("vec_id", similarity.l2_sq(F.col("embedding"), qlit).alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]
    # Seed (non-trained) codebooks on near-isotropic synthetic vectors are
    # the recall floor — production drops k-means sub-codebooks into the
    # same algebra. Deterministic data: measured 4/10 @k=10, 7/10 @k=30.
    approx10 = [r["vec_id"] for r in similarity.pq_adc_topk(emb, query_id=0, k=10).collect()]
    assert len(set(exact) & set(approx10)) >= 4
    approx30 = [r["vec_id"] for r in similarity.pq_adc_topk(emb, query_id=0, k=30).collect()]
    assert len(set(exact) & set(approx30)) >= 6


def test_mixture_resample_rebalances_toward_uniform(spark):
    from projet_data_infrastructure_spark.operators.text import mixture_resample_hash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    before = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = mixture_resample_hash(docs, "source", seed=11)
    after = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # The rarest class is kept whole (rate 1.0).
    rarest = min(before, key=lambda s: (before[s], s))
    assert after[rarest] == before[rarest]
    # Spread shrinks toward uniform: max/min ratio strictly improves.
    ratio_before = max(before.values()) / min(before.values())
    ratio_after = max(after.values()) / min(after.values())
    assert ratio_after <= ratio_before
    # Deterministic under repartitioning.
    out2 = {r["doc_id"] for r in mixture_resample_hash(docs.repartition(5), "source", seed=11).select("doc_id").collect()}
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == out2


def test_ivfpq_degenerates_to_bruteforce(spark):
    # nprobe=C and shortlist>=N disable both refinement cuts; the result
    # must be EXACTLY the brute-force cosine top-k — the invariant that
    # makes (nprobe, shortlist) honest recall/latency knobs.
    emb = spark.read.parquet(_EMB)
    n = emb.count()
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    exact = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), qvec, k=5
    ).collect()
    full = similarity.ivfpq_topk(
        emb, query_id=0, k=5, n_centroids=8, nprobe=8, shortlist=n
    ).collect()
    assert [(r["vec_id"], r["sim"]) for r in exact] == [
        (r["vec_id"], r["sim"]) for r in full
    ]


def test_trained_pq_cuts_quantization_error(spark):
    # Per-query recall is too noisy to compare codebooks on one probe; the
    # robust invariant is the objective k-means actually minimizes — total
    # quantization error (sum over rows/subspaces of the vector-to-assigned-
    # codeword distance ADC accumulates). Measured: seed 376.2 vs trained
    # 270.1 on sf0.001; require a >=10% cut so a regression to seed-level
    # codebooks fails loudly.
    from projet_data_infrastructure_spark.operators.similarity import centroid_argmin_col

    emb = spark.read.parquet(_EMB)

    def qerr(books):
        d = len(books[0][0][1])
        terms = [
            centroid_argmin_col(b, F.slice(F.col("embedding"), m * d + 1, d))["dist"]
            for m, b in enumerate(books)
        ]
        tot = terms[0]
        for t in terms[1:]:
            tot = tot + t
        return emb.agg(F.sum(tot)).collect()[0][0]

    seed_err = qerr(similarity.pq_codebooks(emb))
    trained_err = qerr(similarity.pq_train_codebooks(emb))
    assert trained_err <= 0.9 * seed_err, (trained_err, seed_err)


def test_greedy_pack_capacity_and_determinism(spark):
    from projet_data_infrastructure_spark.functions.hashing import hash64
    from projet_data_infrastructure_spark.operators.text import greedy_pack, tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with_n = docs.select(
        F.pmod(hash64(F.col("doc_id"), seed=5), F.lit(8)).alias("shard"),
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    out = greedy_pack(with_n, cap=256).collect()
    assert len(out) == docs.count()
    # Every window respects the capacity unless it holds a single over-long doc.
    sums: dict[tuple, int] = {}
    counts: dict[tuple, int] = {}
    for r in out:
        key = (r["shard"], r["pack_id"])
        sums[key] = sums.get(key, 0) + r["n_tokens"]
        counts[key] = counts.get(key, 0) + 1
    for key, s in sums.items():
        assert s <= 256 or counts[key] == 1, (key, s, counts[key])
    # Deterministic under input repartitioning (the fold orders by doc_id).
    again = {
        (r["shard"], r["doc_id"]): r["pack_id"]
        for r in greedy_pack(with_n.repartition(13), cap=256).collect()
    }
    assert {(r["shard"], r["doc_id"]): r["pack_id"] for r in out} == again


def test_pq_adc_plan_take_ordered_no_python(spark):
    # ADC top-k must plan as a scan -> projection -> TakeOrderedAndProject
    # (per-partition heap of k): no Python evaluation anywhere, no global
    # sort. The codebook lookups are literal array indexing.
    emb = spark.read.parquet(_EMB)
    plan = (
        similarity.pq_adc_topk(emb, query_id=0, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan  # Batch/ArrowEvalPython both


def test_ivfpq_residual_degenerates_to_bruteforce(spark):
    # Same knob-honesty invariant as ivfpq_topk, for the residual-encoded
    # form: nprobe=C + shortlist>=N disables both cuts -> exact top-k.
    emb = spark.read.parquet(_EMB)
    n = emb.count()
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    exact = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), qvec, k=5
    ).collect()
    full = similarity.ivfpq_residual_topk(
        emb, query_id=0, k=5, n_centroids=8, nprobe=8, shortlist=n
    ).collect()
    assert [(r["vec_id"], r["sim"]) for r in exact] == [
        (r["vec_id"], r["sim"]) for r in full
    ]


def test_residual_adc_beats_raw_adc_quantization(spark):
    # The reason residual encoding exists: quantizing v - centroid(v) with
    # the same code budget leaves less error than quantizing raw v. Compare
    # total ADC-able quantization error (residual-codebook distances of each
    # vector's assigned codes) between the two forms via their shortlists:
    # the residual form's top-40 ADC shortlist must recall at least as many
    # of the exact top-5 as the raw form's on this corpus.
    emb = spark.read.parquet(_EMB)
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    exact = {
        r["vec_id"]
        for r in similarity.brute_force_topk(
            emb.filter(F.col("vec_id") != 0), qvec, k=5
        ).collect()
    }
    raw = {
        r["vec_id"]
        for r in similarity.ivfpq_topk(
            emb, query_id=0, k=5, n_centroids=8, nprobe=8, shortlist=40
        ).collect()
    }
    res = {
        r["vec_id"]
        for r in similarity.ivfpq_residual_topk(
            emb, query_id=0, k=5, n_centroids=8, nprobe=8, shortlist=40
        ).collect()
    }
    assert len(res & exact) >= len(raw & exact)


def test_salted_join_matches_plain_join_and_plans_salted_smj(spark):
    from projet_data_infrastructure_spark.operators.scale import salted_join

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    plain = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "c_mktsegment")
        .collect()
    )
    salted = salted_join(
        orders, cust.hint("merge"), "o_custkey", "c_custkey", n_salts=4
    )
    got = salted.select("o_orderkey", "c_mktsegment").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, plain))
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "_salt" in plan


def test_starstar_cc_matches_minlabel_cc_on_random_graphs(spark):
    """Large-star/small-star CC and min-label CC must produce IDENTICAL
    (node -> min reachable id) labelings — on chainy graphs (worst case for
    propagation), random sparse graphs, and graphs with isolated edges."""
    import random

    from projet_data_infrastructure_spark.operators.dedup import (
        duplicate_clusters,
        duplicate_clusters_starstar,
    )

    cases = []
    # long chain — maximal diameter
    cases.append([(i, i + 1) for i in range(40)])
    # random sparse graph
    rng = random.Random(11)
    cases.append([(rng.randrange(60), rng.randrange(60)) for _ in range(50)])
    # disjoint pairs + a triangle
    cases.append([(100, 101), (102, 103), (1, 2), (2, 3), (3, 1)])
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        a = {(r.doc_id, r.component) for r in duplicate_clusters(df).collect()}
        b = {(r.doc_id, r.component) for r in duplicate_clusters_starstar(df).collect()}
        assert a == b, (sorted(a - b)[:5], sorted(b - a)[:5])


def test_starstar_cc_empty_input(spark):
    from projet_data_infrastructure_spark.operators.dedup import (
        duplicate_clusters_starstar,
    )

    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert duplicate_clusters_starstar(df).count() == 0


def test_sq8_codes_in_range_and_reconstruction_bounded(spark):
    # Affine 8-bit quantization invariants: every code lands in [0, 255]
    # with the extremes actually reached (x == min -> 0, x == max -> 255),
    # and per-dimension reconstruction error is at most half a quantization
    # step (span/255/2) plus float dust.
    emb = spark.read.parquet(_EMB)
    mins, spans = similarity.sq8_bounds(emb)
    codes = similarity.sq8_code_col("embedding", mins, spans)
    half = [sp / 255.0 / 2.0 for sp in spans]

    def recon(i):
        return F.lit(mins[i]) + F.element_at(codes, i + 1).cast("double") * F.lit(
            spans[i]
        ) / F.lit(255.0)

    err = F.greatest(
        *[
            F.abs(F.element_at("embedding", i + 1).cast("double") - recon(i))
            - F.lit(half[i])
            for i in range(len(mins))
        ]
    )
    worst = emb.agg(F.max(err)).collect()[0][0]
    assert worst <= 1e-9, worst
    flat = emb.select(F.explode(codes).alias("c")).agg(
        F.min("c").alias("lo"), F.max("c").alias("hi")
    ).collect()[0]
    assert (flat["lo"], flat["hi"]) == (0, 255)


def test_sq8_adc_recall_vs_exact_l2(spark):
    # SQ8 is the near-exact compression tier (4x, vs PQ's 32x): its ADC
    # top-10 must recover >= 8 of the exact L2 top-10. Measured: 9/10 with
    # the top-7 in exact order on sf0.001.
    emb = spark.read.parquet(_EMB)
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qvec))
        .select("vec_id", similarity.l2_sq("embedding", "qvec").alias("d"))
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(10)
        .collect()
    )
    got = similarity.sq8_adc_topk(emb, query_id=0, k=10).collect()
    overlap = {r["vec_id"] for r in exact} & {r["vec_id"] for r in got}
    assert len(overlap) >= 8, sorted(overlap)


def test_sq8_plans_map_side_no_exchange_no_python(spark):
    # Bounds are literals, so encode is a pure projection (zero Exchange)
    # and ADC top-k is projection -> TakeOrderedAndProject — never a join,
    # a global sort, or a Python eval.
    emb = spark.read.parquet(_EMB)
    bounds = similarity.sq8_bounds(emb)
    enc_plan = (
        similarity.sq8_encode(emb, bounds=bounds)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in enc_plan
    assert "EvalPython" not in enc_plan
    topk_plan = (
        similarity.sq8_adc_topk(emb, query_id=0, k=10, bounds=bounds)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in topk_plan
    assert "EvalPython" not in topk_plan
    assert "SortMergeJoin" not in topk_plan and "BroadcastHashJoin" not in topk_plan


def test_semdedup_prune_planted_clusters(spark):
    # Two planted clusters (centroids = vec 0/1). With tau=0.99 the duplicate
    # pairs are (0,2),(2,3) in cluster A and (1,4),(4,5) in cluster B; the
    # domination rule keeps the member farthest from the shared centroid, so
    # the chain ends (3 and 5) survive, everything nearer is pruned, and a
    # vector with no near-dup neighbor never appears in the output.
    emb = spark.createDataFrame(
        [
            (0, [10.0, 0.0]),   # centroid A
            (1, [0.0, 10.0]),   # centroid B
            (2, [9.0, 1.0]),    # A: dup of 0 (cos .9938) and 3 (cos .9910)
            (3, [8.0, 2.0]),    # A: dup of 2 only (cos(0,3)=.9701 < tau)
            (4, [1.0, 9.0]),    # B: mirror of 2
            (5, [2.0, 8.0]),    # B: mirror of 3
        ],
        "vec_id int, embedding array<float>",
    )
    rows = {
        r.vec_id: (r.centroid_id, r.n_dups, r.keep)
        for r in similarity.semdedup_prune(
            emb, threshold=0.99, n_centroids=2
        ).collect()
    }
    assert rows == {
        0: (0, 1, 0),  # nearer to centroid than its dup 2 -> pruned
        2: (0, 2, 0),  # dominated by 3 (farther out)
        3: (0, 1, 1),  # farthest of its group -> kept
        1: (1, 1, 0),
        4: (1, 2, 0),
        5: (1, 1, 1),
    }


def test_remove_duplicated_spans_crafted(spark):
    # Planted cross-doc 5-gram "a b c d e" is removed from both carriers;
    # a <5-word doc is untouched; an exact duplicate pair is fully erased;
    # a WITHIN-doc repeat that no other doc shares survives (the gate is
    # distinct-document count, not raw occurrence count).
    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z"),
            (2, "q r a b c d e s"),
            (3, "short doc only"),
            (4, "u v w x1 y1"),
            (5, "u v w x1 y1"),
            (6, "m n o p q2 m n o p q2"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: (r.n_words, r.n_removed, r.kept_text)
        for r in dedup.remove_duplicated_spans(docs, n=5, min_docs=2).collect()
    }
    assert rows == {
        1: (8, 5, "x y z"),
        2: (8, 5, "q r s"),
        3: (3, 0, "short doc only"),
        4: (5, 5, ""),
        5: (5, 5, ""),
        6: (10, 0, "m n o p q2 m n o p q2"),
    }


def test_ivf_assign_broadcast_form_matches_literal(spark, monkeypatch):
    # The size-switched large-C assignment (broadcast centroid table +
    # runtime array_min) must produce row-identical output to the
    # literal-inline form — same distances, same (dist, cid) tie-break —
    # so the LITERAL_CENTROID_MAX switch can never change an answer.
    from projet_data_infrastructure_spark.operators.similarity import ivf_assign_to
    from projet_data_infrastructure_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    lit_rows = sorted(
        ivf_assign_to(emb, cents).collect(), key=lambda r: r.vec_id
    )
    monkeypatch.setattr(similarity, "LITERAL_CENTROID_MAX", 0)
    bc_rows = sorted(ivf_assign_to(emb, cents).collect(), key=lambda r: r.vec_id)
    assert len(lit_rows) == len(bc_rows) > 0
    for a, b in zip(lit_rows, bc_rows):
        assert (a.vec_id, a.centroid_id, a.dist) == (b.vec_id, b.centroid_id, b.dist)


def _lloyd_reference(points: dict[int, list[int]], k: int, rounds: int):
    """Plain-Python integer Lloyd's: seeds = ids 0..k-1, argmin on (dist,
    cluster), Python // floor-means, an empty cluster keeps its centroid."""

    def nearest(p, cents):
        return min((sum((a - b) ** 2 for a, b in zip(p, c)), i) for i, c in enumerate(cents))

    cents = [points[i] for i in range(k)]
    sizes_per_round = []
    for _ in range(rounds):
        members: dict[int, list[list[int]]] = {}
        for p in points.values():
            members.setdefault(nearest(p, cents)[1], []).append(p)
        sizes_per_round.append([len(members.get(i, [])) for i in range(k)])
        cents = [
            [sum(col) // len(col) for col in zip(*members[i])] if i in members else cents[i]
            for i in range(k)
        ]
    final = {vid: nearest(p, cents) for vid, p in points.items()}
    return cents, sizes_per_round, final


def test_int_lloyd_matches_python_reference(spark):
    # Seed 2 duplicates seed 0, so every round-1 distance to it ties with
    # cluster 0 and the lower id wins: cluster 2 is empty in round 1 and
    # must keep its centroid. vec_id 3 is equidistant (65) from all three
    # seeds. Cluster 0's sums are negative and inexact (-18/4, -15/4, -1/2),
    # where truncating division would differ from the floor-mean.
    from projet_data_infrastructure_spark.operators.similarity import (
        int_centroid_argmin_col,
        int_lloyd_centroids,
    )

    points = {
        0: [-3, -7],
        1: [4, 2],
        2: [-3, -7],
        3: [-4, 1],
        4: [-8, -2],
        5: [6, 5],
        6: [5, -1],
    }
    want, sizes, want_final = _lloyd_reference(points, k=3, rounds=2)
    assert sizes[0][2] == 0  # the fixture really empties cluster 2 in round 1
    q = spark.createDataFrame(list(points.items()), "vec_id int, q array<bigint>")
    got = int_lloyd_centroids(q, k=3, rounds=2)
    assert got == want == [[-6, -1], [5, 2], [-3, -7]]
    pick = int_centroid_argmin_col(got)
    final = {
        r.vec_id: (r.dist, r.cl)
        for r in q.select("vec_id", pick["dist"].alias("dist"), pick["cl"].alias("cl")).collect()
    }
    assert final == want_final


def test_portable_l2_is_bit_identical_to_plan_distance(spark):
    # Every ADC table and probed-bucket choice is computed on the driver by
    # _portable_l2 and compared against distances the executors compute
    # with pround(l2_sq(...), 6); the two must agree to the last bit.
    from projet_data_infrastructure_spark.operators.similarity import (
        _portable_l2,
        l2_sq,
        seed_vectors,
    )
    from projet_data_infrastructure_spark.plans._portable import pround
    from projet_data_infrastructure_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cents = seed_vectors(emb, 8)
    cdf = spark.createDataFrame(cents, "cid int, cvec array<double>")
    rows = (
        emb.crossJoin(cdf)
        .select("embedding", "cvec", pround(l2_sq("embedding", "cvec"), 6).alias("d"))
        .collect()
    )
    assert len(rows) == 8 * emb.count()
    mismatches = [
        r.d for r in rows if _portable_l2([float(x) for x in r.embedding], r.cvec) != r.d
    ]
    assert mismatches == []


def test_multimodal_phash_neardup_complete_vs_bruteforce(spark):
    """Pigeonhole completeness: band-blocked pairs == quadratic ground truth
    for hamming <= 1 byte on the 8-byte perceptual code (sf0.001 docs)."""
    import pyarrow.parquet as pq

    from projet_data_infrastructure_spark.plans.extras import (
        q_multimodal_phash_neardup,
    )

    sf = "/root/testdata/sf0.001"
    df = q_multimodal_phash_neardup(spark, sf)
    # the code table is checkpointed so the 8 join branches share ONE Arrow
    # decode pass; the final plan therefore reads the checkpointed blocks...
    assert "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()
    # ...and the decode stage those blocks came from is the REAL mapInPandas
    # path (asserted on the pre-checkpoint lineage), not a SQL shortcut
    from pyspark.sql import functions as F

    from projet_data_infrastructure_spark.operators.multimodal import (
        extract_features,
    )

    assets = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image/png").alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    feats_plan = (
        extract_features(assets)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in feats_plan
    got = {(r.asset_a, r.asset_b): r.n_diff_bytes for r in df.collect()}

    t = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "text"])
    codes = {
        d: tuple(text.encode("utf-8")[:8])
        for d, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
        if len(text.encode("utf-8")) >= 8
    }
    want = {}
    ids = sorted(codes)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            nd = sum(x != y for x, y in zip(codes[a], codes[b]))
            if nd <= 1:
                want[(a, b)] = nd
    assert got == want
    assert len(want) > 0


def test_carry_forward_fixture(spark):
    from projet_data_infrastructure_spark.operators.asof import carry_forward

    df = spark.createDataFrame(
        [
            # key, seq, val
            (1, 1, None),
            (1, 2, "a"),
            (1, 3, None),
            (1, 4, "b"),
            (1, 5, None),
            (2, 1, None),
        ],
        "k INT, seq INT, val STRING",
    )
    fwd = {
        (r["k"], r["seq"]): r["c"]
        for r in carry_forward(df, "k", ("seq",), {"c": "val"}).collect()
    }
    assert fwd[(1, 1)] is None
    assert fwd[(1, 2)] == "a"
    assert fwd[(1, 3)] == "a"
    assert fwd[(1, 4)] == "b"
    assert fwd[(1, 5)] == "b"
    assert fwd[(2, 1)] is None  # carry never crosses keys
    back = {
        (r["k"], r["seq"]): r["c"]
        for r in carry_forward(
            df, "k", ("seq",), {"c": "val"}, backward=True
        ).collect()
    }
    assert back[(1, 1)] == "a"
    assert back[(1, 3)] == "b"
    assert back[(1, 5)] is None


def test_carry_forward_backward_guard(spark):
    """backward=True rejects directional sort expressions with ValueError
    (survives python -O, unlike the old assert), and the anchored match
    does NOT false-positive on column NAMES containing 'ASC'/'DESC' as a
    substring (ADVICE r13)."""
    import pytest as _pytest

    from projet_data_infrastructure_spark.operators.asof import carry_forward

    df = spark.createDataFrame(
        [(1, 1, 10, 5), (1, 2, None, 6)],
        "k INT, seq INT, val INT, `price ASCENT` INT",
    )
    for bad in (F.col("seq").desc(), F.desc("seq"), F.col("seq").asc()):
        with _pytest.raises(ValueError, match="directional sort"):
            carry_forward(df, "k", (bad,), {"c": "val"}, backward=True)
    # A column whose NAME contains ' ASC' must not trip the guard.
    got = {
        r["seq"]: r["c"]
        for r in carry_forward(
            df, "k", (F.col("price ASCENT"),), {"c": "val"}, backward=True
        ).collect()
    }
    assert got == {1: 10, 2: None}


def test_carry_forward_expression_source(spark):
    from projet_data_infrastructure_spark.operators.asof import carry_forward

    df = spark.createDataFrame(
        [(1, 1, "state", 10), (1, 2, "fact", 0), (1, 3, "fact", 0)],
        "k INT, seq INT, kind STRING, v INT",
    )
    # Only 'state' rows publish a value — the asof_join union+tag shape.
    out = carry_forward(
        df,
        "k",
        ("seq",),
        {"sv": F.when(F.col("kind") == "state", F.col("v"))},
    )
    got = {r["seq"]: r["sv"] for r in out.collect()}
    assert got == {1: 10, 2: 10, 3: 10}
