"""Frequency / membership sketches over the portable hash — the mergeable
summaries (after KMV and HyperLogLog in ``lakehouse.py``) that a 100 TB
ingest pipeline keeps next to its tables:

* ``countmin_heavy_hitters`` — Count-Min sketch (Cormode & Muthukrishnan
  2005) with d=4 rows × w=256 buckets built from the seeded portable hash,
  probed at the exact top-20 heavy hitters. Like the explicit-register HLL,
  the WHOLE sketch is reproduced in DuckDB, so the (deliberately biased)
  estimates are oracle-EXACT — and the one-sided error guarantee
  ``est ≥ exact`` is asserted per row by test. Register build is a
  map-side-combined SUM aggregate on (row, bucket) — partial sketches from
  every executor merge by addition, exactly the production CMS property.
* ``bloom_membership_audit`` — a k=3, m=16384-bit Bloom filter (Bloom 1970)
  over the distinct ordering customers, stored as 512 packed 32-bit words
  (32 bits per 64-bit register — DuckDB raises on a BIGINT shift into bit
  63, so packing stays in the overflow-free half of the word) built with a
  ``bit_or`` aggregate (mergeable by OR — the same property
  Parquet bloom filters and join-runtime filters rely on). Every customer
  is probed through the filter and the audit reports exact members, bloom
  positives, false positives and false negatives (provably 0) in one row.
* ``stream_countmin_merge`` — the Count-Min sketch LIVE: per-micro-batch
  registers ADDED into persisted state through ``foreachBatch``; additive
  merge makes the streamed sketch bit-identical to the batch sketch, so it
  shares the batch oracle (the ``stream_hll_cardinality`` discipline).

Neither sketch exists in the reference repo
(yanggautier/Projet_Data_Infrastructure) — its distinct/frequency telemetry
is exact rescans (`/root/reference/airflow/config/read_delta.py:114-127`);
these are the charter's at-scale replacements.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.plans._portable import pround, pround_sql

from projet_data_infrastructure_spark.functions.hashing import HEX_PREFIX_LEN
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.session import scratch_dir
from projet_data_infrastructure_spark.sources.readers import read_table
from projet_data_infrastructure_spark.streaming import versioned
from projet_data_infrastructure_spark.streaming.sinks import replay_foreach_batch

# --------------------------------------------------------------------------
# seeded portable hash where the seed is a COLUMN (the per-row sketch seeds
# live in an exploded array, so the literal-seed helper in
# functions/hashing.py does not apply)
# --------------------------------------------------------------------------


def _seeded_hash(seed_col: Column, key_col: Column) -> Column:
    """60-bit portable hash of ``seed || ':' || key`` (column seed)."""
    base = F.concat(seed_col.cast("string"), F.lit(":"), key_col.cast("string"))
    return F.conv(F.substring(F.md5(base), 1, HEX_PREFIX_LEN), 16, 10).cast("long")


def _seeded_hash_sql(seed_expr: str, key_expr: str) -> str:
    base = f"(CAST({seed_expr} AS VARCHAR) || ':' || CAST({key_expr} AS VARCHAR))"
    return f"CAST(('0x' || substr(md5({base}), 1, {HEX_PREFIX_LEN})) AS BIGINT)"


# --------------------------------------------------------------------------
# Count-Min sketch heavy hitters
# --------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 256  # buckets per row
_CMS_TOPK = 20


def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 users by event count, with the Count-Min estimate and
    its overcount next to the exact count.

    Plan shape: the register build explodes each event into d=4 (row,
    bucket) updates map-side and reduces them in ONE map-side-combined SUM
    aggregate to ≤ d·w = 1024 register rows — at 100 TB the partial
    registers from every task merge by addition before the (tiny) shuffle,
    which IS the CMS mergeability that makes it a streaming/distributed
    sketch. The probe side broadcasts the exact top-20 keys through the
    same d hash functions and takes ``min`` over the d register reads (the
    CMS point query); registers themselves are broadcast into the probe
    join, so nothing larger than 1024 rows ever moves.

    The estimate is one-sided by construction (collisions only ADD), so
    ``n_est ≥ n_exact`` always — asserted per row in tests and visible in
    the ``overcount`` column.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id")
    return _cms_probe(_cms_registers(ev), ev)


def _cms_updates(ev: DataFrame) -> DataFrame:
    """Per-event (s, bucket, cnt=1) register increments — the input either
    :func:`_cms_registers` folds alone or the streaming merge folds together
    with the stored sketch in ONE aggregate (register addition is
    associative, so pre-reducing the batch first was a wasted exchange per
    micro-batch — r15, the stream_hll/CDC fusion applied to SUM)."""
    seeds = F.array(*[F.lit(i) for i in range(_CMS_D)])
    return ev.select(
        F.explode(seeds).alias("s"),
        F.col("user_id"),
    ).select(
        "s",
        F.pmod(_seeded_hash(F.col("s"), F.col("user_id")), F.lit(_CMS_W)).alias(
            "bucket"
        ),
        F.lit(1).cast("long").alias("cnt"),
    )


def _cms_reduce(updates: DataFrame) -> DataFrame:
    """Sum (s, bucket, cnt) rows into registers — associative, so it folds
    stored registers and fresh updates alike."""
    return updates.groupBy("s", "bucket").agg(F.sum("cnt").alias("cnt"))


def _cms_registers(ev: DataFrame) -> DataFrame:
    """(s, bucket, cnt) Count-Min registers — the additive mergeable state."""
    return _cms_reduce(_cms_updates(ev))


def _cms_probe(regs: DataFrame, ev: DataFrame) -> DataFrame:
    """Point-query the exact top-20 keys through the registers — shared by
    the batch spec and the streaming merge."""
    seeds = F.array(*[F.lit(i) for i in range(_CMS_D)])
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("user_id"))
        .limit(_CMS_TOPK)
    )
    probe = exact.select(
        "user_id", "n_exact", F.explode(seeds).alias("s")
    ).withColumn(
        "bucket", F.pmod(_seeded_hash(F.col("s"), F.col("user_id")), F.lit(_CMS_W))
    )
    return (
        probe.join(F.broadcast(regs), ["s", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("n_est"))
        .select(
            "user_id",
            "n_exact",
            "n_est",
            (F.col("n_est") - F.col("n_exact")).alias("overcount"),
        )
        .orderBy(F.desc("n_exact"), F.asc("user_id"))
    )


def q_stream_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incremental Count-Min: the events table replayed as a 4-file
    stream (``maxFilesPerTrigger=1`` → four genuine micro-batches), each
    batch's registers ADDED into the persisted sketch store via
    ``foreachBatch``. Register addition is associative and commutative, so
    the merged state is BIT-IDENTICAL to the single-pass batch sketch no
    matter how the stream was batched — the streamed sketch hash-checks
    against the same DuckDB oracle as ``countmin_heavy_hitters`` (the
    stream_hll_cardinality discipline, SUM instead of MAX).

    State is ≤ d·w = 1024 rows, published atomically through the
    versioned snapshot store; at scale the store becomes a Delta table and
    the merge stays ``union → groupBy sum``."""
    work = scratch_dir("stream_cms_")
    ev = read_table(spark, sf_dir, "events").select("user_id")
    src = f"{work}/events"
    ev.repartition(4).write.parquet(src)
    target = f"{work}/state"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # Partial aggregation condenses stored ∪ increments to ≤ d·w rows
        # per task before the sum ships.
        versioned.fold_snapshot(_cms_updates(batch_df), target, _cms_reduce)

    replay_foreach_batch(spark, src, ev.schema, handle, work, max_files_per_trigger=1)
    return _cms_probe(versioned.read_snapshot(spark, target), ev)


_CMS_SQL = f"""
WITH seeds AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS s),
updates AS (
    SELECT seeds.s AS s,
           {_seeded_hash_sql('seeds.s', 'events.user_id')} % {_CMS_W} AS bucket
    FROM events CROSS JOIN seeds
),
regs AS (
    SELECT s, bucket, CAST(count(*) AS BIGINT) AS cnt
    FROM updates GROUP BY s, bucket
),
exact AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
    FROM events GROUP BY user_id
    ORDER BY n_exact DESC, user_id
    LIMIT {_CMS_TOPK}
),
probe AS (
    SELECT e.user_id, e.n_exact, seeds.s AS s,
           {_seeded_hash_sql('seeds.s', 'e.user_id')} % {_CMS_W} AS bucket
    FROM exact e CROSS JOIN seeds
)
SELECT p.user_id, p.n_exact, min(r.cnt) AS n_est,
       min(r.cnt) - p.n_exact AS overcount
FROM probe p JOIN regs r ON p.s = r.s AND p.bucket = r.bucket
GROUP BY p.user_id, p.n_exact
ORDER BY p.n_exact DESC, p.user_id
"""


# --------------------------------------------------------------------------
# Bloom-filter membership audit
# --------------------------------------------------------------------------

_BLOOM_K = 3  # hash functions
_BLOOM_BITS = 16_384  # m — packs into 512 words of 32 bits each


def q_bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of a Bloom filter over the ordering-customer set,
    probed with every customer: exact members vs bloom positives, false
    positives, and false negatives (structurally 0 — asserted by test AND
    visible in the output row).

    Plan shape: building is distinct keys × k=3 seeds → (word, set-bit
    mask) map-side, then ONE ``bit_or`` aggregate down to ≤ 512 packed
    words — partial filters OR together, which is why Parquet bloom
    filters and Spark's runtime-filter joins can build per-task and merge.
    Probing broadcasts the ≤ 512-word state under every probe key (LEFT
    join + coalesce(0) so absent words read as empty) and ANDs the masks;
    a key is positive iff all k probed bits are set. The final audit is a
    1-row aggregate — nothing bigger than the word table is ever joined.

    Words hold 32 bits each so no shift ever reaches bit 63 (DuckDB raises
    on BIGINT left-shift overflow); masks stay positive in both engines.
    """
    member = read_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    seeds = F.array(*[F.lit(i) for i in range(_BLOOM_K)])

    def bit_cols(df: DataFrame, key: str) -> DataFrame:
        pos = F.pmod(_seeded_hash(F.col("s"), F.col(key)), F.lit(_BLOOM_BITS))
        return (
            df.select(F.col(key), F.explode(seeds).alias("s"))
            .withColumn("pos", pos)
            .select(
                F.col(key),
                F.expr("pos DIV 32").alias("word"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
                    "mask"
                ),
            )
        )

    state = bit_cols(member, "o_custkey").groupBy("word").agg(
        F.bit_or("mask").alias("bits")
    )

    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    probes = bit_cols(cust, "c_custkey")
    hit = (
        F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(F.col("mask"))
        == F.col("mask")
    )
    per_key = (
        probes.join(F.broadcast(state), "word", "left")
        .withColumn("hit", hit.cast("int"))
        .groupBy("c_custkey")
        .agg(F.min("hit").alias("bloom_pos"))
    )
    truth = per_key.join(
        member.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "is_member", F.lit(1)
        ),
        "c_custkey",
        "left",
    ).withColumn("is_member", F.coalesce(F.col("is_member"), F.lit(0)))
    return truth.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("is_member").cast("long").alias("n_members"),
        F.sum("bloom_pos").cast("long").alias("n_bloom_positive"),
        F.sum(
            ((F.col("bloom_pos") == 1) & (F.col("is_member") == 0)).cast("long")
        ).alias("n_false_positive"),
        F.sum(
            ((F.col("bloom_pos") == 0) & (F.col("is_member") == 1)).cast("long")
        ).alias("n_false_negative"),
    )


_BLOOM_SQL = f"""
WITH seeds AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS s),
member AS (SELECT DISTINCT o_custkey FROM orders),
state AS (
    SELECT pos // 32 AS word, bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
    FROM (
        SELECT {_seeded_hash_sql('seeds.s', 'member.o_custkey')} % {_BLOOM_BITS} AS pos
        FROM member CROSS JOIN seeds
    ) GROUP BY word
),
probes AS (
    SELECT c_custkey, pos // 32 AS word,
           CAST(1 AS BIGINT) << (pos % 32) AS mask
    FROM (
        SELECT c_custkey,
               {_seeded_hash_sql('seeds.s', 'customer.c_custkey')} % {_BLOOM_BITS} AS pos
        FROM customer CROSS JOIN seeds
    )
),
per_key AS (
    SELECT p.c_custkey,
           min(CASE WHEN (coalesce(st.bits, 0) & p.mask) = p.mask THEN 1 ELSE 0 END)
               AS bloom_pos
    FROM probes p LEFT JOIN state st ON p.word = st.word
    GROUP BY p.c_custkey
),
truth AS (
    SELECT k.c_custkey, k.bloom_pos,
           CASE WHEN m.o_custkey IS NULL THEN 0 ELSE 1 END AS is_member
    FROM per_key k LEFT JOIN member m ON k.c_custkey = m.o_custkey
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(is_member) AS BIGINT) AS n_members,
       CAST(sum(bloom_pos) AS BIGINT) AS n_bloom_positive,
       CAST(sum(CASE WHEN bloom_pos = 1 AND is_member = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_positive,
       CAST(sum(CASE WHEN bloom_pos = 0 AND is_member = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_negative
FROM truth
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "countmin_heavy_hitters",
        q_countmin_heavy_hitters,
        _CMS_SQL,
        ("sketch", "bench"),
        doc="Count-Min sketch (d=4, w=256) over the portable hash, probed at "
        "the exact top-20 heavy hitters — whole sketch reproduced in DuckDB, "
        "one-sided overcount asserted",
    ),
    QuerySpec(
        "stream_countmin_merge",
        q_stream_countmin_merge,
        _CMS_SQL,
        ("sketch", "streaming"),
        doc="LIVE streaming Count-Min: per-batch registers ADDED through "
        "foreachBatch state — additive merge makes the streamed sketch "
        "bit-identical to the batch sketch, same oracle",
    ),
    QuerySpec(
        "bloom_membership_audit",
        q_bloom_membership_audit,
        _BLOOM_SQL,
        ("sketch",),
        doc="k=3 / 16384-bit Bloom filter as 512 bit_or-packed words, probed "
        "by every customer; FP/FN audit row (FN provably zero)",
    ),
]


# --------------------------------------------------------------------------
# HDR-histogram quantiles (integer-exact mergeable sketch)
# --------------------------------------------------------------------------
#
# HdrHistogram bucketing with 8 significant bits: for cents < 256 the
# bucket IS the value; above, idx = 128*(e-7) + (cents >> (e-7)) with
# e = floor(log2(cents)) taken EXACTLY as length(bin(cents)) - 1 — no
# floating log anywhere, so the sketch is bit-identical cross-engine and
# buckets merge by integer addition (relative error <= 2^-7 per readout).
# The readout scans the bounded bucket grid (<= 128*57 indexes, a few
# hundred occupied) with one unpartitioned cumulative window — the
# post-aggregate bounded-window class.

_HDR_QS = (0.5, 0.9, 0.99, 0.999)


_HDR_IDX = (
    "CASE WHEN cents < 256 THEN cents ELSE"
    " 128 * (length(bin(cents)) - 1 - 7)"
    " + shiftright(cents, length(bin(cents)) - 1 - 7) END"
)


def _hdr_readout(hist: DataFrame) -> DataFrame:
    """Quantile readout from an (idx, cnt) HDR bucket histogram — shared by
    the batch sketch and its LIVE streaming twin (sketches merge by
    integer addition, so any partial histogram re-aggregates first)."""
    spark = hist.sparkSession
    wcum = Window.orderBy("idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    tot = hist.groupBy().agg(F.sum("cnt").alias("n"))
    qs = spark.createDataFrame([(q,) for q in _HDR_QS], "q double")
    hit = (
        qs.crossJoin(F.broadcast(tot))
        .join(
            cum,
            F.col("cum") >= F.ceil(F.col("q") * F.col("n")).cast("long"),
        )
        .groupBy("q", "n")
        .agg(F.min("idx").alias("idx"))
    )
    lb = (
        "CASE WHEN idx < 256 THEN idx ELSE"
        " shiftleft(idx - 128 * (idx DIV 128 - 1), idx DIV 128 - 1) END"
    )
    ub = (
        "CASE WHEN idx < 256 THEN idx ELSE"
        " shiftleft(idx - 128 * (idx DIV 128 - 1) + 1, idx DIV 128 - 1) - 1 END"
    )
    return hit.select(
        "q",
        "n",
        "idx",
        pround(F.expr(f"CAST({lb} AS DOUBLE) / 100.0"), 2).alias("lb_usd_r"),
        pround(F.expr(f"CAST({ub} AS DOUBLE) / 100.0"), 2).alias("ub_usd_r"),
    )


def q_hdr_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price quantiles from an HdrHistogram-style integer sketch:
    exact power-of-2 + 7-bit-mantissa bucketing (module comment), one
    corpus aggregate to the bucket grid, quantile readout at the smallest
    bucket whose cumulative count reaches ceil(q*n). lb/ub are the exact
    integer bucket bounds, so the answer carries its own error bar."""
    o = read_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents")
    )
    hist = (
        o.select(F.expr(_HDR_IDX).alias("idx"))
        .groupBy("idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _hdr_readout(hist)


def _hdr_sql(
    source: str = "SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    " AS cents FROM orders",
) -> str:
    lb = (
        "CASE WHEN idx < 256 THEN idx ELSE"
        " ((idx - 128 * (idx // 128 - 1)) << (idx // 128 - 1)) END"
    )
    ub = (
        "CASE WHEN idx < 256 THEN idx ELSE"
        " ((idx - 128 * (idx // 128 - 1) + 1) << (idx // 128 - 1)) - 1 END"
    )
    return f"""
WITH o AS (
    {source}
), bucketed AS (
    SELECT CASE WHEN cents < 256 THEN cents ELSE
           128 * (length(bin(cents)) - 1 - 7)
           + (cents >> (length(bin(cents)) - 1 - 7)) END AS idx
    FROM o
), hist AS (
    SELECT idx, CAST(count(*) AS BIGINT) AS cnt FROM bucketed GROUP BY idx
), cum AS (
    SELECT idx, CAST(sum(cnt) OVER (ORDER BY idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
    FROM hist
), tot AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist
), qs(q) AS (
    VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
           (CAST(0.99 AS DOUBLE)), (CAST(0.999 AS DOUBLE))
), hit AS (
    SELECT q, n, min(idx) AS idx
    FROM qs, tot, cum
    WHERE cum >= CAST(ceil(q * n) AS BIGINT)
    GROUP BY q, n
)
SELECT q, n, idx,
       {pround_sql(f'CAST({lb} AS DOUBLE) / 100.0', 2)} AS lb_usd_r,
       {pround_sql(f'CAST({ub} AS DOUBLE) / 100.0', 2)} AS ub_usd_r
FROM hit
"""




SPECS.append(
    QuerySpec(
        "hdr_histogram_quantiles",
        q_hdr_histogram_quantiles,
        _hdr_sql(),
        ("sketch",),
        doc="HdrHistogram-style quantile sketch: exact integer "
        "power-of-2 + 7-bit bucketing, mergeable, bounded-grid readout",
    )
)
