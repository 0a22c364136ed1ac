"""Lakehouse-maintenance operators: SCD Type-2 history building, incremental
aggregate maintenance, and a deterministic KMV distinct sketch.

These close the "warehouse lifecycle" side of the reference's CDC pipeline
(`/root/reference/spark/SaveDelta.scala:104-163` lands Debezium changes into a
lake table; `/root/reference/airflow/config/read_delta.py:114-127` then
recomputes its per-employee rollup from scratch each run — a real warehouse
instead needs dimension histories, incrementally maintained rollups, and
cheap distinct/drift telemetry on top of that change stream):

* ``scd2_user_history`` — the classic Type-2 slowly-changing-dimension build:
  collapse a change stream to genuine attribute transitions (lag), then derive
  validity intervals (lead). Two window passes over ONE shuffle/sort — Spark
  reuses the (user_id, ts, event_id) sort for both lag and lead.
* ``incremental_agg_merge`` — algebraic partial-aggregate maintenance: the
  historical partition's partial aggs are combined with a fresh delta's
  partial aggs instead of rescanning history. At 100 TB the base partials are
  a stored rollup ~1e4× smaller than the fact table, so a daily refresh costs
  O(delta) not O(history). Verified here by proving merge(base, delta) is
  bit-identical to a full recompute (the DuckDB oracle recomputes from
  scratch). Money is summed in integer cents so the merge is order-exact.
* ``kmv_distinct_sketch`` — k-minimum-values distinct-count sketch over the
  portable 60-bit md5 hash (`functions/hashing.py`): the k-th smallest hash
  value estimates n_distinct as (k-1)·M/h_k (Bar-Yossef et al. 2002, the
  same bottom-k family DataSketches' theta sketch uses). Unlike HLL this is
  fully deterministic given the hash, so the DuckDB oracle reproduces the
  estimate EXACTLY — a sketch whose implementation is hash-checkable
  cross-engine. Mergeable at scale: union bottom-k sets, re-take bottom k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from projet_data_infrastructure_spark.functions.hashing import (
    HEX_PREFIX_LEN,
    hash64,
    hash64_sql,
)
from projet_data_infrastructure_spark.operators.ranks import bounded_order
from projet_data_infrastructure_spark.plans._portable import pround, pround_sql
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.session import scratch_dir
from projet_data_infrastructure_spark.sources.readers import read_table
from projet_data_infrastructure_spark.streaming import versioned
from projet_data_infrastructure_spark.streaming.sinks import replay_foreach_batch

# --------------------------------------------------------------------------
# SCD Type-2 dimension history from a change stream
# --------------------------------------------------------------------------


def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's ``event_type`` attribute.

    Stage 1 (change detection): order each user's events by (ts, event_id)
    and keep only rows where the attribute actually changed vs the previous
    row. Stage 2 (validity intervals): over the surviving transitions,
    effective_to = next transition's timestamp; the open row is current.
    Both windows share partition key AND sort order, so Catalyst plans one
    Exchange + one Sort for the whole query.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    from_us = F.unix_micros(F.col("ts").cast("timestamp"))  # UTC pinned by read_table
    to_us = F.lead(from_us).over(w2)
    return changed.select(
        "user_id",
        F.col("event_type").alias("attr_value"),
        from_us.alias("effective_from_us"),
        to_us.alias("effective_to_us"),
        to_us.isNull().cast("int").alias("is_current"),
    )


_SCD2_SQL = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
), changes AS (
    SELECT user_id, event_type, ts, event_id
    FROM ordered
    WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id,
       event_type AS attr_value,
       epoch_us(ts) AS effective_from_us,
       lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS effective_to_us,
       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            AS INTEGER) AS is_current
FROM changes
"""

# --------------------------------------------------------------------------
# Incremental aggregate maintenance (partial-agg merge == full recompute)
# --------------------------------------------------------------------------

_CUTOFF = "2000-01-01"


def _partial_orders_agg(df: DataFrame) -> DataFrame:
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return df.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents).alias("total_cents"),
    )


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge the stored base rollup with a delta rollup; avg derived at the end.

    count/sum are algebraic, so merge = re-sum the partials; avg is derived
    from the merged sums (never averaged across partials). Integer cents make
    the result independent of summation order — the merged output is
    bit-identical to the oracle's full recompute.
    """
    orders = read_table(spark, sf_dir, "orders")
    date = F.col("o_orderdate").cast("date")
    base = _partial_orders_agg(orders.filter(date < F.lit(_CUTOFF)))
    delta = _partial_orders_agg(orders.filter(date >= F.lit(_CUTOFF)))
    merged = (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("total_cents").alias("total_cents"))
    )
    avg = pround(F.col("total_cents") / 100.0 / F.col("n_orders"), 4)
    return merged.select("o_custkey", "n_orders", "total_cents", avg.alias("avg_price"))


_INCR_AGG_SQL = f"""
SELECT o_custkey,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       {pround_sql('sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 / count(*)', 4)}
           AS avg_price
FROM orders
GROUP BY o_custkey
"""

# --------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch — deterministic, oracle-exact
# --------------------------------------------------------------------------

_KMV_K = 64
#: Hash domain size: 15 hex chars = 16^15 = 2^60, exactly representable.
_KMV_M = float(16**HEX_PREFIX_LEN)


def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: exact distinct users vs the KMV estimate.

    Plan shape: one distinct (shuffle on (event_type, h)), one window sort per
    event_type to rank hashes, one final agg. The rank window is trimmed by
    Spark's WindowGroupLimit to ~k rows per group before the exchange. At
    100 TB you'd keep only the per-partition bottom-k before the shuffle
    (mergeable sketch property); the estimate algebra is identical.
    """
    ev = read_table(spark, sf_dir, "events")
    d = ev.select("event_type", hash64(F.col("user_id")).alias("h")).distinct()
    rn = F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
    ranked = d.withColumn("rn", rn)
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_min_hash"),
    )
    est = F.when(
        F.col("kth_min_hash").isNull(), F.col("n_exact").cast("double")
    ).otherwise(pround(F.lit(float(_KMV_K - 1)) * F.lit(_KMV_M) / F.col("kth_min_hash"), 3))
    return agg.select("event_type", "n_exact", "kth_min_hash", est.alias("est_distinct"))


_KMV_SQL = f"""
WITH d AS (
    SELECT DISTINCT event_type, {hash64_sql('user_id')} AS h FROM events
), ranked AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM d
), agg AS (
    SELECT event_type,
           count(*) AS n_exact,
           max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_min_hash
    FROM ranked
    GROUP BY event_type
)
SELECT event_type, n_exact, kth_min_hash,
       CASE WHEN kth_min_hash IS NULL THEN CAST(n_exact AS DOUBLE)
            ELSE {pround_sql(f'{float(_KMV_K - 1)!r} * {_KMV_M!r} / kth_min_hash', 3)}
       END AS est_distinct
FROM agg
"""


# --------------------------------------------------------------------------
# KMV sketch set algebra: union / intersection / Jaccard from the two
# bottom-k sketches ALONE (the full distinct sets are only used to emit the
# exact values alongside, so the driver's hash check pins both the sketch
# algebra and its inputs). Merge rule: bottom-k(A ∪ B) == bottom-k of the
# union of the two retained sets, because kth(A∪B) ≤ min(kth(A), kth(B)) —
# so a member of the merged bottom-k that belongs to A is necessarily in
# A's retained set, making intersection membership decidable sketch-side.
# ρ = |{h ∈ bottom-k(A∪B) : h ∈ A ∧ h ∈ B}| / k estimates Jaccard;
# |A∩B| ≈ ρ · |A∪B|_est (Beyer et al., SIGMOD 2007).
# --------------------------------------------------------------------------

_TYPE_A = "click"
_TYPE_B = "purchase"


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row report: exact vs sketch-estimated union/intersection/Jaccard
    of the distinct-user sets of two event types.

    Every window here runs over ≤ 2k retained hashes (bounded by the sketch
    parameter, not the data), so the single-partition global rank is safe at
    any scale; the only data-sized stage is the initial distinct."""
    ev = read_table(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type").isin(_TYPE_A, _TYPE_B))
        .select("event_type", hash64(F.col("user_id")).alias("h"))
        .distinct()
    )
    # exact reference values (from the full distinct sets)
    byh_exact = d.groupBy("h").agg(F.count(F.lit(1)).alias("n_types"))
    exact = byh_exact.agg(
        F.count(F.lit(1)).alias("n_union_exact"),
        F.sum((F.col("n_types") == 2).cast("long")).alias("n_inter_exact"),
    )
    # per-type bottom-k retained sets
    rn_t = F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
    ret = d.withColumn("rn", rn_t).filter(F.col("rn") <= _KMV_K).select("event_type", "h")
    # merged sketch: bottom-k of the union of retained sets
    byh = ret.groupBy("h").agg(F.count(F.lit(1)).alias("n_types"))
    # Global rank: WindowExec warns about the single partition, but the
    # input is bounded at ≤ 2k rows by the sketch parameter, never by data.
    rn_u = F.row_number().over(Window.partitionBy().orderBy("h"))
    merged = byh.withColumn("rn", rn_u).filter(F.col("rn") <= _KMV_K)
    sk = merged.agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth"),
        F.sum((F.col("n_types") == 2).cast("long")).alias("n_match"),
    )
    est_union = F.when(F.col("kth").isNull(), F.col("n_vals").cast("double")).otherwise(
        pround(F.lit(float(_KMV_K - 1)) * F.lit(_KMV_M) / F.col("kth"), 3)
    )
    rho = F.col("n_match") / F.least(F.lit(_KMV_K), F.col("n_vals")).cast("double")
    out = sk.crossJoin(exact).select(
        F.lit(_KMV_K).alias("k"),
        "n_union_exact",
        "n_inter_exact",
        est_union.alias("est_union"),
        pround(rho, 6).alias("jaccard_est"),
        pround(rho * est_union, 3).alias("est_intersection"),
    )
    return out


_KMV_SET_SQL = f"""
WITH d AS (
    SELECT DISTINCT event_type, {hash64_sql('user_id')} AS h
    FROM events WHERE event_type IN ('{_TYPE_A}', '{_TYPE_B}')
), exact AS (
    SELECT count(*) AS n_union_exact,
           CAST(sum(CASE WHEN n_types = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter_exact
    FROM (SELECT h, count(*) AS n_types FROM d GROUP BY h)
), ret AS (
    SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM d
    ) WHERE rn <= {_KMV_K}
), merged AS (
    SELECT h, n_types, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT h, count(*) AS n_types FROM ret GROUP BY h)
), sk AS (
    SELECT count(*) AS n_vals,
           max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth,
           CAST(sum(CASE WHEN n_types = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_match
    FROM merged WHERE rn <= {_KMV_K}
)
SELECT {_KMV_K} AS k, n_union_exact, n_inter_exact,
       CASE WHEN kth IS NULL THEN CAST(n_vals AS DOUBLE)
            ELSE {pround_sql(f'{float(_KMV_K - 1)!r} * {_KMV_M!r} / kth', 3)} END AS est_union,
       {pround_sql(f'n_match / CAST(least({_KMV_K}, n_vals) AS DOUBLE)', 6)} AS jaccard_est,
       {pround_sql(
           f'(n_match / CAST(least({_KMV_K}, n_vals) AS DOUBLE)) * '
           f'(CASE WHEN kth IS NULL THEN CAST(n_vals AS DOUBLE) '
           f'ELSE {pround_sql(f"{float(_KMV_K - 1)!r} * {_KMV_M!r} / kth", 3)} END)', 3)}
           AS est_intersection
FROM sk CROSS JOIN exact
"""


# --------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005): d seeded hash rows × w
# buckets of COUNTS — mergeable by cell-wise sum, point estimate =
# min over rows, always ≥ the true count, within εN w.h.p. (ε = e/w).
# Built from the portable seeded hash, so the sketch AND the estimates are
# deterministic — the oracle reproduces them exactly. At 100 TB the sketch
# is a d×w grid per partition summed in one exchange (bytes, not keys);
# the estimate join is a broadcast of that grid.
# --------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 256


def q_countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-count estimates from a count-min sketch vs the truth.

    One pass builds the d×w grid (explode d seeded bucket ids map-side, one
    keyed agg); the estimate side joins each distinct user's d buckets back
    to the grid and takes the min. est_n ≥ n_exact ALWAYS (test-pinned)."""
    ev = read_table(spark, sf_dir, "events")
    rows = ev.select("user_id")
    buckets = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"),
                F.pmod(hash64(F.col("user_id"), seed=s), F.lit(_CM_WIDTH)).alias("bucket"),
            )
            for s in range(_CM_DEPTH)
        ]
    )
    grid = (
        rows.select(F.explode(buckets).alias("b"))
        .groupBy(F.col("b.seed").alias("seed"), F.col("b.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )
    exact = rows.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = exact.select(
        "user_id", "n_exact", F.explode(buckets).alias("b")
    ).select("user_id", "n_exact", "b.seed", "b.bucket")
    return (
        probes.join(F.broadcast(grid), ["seed", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cell_n").alias("est_n"))
    )


# --------------------------------------------------------------------------
# Distribution drift monitoring: population stability index between a
# reference and a current slice over FIXED bucket edges (the production
# pattern: edges frozen from the reference snapshot so day-over-day PSI is
# comparable). Laplace-smoothed shares keep empty buckets finite. Counts are
# integers, shares/contributions are identical IEEE expressions per bucket;
# only the 12-term total is order-sensitive, absorbed by pround(6).
# PSI reading: < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 drifted.
# --------------------------------------------------------------------------

_PSI_BUCKETS = 12
_PSI_LO, _PSI_WIDTH = -1000.0, 1000.0  # covers acctbal [-1000, 10000) exactly


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of c_acctbal between two customer populations (nations < 12 as
    the reference snapshot, the rest as current). One scan, one small agg:
    bucket ids and both counts come from a single groupBy via conditional
    aggregation — no join of two profiled sides."""
    cust = read_table(spark, sf_dir, "customer")
    bucket = F.least(
        F.lit(_PSI_BUCKETS - 1),
        F.greatest(F.lit(0), F.floor((F.col("c_acctbal") - _PSI_LO) / _PSI_WIDTH)),
    ).cast("int")
    is_ref = (F.col("c_nationkey") < 12).cast("long")
    counts = cust.select(bucket.alias("bucket"), is_ref.alias("r")).groupBy("bucket").agg(
        F.sum("r").alias("n_ref"),
        F.sum(F.lit(1) - F.col("r")).alias("n_cur"),
    )
    tot = Window.partitionBy()
    p = (F.col("n_ref") + 0.5) / (F.sum("n_ref").over(tot) + 0.5 * _PSI_BUCKETS)
    q = (F.col("n_cur") + 0.5) / (F.sum("n_cur").over(tot) + 0.5 * _PSI_BUCKETS)
    contrib = (p - q) * F.log(p / q)
    out = counts.select(
        "bucket", "n_ref", "n_cur", pround(contrib, 9).alias("psi_contrib")
    )
    return out.select(
        "bucket",
        "n_ref",
        "n_cur",
        "psi_contrib",
        pround(F.sum("psi_contrib").over(Window.partitionBy()), 6).alias("psi_total"),
    )


_PSI_SQL = f"""
WITH counts AS (
    SELECT CAST(least({_PSI_BUCKETS - 1},
                      greatest(0, floor((c_acctbal - ({_PSI_LO!r})) / {_PSI_WIDTH!r})))
                AS INTEGER) AS bucket,
           CAST(sum(CASE WHEN c_nationkey < 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
           CAST(sum(CASE WHEN c_nationkey < 12 THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
    FROM customer GROUP BY 1
), shares AS (
    SELECT bucket, n_ref, n_cur,
           {pround_sql(
               '((n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * ' + str(_PSI_BUCKETS) + ')'
               ' - (n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * ' + str(_PSI_BUCKETS) + '))'
               ' * ln(((n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * ' + str(_PSI_BUCKETS) + '))'
               ' / ((n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * ' + str(_PSI_BUCKETS) + ')))', 9)}
               AS psi_contrib
    FROM counts
)
SELECT bucket, n_ref, n_cur, psi_contrib,
       {pround_sql('sum(psi_contrib) OVER ()', 6)} AS psi_total
FROM shares
"""


# Oracle: the d seeded projections as a UNION ALL — identical cells to the
# Spark explode, plain SQL.
_HH_THRESHOLD = 80


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass heavy hitters: which keys exceed N occurrences, without
    exact state for the long tail. Pass 1 probes the count-min grid (bytes
    of state, one exchange) for CANDIDATES whose estimate clears the
    threshold — the sketch never underestimates, so candidates ⊇ the true
    heavy hitters by construction. Pass 2 computes exact counts ONLY for
    the candidate keys (a broadcast semi-join prunes the scan-side
    aggregation) and trims the sketch's false positives. The result equals
    the exact answer — the 100 TB shape when the key space dwarfs memory
    but the heavy-hitter set is small. Deterministic end to end (portable
    seeded hashes), so the oracle is simply the exact HAVING query."""
    ev = read_table(spark, sf_dir, "events")
    rows = ev.select("user_id")
    buckets = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"),
                F.pmod(hash64(F.col("user_id"), seed=s), F.lit(_CM_WIDTH)).alias("bucket"),
            )
            for s in range(_CM_DEPTH)
        ]
    )
    grid = (
        rows.select(F.explode(buckets).alias("b"))
        .groupBy(F.col("b.seed").alias("seed"), F.col("b.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )
    probes = rows.distinct().select("user_id", F.explode(buckets).alias("b")).select(
        "user_id", "b.seed", "b.bucket"
    )
    cand = (
        probes.join(F.broadcast(grid), ["seed", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cell_n").alias("est_n"))
        .filter(F.col("est_n") >= _HH_THRESHOLD)
        .select("user_id")
    )
    return (
        ev.join(F.broadcast(cand), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _HH_THRESHOLD)
    )


_HEAVY_HITTERS_SQL = f"""
SELECT user_id, count(*) AS n FROM events
GROUP BY user_id HAVING count(*) >= {_HH_THRESHOLD}
"""


def _countmin_sql() -> str:
    seed_rows = "\n    UNION ALL\n    ".join(
        f"SELECT user_id, {s} AS seed, "
        f"{hash64_sql('user_id', seed=s)} % {_CM_WIDTH} AS bucket FROM events"
        for s in range(_CM_DEPTH)
    )
    return f"""
WITH hashed AS (
    {seed_rows}
), grid AS (
    SELECT seed, bucket, count(*) AS cell_n FROM hashed GROUP BY seed, bucket
), exact AS (
    SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id
), probes AS (
    SELECT DISTINCT user_id, seed, bucket FROM hashed
)
SELECT p.user_id, e.n_exact, min(g.cell_n) AS est_n
FROM probes p
JOIN exact e USING (user_id)
JOIN grid g ON g.seed = p.seed AND g.bucket = p.bucket
GROUP BY p.user_id, e.n_exact
"""


# --------------------------------------------------------------------------
# Bloom filter membership (Bloom 1970) — the third sketch next to KMV
# (distinct) and count-min (frequency): d seeded hash bit-positions in an
# m-bit array; a key is CLAIMED present iff all d bits are set. No false
# negatives ever; false-positive rate ≈ (1 − e^(−dn/m))^d. The bit set is
# ≤ m rows — broadcast to the probe side, which is exactly what Spark's
# runtime bloom join does internally; here it's exposed as a data operator
# (e.g. ship a compact member filter to another pipeline without the
# member list). Deterministic portable hashing → the DuckDB oracle
# reproduces every claimed bit and every false positive exactly.
# --------------------------------------------------------------------------

_BLOOM_M = 4096
_BLOOM_D = 3


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a bloom over customers of nations 0-9, probe EVERY customer:
    per key, the true membership and the bloom's claim. Test pins zero
    false negatives and the theoretical FP envelope."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    members = cust.filter(F.col("c_nationkey") < 10)

    def positions(df: DataFrame) -> DataFrame:
        pos = F.array(
            *[
                F.pmod(hash64(F.col("c_custkey"), seed=s), F.lit(_BLOOM_M))
                for s in range(_BLOOM_D)
            ]
        )
        return df.select("c_custkey", F.explode(pos).alias("bit"))

    bits = positions(members).select("bit").distinct()
    probes = positions(cust)
    hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    return (
        cust.join(hits, "c_custkey", "left")
        .select(
            "c_custkey",
            (F.col("c_nationkey") < 10).cast("int").alias("is_member"),
            (F.coalesce(F.col("n_set"), F.lit(0)) == _BLOOM_D).cast("int").alias("claimed"),
        )
    )


def _bloom_sql() -> str:
    seed_rows = "\n        UNION ALL\n        ".join(
        f"SELECT c_custkey, {hash64_sql('c_custkey', seed=s)} % {_BLOOM_M} AS bit"
        f" FROM customer WHERE c_nationkey < 10"
        for s in range(_BLOOM_D)
    )
    probe_rows = "\n        UNION ALL\n        ".join(
        f"SELECT c_custkey, {hash64_sql('c_custkey', seed=s)} % {_BLOOM_M} AS bit"
        f" FROM customer"
        for s in range(_BLOOM_D)
    )
    return f"""
WITH bits AS (
    SELECT DISTINCT bit FROM (
        {seed_rows}
    )
), probes AS (
    {probe_rows}
), hits AS (
    SELECT p.c_custkey, count(*) AS n_set
    FROM probes p JOIN bits b ON p.bit = b.bit
    GROUP BY p.c_custkey
)
SELECT c.c_custkey,
       CAST(c.c_nationkey < 10 AS INTEGER) AS is_member,
       CAST(coalesce(h.n_set, 0) = {_BLOOM_D} AS INTEGER) AS claimed
FROM customer c LEFT JOIN hits h ON c.c_custkey = h.c_custkey
"""


def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across lake generations: generation 1 writes
    (c_custkey, c_name), generation 2 adds c_acctbal — the additive column
    case every long-lived lake hits. A ``mergeSchema`` read unifies the
    generations (old rows surface NULL for the new column) and downstream
    logic coalesces a default. Parquet-native (Delta's schema evolution is
    this plus a transaction log); the oracle recomputes the unified view
    relationally."""
    cust = read_table(spark, sf_dir, "customer")
    work = scratch_dir("schema_evo_")
    g1 = cust.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    g2 = cust.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", F.col("c_acctbal").alias("c_acctbal")
    )
    g1.write.parquet(f"{work}/t", mode="overwrite")
    g2.write.parquet(f"{work}/t", mode="append")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{work}/t")
    return merged.select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").isNotNull().alias("has_balance"),
        pround(F.coalesce(F.col("c_acctbal"), F.lit(0.0)), 2).alias("balance_or_zero"),
    )


_SCHEMA_EVO_SQL = f"""
SELECT c_custkey, c_name,
       (c_custkey % 2 = 1) AS has_balance,
       {pround_sql("CASE WHEN c_custkey % 2 = 1 THEN c_acctbal ELSE 0.0 END", 2)}
           AS balance_or_zero
FROM customer
"""


# --------------------------------------------------------------------------
# Deterministic HyperLogLog (Flajolet et al. 2007) over the portable hash.
# Spark's approx_count_distinct is HLL++ with an engine-private hash, so its
# estimate can only get a rows-only check; THIS spec builds the registers
# from hash64 explicitly, making the whole sketch — bucket split, leading-
# zero ranks, register maxima, harmonic mean — reproducible in DuckDB and
# therefore hash-checkable. The integer discipline mirrors KMV above:
# Z^-1 is accumulated as Σ 2^(55-M_j) in BIGINT (exact; ≤ 64·2^55), and the
# only floating op is one literal/integer division at the end.
# --------------------------------------------------------------------------

_HLL_P = 6  # 2^6 = 64 registers
_HLL_M = 1 << _HLL_P
#: max rho: hash is 60-bit, bucket eats p bits -> 54-bit word, rho in [1, 55]
_HLL_RHO_CAP = 60 - _HLL_P + 1
#: alpha_64 * m^2 * 2^55 precomputed in Python, inlined as ONE double literal
#: so neither engine evaluates the HLL constants at query time.
_HLL_NUMER = 0.709 * _HLL_M * _HLL_M * float(1 << _HLL_RHO_CAP)


def q_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: exact distinct events vs the 64-register HLL estimate.

    Plan: one projection computes (bucket, rho) map-side, a hash aggregate
    takes register maxima on the (event_type, bucket) key (≤ 64·n_types
    groups — map-side combine collapses everything), and a second tiny
    aggregate folds registers into the harmonic sum. At 100 TB the register
    aggregate IS the mergeable-sketch property: partial register maxima
    combine associatively, exactly like production HLL. n ≫ 2.5m here, so
    the raw (uncorrected) HLL regime applies — the canonical estimator, not
    a simplification."""
    ev = read_table(spark, sf_dir, "events")
    regs = _hll_registers(ev)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("event_id")).alias("n_exact")
    )
    return _hll_report(regs, exact)


def _hll_rows(ev: DataFrame) -> DataFrame:
    """Per-event (event_type, bucket, m) pre-aggregation rows — the input
    either :func:`_hll_registers` folds alone or the streaming merge folds
    together with the stored sketch in ONE aggregate (register max is
    associative, so pre-reducing the batch first was a wasted exchange per
    micro-batch — r15, same argument as the out-of-order CDC apply)."""
    h = hash64(F.col("event_id"))
    base = ev.select("event_type", h.alias("h")).select(
        "event_type",
        F.pmod(F.col("h"), F.lit(_HLL_M)).alias("bucket"),
        F.expr(f"h DIV {_HLL_M}").alias("w"),
    )
    m = F.when(F.col("w") == 0, F.lit(_HLL_RHO_CAP)).otherwise(
        F.lit(_HLL_RHO_CAP) - F.length(F.bin(F.col("w")))
    )
    return base.select("event_type", "bucket", m.alias("m"))


def _hll_reduce(rows: DataFrame) -> DataFrame:
    """Max (event_type, bucket, m) rows into registers — associative, so it
    folds stored registers and fresh rows alike."""
    return rows.groupBy("event_type", "bucket").agg(F.max("m").alias("m"))


def _hll_registers(ev: DataFrame) -> DataFrame:
    """(event_type, bucket, m) register maxima — the mergeable HLL state."""
    return _hll_reduce(_hll_rows(ev))


def _hll_report(regs: DataFrame, exact: DataFrame) -> DataFrame:
    """Fold register maxima into the harmonic estimate next to the exact
    count — shared by the batch spec and the streaming merge."""
    per_type = regs.groupBy("event_type").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RHO_CAP} - m AS INT))")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    s_total = F.col("s_present") + (F.lit(_HLL_M) - F.col("n_present")) * F.lit(
        1 << _HLL_RHO_CAP
    ).cast("long")
    est = pround(F.lit(_HLL_NUMER) / s_total.cast("double"), 3)
    return bounded_order(
        per_type.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            (F.lit(_HLL_M) - F.col("n_present")).cast("long").alias("n_empty_registers"),
            s_total.cast("long").alias("harmonic_denom"),
            est.alias("est_distinct"),
        ),
        "event_type",
    )


def q_stream_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incremental HyperLogLog: the events table replayed as a 4-file
    stream (``maxFilesPerTrigger=1`` → four genuine micro-batches), each
    batch's register maxima MERGED into the persisted sketch store via
    ``foreachBatch``. Because register max is associative and commutative,
    the merged state is BIT-IDENTICAL to the single-pass batch sketch no
    matter how the stream was batched — so a live streaming sketch
    hash-checks against the same DuckDB oracle as ``hll_distinct_sketch``.
    That mergeability is exactly the production property (per-executor
    partial sketches combine the same way).

    State is ≤ 64·|event types| rows (p=6 registers), published atomically
    through the versioned snapshot store; at scale the store becomes a
    Delta table and the merge stays ``union → groupBy max``."""
    work = scratch_dir("stream_hll_")
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type")
    src = f"{work}/events"
    ev.repartition(4).write.parquet(src)
    target = f"{work}/state"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # Partial aggregation condenses stored ∪ rows to ≤ M·|types| rows
        # per task before the max ships.
        versioned.fold_snapshot(_hll_rows(batch_df), target, _hll_reduce)

    replay_foreach_batch(spark, src, ev.schema, handle, work, max_files_per_trigger=1)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("event_id")).alias("n_exact")
    )
    return _hll_report(versioned.read_snapshot(spark, target), exact)


_HLL_SQL = f"""
WITH base AS (
    SELECT event_type,
           ({hash64_sql('event_id')}) % {_HLL_M} AS bucket,
           ({hash64_sql('event_id')}) // {_HLL_M} AS w
    FROM events
), regs AS (
    SELECT event_type, bucket,
           max(CASE WHEN w = 0 THEN {_HLL_RHO_CAP}
                    ELSE {_HLL_RHO_CAP} - length(bin(w)) END) AS m
    FROM base GROUP BY event_type, bucket
), per_type AS (
    SELECT event_type,
           sum(CAST(1 AS BIGINT) << ({_HLL_RHO_CAP} - m)) AS s_present,
           count(*) AS n_present
    FROM regs GROUP BY event_type
), exact AS (
    SELECT event_type, count(DISTINCT event_id) AS n_exact FROM events GROUP BY event_type
)
SELECT p.event_type, e.n_exact,
       CAST({_HLL_M} - p.n_present AS BIGINT) AS n_empty_registers,
       CAST(p.s_present + ({_HLL_M} - p.n_present) * {1 << _HLL_RHO_CAP} AS BIGINT)
           AS harmonic_denom,
       {pround_sql(f'{_HLL_NUMER!r} / CAST(p.s_present + ({_HLL_M} - p.n_present) * {1 << _HLL_RHO_CAP} AS DOUBLE)', 3)}
           AS est_distinct
FROM per_type p JOIN exact e ON p.event_type = e.event_type
ORDER BY p.event_type
"""


# --------------------------------------------------------------------------
# Compaction (OPTIMIZE) bin-packing planner
# --------------------------------------------------------------------------

_COMPACT_TARGET = 8192  # bytes per output bin (scaled-down OPTIMIZE target)


def q_compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-OPTIMIZE-style compaction planning: per-(lang, source) corpus
    partitions sized by total text bytes are packed sequentially into
    target-size output bins — cumulative size DIV target, the same
    scan-order bin packing OPTIMIZE's planner uses (first-fit-decreasing
    would pack tighter but its tie order is engine-dependent; sequential
    packing is deterministic and locality-preserving).

    Scale: the windowed frame is PARTITION METADATA — |lang|·|source| rows
    off one map-side-combined aggregate, not the corpus. The
    single-partition cumulative window over that metadata is the planner's
    collect-equivalent (the lakehouse manifest is always driver-sized);
    the corpus itself is touched by exactly one linear scan+agg."""
    docs = read_table(spark, sf_dir, "documents")
    parts = docs.groupBy("lang", "source").agg(
        F.sum("n_chars").alias("part_bytes")
    )
    w = (
        Window.orderBy("lang", "source")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("part_bytes").over(w), F.lit(0).cast("long"))
    return (
        parts.withColumn("_cb", cum_before)
        .select(
            "lang",
            "source",
            "part_bytes",
            F.expr(f"_cb DIV {_COMPACT_TARGET}").alias("bin_id"),
        )
        .orderBy("lang", "source")
    )


_COMPACTION_SQL = f"""
WITH parts AS (
    SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS part_bytes
    FROM documents GROUP BY lang, source
),
c AS (
    SELECT lang, source, part_bytes,
           COALESCE(CAST(sum(part_bytes) OVER (
               ORDER BY lang, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS cb
    FROM parts
)
SELECT lang, source, part_bytes, cb // {_COMPACT_TARGET} AS bin_id
FROM c ORDER BY lang, source
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "compaction_bin_packing",
        q_compaction_bin_packing,
        _COMPACTION_SQL,
        ("lake", "maintenance"),
        doc="OPTIMIZE bin-packing planner: sequential target-size binning "
        "of partition byte totals — metadata-sized window, one corpus scan",
    ),
    QuerySpec(
        "hll_distinct_sketch",
        q_hll_distinct_sketch,
        _HLL_SQL,
        ("sketch",),
        doc="Explicit-register HyperLogLog over the portable hash — the whole "
        "sketch is reproduced in DuckDB, so the estimate is oracle-EXACT",
    ),
    QuerySpec(
        "stream_hll_cardinality",
        q_stream_hll_cardinality,
        _HLL_SQL,
        ("sketch", "streaming"),
        doc="LIVE streaming HLL: per-batch register maxima merged through "
        "foreachBatch state — associative merge makes the streamed sketch "
        "bit-identical to the batch sketch, same oracle",
    ),
    QuerySpec(
        "schema_evolution_merge",
        q_schema_evolution_merge,
        _SCHEMA_EVO_SQL,
        ("lake", "source"),
        doc="mergeSchema read across lake generations with an added column; "
        "unified view oracle-checked",
    ),
    QuerySpec(
        "scd2_user_history",
        q_scd2_user_history,
        _SCD2_SQL,
        ("window", "cdc"),
        doc="Type-2 SCD build: lag change-collapse + lead validity intervals",
    ),
    QuerySpec(
        "incremental_agg_merge",
        q_incremental_agg_merge,
        _INCR_AGG_SQL,
        ("agg",),
        doc="Partial-agg merge (base ⊕ delta) == full recompute, cent-exact",
    ),
    QuerySpec(
        "kmv_distinct_sketch",
        q_kmv_distinct_sketch,
        _KMV_SQL,
        ("sketch",),
        doc="Deterministic bottom-k distinct estimate, oracle-exact cross-engine",
    ),
    QuerySpec(
        "kmv_sketch_set_ops",
        q_kmv_set_ops,
        _KMV_SET_SQL,
        ("sketch",),
        doc="Union/intersection/Jaccard estimated from merged bottom-k sketches",
    ),
    QuerySpec(
        "countmin_user_counts",
        q_countmin_user_counts,
        _countmin_sql(),
        ("sketch",),
        doc="Count-min sketch point estimates vs exact counts, oracle-exact",
    ),
    QuerySpec(
        "heavy_hitters",
        q_heavy_hitters,
        _HEAVY_HITTERS_SQL,
        ("sketch", "scale"),
        doc="Two-pass heavy hitters: count-min candidates (no false negatives) -> exact verify",
    ),
    QuerySpec(
        "psi_drift_profile",
        q_psi_drift,
        _PSI_SQL,
        ("quality",),
        doc="Population stability index between slices over frozen buckets",
    ),
    QuerySpec(
        "bloom_membership",
        q_bloom_membership,
        _bloom_sql(),
        ("sketch",),
        doc="Deterministic bloom membership filter, oracle-exact incl. false positives",
    ),
]


# --------------------------------------------------------------------------
# GDPR erasure-cascade audit (right-to-be-forgotten blast radius)
# --------------------------------------------------------------------------


def q_gdpr_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation blast radius of a right-to-be-forgotten batch: the
    deterministic erasure set (hash64(c_custkey) % 50 == 0, ~2%) cascades
    customer → orders → lineitem. Three keyed joins/aggregates — the
    lineitem leg joins on l_orderkey against the already-restricted orders
    frame, so the widest table is touched once with a pushed-down key set;
    no full-table rescan per leg. This is the audit a deletion job runs
    BEFORE mutating the lake (the versioned-snapshot engine applies it)."""
    from projet_data_infrastructure_spark.functions.hashing import hash64

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    erased = cust.filter(hash64(F.col("c_custkey")) % 50 == 0).select(
        "c_custkey", "c_nationkey"
    )
    n_cust = erased.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_customers"))
    orders_e = orders.join(
        erased, orders["o_custkey"] == erased["c_custkey"]
    ).select("o_orderkey", "c_nationkey")
    n_ord = orders_e.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_orders"))
    li_e = li.join(orders_e, li["l_orderkey"] == orders_e["o_orderkey"]).select(
        "c_nationkey"
    )
    n_li = li_e.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_lineitems"))
    return (
        n_cust.join(n_ord, "c_nationkey", "left")
        .join(n_li, "c_nationkey", "left")
        .fillna({"n_orders": 0, "n_lineitems": 0})
    )


_GDPR_SQL = f"""
WITH erased AS (
    SELECT c_custkey, c_nationkey FROM customer
    WHERE {hash64_sql('c_custkey')} % 50 = 0
), orders_e AS (
    SELECT o.o_orderkey, e.c_nationkey
    FROM orders o JOIN erased e ON o.o_custkey = e.c_custkey
)
SELECT c.c_nationkey,
       c.n_customers,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(l.n_lineitems, 0) AS n_lineitems
FROM (SELECT c_nationkey, count(*) AS n_customers FROM erased GROUP BY 1) c
LEFT JOIN (SELECT c_nationkey, count(*) AS n_orders FROM orders_e GROUP BY 1) o
    USING (c_nationkey)
LEFT JOIN (SELECT c_nationkey, count(*) AS n_lineitems
           FROM lineitem li JOIN orders_e oe ON li.l_orderkey = oe.o_orderkey
           GROUP BY 1) l
    USING (c_nationkey)
"""



SPECS.extend(
    [
    QuerySpec(
            "gdpr_erasure_cascade",
            q_gdpr_erasure_cascade,
            _GDPR_SQL,
            ("governance", "join"),
            doc="Right-to-be-forgotten blast-radius audit: hash-selected erasure "
            "set cascaded customer→orders→lineitem with keyed joins only",
        ),
    ]
)
