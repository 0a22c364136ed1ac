"""Relational query surface (SURVEY.md §2.1-2.7) over the driver star schema.

Role mapping (FIXTURES.md §2): customer ≈ employees, orders/lineitem ≈
sport_activities, derived validation dim ≈ commute_validations. Every spec
pairs the Spark plan with its DuckDB oracle SQL; all computed columns carry
identical lowercase aliases on both sides, floating aggregates go through the
portable round (see ``_portable.py``).

Scale notes are attached per query; the common themes:
* dim joins are broadcast (no fact shuffle),
* aggregations rely on Catalyst's partial+final split,
* top-k is TakeOrderedAndProject (no global sort),
* filters/projections reach the parquet scan (PushedFilters/ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from projet_data_infrastructure_spark.operators.aggregates import (
    activity_stats,
    column_profile,
    scalar_count,
    top_k,
)
from projet_data_infrastructure_spark.functions.hashing import hash64, hash64_sql
from projet_data_infrastructure_spark.operators.joins import anti_join, enrich, semi_join
from projet_data_infrastructure_spark.operators.ranks import bounded_order
from projet_data_infrastructure_spark.operators.transforms import mask_columns, project
from projet_data_infrastructure_spark.plans._portable import pround, pround_sql
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.sources.readers import read_table

# --------------------------------------------------------------------------
# Flagship: the reference's bonus query (README.md:141-164 + read_delta.py
# :234-294) re-expressed over the star schema. customer=employees,
# orders=activities, derived dim=commute_validations.
# --------------------------------------------------------------------------


def _validation_dim(cust: DataFrame) -> DataFrame:
    """commute_validations analog: deterministic derivation from customer.

    calculed_distance ≈ |acctbal|/10 km, is_valid ≈ acctbal > 0 — mirrors the
    reference's distance-threshold validity (commute_validation.py:108-112).
    """
    return cust.select(
        F.col("c_custkey"),
        pround(F.abs(F.col("c_acctbal")) / F.lit(10.0), 2).alias("calculed_distance"),
        (F.col("c_acctbal") > 0).alias("is_valid"),
    )


def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")

    # §3.2 step 3-4: masked-projection of the employee dim + per-entity agg.
    emp = project(cust, ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"])
    stats = activity_stats(
        orders.select(F.col("o_custkey").alias("c_custkey"), "o_totalprice"),
        "c_custkey",
        "o_totalprice",
    ).select(
        "c_custkey",
        "count_activity",
        pround(F.col("mean_duration"), 2).alias("mean_duration"),
    )

    # §3.2 step 5-6: inner join dim, left join agg (employees with zero
    # activities survive with NULLs — read_delta.py:280-285).
    final = enrich(emp, _validation_dim(cust), "c_custkey", "inner")
    final = final.join(stats, "c_custkey", "left")  # agg side is not a dim: no broadcast hint; AQE decides

    # Flagship projection (README.md:141-164): prime CTE + CASE bonus.
    prime = F.when(F.col("is_valid"), pround(F.col("c_acctbal") * F.lit(0.05), 2)).otherwise(
        F.lit(0.0)
    )
    out = final.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").alias("gross_salary"),
        "is_valid",
        "calculed_distance",
        "count_activity",
        "mean_duration",
        prime.alias("commute_prime"),
        F.when(F.col("count_activity") >= 15, F.lit(True))
        .otherwise(F.lit(False))
        .alias("is_valid_activities"),
        (F.col("c_acctbal") + prime).alias("total_salary"),
    )
    return out


_FLAGSHIP_SQL = f"""
WITH validations AS (
    SELECT c_custkey,
           {pround_sql('abs(c_acctbal) / 10.0', 2)} AS calculed_distance,
           c_acctbal > 0 AS is_valid
    FROM customer
), stats AS (
    SELECT o_custkey AS c_custkey,
           count(*) AS count_activity,
           {pround_sql('avg(o_totalprice)', 2)} AS mean_duration
    FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey,
       c.c_mktsegment,
       c.c_acctbal AS gross_salary,
       v.is_valid,
       v.calculed_distance,
       s.count_activity,
       s.mean_duration,
       CASE WHEN v.is_valid THEN {pround_sql('c.c_acctbal * 0.05', 2)} ELSE 0.0 END AS commute_prime,
       CASE WHEN s.count_activity >= 15 THEN true ELSE false END AS is_valid_activities,
       c.c_acctbal + CASE WHEN v.is_valid THEN {pround_sql('c.c_acctbal * 0.05', 2)} ELSE 0.0 END
           AS total_salary
FROM customer c
JOIN validations v USING (c_custkey)
LEFT JOIN stats s USING (c_custkey)
"""

# --------------------------------------------------------------------------
# S6/P4: projection scan
# --------------------------------------------------------------------------


def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Column pruning reaches the parquet reader: ReadSchema lists 3 columns.
    return project(read_table(spark, sf_dir, "customer"), ["c_custkey", "c_name", "c_mktsegment"])


# P3/P6-P8: predicate filters with pushdown


def q_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    # Both predicates appear in PushedFilters; only 4 columns are scanned.
    return li.filter(
        (F.col("l_quantity") <= 5) & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


# P5/F2: explicit casts (portable: DuckDB CAST(double AS INT) rounds while
# Spark truncates, so fractional→int goes through floor on both sides).


def q_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("orderkey_str"),
        F.floor(F.col("l_quantity")).cast("int").alias("quantity_int"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_linenumber").cast("long").alias("linenumber_long"),
    )


_CAST_SQL = """
SELECT CAST(l_orderkey AS VARCHAR) AS orderkey_str,
       CAST(floor(l_quantity) AS INTEGER) AS quantity_int,
       CAST(l_shipdate AS DATE) AS ship_date,
       CAST(l_linenumber AS BIGINT) AS linenumber_long
FROM lineitem
"""

# P10: CASE projection


def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit("debtor"))
        .when(F.col("c_acctbal") < 5000, F.lit("standard"))
        .otherwise(F.lit("premium"))
        .alias("tier"),
        F.when(F.col("c_acctbal") > 0, pround(F.col("c_acctbal") * F.lit(0.05), 2))
        .otherwise(F.lit(0.0))
        .alias("bonus"),
    )


_CASE_SQL = f"""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debtor'
            WHEN c_acctbal < 5000 THEN 'standard'
            ELSE 'premium' END AS tier,
       CASE WHEN c_acctbal > 0 THEN {pround_sql('c_acctbal * 0.05', 2)} ELSE 0.0 END AS bonus
FROM customer
"""

# --------------------------------------------------------------------------
# Joins (J1/J2/J5 + semi/anti)
# --------------------------------------------------------------------------


def q_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment"
    )
    # Dim side broadcast: the fact table never shuffles (BroadcastHashJoin).
    return enrich(orders, cust, "o_custkey", "inner").select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


def q_left_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    stats = activity_stats(
        orders.select(F.col("o_custkey").alias("c_custkey"), "o_totalprice"),
        "c_custkey",
        "o_totalprice",
    )
    out = cust.select("c_custkey", "c_name").join(stats, "c_custkey", "left")
    return out.select(
        "c_custkey",
        "c_name",
        "count_activity",
        pround(F.col("mean_duration"), 2).alias("mean_duration"),
        F.coalesce(F.col("count_activity"), F.lit(0)).alias("count_activity_filled"),
    )


_LEFT_JOIN_SQL = f"""
WITH stats AS (
    SELECT o_custkey AS c_custkey, count(*) AS count_activity, avg(o_totalprice) AS mean_duration
    FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name, s.count_activity,
       {pround_sql('s.mean_duration', 2)} AS mean_duration,
       coalesce(s.count_activity, 0) AS count_activity_filled
FROM customer c LEFT JOIN stats s USING (c_custkey)
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    recent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    return semi_join(
        cust.select("c_custkey", "c_name"),
        recent.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J5: referential/absence check — customers with no orders at all.
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return anti_join(
        cust.select("c_custkey", "c_name"),
        orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    )


# --------------------------------------------------------------------------
# Aggregations (A1-A5 + distinct/rollup/cube)
# --------------------------------------------------------------------------


def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    stats = activity_stats(
        orders.select(F.col("o_custkey"), "o_totalprice"), "o_custkey", "o_totalprice"
    )
    return stats.select(
        "o_custkey", "count_activity", pround(F.col("mean_duration"), 2).alias("mean_duration")
    )


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2: TakeOrderedAndProject — each partition keeps k rows, driver merges.
    return top_k(read_table(spark, sf_dir, "orders"), "o_orderpriority", k=3)


def q_scalar_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scalar_count(read_table(spark, sf_dir, "lineitem"))


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_DISTINCT_SQL = """
SELECT count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderstatus) AS n_statuses,
       count(*) AS n_orders
FROM orders
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        pround(F.sum("o_totalprice"), 0).alias("sum_price"),
    )


_ROLLUP_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {pround_sql('sum(o_totalprice)', 0)} AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        pround(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {pround_sql('avg(o_totalprice)', 2)} AS avg_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

# --------------------------------------------------------------------------
# Window functions (SURVEY §2.6 — in-scope additions)
# --------------------------------------------------------------------------


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
    ).filter(F.col("rn") <= 3)


_WINDOW_RANK_SQL = """
SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
    FROM orders
) WHERE rn <= 3
"""


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("days_since_prev"),
    )


_WINDOW_LAG_SQL = """
SELECT o_custkey, o_orderkey,
       datediff('day',
                lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                CAST(o_orderdate AS DATE)) AS days_since_prev
FROM orders
"""


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        pround(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


_WINDOW_RUNNING_SQL = f"""
SELECT o_custkey, o_orderkey,
       {pround_sql("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)} AS running_spend
FROM orders
"""

# --------------------------------------------------------------------------
# Set operations / sort+limit / masking / scalar funcs
# --------------------------------------------------------------------------


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    b = cust.filter(F.col("c_acctbal") < 0).select("c_custkey", "c_mktsegment")
    return a.unionAll(b)


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey"))
    rich = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return with_orders.intersect(rich)


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    all_cust = cust.select("c_custkey")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey"))
    return all_cust.exceptAll(with_orders).distinct()


def q_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O1/O2: global ordering collapses to TakeOrderedAndProject via the limit.
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


def q_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P9/§2.12: BI-role masked view — name nulled, salary-ish passes through.
    cust = read_table(spark, sf_dir, "customer")
    return mask_columns(
        cust.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
        masked_cols=["c_name"],
        role="bi",
    )


_MASKED_SQL = """
SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_mktsegment, c_acctbal FROM customer
"""


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 governance: k-anonymity audit (k=5) over the quasi-identifier
    tuple (nation, market segment, account-balance band). Each fine cell
    reports its own size, the size of its one-step generalization (drop the
    balance band), and the release decision a k-anonymous publisher would
    make: release fine, generalize to coarse, or suppress — the standard
    generalization-ladder audit run before sharing a slice.

    Scale shape: ONE hash aggregate on the quasi-id tuple (linear,
    map-side combinable); the coarse rollup is a window over the already
    ≤|cells| aggregate rows, never the base table."""
    from pyspark.sql.window import Window

    cust = read_table(spark, sf_dir, "customer")
    fine = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("n_fine"))
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment")
    out = fine.withColumn("n_coarse", F.sum("n_fine").over(w).cast("long"))
    released = (
        F.when(F.col("n_fine") >= 5, "fine")
        .when(F.col("n_coarse") >= 5, "coarse")
        .otherwise("suppressed")
    )
    return out.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "n_fine",
        "n_coarse",
        released.alias("released_level"),
    )


_K_ANON_SQL = """
WITH fine AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
           count(*) AS n_fine
    FROM customer GROUP BY c_nationkey, c_mktsegment, bal_band
), x AS (
    SELECT c_nationkey, c_mktsegment, bal_band, n_fine,
           CAST(sum(n_fine) OVER (PARTITION BY c_nationkey, c_mktsegment) AS BIGINT)
               AS n_coarse
    FROM fine
)
SELECT c_nationkey, c_mktsegment, bal_band, n_fine, n_coarse,
       CASE WHEN n_fine >= 5 THEN 'fine'
            WHEN n_coarse >= 5 THEN 'coarse'
            ELSE 'suppressed' END AS released_level
FROM x
"""


_DP_EPSILON_INV = 2.0  # b = sensitivity/epsilon = 1/0.5 for a count release


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 governance: ε-differentially-private release of per-segment
    customer counts AND a clipped account-balance sum (the Laplace
    mechanism, Dwork et al. 2006 — the other standard privacy release next
    to masking and k-anonymity).

    The Laplace draw is DETERMINISTIC: u = portable-hash uniform of the
    group key (seeded), noise = −b·sign(u−½)·ln(1−2|u−½|) — the inverse-CDF
    transform over the same hash-RNG discipline every sampled spec uses, so
    a privacy mechanism that is normally irreproducible randomness becomes
    hash-checkable cross-engine (and auditable: the same release never
    silently changes between runs). u = (k+0.5)/10⁶ can never hit 0, ½, or
    1, so the transform never sees a log-of-zero. Count release uses
    sensitivity 1 (b = 1/ε); the sum release first CLIPS each balance to
    [0, 10000] — bounding per-row sensitivity is what makes a DP sum valid
    — and scales b by the clip bound. One linear hash aggregate; noise and
    release are projections on the ≤|segments| aggregate rows."""
    cust = read_table(spark, sf_dir, "customer")
    # Clip, then INTEGER CENTS before summing: a double sum's value depends
    # on partition/accumulation order, which would break the cross-engine
    # hash — exact BIGINT cents keep the DP release reproducible.
    clipped = F.greatest(
        F.lit(0.0), F.least(F.col("c_acctbal").cast("double"), F.lit(10_000.0))
    )
    cents = F.floor(clipped * F.lit(100.0) + F.lit(0.5)).cast("long")
    agg = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("true_n"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("true_sum"),
    )

    def lap_noise(seed: int, b_expr: str) -> F.Column:
        u = (F.pmod(hash64(F.col("c_mktsegment"), seed=seed), F.lit(1_000_000))
             .cast("double") + F.lit(0.5)) / F.lit(1_000_000.0)
        centered = u - F.lit(0.5)
        mag = F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
        return F.expr(b_expr) * F.signum(centered) * mag * F.lit(-1.0)

    noisy_n = F.col("true_n").cast("double") + lap_noise(31, str(_DP_EPSILON_INV))
    noisy_sum = F.col("true_sum") + lap_noise(37, str(10_000.0 * _DP_EPSILON_INV))
    return bounded_order(
        agg.select(
            "c_mktsegment",
            pround(noisy_n, 4).alias("dp_count"),
            pround(noisy_sum, 4).alias("dp_balance_sum"),
        ),
        "c_mktsegment",
    )


def _dp_noisy_sql() -> str:
    h31 = hash64_sql("c_mktsegment", seed=31)
    h37 = hash64_sql("c_mktsegment", seed=37)
    u31 = f"((({h31}) % 1000000) + 0.5) / 1000000.0"
    u37 = f"((({h37}) % 1000000) + 0.5) / 1000000.0"
    n31 = f"(-1.0 * {_DP_EPSILON_INV} * sign({u31} - 0.5) * ln(1.0 - 2.0 * abs({u31} - 0.5)))"
    n37 = f"(-1.0 * {10_000.0 * _DP_EPSILON_INV} * sign({u37} - 0.5) * ln(1.0 - 2.0 * abs({u37} - 0.5)))"
    return f"""
WITH agg AS (
    SELECT c_mktsegment, count(*) AS true_n,
           CAST(sum(CAST(floor(greatest(0.0, least(CAST(c_acctbal AS DOUBLE), 10000.0))
                              * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS true_sum
    FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment,
       {pround_sql(f'CAST(true_n AS DOUBLE) + {n31}', 4)} AS dp_count,
       {pround_sql(f'true_sum + {n37}', 4)} AS dp_balance_sum
FROM agg ORDER BY c_mktsegment
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.concat_ws(" ", F.col("c_name"), F.col("c_mktsegment")).alias("display_name"),
        F.upper(F.col("c_mktsegment")).alias("segment_upper"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.length(F.col("c_name")).alias("name_len"),
        F.format_string("cust-%d", F.col("c_custkey")).alias("cust_tag"),
    )


_STRING_SQL = """
SELECT c_custkey,
       concat_ws(' ', c_name, c_mktsegment) AS display_name,
       upper(c_mktsegment) AS segment_upper,
       substr(c_name, 1, 8) AS name_prefix,
       CAST(length(c_name) AS INTEGER) AS name_len,
       format('cust-{}', c_custkey) AS cust_tag
FROM customer
"""


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    # dayofweek: Spark 1=Sun..7=Sat vs DuckDB 0=Sun..6=Sat → expose a
    # portable weekend boolean instead of the raw engine-specific number.
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_ym"),
        F.dayofweek("o_orderdate").isin(1, 7).alias("is_weekend"),
    )


_DATE_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       strftime(o_orderdate, '%Y-%m') AS order_ym,
       dayofweek(o_orderdate) IN (0, 6) AS is_weekend
FROM orders
"""


def q_null_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SURVEY §7.3: the left-join NULL → CASE 3-valued-logic path, isolated.
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    j = cust.select("c_custkey").join(counts, "c_custkey", "left")
    return j.select(
        "c_custkey",
        "n_orders",
        (F.col("n_orders") >= 10).alias("ge10_raw"),  # NULL for no-order customers
        F.when(F.col("n_orders") >= 10, F.lit(True)).otherwise(F.lit(False)).alias("ge10_case"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders_filled"),
    )


_NULL_LOGIC_SQL = """
WITH counts AS (SELECT o_custkey AS c_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
SELECT c.c_custkey, s.n_orders,
       s.n_orders >= 10 AS ge10_raw,
       CASE WHEN s.n_orders >= 10 THEN true ELSE false END AS ge10_case,
       coalesce(s.n_orders, 0) AS n_orders_filled
FROM customer c LEFT JOIN counts s USING (c_custkey)
"""


def q_validation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5/§2.11: one-pass data-quality profile (GE-style expectations inputs).
    li = read_table(spark, sf_dir, "lineitem")
    return column_profile(li, ["l_quantity", "l_discount", "l_extendedprice"])


_PROFILE_SQL = """
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_nulls,
       min(l_quantity) AS l_quantity_min, max(l_quantity) AS l_quantity_max,
       CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_discount_nulls,
       min(l_discount) AS l_discount_min, max(l_discount) AS l_discount_max,
       CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_extendedprice_nulls,
       min(l_extendedprice) AS l_extendedprice_min, max(l_extendedprice) AS l_extendedprice_max
FROM lineitem
"""

def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the report an operator reads BEFORE
    choosing between a plain, salted, or broadcast join on a key. One
    per-key hash aggregate (map-side combined) then one tiny rollup:
    distinct keys, total rows, max/mean per-key load, the hottest key
    (deterministic min-key tie-break via struct-ordered max), and the
    max/mean skew ratio (ratio of integers — deterministic). At 100 TB
    this is the cheap pre-flight that tells you whether
    ``salted_skew_join`` is worth its replication factor."""
    li = read_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
        F.min("cnt").alias("min_cnt"),
        F.max(F.struct(F.col("cnt"), (-F.col("l_suppkey")).alias("nk"))).alias("m"),
    ).select(
        "n_keys",
        "total_rows",
        "max_cnt",
        "min_cnt",
        (-F.col("m.nk")).cast("long").alias("hottest_key"),
        pround(
            F.col("max_cnt").cast("double")
            / (F.col("total_rows").cast("double") / F.col("n_keys").cast("double")),
            4,
        ).alias("skew_ratio"),
    )


_SKEW_PROFILE_SQL = f"""
WITH per_key AS (
    SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(cnt) AS BIGINT) AS total_rows,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       CAST(min(cnt) AS BIGINT) AS min_cnt,
       CAST(min(CASE WHEN cnt = (SELECT max(cnt) FROM per_key) THEN l_suppkey END)
            AS BIGINT) AS hottest_key,
       {pround_sql('CAST(max(cnt) AS DOUBLE) / (CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE))', 4)}
           AS skew_ratio
FROM per_key
"""


# --------------------------------------------------------------------------
# TPC-H-style analytics (bench headliners)
# --------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # ≤ 6 rows (return flag × line status).
    return bounded_order(
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 0).alias("sum_qty"),
            pround(F.sum("l_extendedprice"), 0).alias("sum_base_price"),
            pround(F.sum(disc_price), 0).alias("sum_disc_price"),
            pround(F.sum(charge), 0).alias("sum_charge"),
            pround(F.avg("l_quantity"), 2).alias("avg_qty"),
            pround(F.avg("l_extendedprice"), 2).alias("avg_price"),
            pround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ),
        "l_returnflag",
        "l_linestatus",
    )


_TPCH_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {pround_sql('sum(l_quantity)', 0)} AS sum_qty,
       {pround_sql('sum(l_extendedprice)', 0)} AS sum_base_price,
       {pround_sql('sum(l_extendedprice * (1 - l_discount))', 0)} AS sum_disc_price,
       {pround_sql('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 0)} AS sum_charge,
       {pround_sql('avg(l_quantity)', 2)} AS avg_qty,
       {pround_sql('avg(l_extendedprice)', 2)} AS avg_price,
       {pround_sql('avg(l_discount)', 4)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    # customer is the small side → broadcast into orders; the orders⋈lineitem
    # join shuffles on orderkey (both large at scale). AQE handles skew.
    j = (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate").withColumnRenamed(
                "o_orderkey", "l_orderkey"
            ),
            "l_orderkey",
        )
        .join(F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))), "o_custkey")
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date")
        )
    )


_TPCH_Q3_SQL = f"""
SELECT l_orderkey,
       {pround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")

    # Dim chain region→nation→customer is broadcast throughout; only the
    # orders⋈lineitem join shuffles. Supplier-nation = customer-nation is the
    # TPC-H Q5 "local supplier" condition.
    nr = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    cn = cust.join(F.broadcast(nr), cust.c_nationkey == nr.n_nationkey).select(
        "c_custkey", "n_nationkey", "n_name"
    )
    oc = orders.join(
        F.broadcast(cn.withColumnRenamed("c_custkey", "o_custkey")), "o_custkey"
    ).select(F.col("o_orderkey").alias("l_orderkey"), "n_nationkey", "n_name")
    ls = li.join(
        F.broadcast(supp.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")),
        "l_suppkey",
    )
    j = ls.join(oc, "l_orderkey").filter(F.col("s_nationkey") == F.col("n_nationkey"))
    # ≤ 25 rows (one per nation).
    return bounded_order(
        j.groupBy("n_name").agg(
            pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        ),
        F.desc("revenue"),
        F.asc("n_name"),
    )


_TPCH_Q5_SQL = f"""
SELECT n_name, {pround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J4 federation analog: one session, many sources, one joined plan.
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    j = (
        orders.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .join(F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name", "n_regionkey")), "c_nationkey")
        .join(F.broadcast(region.select(F.col("r_regionkey").alias("n_regionkey"), "r_name")), "n_regionkey")
    )
    return j.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        pround(F.sum("o_totalprice"), 0).alias("sum_price"),
    )


_MULTIWAY_SQL = f"""
SELECT r_name, n_name, count(*) AS n_orders, {pround_sql('sum(o_totalprice)', 0)} AS sum_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


SPECS: list[QuerySpec] = [
    QuerySpec("flagship_bonus", q_flagship, _FLAGSHIP_SQL, ("flagship", "join", "agg", "bench")),
    QuerySpec(
        "scan_project",
        q_scan_project,
        "SELECT c_custkey, c_name, c_mktsegment FROM customer",
        ("scan",),
    ),
    QuerySpec(
        "filter_pushdown",
        q_filter_pushdown,
        """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
           WHERE l_quantity <= 5 AND l_shipdate >= TIMESTAMP '1998-01-01'""",
        ("filter",),
    ),
    QuerySpec("cast_types", q_cast_types, _CAST_SQL, ("cast",)),
    QuerySpec("case_when_bonus", q_case_when, _CASE_SQL, ("projection",)),
    QuerySpec(
        "inner_join_enrich",
        q_inner_join,
        """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey""",
        ("join", "bench"),
    ),
    QuerySpec("left_join_agg", q_left_join_agg, _LEFT_JOIN_SQL, ("join", "agg")),
    QuerySpec(
        "semi_join",
        q_semi_join,
        """SELECT c_custkey, c_name FROM customer WHERE c_custkey IN
           (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')""",
        ("join",),
    ),
    QuerySpec(
        "anti_join",
        q_anti_join,
        """SELECT c_custkey, c_name FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
        ("join",),
    ),
    QuerySpec(
        "groupby_count_avg",
        q_groupby_agg,
        f"""SELECT o_custkey, count(*) AS count_activity,
            {pround_sql('avg(o_totalprice)', 2)} AS mean_duration
            FROM orders GROUP BY o_custkey""",
        ("agg", "bench"),
    ),
    QuerySpec(
        "topk_groups",
        q_topk,
        """SELECT o_orderpriority, count(*) AS cnt FROM orders
           GROUP BY o_orderpriority ORDER BY cnt DESC, o_orderpriority LIMIT 3""",
        ("agg", "topk"),
    ),
    QuerySpec("scalar_count", q_scalar_count, "SELECT count(*) AS n_rows FROM lineitem", ("agg",)),
    QuerySpec("distinct_agg", q_distinct_agg, _DISTINCT_SQL, ("agg",)),
    QuerySpec("rollup_agg", q_rollup, _ROLLUP_SQL, ("agg",)),
    QuerySpec("cube_agg", q_cube, _CUBE_SQL, ("agg",)),
    QuerySpec("window_rank", q_window_rank, _WINDOW_RANK_SQL, ("window",)),
    QuerySpec("window_lag", q_window_lag, _WINDOW_LAG_SQL, ("window",)),
    QuerySpec("window_running_sum", q_window_running_sum, _WINDOW_RUNNING_SQL, ("window", "bench")),
    QuerySpec(
        "set_union_all",
        q_union_all,
        """SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
           UNION ALL SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal < 0""",
        ("setop",),
    ),
    QuerySpec(
        "set_intersect",
        q_intersect,
        """SELECT o_custkey AS c_custkey FROM orders
           INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 5000""",
        ("setop",),
    ),
    QuerySpec(
        "set_except",
        q_except,
        """SELECT c_custkey FROM customer EXCEPT SELECT o_custkey AS c_custkey FROM orders""",
        ("setop",),
    ),
    QuerySpec(
        "orderby_limit",
        q_orderby_limit,
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""",
        ("sort",),
    ),
    QuerySpec("masked_view", q_masked_view, _MASKED_SQL, ("governance",)),
    QuerySpec(
        "k_anonymity_audit",
        q_k_anonymity_audit,
        _K_ANON_SQL,
        ("governance", "agg"),
        doc="k=5 anonymity audit with one-step generalization ladder over customer quasi-ids",
    ),
    QuerySpec(
        "dp_noisy_counts",
        q_dp_noisy_counts,
        _dp_noisy_sql(),
        ("governance", "agg"),
        doc="epsilon-DP Laplace release of per-segment counts + clipped "
        "balance sums; noise drawn deterministically from the portable "
        "hash inverse-CDF so the release is reproducible AND hash-checked",
    ),
    QuerySpec("string_funcs", q_string_funcs, _STRING_SQL, ("scalar",)),
    QuerySpec("date_funcs", q_date_funcs, _DATE_SQL, ("scalar",)),
    QuerySpec("null_logic_coalesce", q_null_logic, _NULL_LOGIC_SQL, ("semantics",)),
    QuerySpec("validation_profile", q_validation_profile, _PROFILE_SQL, ("quality",)),
    QuerySpec(
        "skew_profile",
        q_skew_profile,
        _SKEW_PROFILE_SQL,
        ("quality", "scale"),
        doc="Join-key skew pre-flight: per-key load stats + hottest key + "
        "max/mean ratio from one keyed aggregate",
    ),
    QuerySpec("tpch_q1_pricing", q_tpch_q1, _TPCH_Q1_SQL, ("tpch", "bench")),
    QuerySpec("tpch_q3_priority", q_tpch_q3, _TPCH_Q3_SQL, ("tpch", "bench")),
    QuerySpec("tpch_q5_local_supplier", q_tpch_q5, _TPCH_Q5_SQL, ("tpch", "bench")),
    QuerySpec("multiway_join_rollup", q_multiway_join, _MULTIWAY_SQL, ("join", "agg", "bench")),
]


# --------------------------------------------------------------------------
# t-closeness audit over (nation, segment) quasi-identifier cells
# --------------------------------------------------------------------------

#: Ordered sensitive attribute: acctbal band 0-9 (cents grid, integer-exact).
_BAND = "least(9, greatest(0, (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000) DIV 110000))"
_BAND_DUCK = "least(9, greatest(0, (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000) // 110000))"
_T_MICRO_THRESHOLD = 200000  # flag cells with t > 0.20


def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    counts = (
        cust.select(
            "c_nationkey", "c_mktsegment", F.expr(_BAND).cast("long").alias("band")
        )
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Dense (cell × band) grid — bounded by |nations|·|segments|·10 rows, so
    # every window below runs over a constant-size frame at any corpus size.
    cells = counts.select("c_nationkey", "c_mktsegment").distinct()
    grid = (
        cells.select(
            "c_nationkey",
            "c_mktsegment",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("band0"),
        )
        .select(
            "c_nationkey", "c_mktsegment", F.col("band0").cast("long").alias("band")
        )
        .join(counts, ["c_nationkey", "c_mktsegment", "band"], "left")
        .fillna({"c": 0})
    )
    w_cell = Window.partitionBy("c_nationkey", "c_mktsegment")
    w_band = Window.partitionBy("band")
    w_all = Window.partitionBy()
    w_cum = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = (
        grid.withColumn("n_cell", F.sum("c").over(w_cell))
        .withColumn("g", F.sum("c").over(w_band))
        .withColumn("n_total", F.sum("c").over(w_all))
        .withColumn(
            "cum",
            F.sum(F.col("c") * F.col("n_total") - F.col("g") * F.col("n_cell")).over(
                w_cum
            ),
        )
    )
    return (
        g.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.first("n_cell").alias("n_cell"),
            F.first("n_total").alias("n_total"),
            F.sum(F.abs(F.col("cum"))).alias("t_num"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_cell",
            F.expr(
                "CAST((CAST(t_num AS DECIMAL(38,0)) * 1000000)"
                " DIV (CAST(n_cell AS DECIMAL(38,0)) * n_total * 9) AS BIGINT)"
            ).alias("t_micro"),
        )
        .withColumn(
            "breach", (F.col("t_micro") > F.lit(_T_MICRO_THRESHOLD)).cast("int")
        )
    )


_T_CLOSENESS_SQL = f"""
WITH counts AS (
    SELECT c_nationkey, c_mktsegment, {_BAND_DUCK} AS band, count(*) AS c
    FROM customer GROUP BY 1, 2, 3
), grid AS (
    SELECT cl.c_nationkey, cl.c_mktsegment, b.band, coalesce(co.c, 0) AS c
    FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM counts) cl
    CROSS JOIN (SELECT unnest(range(0, 10)) AS band) b
    LEFT JOIN counts co USING (c_nationkey, c_mktsegment, band)
), g AS (
    SELECT *,
           sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n_cell,
           sum(c) OVER (PARTITION BY band) AS g,
           sum(c) OVER () AS n_total
    FROM grid
), cums AS (
    SELECT *,
           sum(c * n_total - g * n_cell) OVER (
               PARTITION BY c_nationkey, c_mktsegment ORDER BY band
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM g
)
SELECT c_nationkey, c_mktsegment,
       CAST(any_value(n_cell) AS BIGINT) AS n_cell,
       CAST((CAST(sum(abs(cum)) AS HUGEINT) * 1000000)
            // (CAST(any_value(n_cell) AS HUGEINT) * any_value(n_total) * 9)
           AS BIGINT) AS t_micro,
       CAST(CAST((CAST(sum(abs(cum)) AS HUGEINT) * 1000000)
            // (CAST(any_value(n_cell) AS HUGEINT) * any_value(n_total) * 9)
           AS BIGINT) > {_T_MICRO_THRESHOLD} AS INTEGER) AS breach
FROM cums
GROUP BY 1, 2
"""



SPECS.extend(
    [
    QuerySpec(
            "t_closeness_audit",
            q_t_closeness_audit,
            _T_CLOSENESS_SQL,
            ("governance",),
            doc="t-closeness per (nation, segment) QI cell: exact-integer EMD of "
            "the ordered balance-band distribution vs global over a bounded "
            "dense grid; one data-sized aggregate",
        ),
    ]
)
