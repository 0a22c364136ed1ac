"""Advanced relational surface: as-of join, subqueries, pivot/unpivot,
HAVING, full-outer/range joins, statistical aggregates, explode/wordcount,
richer window and string functions.

None of these exist in the reference (SURVEY §2.4-2.7 lists its minimal
surface); they are part of the engine's completeness charter — a user of the
reference switching to this engine gets the full relational toolbox. All
oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from projet_data_infrastructure_spark.operators.asof import asof_join, carry_forward
from projet_data_infrastructure_spark.plans._portable import (
    pround,
    pround_sql,
    value_cents,
)
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.session import default_parallelism
from projet_data_infrastructure_spark.sources.readers import (
    file_set,
    read_parquet,
    read_table,
    read_table_balanced,
)

# --------------------------------------------------------------------------
# As-of join: last 'view' event at-or-before each 'purchase' per user.
# Spark side: union+window formulation (operators/asof.py). Oracle: DuckDB's
# native ASOF LEFT JOIN.
# --------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id")
    )
    out = asof_join(purchases, views, key="user_id", ts="ts", right_payload=["view_event_id"])
    return out.select(
        "event_id", "user_id", F.col("view_event_id_asof").alias("last_view_event_id")
    )


_ASOF_SQL = """
SELECT p.event_id, p.user_id, v.event_id AS last_view_event_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
"""

# Range join: event pairs of the same user within 2 minutes (a < b).
# Spark: shuffle both sides on user, range predicate inside the key-equal
# join (sort-merge + band filter); at scale, bucket by (user, time-bucket)
# to bound the pair search — here the per-user key equality already bounds it.


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    a = ev.select(F.col("event_id").alias("ev_a"), "user_id", F.col("ts").alias("ts_a"))
    b = ev.select(F.col("event_id").alias("ev_b"), "user_id", F.col("ts").alias("ts_b"))
    pair = a.join(b, "user_id").filter(
        (F.col("ev_a") < F.col("ev_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 2 MINUTES"))
    )
    return pair.select("user_id", "ev_a", "ev_b")


_RANGE_JOIN_SQL = """
SELECT a.user_id, a.event_id AS ev_a, b.event_id AS ev_b
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
"""


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    buyers = (
        ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(F.count("*").alias("n_buys"))
    )
    clickers = (
        ev.filter(F.col("event_type") == "click").groupBy("user_id").agg(F.count("*").alias("n_clicks"))
    )
    return buyers.join(clickers, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("n_buys", F.lit(0)).alias("n_buys"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
    )


_FULL_OUTER_SQL = """
WITH buyers AS (SELECT user_id, count(*) AS n_buys FROM events WHERE event_type='purchase' GROUP BY 1),
clickers AS (SELECT user_id, count(*) AS n_clicks FROM events WHERE event_type='click' GROUP BY 1)
SELECT coalesce(b.user_id, c.user_id) AS user_id,
       coalesce(n_buys, 0) AS n_buys, coalesce(n_clicks, 0) AS n_clicks
FROM buyers b FULL OUTER JOIN clickers c ON b.user_id = c.user_id
"""

# --------------------------------------------------------------------------
# Subqueries
# --------------------------------------------------------------------------


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Correlated EXISTS through spark.sql (Catalyst rewrites to a semi join).
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("_adv_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_adv_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM _adv_customer c
        WHERE EXISTS (SELECT 1 FROM _adv_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """
    )


_EXISTS_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    avg_price = orders.agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        orders.join(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.lit(1.5) * F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_SCALAR_SUB_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
"""


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), pround(F.sum("o_totalprice"), 0).alias("total_spend"))
        .filter(F.col("n_orders") >= 15)
    )


_HAVING_SQL = f"""
SELECT o_custkey, count(*) AS n_orders, {pround_sql('sum(o_totalprice)', 0)} AS total_spend
FROM orders GROUP BY o_custkey HAVING count(*) >= 15
"""

# --------------------------------------------------------------------------
# Pivot / unpivot
# --------------------------------------------------------------------------

_STATUSES = ["F", "O", "P"]


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, [*_STATUSES])
    )
    return out.select(
        "o_orderpriority",
        *[F.col(s).alias(f"n_{s.lower()}") for s in _STATUSES],
    )


_PIVOT_SQL = """
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority
"""


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    wide = cust.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot("c_custkey", ["acctbal", "nationkey"], "measure", "value")


_UNPIVOT_SQL = """
SELECT c_custkey, measure, value FROM (
    SELECT c_custkey, 'acctbal' AS measure, c_acctbal AS value FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
)
"""

# --------------------------------------------------------------------------
# Explode / wordcount, array aggregation
# --------------------------------------------------------------------------


def q_wordcount_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projet_data_infrastructure_spark.operators.text import tokens

    docs = read_table_balanced(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
    )


_WORDCOUNT_SQL = """
SELECT token, count(*) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')) AS token
    FROM documents
) GROUP BY token ORDER BY cnt DESC, token LIMIT 20
"""


def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The collected array is emitted as a ','-joined string: the driver's
    # pandas canonicalizer cannot hash list-typed cells, so an array-valued
    # output column can never go green under the oracle contract. The
    # collect+sort semantics stay under test; only the wire format changes.
    orders = read_table(spark, sf_dir, "orders")
    small = orders.filter(F.col("o_custkey") < 20)
    return small.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_list("o_orderkey")), ",").alias("orderkeys"),
        F.count(F.lit(1)).alias("n"),
    )


_ARRAY_AGG_SQL = """
SELECT o_custkey,
       array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS orderkeys,
       count(*) AS n
FROM orders WHERE o_custkey < 20 GROUP BY o_custkey
"""

# --------------------------------------------------------------------------
# Statistical aggregates
# --------------------------------------------------------------------------


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pround(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        pround(F.var_samp("l_quantity"), 4).alias("var_qty"),
        pround(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        pround(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )


_STATS_SQL = f"""
SELECT l_returnflag,
       {pround_sql('stddev_samp(l_quantity)', 4)} AS sd_qty,
       {pround_sql('var_samp(l_quantity)', 4)} AS var_qty,
       {pround_sql('corr(l_quantity, l_extendedprice)', 4)} AS corr_qty_price,
       {pround_sql('covar_samp(l_quantity, l_discount)', 6)} AS covar_qty_disc
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Per-user autocorrelation (lag-1 and lag-2) of the event value series —
# the time-series diagnostic a feature-drift monitor runs per entity.
# One window sort per user produces BOTH lagged columns (same partition key
# and order, so Catalyst plans a single Exchange + Sort), then a hash
# aggregate computes the two Pearson terms. Scale: everything is keyed by
# user_id — no global sort, no cross-user traffic.
# --------------------------------------------------------------------------


def q_acf_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
    )
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count("v1").alias("n_lag1_pairs"),
            pround(F.corr("value", "v1"), 4).alias("acf1"),
            pround(F.corr("value", "v2"), 4).alias("acf2"),
        )
        .filter(F.col("n_lag1_pairs") >= 10)
        .orderBy("user_id")
    )


_ACF_SQL = f"""
WITH lagged AS (
    SELECT user_id, value,
           lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v1,
           lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v2
    FROM events
)
SELECT user_id,
       count(v1) AS n_lag1_pairs,
       {pround_sql('corr(value, v1)', 4)} AS acf1,
       {pround_sql('corr(value, v2)', 4)} AS acf2
FROM lagged
GROUP BY user_id
HAVING count(v1) >= 10
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Spark 4 SQL surface: listagg WITHIN GROUP (SPARK-42746) + parameterized
# spark.sql (named :params, SPARK-41271) — the injection-safe way to thread
# runtime values into SQL text, and the ANSI ordered string aggregation.
# --------------------------------------------------------------------------

_LISTAGG_CUTOFF = 30


def q_listagg_param_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer DESC-ordered order-key roster via ``listagg ... WITHIN
    GROUP``, for customers under a cutoff passed as a NAMED PARAMETER to
    ``spark.sql`` (never string-interpolated — parameter binding survives
    hostile values and keeps one plan cache entry). The deterministic
    WITHIN GROUP order is what makes an aggregation over strings
    hash-checkable; bare ``listagg`` without it is partition-order-dependent
    and would flake. DuckDB spells the same thing ``string_agg(... ORDER
    BY)``."""
    from projet_data_infrastructure_spark.sources.readers import load_star

    load_star(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_custkey AS custkey,
               count(*) AS n_orders,
               listagg(CAST(o_orderkey AS STRING), ',')
                   WITHIN GROUP (ORDER BY o_orderkey DESC) AS orderkeys_desc
        FROM orders
        WHERE o_custkey < :cutoff
        GROUP BY o_custkey
        ORDER BY custkey
        """,
        args={"cutoff": _LISTAGG_CUTOFF},
    )


_LISTAGG_SQL = f"""
SELECT o_custkey AS custkey,
       count(*) AS n_orders,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey DESC)
           AS orderkeys_desc
FROM orders
WHERE o_custkey < {_LISTAGG_CUTOFF}
GROUP BY o_custkey
ORDER BY custkey
"""


def q_weekly_revenue_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 week-over-week customer revenue swings — the movers report an
    account team reads every Monday. Weekly cents per customer (one keyed
    aggregate on ISO-week starts via ``date_trunc('week', …)``, identical
    Monday anchoring in both engines), consecutive-week delta via lag over
    the per-customer window (weeks with no orders break the chain — the
    lag is over OBSERVED weeks, a documented choice the oracle mirrors),
    top-20 by absolute swing with full deterministic tie-break. Integer
    cents end to end; the only global stage is the TakeOrdered heap."""
    orders = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    weekly = (
        orders.select(
            "o_custkey",
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("wk"),
            cents.alias("cents"),
        )
        .groupBy("o_custkey", "wk")
        .agg(F.sum("cents").alias("rev"))
    )
    w = Window.partitionBy("o_custkey").orderBy("wk")
    lagged = weekly.select(
        F.col("o_custkey").alias("custkey"),
        "wk",
        "rev",
        F.lag("rev").over(w).alias("prev_rev"),
    ).filter(F.col("prev_rev").isNotNull())
    delta = F.col("rev") - F.col("prev_rev")
    return (
        lagged.select("custkey", "wk", "rev", "prev_rev", delta.alias("delta_cents"))
        .orderBy(F.abs(F.col("delta_cents")).desc(), "custkey", "wk")
        .limit(20)
    )


_WEEKLY_MOVERS_SQL = """
WITH weekly AS (
    SELECT o_custkey AS custkey,
           CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
    FROM orders GROUP BY 1, 2
),
lagged AS (
    SELECT custkey, wk, rev,
           lag(rev) OVER (PARTITION BY custkey ORDER BY wk) AS prev_rev
    FROM weekly
)
SELECT custkey, wk, rev, prev_rev, rev - prev_rev AS delta_cents
FROM lagged
WHERE prev_rev IS NOT NULL
ORDER BY abs(rev - prev_rev) DESC, custkey, wk
LIMIT 20
"""


_AB_PURCHASE_CUT = 14


def q_ab_test_z_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the experimentation primitive. Users split
    into deterministic arms by id parity (a stand-in for an assignment
    column); the tested proportion is the high-purchaser rate (≥ 14
    purchase events). All proportions are ratios of integers and the z
    statistic is one closed-form expression over them (sqrt is IEEE-exact),
    so the whole test — including the |z| > 1.96 verdict — hash-matches the
    oracle. Plan: one per-user aggregate, one 2-row arm aggregate, one
    projection; at 100 TB the heavy stage is the user rollup (keyed,
    map-side combined)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purch")
    )
    arms = (
        per_user.select(
            F.pmod(F.col("user_id"), F.lit(2)).alias("arm"),
            (F.col("n_purch") >= _AB_PURCHASE_CUT).cast("long").alias("hit"),
        )
        .groupBy("arm")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("hit").alias("k"))
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("k").alias("k0")
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("k").alias("k1")
    )
    j = a0.crossJoin(a1)
    p0 = F.col("k0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("k1").cast("double") / F.col("n1").cast("double")
    pp = (F.col("k0") + F.col("k1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    se = F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n0").cast("double") + F.lit(1.0) / F.col("n1").cast("double"))
    )
    z = F.when(se > 0, (p1 - p0) / se)
    return j.select(
        "n0",
        "k0",
        "n1",
        "k1",
        pround(p0, 6).alias("rate0"),
        pround(p1, 6).alias("rate1"),
        pround(z, 6).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


_AB_TEST_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch
    FROM events GROUP BY user_id
),
arms AS (
    SELECT user_id % 2 AS arm, count(*) AS n,
           CAST(sum(CASE WHEN n_purch >= {_AB_PURCHASE_CUT} THEN 1 ELSE 0 END) AS BIGINT) AS k
    FROM per_user GROUP BY 1
),
j AS (
    SELECT a0.n AS n0, a0.k AS k0, a1.n AS n1, a1.k AS k1
    FROM (SELECT n, k FROM arms WHERE arm = 0) a0
    CROSS JOIN (SELECT n, k FROM arms WHERE arm = 1) a1
),
calc AS (
    SELECT n0, k0, n1, k1,
           CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
           CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
           CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pp
    FROM j
),
zc AS (
    SELECT *,
           CASE WHEN sqrt(pp * (1.0 - pp) * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) > 0
                THEN (p1 - p0) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
           END AS z
    FROM calc
)
SELECT n0, k0, n1, k1,
       {pround_sql('p0', 6)} AS rate0,
       {pround_sql('p1', 6)} AS rate1,
       {pround_sql('z', 6)} AS z_score,
       abs(z) > 1.96 AS significant_95
FROM zc
"""


def q_interevent_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user inter-event gaps in power-of-two second
    buckets — the arrival-process fingerprint behind session-timeout and
    watermark tuning (pick the gap valley, set the session gap there).
    The bucket index is floor(log2(gap))+1 computed as ``length(bin(gap))``
    — INTEGER binary-string length, the same libm-free leading-bit trick
    the HLL sketch uses — so the histogram is exact in both engines. One
    keyed window (lag) + one tiny aggregate."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_s = F.expr(
        "(unix_micros(CAST(ts AS TIMESTAMP)) - prev_us) DIV 1000000"
    )
    base = ev.select(
        "user_id", "ts", "event_id", F.lag(ts_us).over(w).alias("prev_us")
    ).filter(F.col("prev_us").isNotNull())
    bucket = F.when(gap_s <= 0, F.lit(0)).otherwise(
        F.length(F.bin(gap_s)).cast("int")
    )
    hist = (
        base.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )
    lower = F.when(F.col("bucket") == 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
    )
    return hist.select(
        "bucket", lower.cast("long").alias("lower_bound_s"), "n_gaps"
    ).orderBy("bucket")


_GAP_HIST_SQL = """
WITH base AS (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
),
bucketed AS (
    SELECT CASE WHEN gap_us // 1000000 <= 0 THEN 0
                ELSE CAST(length(bin(gap_us // 1000000)) AS INTEGER) END AS bucket
    FROM base WHERE gap_us IS NOT NULL
),
hist AS (SELECT bucket, count(*) AS n_gaps FROM bucketed GROUP BY bucket)
SELECT bucket,
       CAST(CASE WHEN bucket = 0 THEN 0
                 ELSE CAST(1 AS BIGINT) << (bucket - 1) END AS BIGINT)
           AS lower_bound_s,
       n_gaps
FROM hist
ORDER BY bucket
"""


def q_max_drawdown_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative net value series (classic
    risk analytics): running sum → running max → max(peak − current). Three
    window functions over ONE per-user sort (identical partition key and
    order ⇒ Catalyst plans a single Exchange + Sort for all of them —
    the SCD2 single-exchange discipline). Values are integer cents with a
    deterministic (ts, event_id) order, so every intermediate is exact."""
    ev = read_table(spark, sf_dir, "events")
    cents = value_cents()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = F.sum(cents).over(w.rowsBetween(Window.unboundedPreceding, 0))
    series = ev.select("user_id", "ts", "event_id", run.alias("run_sum"))
    peak = F.max("run_sum").over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = series.select("user_id", (peak - F.col("run_sum")).alias("drawdown"))
    return (
        dd.groupBy("user_id")
        .agg(
            F.max("drawdown").alias("max_drawdown_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_MAX_DRAWDOWN_SQL = """
WITH series AS (
    SELECT user_id,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sum,
           ts, event_id
    FROM events
),
dd AS (
    SELECT user_id,
           max(run_sum) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - run_sum
               AS drawdown
    FROM series
)
SELECT user_id,
       CAST(max(drawdown) AS BIGINT) AS max_drawdown_cents,
       count(*) AS n_events
FROM dd
GROUP BY user_id
ORDER BY user_id
"""


def q_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day WITHOUT a running count-distinct
    (which no engine can do incrementally): reduce each user to their
    first-seen day (one keyed aggregate), count arrivals per day, then a
    running sum over the tiny per-day frame. The window is global but its
    input is |days| rows — bounded by the calendar, not the data — so the
    single-partition sort is safe at any scale (the same bounded-input
    argument as the skyline global pass). The growth curve every DAU/MAU
    dashboard needs."""
    ev = read_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "first_day",
        "n_new_users",
        F.sum("n_new_users").over(w).alias("cumulative_users"),
    ).orderBy("first_day")


_CUMULATIVE_NEW_USERS_SQL = """
WITH first_seen AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
),
per_day AS (
    SELECT first_day, count(*) AS n_new_users FROM first_seen GROUP BY first_day
)
SELECT first_day, n_new_users,
       CAST(sum(n_new_users) OVER (ORDER BY first_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cumulative_users
FROM per_day
ORDER BY first_day
"""


def q_view_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per-user MEDIAN delay from the last view to each
    purchase. Composition of two scale-safe pieces: the as-of join
    (union+window, one keyed shuffle — never a pairwise range join) binds
    each purchase to its most recent view, then a user-keyed window takes
    the nearest-rank median of the microsecond delays — integer-exact, no
    interpolation ulps, and every stage is partitioned by user_id (the
    global aggregate never materializes a global sort). The conversion
    dashboards the reference's BI layer implies need exactly this shape."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("ts").alias("vts")
    )
    pairs = asof_join(purchases, views, key="user_id", ts="ts", right_payload=["vts"])
    matched = pairs.filter(F.col("vts_asof").isNotNull()).select(
        "user_id",
        "event_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))  # UTC pinned by read_table
            - F.unix_micros(F.col("vts_asof").cast("timestamp"))
        ).alias("delay_us"),
    )
    w = Window.partitionBy("user_id").orderBy("delay_us", "event_id")
    wall = Window.partitionBy("user_id")
    ranked = matched.select(
        "user_id",
        "delay_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return (
        ranked.filter(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")))
        .select(
            "user_id",
            F.col("n").alias("n_pairs"),
            F.col("delay_us").alias("median_delay_us"),
        )
        .orderBy("user_id")
    )


_VIEW_PURCHASE_LATENCY_SQL = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
pairs AS (
    SELECT p.event_id, p.user_id, p.ts, v.ts AS vts
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
),
m AS (
    SELECT user_id, event_id, epoch_us(ts) - epoch_us(vts) AS delay_us
    FROM pairs WHERE vts IS NOT NULL
),
ranked AS (
    SELECT user_id, delay_us,
           row_number() OVER (PARTITION BY user_id ORDER BY delay_us, event_id) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM m
)
SELECT user_id, n AS n_pairs, delay_us AS median_delay_us
FROM ranked
WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
ORDER BY user_id
"""


def q_pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (SPARK-49555, the |> operator): the same
    filter → aggregate → sort pipeline a DataFrame expresses, written as a
    linear SQL flow. Pipe stages lower to the identical logical plan as
    nested SELECTs — this spec pins that equivalence by hash-matching a
    conventional-SQL oracle. Money is aggregated in integer cents."""
    from projet_data_infrastructure_spark.sources.readers import load_star

    load_star(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'F'
        |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE count(*) AS n_orders, sum(cents) AS revenue_cents
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


_PIPE_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        pround(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
        pround(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
    )


_MEDIAN_SQL = f"""
SELECT o_orderstatus,
       {pround_sql('quantile_cont(o_totalprice, 0.5)', 2)} AS median_price,
       {pround_sql('quantile_cont(o_totalprice, 0.9)', 2)} AS p90_price
FROM orders GROUP BY o_orderstatus
"""

# --------------------------------------------------------------------------
# More window functions
# --------------------------------------------------------------------------


def q_window_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
    )


_WINDOW2_SQL = f"""
SELECT o_custkey, o_orderkey,
       ntile(4) OVER w AS quartile,
       {pround_sql('percent_rank() OVER w', 6)} AS pct_rank,
       first_value(o_orderkey) OVER w AS first_order,
       lead(o_orderkey) OVER w AS next_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

def q_window_funcs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface, third slice: cume_dist, dense_rank,
    nth_value, lag with an explicit default — completing the analytic
    window family next to ``window_rank``/``window_funcs2``."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        pround(F.cume_dist().over(w), 6).alias("cdist"),
        F.dense_rank().over(w).alias("drank"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_order"),
        F.lag("o_orderkey", 1, -1).over(w).alias("prev_order"),
    )


_WINDOW3_SQL = f"""
SELECT o_custkey, o_orderkey,
       {pround_sql('cume_dist() OVER w', 6)} AS cdist,
       dense_rank() OVER w AS drank,
       nth_value(o_orderkey, 2) OVER wf AS second_order,
       lag(o_orderkey, 1, -1) OVER w AS prev_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function surface — transform / filter / exists /
    forall / aggregate over a per-order quantity array (sorted collect, the
    ``array_agg_sorted`` determinism discipline). These lambdas run INSIDE
    codegen as JVM expressions — the point of HOFs is array logic without a
    Python boundary or an explode+reaggregate shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.col("l_quantity").cast("long"))).alias("qtys")
    )
    arr = F.col("qtys")
    return per_order.select(
        "l_orderkey",
        F.size(F.filter(arr, lambda x: x > 25)).alias("n_over_25"),
        F.aggregate(
            F.transform(arr, lambda x: x * 2), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("doubled_sum"),
        F.exists(arr, lambda x: x >= 45).alias("any_ge_45"),
        F.forall(arr, lambda x: x > 0).alias("all_positive"),
        F.array_join(arr, ",").alias("qtys_csv"),
    )


_HOF_SQL = """
WITH per_order AS (
    SELECT l_orderkey,
           list(CAST(l_quantity AS BIGINT) ORDER BY CAST(l_quantity AS BIGINT)) AS qtys
    FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(list_filter(qtys, x -> x > 25)) AS INT) AS n_over_25,
       CAST(list_sum(list_transform(qtys, x -> x * 2)) AS BIGINT) AS doubled_sum,
       coalesce(list_sum(list_transform(qtys, x -> CASE WHEN x >= 45 THEN 1 ELSE 0 END)) > 0,
                FALSE) AS any_ge_45,
       coalesce(list_sum(list_transform(qtys, x -> CASE WHEN x > 0 THEN 0 ELSE 1 END)) = 0,
                TRUE) AS all_positive,
       array_to_string(qtys, ',') AS qtys_csv
FROM per_order
"""


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): customers with
    a nullified nation key (every 7th) still match each other under the
    null-safe operator — the semantics ordinary ``=`` silently drops.
    Catalyst plans ``<=>`` as a hash-join key, so this stays an equi-join,
    not a nested loop."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    )
    grouped = cust.groupBy("nk").agg(F.count(F.lit(1)).alias("n_cust"))
    pairs = cust.alias("a").join(
        F.broadcast(grouped).alias("g"), F.col("a.nk").eqNullSafe(F.col("g.nk"))
    )
    return pairs.select(
        F.col("a.c_custkey").alias("c_custkey"),
        F.col("a.nk").alias("nk"),
        F.col("g.n_cust").alias("nation_group_size"),
    )


_NULL_SAFE_JOIN_SQL = """
WITH cust AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
    FROM customer
), grouped AS (
    SELECT nk, count(*) AS n_cust FROM cust GROUP BY nk
)
SELECT a.c_custkey, a.nk, g.n_cust AS nation_group_size
FROM cust a JOIN grouped g ON a.nk IS NOT DISTINCT FROM g.nk
"""


# --------------------------------------------------------------------------
# More scalar functions (strings / conditionals)
# --------------------------------------------------------------------------


def q_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", "([A-Z]+)", 1).alias("first_word"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.translate("p_brand", "#", "-").alias("brand_clean"),
        F.reverse("p_type").alias("type_rev"),
        F.left(F.col("p_name"), F.lit(5)).alias("name5"),
        F.contains(F.col("p_type"), F.lit("PROMO")).alias("is_promo"),
    )


_STRING2_SQL = """
SELECT p_partkey,
       regexp_extract(p_name, '([A-Z]+)', 1) AS first_word,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
       replace(p_brand, '#', '-') AS brand_clean,
       reverse(p_type) AS type_rev,
       left(p_name, 5) AS name5,
       contains(p_type, 'PROMO') AS is_promo
FROM part
"""


def q_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
        F.nvl(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("MASKED")).alias("seg_filled"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_cap1k"),
        F.abs(F.col("c_acctbal")).alias("bal_abs"),
        F.sign(F.col("c_acctbal")).alias("bal_sign"),
    )


_CONDITIONAL_SQL = """
SELECT c_custkey,
       nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'MASKED') AS seg_filled,
       greatest(c_acctbal, 0.0) AS bal_floor0,
       least(c_acctbal, 1000.0) AS bal_cap1k,
       abs(c_acctbal) AS bal_abs,
       CAST(sign(c_acctbal) AS DOUBLE) AS bal_sign
FROM customer
"""

# Grouping sets (explicit, beyond rollup/cube)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_adv_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM _adv_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# --------------------------------------------------------------------------
# More TPC-H-style analytics (bench headliners)
# --------------------------------------------------------------------------


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 analog: revenue lost to returned items, per customer, top 20."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = read_table(spark, sf_dir, "nation")
    j = (
        li.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"), "l_orderkey"
        )
        .join(F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal", "c_nationkey")), "o_custkey")
        .join(F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")), "c_nationkey")
    )
    return (
        j.groupBy(F.col("o_custkey").alias("c_custkey"), "c_name", "c_acctbal", "n_name")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_TPCH_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {pround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 analog: large-volume orders (total quantity > threshold)."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(pround(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 180)
    )
    j = big.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_totalprice"),
        "l_orderkey",
    ).join(F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_name")), "o_custkey")
    return j.select(
        "c_name", F.col("o_custkey").alias("c_custkey"), F.col("l_orderkey").alias("o_orderkey"),
        "o_totalprice", "total_qty"
    ).orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(50)


_TPCH_Q18_SQL = f"""
WITH big AS (
    SELECT l_orderkey, {pround_sql('sum(l_quantity)', 2)} AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING {pround_sql('sum(l_quantity)', 2)} > 180
)
SELECT c_name, c_custkey, o_orderkey, o_totalprice, total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 analog: shipping volume between two nation pairs, by year."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(F.broadcast(supp.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")), "l_suppkey")
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"), "l_orderkey"
        )
        .join(F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")), "o_custkey")
        .join(F.broadcast(n1), "s_nationkey")
        .join(F.broadcast(n2), "c_nationkey")
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_TPCH_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       {pround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name != n2.n_name
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog: late shipments (> 90 days after order) by priority class."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    j = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderpriority"),
        "l_orderkey",
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(late.alias("is_late"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("is_late")
    )


_TPCH_Q12_SQL = """
SELECT l_shipdate > o_orderdate + INTERVAL 90 DAY AS is_late,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
           AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
           AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY is_late ORDER BY is_late
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 analog: share of revenue from PROMO parts in one month."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    part = read_table(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"), "p_type")), "l_partkey"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.agg(
        pround(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


_TPCH_Q14_SQL = f"""
SELECT {pround_sql("100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) / sum(l_extendedprice * (1 - l_discount))", 4)}
           AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 analog: orders with at least one late lineitem, counted by priority."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    late_orders = (
        li.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderpriority"),
            "l_orderkey",
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select(F.col("l_orderkey"), "o_orderpriority")
        .distinct()
    )
    return late_orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    ).orderBy("o_orderpriority")


_TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count FROM (
    SELECT DISTINCT o_orderkey, o_orderpriority
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
) GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: forecast revenue — filter + single sum, pure pushdown exercise."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(pround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


_TPCH_Q6_SQL = f"""
SELECT {pround_sql('sum(l_extendedprice * l_discount)', 2)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Width-bucket histogram of account balances (portable manual binning)."""
    cust = read_table(spark, sf_dir, "customer")
    bucket = F.floor((F.col("c_acctbal") - F.lit(-1000.0)) / F.lit(1000.0)).cast("int")
    return (
        cust.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("bucket")
    )


_HISTOGRAM_SQL = """
SELECT CAST(floor((c_acctbal - (-1000.0)) / 1000.0) AS INTEGER) AS bucket,
       count(*) AS n_customers
FROM customer GROUP BY bucket ORDER BY bucket
"""


def q_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: events per (day-of-week-name, hour). Portable via
    day NAMES (numeric dayofweek conventions differ per engine)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "EEEE").alias("day_name"),
            F.hour("ts").alias("hour_of_day"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_HEATMAP_SQL = """
SELECT trim(strftime(ts, '%A')) AS day_name,
       CAST(hour(ts) AS INTEGER) AS hour_of_day, count(*) AS n_events
FROM events GROUP BY day_name, hour_of_day
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long format (label, dim, value) —
    the class-centroid computation of a training-data pipeline. Long format
    keeps the oracle hash float-repr-free per cell."""
    emb = read_table(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode(F.col("embedding")).alias("dim", "v"))
    return (
        exploded.groupBy("label", "dim")
        .agg(pround(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"))
    )


_CENTROIDS_SQL = f"""
SELECT label, CAST(g.i - 1 AS INTEGER) AS dim,
       {pround_sql('avg(CAST(embedding[g.i] AS DOUBLE))', 6)} AS centroid_v
FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
GROUP BY label, dim
"""


def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 word bigrams across the corpus (n-gram frequency analysis)."""
    from projet_data_infrastructure_spark.operators.dedup import shingles_from_tokens
    from projet_data_infrastructure_spark.operators.text import tokens

    docs = read_table_balanced(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 2)
    bigrams = toks.select(F.explode(shingles_from_tokens("toks", 2)).alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(25)
    )


_BIGRAM_SQL = """
WITH toks AS (
    SELECT list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
    FROM documents
)
SELECT array_to_string(t[i:i+1], ' ') AS bigram, count(*) AS cnt
FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
WHERE len(t) >= 2
GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 25
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user view→purchase conversion: first view, first later purchase."""
    ev = read_table(spark, sf_dir, "events")
    first_view = (
        ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("first_view"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    # The time predicate belongs in the JOIN condition, not a post-join
    # filter: a user whose purchases all precede the first view must keep
    # their left row (NULL first_purchase), matching the oracle's LEFT JOIN
    # ... ON u = u AND ts >= first_view semantics.
    conv = (
        first_view.join(
            purchases,
            (F.col("user_id") == F.col("p_user")) & (F.col("p_ts") >= F.col("first_view")),
            "left",
        )
        .groupBy("user_id", "first_view")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    return conv.select(
        "user_id",
        "first_view",
        "first_purchase",
        F.when(
            F.col("first_purchase").isNotNull(),
            (F.unix_micros(F.col("first_purchase").cast("timestamp"))
             - F.unix_micros(F.col("first_view").cast("timestamp"))) / F.lit(1000000.0),
        ).alias("seconds_to_convert"),
    )


_FUNNEL_SQL = """
WITH first_view AS (
    SELECT user_id, min(ts) AS first_view FROM events WHERE event_type = 'view' GROUP BY user_id
), conv AS (
    SELECT f.user_id, f.first_view, min(p.ts) AS first_purchase
    FROM first_view f
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON f.user_id = p.user_id AND p.ts >= f.first_view
    GROUP BY f.user_id, f.first_view
)
SELECT user_id, first_view, first_purchase,
       CASE WHEN first_purchase IS NOT NULL
            THEN (epoch_us(first_purchase) - epoch_us(first_view)) / 1000000.0 END
           AS seconds_to_convert
FROM conv
"""


def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_add(d, 30).alias("due_date"),
        F.date_sub(d, 7).alias("week_before"),
        F.trunc(d, "month").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_2002"),
        F.quarter(d).alias("qtr"),
    )


_DATE_ARITH_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       CAST(o_orderdate AS DATE) - 7 AS week_before,
       date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr
FROM orders
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 analog: distribution of orders-per-customer (incl. zero-order
    customers via left join), with urgent orders excluded — the classic
    left-join + double-aggregation shape."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(
            orders.select(F.col("o_custkey").alias("c_custkey"), "o_orderkey"), "c_custkey", "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count() skips NULLs
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_TPCH_Q13_SQL = """
WITH per_cust AS (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority != '1-URGENT') o
      ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 analog: revenue impact of small-quantity orders — correlated
    scalar subquery (per-part average quantity) re-expressed as an
    aggregate + re-join, the scalable Spark shape."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15)
    )
    joined = li.join(
        F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"))), "l_partkey"
    )
    avg_qty = joined.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("qty_cut")
    )
    small = joined.join(avg_qty, "l_partkey").filter(F.col("l_quantity") < F.col("qty_cut"))
    return small.agg(
        pround(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly")
    )


_TPCH_Q17_SQL = f"""
WITH joined AS (
    SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND p.p_size < 15
), cuts AS (
    SELECT l_partkey, avg(l_quantity) * 0.5 AS qty_cut FROM joined GROUP BY l_partkey
)
SELECT {pround_sql('sum(j.l_extendedprice) / 7.0', 2)} AS avg_yearly
FROM joined j JOIN cuts c ON c.l_partkey = j.l_partkey
WHERE j.l_quantity < c.qty_cut
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 analog: disjunctive multi-branch predicate (brand × size ×
    quantity OR-chains) — Catalyst pushes the common l_partkey equi-join
    and evaluates the disjunction post-join without a cartesian."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    branch1 = (
        (F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(1, 15))
    )
    branch2 = (
        (F.col("p_brand") == "Brand#2") & (F.col("p_size").between(5, 20))
        & (F.col("l_quantity").between(10, 25))
    )
    branch3 = (
        (F.col("p_brand") == "Brand#3") & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity").between(20, 35))
    )
    return j.filter(branch1 | branch2 | branch3).agg(
        pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_TPCH_Q19_SQL = f"""
SELECT {pround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue,
       count(*) AS n_lineitems
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20 AND l.l_quantity BETWEEN 10 AND 25)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 20 AND 35)
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 analog: wealthy-but-inactive customers per nation — scalar
    subquery (global average balance) + NOT EXISTS (anti-join) + final agg."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    # The cut is rounded portably BEFORE comparing: Spark and DuckDB sum
    # doubles in different orders, and a customer balance landing exactly on
    # the unrounded average is the boundary class where the engines could
    # disagree by one row. 6 dp is far below the cent grid of the data.
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        pround(F.avg("c_acctbal"), 6).alias("cut")
    )
    wealthy = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("cut"))
    # "inactive" = never placed an urgent order (plain no-orders is empty at
    # small SFs, which would make the oracle check vacuous).
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    inactive = wealthy.join(urgent, "c_custkey", "left_anti")
    return (
        inactive.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            pround(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


_TPCH_Q22_SQL = f"""
SELECT c_nationkey, count(*) AS numcust,
       {pround_sql('sum(c_acctbal)', 2)} AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT {pround_sql('avg(c_acctbal)', 6)}
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 analog: NATION_2's market share of PROMO-part volume sold into
    ASIA, by order year — the widest join tree in the family (7 tables, two
    nation roles). Every dimension is broadcast; the only exchanges are the
    lineitem/orders fact-fact shuffle and the 2-row final agg."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    part = read_table(spark, sf_dir, "part")
    promo = part.filter(F.col("p_type") == "PROMO").select(
        F.col("p_partkey").alias("l_partkey")
    )
    n1 = nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_regionkey")
    asia = region.filter(F.col("r_name") == "ASIA").select(
        F.col("r_regionkey").alias("n_regionkey")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(promo), "l_partkey")
        .join(
            orders.filter(F.year("o_orderdate").between(1996, 1997)).select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_orderdate"
            ),
            "l_orderkey",
        )
        .join(F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")), "o_custkey")
        .join(F.broadcast(n1), "c_nationkey")
        .join(F.broadcast(asia), "n_regionkey")
        .join(F.broadcast(supp.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")), "l_suppkey")
        .join(F.broadcast(n2), "s_nationkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            pround(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_TPCH_Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       {pround_sql("sum(CASE WHEN n2.n_name = 'NATION_2' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) / sum(l_extendedprice * (1 - l_discount))", 6)}
           AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND year(o_orderdate) BETWEEN 1996 AND 1997
GROUP BY o_year
ORDER BY o_year
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 analog: top supplier(s) by 1997Q1 revenue — derived revenue view
    joined against its own max (scalar subquery shape). Revenue is rounded
    portably BEFORE the max/equality compare so both engines pick the same
    winners (unrounded double sums could tie-break differently)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    supp = read_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp.select("s_suppkey", "s_name")), "s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_TPCH_Q15_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey AS s_suppkey,
           {pround_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s_name, total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 analog: suppliers who were the SOLE late shipper on a finished
    multi-supplier order. The testdata lacks l_commitdate/l_receiptdate, so
    "late" = shipped >90 days after order date (same adaptation as the
    Q4/Q12 analogs). The EXISTS / NOT EXISTS pair is expressed as one
    per-(order, supplier) aggregate reused on both sides of a semi- and an
    anti-join — the fact table is shuffled ONCE on the order key, not three
    times as a literal triple self-join would."""
    orders_f = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    supp = read_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    pairs = (
        li.join(orders_f, "l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("was_late"))
    )
    late_pairs = pairs.filter(F.col("was_late") == 1)
    l1, l2, l3 = late_pairs.alias("l1"), pairs.alias("l2"), late_pairs.alias("l3")
    sole_late = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    ).alias("l1").join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        sole_late.join(
            F.broadcast(supp.select(F.col("s_suppkey").alias("l_suppkey"), "s_name")),
            "l_suppkey",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_TPCH_Q21_SQL = """
WITH pairs AS (
    SELECT l_orderkey, l_suppkey,
           max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END) AS was_late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY l_orderkey, l_suppkey
)
SELECT s_name, count(*) AS numwait
FROM pairs l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.was_late = 1
  AND EXISTS (SELECT 1 FROM pairs l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM pairs l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.was_late = 1)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Dynamic partition pruning over the date-partitioned lake layout that
# stream_append_sink produces (SCALE.md's partition-layout argument, proven).
# ---------------------------------------------------------------------------

_EVENTS_LAKE_CACHE: dict[str, str] = {}


def _events_fingerprint(sf_dir: str) -> str:
    """Cache key for the partitioned copy: absolute source path + the
    ``file_set`` of events.parquet. Two sf_dirs sharing a leaf name get
    different keys, and regenerating the test data in place invalidates the
    cached copy (the old leaf-name key did neither)."""
    import hashlib
    import os

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    return hashlib.sha1(repr((src, file_set(src))).encode()).hexdigest()[:16]


def partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events re-materialized partitioned by event_date (hive layout).

    This is the layout the K1 streaming sink writes at scale; reused across
    processes since the content is a pure function of the source. The copy
    is published ATOMICALLY: written to a pid-suffixed temp dir, then
    renamed into the fingerprint-keyed final path — a concurrent reader sees
    either nothing or a complete table, never a half-written one. Losing a
    publish race is fine: the winner wrote identical content (same
    fingerprint ⇒ same source bytes)."""
    import os
    import shutil
    import tempfile

    fp = _events_fingerprint(sf_dir)
    lake = _EVENTS_LAKE_CACHE.get(fp)
    if lake is None:
        lake = os.path.join(tempfile.gettempdir(), f"spark_graft_events_bydate_{fp}")
        if not os.path.exists(os.path.join(lake, "_SUCCESS")):
            ev = read_table(spark, sf_dir, "events").withColumn(
                "event_date", F.to_date("ts")
            )
            tmp = f"{lake}.tmp-{os.getpid()}"
            ev.write.mode("overwrite").partitionBy("event_date").parquet(tmp)
            shutil.rmtree(lake, ignore_errors=True)  # stale partial, if any
            try:
                os.rename(tmp, lake)
            except OSError:
                # A concurrent writer published first; its content is
                # identical by construction.
                shutil.rmtree(tmp, ignore_errors=True)
        _EVENTS_LAKE_CACHE[fp] = lake
    return read_parquet(spark, lake)


def q_events_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the partitioned fact to a calendar dim filtered on a derived
    attribute (ISO week). The partition filter is only knowable at runtime
    from the dim side, so Catalyst inserts a dynamicpruning subquery and the
    fact scan reads 7 of ~30 date partitions (asserted in
    tests/test_plans_quality.py). At 100 TB this is the difference between
    scanning a week and scanning the table."""
    fact = partitioned_events(spark, sf_dir)
    dim = spark.sql(
        "SELECT explode(sequence(to_date('2024-01-01'), to_date('2024-02-29'), "
        "interval 1 day)) AS day"
    ).filter(F.weekofyear("day") == 2)
    return (
        fact.join(dim, fact.event_date == dim.day)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_EVENTS_DPP_SQL = """
SELECT event_type, count(*) AS n_events
FROM events
WHERE weekofyear(CAST(ts AS DATE)) = 2
  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-02-29'
GROUP BY event_type
"""


_EVENTS_ZORDER_CACHE: dict[str, str] = {}


def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column data skipping via Z-order layout: events rewritten
    Morton-clustered on (user_id, value) — every parquet file covers a tight
    rectangle in BOTH keys (`operators/scale.py:zorder_layout`, tightness
    asserted in tests/test_plans_quality.py), so the min/max footer stats
    prune files for this two-sided predicate. The Delta ZORDER effect with
    plain parquet; same atomic publish + fingerprint cache discipline as
    `partitioned_events`."""
    import os
    import shutil
    import tempfile

    from projet_data_infrastructure_spark.operators.scale import zorder_layout

    fp = _events_fingerprint(sf_dir)
    lake = _EVENTS_ZORDER_CACHE.get(fp)
    if lake is None:
        lake = os.path.join(tempfile.gettempdir(), f"spark_graft_events_zorder_{fp}")
        if not os.path.exists(os.path.join(lake, "_SUCCESS")):
            ev = read_table(spark, sf_dir, "events").select(
                "event_id", "user_id", "event_type", "value"
            )
            laid = zorder_layout(ev, ["user_id", "value"], n_files=8)
            tmp = f"{lake}.tmp-{os.getpid()}"
            laid.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(lake, ignore_errors=True)
            try:
                os.rename(tmp, lake)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
        _EVENTS_ZORDER_CACHE[fp] = lake
    ev = read_parquet(spark, lake)
    sel = ev.filter(
        (F.col("user_id").between(10, 40)) & (F.col("value") >= 50.0)
    )
    return sel.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("total_value"),
    )


_ZORDER_SCAN_SQL = f"""
SELECT event_type, count(*) AS n_events,
       {pround_sql('sum(value)', 2)} AS total_value
FROM events
WHERE user_id BETWEEN 10 AND 40 AND value >= 50.0
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Per-entity OLS trend: slope of event value over time, computed from the
# ALGEBRAIC sums (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) in exact integer arithmetic
# (x = seconds since the user's first event, y = value in cents), so the
# result is bit-identical cross-engine with no rounding guard. This is the
# map-side-combinable formulation — at 100 TB the five sums partial-aggregate
# before the single shuffle, unlike a sort-based per-group regression.
# Bounds at this shape: x ≤ ~1e6 s, y ≤ 1e5 cents, n ≤ 1e4 per user keeps
# every product < 2^62; for wider windows, rescale x to minutes.
# --------------------------------------------------------------------------


def q_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    x_abs = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    y = value_cents()
    w = Window.partitionBy("user_id")
    base = ev.select(
        "user_id",
        (x_abs - F.min(x_abs).over(w)).alias("x"),
        y.alias("y"),
    )
    agg = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den != 0, num.cast("double") / den.cast("double"))
    return agg.select(
        "user_id", F.col("n").alias("n_events"), slope.alias("slope_cents_per_sec")
    )


_REGRESSION_SQL = """
WITH base AS (
    SELECT user_id,
           epoch_us(ts) // 1000000
               - min(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id) AS x,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
    FROM events
), sums AS (
    SELECT user_id, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
    FROM base GROUP BY user_id
)
SELECT user_id, n AS n_events,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS slope_cents_per_sec
FROM sums
"""

# --------------------------------------------------------------------------
# Fuzzy entity matching: Levenshtein near-pairs within blocking keys.
# Never all-pairs — candidates are generated by an equi-join on the blocking
# key (brand), then the edit-distance verify runs on the candidate set only.
# Same generate→verify shape as the LSH dedup chain; at 100 TB the block key
# would be a coarser canopy (sorted-neighborhood or phonetic key) chosen so
# block sizes stay bounded.
# --------------------------------------------------------------------------


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-blocked edit-distance near-pairs with the LOSSLESS length-band
    prefilter: levenshtein(a,b) ≥ |len(a)−len(b)|, so a ≤2-edit match can
    never straddle a >2 length gap — the cheap integer band runs in the
    join condition and the O(mn) edit distance is computed only on
    survivors (the standard ER matcher discipline)."""
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    # Explicit parallelism on the probe side: the part scan is one file →
    # one partition, and the brand-blocked self-join fans each probe row
    # out ~800x (6.9 M banded pairs at sf0.1), so the whole Levenshtein
    # pass ran on a single task (measured 9.2 s; 32-way ≈ 3x faster). A
    # user-specified repartition is AQE-coalesce-exempt; the build side
    # broadcasts, so this adds no join exchange.
    a = part.repartition(default_parallelism(), "p_partkey").alias("a")
    b = part.alias("b")
    band = (
        F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))) <= 2
    )
    cand = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
        & band,
    )
    # Threshold-banded DP (Spark 3.5+ three-arg levenshtein): computes only
    # the |i−j| ≤ 2 diagonal band and aborts early, O(k·n) per pair instead
    # of O(m·n) — returns the EXACT distance when ≤ 2 and -1 otherwise, so
    # the emitted edit_dist is unchanged. The DuckDB oracle keeps the plain
    # unbanded levenshtein (different algorithm, same answer).
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2)
    return cand.select(
        F.col("a.p_partkey").alias("key_a"),
        F.col("b.p_partkey").alias("key_b"),
        F.col("a.p_brand").alias("p_brand"),
        dist.alias("edit_dist"),
    ).filter((dist >= 0) & (F.col("a.p_name") != F.col("b.p_name")))


_LEVENSHTEIN_SQL = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b, a.p_brand AS p_brand,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 2
WHERE levenshtein(a.p_name, b.p_name) <= 2 AND a.p_name <> b.p_name
"""


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed entity-resolution pipeline over the part catalog — the
    classic BLOCK → MATCH → CLUSTER → CANONICALIZE chain as one spec:

    * BLOCK: brand equi-join candidates (never all-pairs — the
      `levenshtein_blocked_pairs` discipline);
    * MATCH: edit distance ≤ 2 on the blocked candidates only;
    * CLUSTER: the shared connected-components operator
      (`operators/dedup.py:duplicate_clusters` — path-halving min-label
      propagation, per-round lineage cut), entity id = min member key;
    * CANONICALIZE: the entity id's own record is the canonical row
      (min-key survivorship rule — deterministic, no order-dependent
      "first seen"); per-entity member count + id checksum make the
      cluster content order-insensitively hash-exact.

    The whole chain is hash-checked end to end against a recursive-CTE
    DuckDB oracle — matcher, clustering, and survivorship together, not
    as separate trust-me stages."""
    from projet_data_infrastructure_spark.operators import dedup

    pairs = q_levenshtein_pairs(spark, sf_dir)
    comp = dedup.duplicate_clusters(pairs, a_col="key_a", b_col="key_b")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    ent = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("doc_id").cast("long").alias("member_checksum"),
    )
    return (
        ent.join(part, ent.component == part.p_partkey)
        .select(
            F.col("component").alias("entity_id"),
            "n_members",
            "member_checksum",
            F.col("p_name").alias("canonical_name"),
        )
        .orderBy("entity_id")
    )


_ENTITY_RESOLUTION_SQL = """
WITH RECURSIVE cand AS (
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2 AND a.p_name <> b.p_name
),
edges AS (
    SELECT key_a AS src, key_b AS dst FROM cand
    UNION
    SELECT key_b AS src, key_a AS dst FROM cand
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
ent AS (
    SELECT component, count(*) AS n_members,
           CAST(sum(node) AS BIGINT) AS member_checksum
    FROM comp GROUP BY component
)
SELECT e.component AS entity_id, e.n_members, e.member_checksum,
       p.p_name AS canonical_name
FROM ent e JOIN part p ON p.p_partkey = e.component
ORDER BY entity_id
"""


# --------------------------------------------------------------------------
# Gaps-and-islands: longest run of consecutive active days per user. The
# date minus row_number anchor collapses each consecutive run to one group
# key — two windows + one agg, all sharing the per-user shuffle, integers
# end to end.
# --------------------------------------------------------------------------


def q_longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    anchored = days.select("user_id", "d", F.date_sub(F.col("d"), rn).alias("anchor"))
    runs = anchored.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("run_len"))
    return runs.groupBy("user_id").agg(F.max("run_len").alias("longest_streak"))


_STREAK_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), anchored AS (
    SELECT user_id, d,
           d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER)
               AS anchor
    FROM days
), runs AS (
    SELECT user_id, anchor, count(*) AS run_len
    FROM anchored GROUP BY user_id, anchor
)
SELECT user_id, max(run_len) AS longest_streak FROM runs GROUP BY user_id
"""

# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-active day, counted per day
# offset — the canonical product-analytics triangle. Distinct days → one
# per-user window min (cohort) → one agg; day arithmetic on DATE is integer
# in both engines.
# --------------------------------------------------------------------------


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    cohort = F.min("d").over(Window.partitionBy("user_id"))
    tagged = days.select(
        "user_id", cohort.alias("cohort_day"), F.datediff(F.col("d"), cohort).alias("day_offset")
    )
    return tagged.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )


_COHORT_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), tagged AS (
    SELECT user_id,
           min(d) OVER (PARTITION BY user_id) AS cohort_day,
           date_diff('day', min(d) OVER (PARTITION BY user_id), d) AS day_offset
    FROM days
)
SELECT cohort_day, day_offset, count(DISTINCT user_id) AS n_users
FROM tagged GROUP BY cohort_day, day_offset
"""

# --------------------------------------------------------------------------
# Ratio-to-report: each nation's share of global revenue. Revenue summed in
# integer cents; the share divides two exact integers, so the doubles agree
# bit-for-bit and pround only guards the display grid.
# --------------------------------------------------------------------------


def q_spend_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user spend percentile (SQL ``percent_rank``) computed
    scale-safe: ``operators.ranks.global_rank`` gives the exact 1-based
    rank with range-bucketed parallel sorts (no single-partition window),
    and percent_rank is then the closed form ``(rank−1)/(N−1)`` — the
    direct consumer of the rank operator next to ``exact_ntile``'s three.
    Hash-identical to the window form; pround(6) guards the one division."""
    from projet_data_infrastructure_spark.operators.ranks import global_rank

    ev = read_table(spark, sf_dir, "events")
    cents = value_cents()
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", cents.alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("spend_cents"))
    )
    ranked, n_total = global_rank(
        per_user, "spend_cents", ties=["user_id"], rank_col="rnk"
    )
    denom = max(n_total - 1, 1)
    return ranked.select(
        "user_id",
        "spend_cents",
        pround((F.col("rnk") - F.lit(1)).cast("double") / F.lit(float(denom)), 6).alias(
            "spend_pctile"
        ),
    )


_SPEND_PCTILE_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, spend_cents,
       {pround_sql('percent_rank() OVER (ORDER BY spend_cents, user_id)', 6)} AS spend_pctile
FROM per_user
"""


def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents).alias("rev_cents"))
    )
    total = F.sum("rev_cents").over(Window.partitionBy())
    return rev.select(
        "n_name",
        "rev_cents",
        pround(F.col("rev_cents").cast("double") / total.cast("double"), 6).alias("rev_share"),
    )


_RATIO_SQL = f"""
WITH rev AS (
    SELECT n_name,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
)
SELECT n_name, rev_cents,
       {pround_sql('CAST(rev_cents AS DOUBLE) / CAST(sum(rev_cents) OVER () AS DOUBLE)', 6)}
           AS rev_share
FROM rev
"""


# --------------------------------------------------------------------------
# Time-based rolling window (RANGE frame), equi-depth histogram, and robust
# MAD outlier detection — the remaining analytics shapes a monitoring/
# feature pipeline leans on.
# --------------------------------------------------------------------------


def q_rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-7-day purchase revenue at every purchase event — a
    RANGE window over epoch seconds (time-based frame, not row-count), the
    feature-engineering staple. Money in integer cents so the rolling sums
    are exact; one shuffle (the user partition), per-row frame scan is
    bounded by the 7-day horizon however long the history grows."""
    ev = read_table(spark, sf_dir, "events")
    cents = value_cents()
    sec = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", sec.alias("sec"), cents.alias("cents")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-7 * 86400, 0)
    )
    return p.select(
        "user_id",
        "event_id",
        F.sum("cents").over(w).alias("roll7d_cents"),
    )


_ROLLING_7D_SQL = """
WITH p AS (
    SELECT user_id, event_id,
           epoch_us(ts) // 1000000 AS sec,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id,
       CAST(sum(cents) OVER (
           PARTITION BY user_id ORDER BY sec
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS roll7d_cents
FROM p
"""


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of customer balances (exact deciles): equal row
    mass per bucket, data-driven boundaries — the histogram optimizers and
    drift monitors actually want (the equi-WIDTH form is
    ``histogram_acctbal``). Buckets come from ``operators.ranks.exact_ntile``
    — range-bucketed parallel rank, NOT a global single-partition ntile
    window — so the same plan holds on a 10⁹-row input; the numbers are
    hash-identical to SQL ``ntile(10)`` with the (cents, custkey)
    tie-broken total order."""
    from projet_data_infrastructure_spark.operators.ranks import exact_ntile

    cust = read_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    base = cust.select(F.col("c_custkey"), cents.alias("cents"))
    return (
        exact_ntile(base, 10, "cents", ties=["c_custkey"], bucket_col="bucket")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


_EQUIDEPTH_SQL = """
WITH c AS (
    SELECT c_custkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
    FROM customer
), b AS (
    SELECT cents, ntile(10) OVER (ORDER BY cents, c_custkey) AS bucket FROM c
)
SELECT bucket, count(*) AS n,
       min(cents) AS lo_cents, max(cents) AS hi_cents
FROM b GROUP BY bucket ORDER BY bucket
"""


def q_revenue_decile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the Pareto question): rank users into spend
    deciles and report each decile's share of total revenue. One corpus
    aggregation to per-user cents; the ntile and the share normalization
    are windows over the ≤|users| aggregate. Integer cents end to end —
    only the final share ratio is floating, identical IEEE division on
    both engines, pround(6). Deciles via ``operators.ranks.exact_ntile``
    (range-bucketed parallel rank; at 100 TB the per-user aggregate is
    ~10⁹ rows and a global ntile window would sort the world in one
    task) — hash-identical to SQL ``ntile(10) OVER (ORDER BY rev DESC,
    user_id)``."""
    from projet_data_infrastructure_spark.operators.ranks import exact_ntile

    ev = read_table(spark, sf_dir, "events")
    cents = value_cents()
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", cents.alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("rev"))
    )
    by_decile = (
        exact_ntile(
            per_user, 10, "rev", ties=["user_id"], descending=True, bucket_col="decile"
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_users"), F.sum("rev").alias("decile_cents"))
    )
    # Share-of-total via a broadcast scalar, not a global window — keeps the
    # whole plan free of single-partition exchanges (the exact_ntile input
    # frame is persisted, so both branches reuse one computation).
    total = by_decile.agg(F.sum("decile_cents").alias("_total"))
    return (
        by_decile.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_users",
            "decile_cents",
            pround(
                F.col("decile_cents") / F.col("_total").cast("double"), 6
            ).alias("rev_share"),
        )
        .orderBy("decile")
    )


_REVENUE_DECILE_SQL = f"""
WITH per_user AS (
    SELECT user_id, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
), d AS (
    SELECT rev, ntile(10) OVER (ORDER BY rev DESC, user_id) AS decile FROM per_user
), by_decile AS (
    SELECT decile, count(*) AS n_users, CAST(sum(rev) AS BIGINT) AS decile_cents
    FROM d GROUP BY decile
)
SELECT decile, n_users, decile_cents,
       {pround_sql('decile_cents / CAST(sum(decile_cents) OVER () AS DOUBLE)', 6)} AS rev_share
FROM by_decile ORDER BY decile
"""


def q_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-fact reconciliation: recompute every order's total from its
    line items (Σ extendedprice·(1−discount)·(1+tax)) and compare against
    the stored ``o_totalprice`` — the consistency audit a warehouse runs
    between a header table and its detail table. One fact-fact equi-join
    on the order key and one agg, both sharing the same key partitioning;
    at 100 TB this is the co-partitioned/bucketed join case. Per-order
    sums span ≤7 rows, so pround(2) is orders of magnitude above float
    noise; `matched` tolerates one cent of representation drift."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    recomputed = li.groupBy("l_orderkey").agg(
        pround(F.sum(charge), 2).alias("recomputed_total")
    )
    return (
        orders.join(recomputed, orders.o_orderkey == recomputed.l_orderkey, "left")
        .select(
            "o_orderkey",
            pround(F.col("o_totalprice"), 2).alias("stored_total"),
            F.coalesce(F.col("recomputed_total"), F.lit(0.0)).alias("recomputed_total"),
            (
                F.abs(
                    pround(F.col("o_totalprice"), 2)
                    - F.coalesce(F.col("recomputed_total"), F.lit(0.0))
                )
                <= 0.01
            ).alias("matched"),
        )
    )


_ORDER_RECON_SQL = f"""
WITH rec AS (
    SELECT l_orderkey,
           {pround_sql('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)}
               AS recomputed_total
    FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderkey,
       {pround_sql('o.o_totalprice', 2)} AS stored_total,
       coalesce(rec.recomputed_total, 0.0) AS recomputed_total,
       abs({pround_sql('o.o_totalprice', 2)} - coalesce(rec.recomputed_total, 0.0)) <= 0.01
           AS matched
FROM orders o LEFT JOIN rec ON o.o_orderkey = rec.l_orderkey
"""


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user Recency (days since last
    purchase, against the corpus max date), Frequency (purchase count) and
    Monetary (cents-exact spend), each scored into ntile quintiles. The
    heavy pass is ONE aggregation over purchases; the three quintile
    scorings then run on the ≤|users| aggregate rows via
    ``operators.ranks.exact_ntile`` — range-bucketed parallel rank, not a
    global single-partition ntile window, because at 100 TB "≤|users|" is
    ~10⁹ rows. The persisted base aggregate is ranked three ways without
    rescanning the corpus. Quintile edges stay deterministic: every order
    carries user_id as the tie-break (recency DESC scores recent buyers
    high, 5 = best across all three); results are hash-identical to the
    three-ntile-window SQL form."""
    from projet_data_infrastructure_spark.operators.ranks import exact_ntile

    ev = read_table(spark, sf_dir, "events")
    cents = value_cents()
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("d"), cents.alias("cents")
    )
    agg = p.groupBy("user_id").agg(
        F.max("d").alias("last_d"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("cents").alias("monetary_cents"),
    )
    mx = p.agg(F.max("d").alias("corpus_max_d"))
    base = (
        agg.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff("corpus_max_d", "last_d").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
        .persist()
    )
    scored = exact_ntile(
        base,
        5,
        "recency_days",
        ties=["user_id"],
        descending=True,
        bucket_col="r_score",
        cache=False,
    )
    scored = exact_ntile(
        scored, 5, "frequency", ties=["user_id"], bucket_col="f_score", cache=False
    )
    scored = exact_ntile(
        scored, 5, "monetary_cents", ties=["user_id"], bucket_col="m_score", cache=False
    )
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
    )


_RFM_SQL = """
WITH p AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
), agg AS (
    SELECT user_id, max(d) AS last_d, count(*) AS frequency,
           CAST(sum(cents) AS BIGINT) AS monetary_cents
    FROM p GROUP BY user_id
), base AS (
    SELECT user_id,
           date_diff('day', last_d, (SELECT max(d) FROM p)) AS recency_days,
           frequency, monetary_cents
    FROM agg
)
SELECT user_id, recency_days, frequency, monetary_cents,
       ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
       ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
       ntile(5) OVER (ORDER BY monetary_cents ASC, user_id) AS m_score
FROM base
"""


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier flags: |value − median| > 3·MAD, medians via
    the interpolating percentile on integer cents (portable at pround-2,
    the ``median_percentile`` discipline). Two small aggregates (per-user
    median, then per-user MAD) broadcast back onto the events — the spend-
    anomaly monitor shape. Users whose MAD is 0 (constant spend) flag
    nothing, by definition."""
    ev = read_table(spark, sf_dir, "events")
    cents = value_cents()
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", cents.alias("cents")
    )
    med = p.groupBy("user_id").agg(
        pround(F.expr("percentile(cents, 0.5)"), 2).alias("med")
    )
    dev = p.join(F.broadcast(med), "user_id").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(
        pround(F.expr("percentile(adev, 0.5)"), 2).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "user_id")
        .filter((F.col("mad") > 0) & (F.col("adev") > 3 * F.col("mad")))
        .select("user_id", "event_id", "cents", "med", "mad")
    )


_ROBUST_OUTLIERS_SQL = f"""
WITH p AS (
    SELECT user_id, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
), med AS (
    SELECT user_id, {pround_sql('quantile_cont(cents, 0.5)', 2)} AS med
    FROM p GROUP BY user_id
), dev AS (
    SELECT p.user_id, p.event_id, p.cents, med.med, abs(p.cents - med.med) AS adev
    FROM p JOIN med USING (user_id)
), mad AS (
    SELECT user_id, {pround_sql('quantile_cont(adev, 0.5)', 2)} AS mad
    FROM dev GROUP BY user_id
)
SELECT d.user_id, d.event_id, d.cents, d.med, mad.mad AS mad
FROM dev d JOIN mad USING (user_id)
WHERE mad.mad > 0 AND d.adev > 3 * mad.mad
"""


def q_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user argmax: the event (type + timestamp) carrying each user's
    maximum value, via struct-ordered ``max`` — Spark's ``max_by`` leaves
    ties undefined, so the struct max (value, ts, event_type lexicographic)
    pins a deterministic winner AND keeps the whole thing a hash aggregate
    with map-side partial combine: no window, no per-user sort, one shuffle
    on user_id. At 100 TB this is the scale-correct argmax shape (a
    row_number window would sort every partition)."""
    ev = read_table(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(
        F.max(F.struct(F.col("value"), F.col("ts"), F.col("event_type"))).alias("m"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return m.select(
        "user_id",
        pround(F.col("m.value"), 4).alias("max_value"),
        F.col("m.ts").alias("at_ts"),
        F.col("m.event_type").alias("at_event_type"),
        "n_events",
    ).orderBy("user_id")


_ARGMAX_SQL = f"""
SELECT user_id, {pround_sql('value', 4)} AS max_value, ts AS at_ts,
       event_type AS at_event_type, n_events
FROM (
    SELECT user_id, value, ts, event_type,
           count(*) OVER (PARTITION BY user_id) AS n_events,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY value DESC, ts DESC, event_type DESC) AS rn
    FROM events)
WHERE rn = 1
ORDER BY user_id
"""


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF-style preference-pair construction: for every user with ≥2
    purchases, emit ONE (chosen, rejected) pair — the highest- and
    lowest-valued purchase — the exact shape of a pairwise-preference
    training row (prompt = user context, chosen/rejected = completions).

    Both ends come from ONE struct-ordered min/max hash aggregate
    (map-side combinable, single shuffle on user_id — the same scale
    argument as ``argmax_per_group``; a per-user rank window would sort
    every partition). Ties pin deterministically via (value, event_id)
    struct order on both engines. NULL purchase values are filtered on
    BOTH sides (ADVICE r4): Spark's struct min/max null-field ordering and
    DuckDB's NULLS LAST default would otherwise pick different rows."""
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("value").isNotNull())
    )
    s = F.struct(F.col("value"), F.col("event_id"))
    g = ev.groupBy("user_id").agg(
        F.max(s).alias("mx"), F.min(s).alias("mn"), F.count(F.lit(1)).alias("n")
    )
    return (
        g.filter(F.col("n") >= 2)
        .select(
            "user_id",
            F.col("mx.event_id").alias("chosen_event"),
            F.col("mn.event_id").alias("rejected_event"),
            pround(F.col("mx.value"), 4).alias("chosen_value"),
            pround(F.col("mn.value"), 4).alias("rejected_value"),
            pround(F.col("mx.value") - F.col("mn.value"), 4).alias("margin"),
            F.col("n").alias("n_candidates"),
        )
        .orderBy("user_id")
    )


_PREFERENCE_PAIRS_SQL = f"""
WITH p AS (SELECT user_id, event_id, value FROM events
           WHERE event_type = 'purchase' AND value IS NOT NULL),
ranked AS (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rhi,
           row_number() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS rlo,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM p
)
SELECT hi.user_id,
       hi.event_id AS chosen_event,
       lo.event_id AS rejected_event,
       {pround_sql('hi.value', 4)} AS chosen_value,
       {pround_sql('lo.value', 4)} AS rejected_value,
       {pround_sql('hi.value - lo.value', 4)} AS margin,
       hi.n AS n_candidates
FROM (SELECT * FROM ranked WHERE rhi = 1 AND n >= 2) hi
JOIN (SELECT * FROM ranked WHERE rlo = 1) lo USING (user_id)
ORDER BY hi.user_id
"""


def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of orders — the Pareto frontier maximizing (price, date):
    orders not dominated by any other on both axes. Spark side runs the
    distributed sort-based decomposition (``operators/skyline.py``, the
    EDBT 2023 Spark-SQL-skyline shape: distinct pairs → hash-bucketed
    parallel local prune → global pass over the tiny survivor set); the
    oracle states the dominance semantics directly as a quadratic
    NOT EXISTS — two entirely different plans, one answer. Price is
    compared in exact cents (no float dominance ties)."""
    from projet_data_infrastructure_spark.operators.skyline import skyline_2d_max

    orders = read_table(spark, sf_dir, "orders")
    pts = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderdate").alias("odate"),
    )
    out = skyline_2d_max(pts, x="cents", y="odate", key="o_orderkey")
    return out.select("o_orderkey", "cents", "odate").orderBy(F.desc("cents"))


_SKYLINE_SQL = """
WITH pts AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           o_orderdate AS odate,
           min(o_orderkey) AS o_orderkey
    FROM orders GROUP BY 1, 2
)
SELECT a.o_orderkey, a.cents, a.odate
FROM pts a
WHERE NOT EXISTS (
    SELECT 1 FROM pts b
    WHERE b.cents >= a.cents AND b.odate >= a.odate
      AND (b.cents > a.cents OR b.odate > a.odate)
)
ORDER BY a.cents DESC
"""


def q_customer_frontier_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED Pareto frontier: per nation, the customers not dominated on
    (total spend, order count) by any fellow citizen. Unlike the global
    ``skyline_orders`` two-phase form, the grouped skyline needs NO global
    pass at all — the window partitions by nation, so every nation's
    sort-based running-max prune runs in parallel and the plan's only
    exchanges are the aggregate and the window hash partitioning. Spend is
    exact cents (integer dominance)."""
    from projet_data_infrastructure_spark.operators.skyline import _sort_based_skyline

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    pts = (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "cents", "n_orders")
        .agg(F.min("c_custkey").alias("c_custkey"))
    )
    out = _sort_based_skyline(pts, "cents", "n_orders", ["c_nationkey"])
    return out.select("c_nationkey", "c_custkey", "cents", "n_orders").orderBy(
        "c_nationkey", F.desc("cents")
    )


_FRONTIER_BY_NATION_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey
),
pts AS (
    SELECT c.c_nationkey, p.cents, p.n_orders, min(c.c_custkey) AS c_custkey
    FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, p.cents, p.n_orders
)
SELECT a.c_nationkey, a.c_custkey, a.cents, a.n_orders
FROM pts a
WHERE NOT EXISTS (
    SELECT 1 FROM pts b
    WHERE b.c_nationkey = a.c_nationkey
      AND b.cents >= a.cents AND b.n_orders >= a.n_orders
      AND (b.cents > a.cents OR b.n_orders > a.n_orders)
)
ORDER BY a.c_nationkey, a.cents DESC
"""


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function surface: ``map_from_entries`` over a SORTED entry
    array (deterministic key order — Spark maps preserve entry order, so
    sorting the struct array first makes ``map_keys`` output stable),
    ``map_filter`` (keep event types with ≥ 13 hits), ``transform_values``
    (doubled counts), ``map_keys``/``map_values``. Maps are flattened to
    csv strings on output (the driver canonicalizer cannot hash map cells —
    the array rule, one type further). The oracle needs no map type at all:
    ordered filtered list aggregates state identical semantics."""
    ev = read_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    per_user = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    hot = F.map_filter("m", lambda k, v: v >= 13)
    doubled = F.transform_values(hot, lambda k, v: v * 2)
    return per_user.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.array_join(F.map_keys(doubled), ",").alias("hot_types"),
        F.array_join(F.map_values(doubled).cast("array<string>"), ",").alias(
            "hot_counts_x2"
        ),
    ).orderBy("user_id")


_MAP_FUNCS_SQL = """
WITH counts AS (
    SELECT user_id, event_type, count(*) AS n FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(count(*) AS INTEGER) AS n_types,
       coalesce(array_to_string(list(event_type ORDER BY event_type)
                                FILTER (WHERE n >= 13), ','), '') AS hot_types,
       coalesce(array_to_string(list(CAST(n * 2 AS VARCHAR) ORDER BY event_type)
                                FILTER (WHERE n >= 13), ','), '') AS hot_counts_x2
FROM counts
GROUP BY user_id
ORDER BY user_id
"""


def q_recursive_cte_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE surface (SPARK-24497): a 30-day calendar
    generated by ``WITH RECURSIVE`` anchored at ``min(date(ts))``,
    left-joined to daily event counts with zero-fill. Depth is a CONSTANT
    30 regardless of SF (recursion over data-sized structures would blow
    the 100-level default limit and scale with the fact table; a bounded
    dimension build is the honest use of the feature — Spark's recursion
    only supports UNION ALL, so unbounded/cyclic recursion cannot
    terminate anyway). Oracle: DuckDB's recursive CTE, date+integer
    arithmetic."""
    ev = read_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_rc_events")
    return spark.sql(
        """
        WITH RECURSIVE cal(d, last_d) AS (
            -- the loop BOUND rides in the recursion state: a scalar
            -- subquery in the step's WHERE is re-evaluated every one of
            -- the 30 steps (30 full scans of events — measured 5.3 s at
            -- sf0.1, 1.3 s with the carried bound)
            SELECT min(CAST(ts AS DATE)), date_add(min(CAST(ts AS DATE)), 29)
            FROM _rc_events
            UNION ALL
            SELECT date_add(d, 1), last_d FROM cal WHERE d < last_d
        )
        SELECT cal.d AS day, coalesce(cnt.n, 0) AS n_events
        FROM cal
        LEFT JOIN (
            SELECT CAST(ts AS DATE) AS d, count(*) AS n
            FROM _rc_events GROUP BY CAST(ts AS DATE)
        ) cnt ON cal.d = cnt.d
        ORDER BY day
        """
    )


_RECURSIVE_CAL_SQL = """
WITH RECURSIVE cal(d) AS (
    SELECT min(CAST(ts AS DATE)) FROM events
    UNION ALL
    SELECT d + 1 FROM cal
    WHERE d < (SELECT min(CAST(ts AS DATE)) FROM events) + 29
)
SELECT cal.d AS day, coalesce(cnt.n, 0) AS n_events
FROM cal
LEFT JOIN (
    SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY CAST(ts AS DATE)
) cnt ON cal.d = cnt.d
ORDER BY day
"""


def q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe function surface: ``try_cast`` (malformed input →
    NULL instead of a failed job — at 100 TB one bad row must never kill a
    scan) and ``try_divide`` (NULL on zero divisor). Every 5th event gets a
    deliberately malformed numeric string so the NULL path is exercised on
    real rows."""
    ev = read_table(spark, sf_dir, "events")
    dirty = F.concat(
        F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 5 == 0, F.lit("x")).otherwise(F.lit("")),
    )
    return ev.select(
        "event_id",
        dirty.try_cast("long").alias("parsed_id"),
        pround(F.try_divide(F.col("value"), (F.col("user_id") % 3).cast("double")), 4).alias(
            "value_per_bucket"
        ),
    )


_TRY_FUNCS_SQL = f"""
SELECT event_id,
       TRY_CAST(event_id || (CASE WHEN event_id % 5 = 0 THEN 'x' ELSE '' END) AS BIGINT)
           AS parsed_id,
       {pround_sql('value / NULLIF(CAST(user_id % 3 AS DOUBLE), 0.0)', 4)} AS value_per_bucket
FROM events
"""


def q_lateral_subquery_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 4 SQL surface): top-3 customers
    by account balance PER NATION, written as the natural per-row
    subquery instead of the window/filter idiom. Catalyst decorrelates
    this into a ranked join — same physical shape as the
    WindowGroupLimit form, so the ergonomic SQL costs nothing. Balances
    compared in exact cents; probed unsupported alternatives (QUALIFY,
    GROUPS frames) are documented as absent in OSS Spark 4.1."""
    read_table(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.cents
        FROM _lat_nation n,
        LATERAL (
            SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM _lat_customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY cents DESC, c_custkey
            LIMIT 3
        ) c
        ORDER BY n.n_name, c.cents DESC, c.c_custkey
        """
    )


_LATERAL_TOPN_SQL = """
SELECT n.n_name, c.c_custkey, c.cents
FROM nation n,
LATERAL (
    SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
    WHERE c_nationkey = n.n_nationkey
    ORDER BY cents DESC, c_custkey
    LIMIT 3
) c
ORDER BY n.n_name, c.cents DESC, c.c_custkey
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "lateral_subquery_topn",
        q_lateral_subquery_topn,
        _LATERAL_TOPN_SQL,
        ("sql4", "join"),
        doc="Correlated LATERAL top-3-per-nation (Spark 4 SQL), decorrelated by Catalyst",
    ),
    QuerySpec(
        "recursive_cte_calendar",
        q_recursive_cte_calendar,
        _RECURSIVE_CAL_SQL,
        ("sql4",),
        doc="Spark 4 WITH RECURSIVE: constant-depth calendar dimension + zero-filled daily counts",
    ),
    QuerySpec(
        "try_functions",
        q_try_functions,
        _TRY_FUNCS_SQL,
        ("functions", "sql4"),
        doc="try_cast / try_divide error-safe surface (bad rows -> NULL, never a failed job)",
    ),
    QuerySpec(
        "map_funcs",
        q_map_funcs,
        _MAP_FUNCS_SQL,
        ("functions",),
        doc="Map-type surface: map_from_entries / map_filter / transform_values "
        "/ map_keys / map_values, deterministic key order",
    ),
    QuerySpec(
        "customer_frontier_by_nation",
        q_customer_frontier_by_nation,
        _FRONTIER_BY_NATION_SQL,
        ("window", "stats", "agg"),
        doc="Grouped Pareto skyline per nation — partitioned sort-based prune, "
        "no global pass needed",
    ),
    QuerySpec(
        "skyline_orders",
        q_skyline_orders,
        _SKYLINE_SQL,
        ("window", "stats"),
        doc="2-D Pareto skyline (EDBT'23 Spark-SQL shape): bucketed local prune "
        "-> global pass on survivors; oracle is the quadratic NOT EXISTS",
    ),
    QuerySpec(
        "argmax_per_group",
        q_argmax_per_group,
        _ARGMAX_SQL,
        ("agg",),
        doc="Deterministic per-group argmax via struct-ordered max (hash agg, no window)",
    ),
    QuerySpec(
        "preference_pairs",
        q_preference_pairs,
        _PREFERENCE_PAIRS_SQL,
        ("agg", "sampling"),
        doc="RLHF preference-pair construction: per-user (chosen, rejected) from one min/max hash aggregate",
    ),
    QuerySpec("asof_join", q_asof_join, _ASOF_SQL, ("join", "timeseries", "bench")),
    QuerySpec(
        "longest_daily_streak",
        q_longest_daily_streak,
        _STREAK_SQL,
        ("window", "timeseries"),
        doc="Gaps-and-islands consecutive-day runs, integer date arithmetic",
    ),
    QuerySpec(
        "cohort_retention",
        q_cohort_retention,
        _COHORT_SQL,
        ("window", "timeseries"),
        doc="First-active-day cohorts × day offset retention triangle",
    ),
    QuerySpec(
        "spend_percentile_rank",
        q_spend_percentile_rank,
        _SPEND_PCTILE_SQL,
        ("window", "scale"),
        doc="Exact percent_rank via the scale-safe global_rank operator "
        "(no single-partition window)",
    ),
    QuerySpec(
        "ratio_to_report",
        q_ratio_to_report,
        _RATIO_SQL,
        ("window", "agg"),
        doc="Share-of-total window over exact integer revenue",
    ),
    QuerySpec(
        "regression_slope_by_user",
        q_regression_slope,
        _REGRESSION_SQL,
        ("agg", "stats"),
        doc="Exact algebraic OLS slope per entity (integer sums, map-combinable)",
    ),
    QuerySpec(
        "levenshtein_blocked_pairs",
        q_levenshtein_pairs,
        _LEVENSHTEIN_SQL,
        ("dedup", "join"),
        doc="Blocked edit-distance near-pairs (equi-join candidates, bounded verify)",
    ),
    QuerySpec(
        "entity_resolution_clusters",
        q_entity_resolution,
        _ENTITY_RESOLUTION_SQL,
        ("dedup", "iterative", "pipeline"),
        doc="Composed entity resolution: brand-blocked edit-distance match "
        "-> shared CC operator -> min-key canonical survivorship; whole "
        "chain hash-checked vs a recursive-CTE oracle",
    ),
    QuerySpec("events_partitioned_dpp", q_events_dpp, _EVENTS_DPP_SQL, ("scale", "join")),
    QuerySpec("zorder_scan_filtered", q_zorder_scan, _ZORDER_SCAN_SQL, ("scale",)),
    QuerySpec("tpch_q10_returns", q_tpch_q10, _TPCH_Q10_SQL, ("tpch", "bench")),
    QuerySpec("tpch_q18_large_orders", q_tpch_q18, _TPCH_Q18_SQL, ("tpch", "bench")),
    QuerySpec("tpch_q7_nation_volume", q_tpch_q7, _TPCH_Q7_SQL, ("tpch", "bench")),
    QuerySpec("tpch_q12_late_shipments", q_tpch_q12, _TPCH_Q12_SQL, ("tpch", "bench")),
    QuerySpec("tpch_q14_promo_share", q_tpch_q14, _TPCH_Q14_SQL, ("tpch",)),
    QuerySpec("tpch_q4_late_orders", q_tpch_q4, _TPCH_Q4_SQL, ("tpch",)),
    QuerySpec("tpch_q6_forecast_revenue", q_tpch_q6, _TPCH_Q6_SQL, ("tpch",)),
    QuerySpec("tpch_q13_custdist", q_tpch_q13, _TPCH_Q13_SQL, ("tpch",)),
    QuerySpec("tpch_q17_small_qty", q_tpch_q17, _TPCH_Q17_SQL, ("tpch",)),
    QuerySpec("tpch_q19_disjunctive", q_tpch_q19, _TPCH_Q19_SQL, ("tpch",)),
    QuerySpec("tpch_q22_inactive", q_tpch_q22, _TPCH_Q22_SQL, ("tpch",)),
    QuerySpec("tpch_q8_mkt_share", q_tpch_q8, _TPCH_Q8_SQL, ("tpch",)),
    QuerySpec("tpch_q15_top_supplier", q_tpch_q15, _TPCH_Q15_SQL, ("tpch",)),
    QuerySpec("tpch_q21_waiting_supplier", q_tpch_q21, _TPCH_Q21_SQL, ("tpch",)),
    QuerySpec("histogram_acctbal", q_histogram, _HISTOGRAM_SQL, ("agg", "stats")),
    QuerySpec("hourly_heatmap", q_hourly_heatmap, _HEATMAP_SQL, ("agg", "timeseries")),
    QuerySpec("label_centroids", q_label_centroids, _CENTROIDS_SQL, ("similarity", "agg")),
    QuerySpec("bigram_topk", q_bigram_topk, _BIGRAM_SQL, ("text",)),
    QuerySpec("funnel_conversion", q_funnel_conversion, _FUNNEL_SQL, ("timeseries",)),
    QuerySpec("date_arithmetic", q_date_arithmetic, _DATE_ARITH_SQL, ("scalar",)),
    QuerySpec("range_join_pairs", q_range_join, _RANGE_JOIN_SQL, ("join", "timeseries")),
    QuerySpec("full_outer_join", q_full_outer_join, _FULL_OUTER_SQL, ("join",)),
    QuerySpec("exists_subquery", q_exists_subquery, _EXISTS_SQL, ("subquery",)),
    QuerySpec("scalar_subquery", q_scalar_subquery, _SCALAR_SUB_SQL, ("subquery",)),
    QuerySpec("having_filter", q_having, _HAVING_SQL, ("agg",)),
    QuerySpec("pivot_status_counts", q_pivot, _PIVOT_SQL, ("reshape",)),
    QuerySpec("unpivot_measures", q_unpivot, _UNPIVOT_SQL, ("reshape",)),
    QuerySpec("wordcount_top20", q_wordcount_top20, _WORDCOUNT_SQL, ("text", "explode")),
    QuerySpec("array_agg_sorted", q_array_agg, _ARRAY_AGG_SQL, ("agg", "array")),
    QuerySpec("stats_aggregates", q_stats_agg, _STATS_SQL, ("agg", "stats")),
    QuerySpec("median_percentile", q_median_percentile, _MEDIAN_SQL, ("agg", "stats")),
    QuerySpec("window_funcs2", q_window_funcs2, _WINDOW2_SQL, ("window",)),
    QuerySpec(
        "window_funcs3",
        q_window_funcs3,
        _WINDOW3_SQL,
        ("window",),
        doc="cume_dist / dense_rank / nth_value / lag-with-default",
    ),
    QuerySpec(
        "higher_order_funcs",
        q_higher_order_funcs,
        _HOF_SQL,
        ("scalar", "array"),
        doc="transform/filter/exists/forall/aggregate array lambdas — "
        "JVM-side array logic, no explode shuffle, no Python",
    ),
    QuerySpec(
        "null_safe_join",
        q_null_safe_join,
        _NULL_SAFE_JOIN_SQL,
        ("join",),
        doc="<=> null-safe equi-join (IS NOT DISTINCT FROM), planned as a "
        "hash join",
    ),
    QuerySpec("string_funcs2", q_string_funcs2, _STRING2_SQL, ("scalar",)),
    QuerySpec("conditional_funcs", q_conditional_funcs, _CONDITIONAL_SQL, ("scalar",)),
    QuerySpec("grouping_sets", q_grouping_sets, _GROUPING_SETS_SQL, ("agg",)),
    QuerySpec(
        "rolling_7day_revenue",
        q_rolling_7day_revenue,
        _ROLLING_7D_SQL,
        ("window", "timeseries"),
        doc="Trailing-7-day per-user revenue via a time-RANGE window frame, cents-exact",
    ),
    QuerySpec(
        "equidepth_histogram",
        q_equidepth_histogram,
        _EQUIDEPTH_SQL,
        ("agg", "stats"),
        doc="ntile-decile equi-depth histogram with deterministic (cents, key) edges",
    ),
    QuerySpec(
        "revenue_decile_share",
        q_revenue_decile_share,
        _REVENUE_DECILE_SQL,
        ("agg", "window", "stats"),
        doc="Pareto revenue concentration by spend decile, cents-exact",
    ),
    QuerySpec(
        "order_total_reconciliation",
        q_order_total_reconciliation,
        _ORDER_RECON_SQL,
        ("quality", "join"),
        doc="Header-vs-detail consistency audit: recompute order totals from line items",
    ),
    QuerySpec(
        "rfm_segmentation",
        q_rfm_segmentation,
        _RFM_SQL,
        ("agg", "window", "stats"),
        doc="RFM quintile scores: one corpus agg, three tiny ntile windows, cents-exact",
    ),
    QuerySpec(
        "robust_outliers",
        q_robust_outliers,
        _ROBUST_OUTLIERS_SQL,
        ("agg", "stats", "quality"),
        doc="Per-user |x-median| > 3*MAD spend anomalies, portable interpolated medians",
    ),
    QuerySpec(
        "acf_by_user",
        q_acf_by_user,
        _ACF_SQL,
        ("window", "stats", "timeseries"),
        doc="Per-user lag-1/lag-2 autocorrelation; one shared window sort, "
        "user-keyed — no global stage",
    ),
    QuerySpec(
        "listagg_param_sql",
        q_listagg_param_sql,
        _LISTAGG_SQL,
        ("agg", "scalar"),
        doc="Spark 4 listagg WITHIN GROUP + named-parameter spark.sql; "
        "deterministic ordered string aggregation",
    ),
    QuerySpec(
        "pipe_syntax_rollup",
        q_pipe_syntax_rollup,
        _PIPE_SQL,
        ("agg", "scalar"),
        doc="Spark 4 SQL pipe syntax (|>) filter->extend->aggregate->sort, "
        "hash-matched against the conventional-SQL oracle",
    ),
    QuerySpec(
        "view_purchase_latency",
        q_view_purchase_latency,
        _VIEW_PURCHASE_LATENCY_SQL,
        ("timeseries", "join", "window"),
        doc="Per-user nearest-rank median view->purchase delay: as-of join + "
        "user-keyed window, integer microseconds end to end",
    ),
    QuerySpec(
        "cumulative_new_users",
        q_cumulative_new_users,
        _CUMULATIVE_NEW_USERS_SQL,
        ("timeseries", "window", "agg"),
        doc="Growth curve without running count-distinct: first-seen day per "
        "user, arrivals per day, running sum over the calendar-bounded frame",
    ),
    QuerySpec(
        "max_drawdown_by_user",
        q_max_drawdown_by_user,
        _MAX_DRAWDOWN_SQL,
        ("timeseries", "window"),
        doc="Per-user maximum drawdown: running sum -> running max -> peak "
        "deficit, all on one shared per-user sort, integer cents",
    ),
    QuerySpec(
        "interevent_gap_histogram",
        q_interevent_gap_histogram,
        _GAP_HIST_SQL,
        ("timeseries", "stats"),
        doc="Power-of-two inter-event gap histogram (libm-free log2 via bin "
        "length) - the session-timeout / watermark tuning fingerprint",
    ),
    QuerySpec(
        "ab_test_z_score",
        q_ab_test_z_score,
        _AB_TEST_SQL,
        ("stats", "agg"),
        doc="Two-proportion z-test between deterministic arms incl. the "
        "significance verdict - fully hash-checked experimentation primitive",
    ),
    QuerySpec(
        "weekly_revenue_movers",
        q_weekly_revenue_movers,
        _WEEKLY_MOVERS_SQL,
        ("timeseries", "window"),
        doc="Top-20 week-over-week customer revenue swings: weekly cents, "
        "lag over observed weeks, TakeOrdered by absolute delta",
    ),
]


# --------------------------------------------------------------------------
# Keyless interval join + strict 3-step funnel (consolidated, round 11)
# --------------------------------------------------------------------------
_RANGE_BUCKET_US = 3_600_000_000  # 1 hour in µs


def q_range_join_keyless_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS interval join — per purchase, the count of signups by ANY
    user in the preceding hour (market-level context features; no shared
    key exists). Written naively (`ON s.ts BETWEEN p.ts - 1h AND p.ts`)
    Spark has no equi key and plans a BroadcastNestedLoopJoin — quadratic
    at corpus scale. The house form manufactures the key: both sides
    bucket to the 1-hour grid, each purchase probes exactly TWO buckets
    (its own and the previous — the window spans at most two grid cells),
    and the exact interval predicate filters the equi-join's candidates.
    Work is Σ_b |purch_b|·(|sign_b| + |sign_b-1|) — linear for any
    non-adversarial time distribution, and the plan is gated to contain
    NO nested-loop join. ``range_join_pairs`` covers the keyed variant;
    this is the keyless one Spark genuinely lacks.

    Assumes non-negative epoch timestamps (all testdata is post-1970):
    Spark's ``DIV`` truncates toward zero while the oracle's ``//`` floors,
    so the two-bucket probe invariant and cross-engine bucket parity both
    require ``epoch_us >= 0``. For pre-1970 data, switch both sides to an
    explicit floor-division expression (ADVICE r8)."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", us.alias("p_us")
    )
    sign = (
        ev.filter(F.col("event_type") == "signup")
        .select(us.alias("s_us"))
        .withColumn("bucket", F.expr(f"s_us DIV {_RANGE_BUCKET_US}"))
    )
    probes = purch.select(
        "event_id",
        "p_us",
        F.explode(
            F.array(
                F.expr(f"p_us DIV {_RANGE_BUCKET_US}"),
                F.expr(f"p_us DIV {_RANGE_BUCKET_US} - 1"),
            )
        ).alias("bucket"),
    )
    hits = (
        probes.join(sign, "bucket")
        .filter(
            (F.col("s_us") > F.col("p_us") - _RANGE_BUCKET_US)
            & (F.col("s_us") <= F.col("p_us"))
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        purch.join(hits, "event_id", "left_outer")
        .select(
            "event_id",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias(
                "n_signups_prev_hour"
            ),
        )
        .orderBy("event_id")
    )


_RANGE_KEYLESS_SQL = """
WITH purch AS (
    SELECT event_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase'
), sign AS (
    SELECT epoch_us(ts) AS s_us FROM events WHERE event_type = 'signup'
), hits AS (
    SELECT p.event_id, count(*) AS n
    FROM purch p JOIN sign s
      ON s.s_us > p.p_us - 3600000000 AND s.s_us <= p.p_us
    GROUP BY p.event_id
)
SELECT p.event_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_signups_prev_hour
FROM purch p LEFT JOIN hits h USING (event_id)
ORDER BY p.event_id
"""



def q_funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel: first view, first click AFTER that view,
    first purchase AFTER that click — the 3-step product-analytics report
    (``funnel_conversion`` is the 2-step form). Each step's anchor is a
    conditional min over the SAME per-user aggregate pass re-joined
    twice on user_id, so the corpus shuffles once (per-user aggregate);
    the step chaining is two self-joins of the |users|-row frame. Output:
    one row per funnel stage with the user count that reached it —
    monotone by construction (fixture-pinned)."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    with_click = (
        per_user.filter(F.col("v").isNotNull())
        .join(
            clicks,
            (F.col("user_id") == F.col("cu")) & (F.col("cts") >= F.col("v")),
            "left",
        )
        .groupBy("user_id", "v")
        .agg(F.min("cts").alias("c"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    with_purchase = (
        with_click.join(
            purch,
            (F.col("user_id") == F.col("pu")) & (F.col("pts") >= F.col("c")),
            "left",
        )
        .groupBy("user_id", "v", "c")
        .agg(F.min("pts").alias("p"))
    )
    return with_purchase.groupBy().agg(
        F.count(F.lit(1)).alias("n_viewed"),
        F.sum(F.col("c").isNotNull().cast("long")).alias("n_clicked_after_view"),
        F.sum(F.col("p").isNotNull().cast("long")).alias(
            "n_purchased_after_click"
        ),
    )


_FUNNEL3_SQL = """
WITH per_user AS (
    SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS v
    FROM events GROUP BY user_id
), with_click AS (
    SELECT u.user_id, u.v, min(c.ts) AS c
    FROM per_user u
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON c.user_id = u.user_id AND c.ts >= u.v
    WHERE u.v IS NOT NULL
    GROUP BY u.user_id, u.v
), with_purchase AS (
    SELECT w.user_id, w.v, w.c, min(p.ts) AS p
    FROM with_click w
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON p.user_id = w.user_id AND p.ts >= w.c
    GROUP BY w.user_id, w.v, w.c
)
SELECT count(*) AS n_viewed,
       CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clicked_after_view,
       CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_purchased_after_click
FROM with_purchase
"""



SPECS.extend(
    [
        QuerySpec(
            "range_join_keyless_bucketed",
            q_range_join_keyless_bucketed,
            _RANGE_KEYLESS_SQL,
            ("join", "timeseries"),
            doc="Keyless interval join via 1h-bucket equi-join (2-bucket probe); "
            "plan-gated to contain no nested-loop join",
        ),
        QuerySpec(
            "funnel_three_step",
            q_funnel_three_step,
            _FUNNEL3_SQL,
            ("timeseries", "funnel"),
            doc="Strict view->click->purchase funnel: one per-user aggregate + "
            "two |users|-frame step joins; monotone stage counts",
        ),
    ]
)


# --------------------------------------------------------------------------
# Point-in-time regime attribution (SCD2 as-of-into-intervals join)
# --------------------------------------------------------------------------


def q_pit_regime_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cents = value_cents()
    # Regime source: every non-purchase event. SCD2 change-detection (drop
    # rows equal to their predecessor) is deliberately OMITTED: last(attr)
    # over the merged stream returns the latest state's value either way
    # (collapsing consecutive duplicates never changes the carried-forward
    # value), and skipping it removes a whole Exchange+Sort from the plan.
    states = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        "event_id",
        F.col("event_type").alias("attr"),
        F.lit(None).cast("long").alias("cents"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("string").alias("attr"),
        cents.alias("cents"),
    )
    # Union + one per-user sort: the regime carries forward without a range
    # join (the registered PIT core, operators/asof.carry_forward). Equal-ts
    # tie: the state row (kind 0) wins — a change effective AT the purchase
    # instant applies to it.
    merged = carry_forward(
        states.unionByName(facts),
        key="user_id",
        order=("ts", "kind", "event_id"),
        carry={"regime": "attr"},
    )
    return (
        merged.filter(F.col("kind") == 1)
        .groupBy(F.coalesce(F.col("regime"), F.lit("none")).alias("regime"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("sum_cents"),
        )
    )


_PIT_SQL = """
WITH states AS (
    SELECT user_id, ts, 0 AS kind, event_id, event_type AS attr,
           CAST(NULL AS BIGINT) AS cents
    FROM events WHERE event_type <> 'purchase'
), facts AS (
    SELECT user_id, ts, 1 AS kind, event_id, CAST(NULL AS VARCHAR) AS attr,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
), merged AS (
    SELECT *, last_value(attr IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS regime
    FROM (SELECT * FROM states UNION ALL SELECT * FROM facts)
)
SELECT coalesce(regime, 'none') AS regime,
       count(*) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM merged WHERE kind = 1
GROUP BY 1
"""



SPECS.extend(
    [
    QuerySpec(
            "pit_regime_attribution",
            q_pit_regime_attribution,
            _PIT_SQL,
            ("join", "scd2", "window", "bench"),
            doc="Point-in-time join: purchases attributed to the SCD2 regime in "
            "force at their timestamp via the union+window carry-forward (one "
            "Exchange + one Sort per user stream, no interval range join)",
        ),
    ]
)
