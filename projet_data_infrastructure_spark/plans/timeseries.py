"""Time-series analytics over the calendar-bounded daily/hourly grids:
decomposition, autocorrelation diagnostics, trend and changepoint screens,
forecasting fits, and the motif/discord matrix profile.

Consolidated from the round-6..round-10 build modules (round 11, VERDICT
r10 item 6) — specs, oracles, and hashes unchanged; each spec keeps its
original design docstring. The shared scale shape of this module: ONE
map-side-combinable corpus aggregate down to a calendar-bounded day (or
hour) grid, then every window/pair/lag operation runs on that ≤ 366-row
(per year) frame — the unpartitioned windows here are all members of the
documented bounded-window class (SCALE.md).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.functions.stats import two_sided_p_sql
from projet_data_infrastructure_spark.plans._portable import (
    daily_cents,
    epoch_day,
    fdiv as _fdiv,
    pround,
    pround_sql,
)
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.plans.stats_inference import _q6
from projet_data_infrastructure_spark.sources.readers import read_table

SPECS: list[QuerySpec] = []

# --------------------------------------------------------------------------
# STL-lite weekly decomposition of the daily event-value series
# --------------------------------------------------------------------------

_STL_CENTS = "CAST(round(value * 100) AS BIGINT)"


def q_stl_weekly_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            epoch_day().alias("d"),
            F.expr(_STL_CENTS).alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("value_cents"))
    )
    # Calendar-bounded frame (≤ 31 days in the test data, ≤ ~3.7k/decade in
    # general): the unpartitioned RANGE window is safe at any raw-data scale.
    w7 = Window.orderBy("d").rangeBetween(-3, 3)
    trended = (
        daily.withColumn("sum7", F.sum("value_cents").over(w7))
        .withColumn("cnt7", F.count(F.lit(1)).over(w7))
        .filter(F.col("cnt7") == 7)
        # non-negative sum → DIV is already floor; ×10⁶ ≤ 7·10¹⁴ at test
        # scale (recast DECIMAL for >10¹² cents/week corpora)
        .withColumn("trend_micro", F.expr("(sum7 * 1000000) DIV 7"))
        .withColumn("detr_micro", F.col("value_cents") * F.lit(1000000) - F.col("trend_micro"))
        .withColumn("dow", F.pmod(F.col("d"), F.lit(7)))
    )
    seasonal = trended.groupBy("dow").agg(
        F.sum("detr_micro").alias("sdetr"), F.count(F.lit(1)).alias("ndetr")
    )
    seasonal = seasonal.select(
        "dow", F.expr(_fdiv("sdetr", "ndetr", "DIV")).alias("seasonal_micro")
    )
    return (
        trended.join(F.broadcast(seasonal), "dow")
        .select(
            "d",
            "value_cents",
            "trend_micro",
            "seasonal_micro",
            (F.col("detr_micro") - F.col("seasonal_micro")).alias("resid_micro"),
        )
        .orderBy("d")
    )


_STL_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS d,
           CAST(sum({_STL_CENTS}) AS BIGINT) AS value_cents
    FROM events GROUP BY 1
), trended AS (
    SELECT d, value_cents,
           sum(value_cents) OVER w7 AS sum7,
           count(*) OVER w7 AS cnt7
    FROM daily
    WINDOW w7 AS (ORDER BY d RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), full7 AS (
    SELECT d, value_cents,
           CAST((sum7 * 1000000) // 7 AS BIGINT) AS trend_micro,
           value_cents * 1000000 - CAST((sum7 * 1000000) // 7 AS BIGINT) AS detr_micro,
           d % 7 AS dow
    FROM trended WHERE cnt7 = 7
), seasonal AS (
    SELECT dow,
           CAST({_fdiv('CAST(sum(detr_micro) AS BIGINT)', 'count(*)', '//')} AS BIGINT)
               AS seasonal_micro
    FROM full7 GROUP BY dow
)
SELECT d, value_cents, trend_micro, seasonal_micro,
       detr_micro - seasonal_micro AS resid_micro
FROM full7 JOIN seasonal USING (dow)
ORDER BY d
"""




SPECS.append(
    QuerySpec(
        "stl_weekly_decompose",
        q_stl_weekly_decompose,
        _STL_SQL,
        ("timeseries", "window"),
        doc="STL-lite decomposition of the daily value series: centered 7-day "
        "RANGE-frame trend, day-of-week seasonal index, residual — all exact "
        "integer micro-cents over the calendar-bounded daily aggregate",
    )
)


# --------------------------------------------------------------------------
# Mann-Kendall z + p (the normalization the Theil-Sen kernel left open)
# --------------------------------------------------------------------------


def q_mann_kendall_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Kendall trend TEST on the daily-revenue series —
    the variance/z/p normalization ``mann_kendall_theilsen``
    (this module) explicitly left to the caller: Var(S) =
    (n(n-1)(2n+5) - SUM_t t(t-1)(2t+5)) / 18 with t the tie-group sizes of
    the daily VALUES, continuity-corrected z = (S -/+ 1)/sqrt(Var) and the
    Zelen-Severo two-sided p (``functions/stats.py``). Everything before
    the final double tree is exact BIGINT: S is the sign sum over the
    calendar-bounded day-grid pair set (<= ~67k pairs at any corpus size),
    the tie polynomial comes from one bounded re-aggregate of the daily
    values. One corpus aggregate; no corpus-sized window or join."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        daily_cents(ev).withColumnRenamed("cents", "y")
        .localCheckpoint(eager=True)  # tiny calendar frame, consumed 3x
    )
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    s_agg = (
        daily.join(b, F.col("d2") > F.col("d"))
        .agg(F.sum(F.signum(F.col("y2") - F.col("y")).cast("long")).alias("mk_s"))
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy()
        .agg(
            F.sum("t").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_poly"),
        )
    )
    scal = s_agg.crossJoin(F.broadcast(ties))
    var = (
        "((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * CAST(2 * n + 5 AS DOUBLE)"
        "  - CAST(tie_poly AS DOUBLE)) / 18.0)"
    )
    z = (
        f"(CASE WHEN mk_s > 0 THEN (CAST(mk_s AS DOUBLE) - 1.0) / sqrt({var})"
        f"      WHEN mk_s < 0 THEN (CAST(mk_s AS DOUBLE) + 1.0) / sqrt({var})"
        f"      ELSE 0.0 END)"
    )
    return scal.select(
        F.col("n").alias("n_days"),
        "mk_s",
        pround(F.expr(z), 6).alias("z_r"),
        pround(F.expr(two_sided_p_sql(z)), 8).alias("p_r"),
    )


def _mann_kendall_z_sql() -> str:
    var = (
        "((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * CAST(2 * n + 5 AS DOUBLE)"
        "  - CAST(tie_poly AS DOUBLE)) / 18.0)"
    )
    z = (
        f"(CASE WHEN mk_s > 0 THEN (CAST(mk_s AS DOUBLE) - 1.0) / sqrt({var})"
        f"      WHEN mk_s < 0 THEN (CAST(mk_s AS DOUBLE) + 1.0) / sqrt({var})"
        f"      ELSE 0.0 END)"
    )
    return f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY 1
), s_agg AS (
    SELECT CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS mk_s
    FROM daily a JOIN daily b ON b.d > a.d
), ties AS (
    SELECT CAST(sum(t) AS BIGINT) AS n,
           CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_poly
    FROM (SELECT count(*) AS t FROM daily GROUP BY y)
)
SELECT n AS n_days, mk_s,
       {pround_sql(z, 6)} AS z_r,
       {pround_sql(two_sided_p_sql(z), 8)} AS p_r
FROM s_agg, ties
"""


# --------------------------------------------------------------------------
# CUSUM mean-shift changepoint (exact integer deviation)
# --------------------------------------------------------------------------


def q_changepoint_cusum_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily-revenue series: the
    mean-shift location is argmax_t |S_t| with S_t = Σ_{i≤t}(x_i − x̄)
    (Page 1954 / the standard offline CUSUM screen). Scaling by n removes
    ALL floating arithmetic from the argmax: D_t = n·cum_t − t·total is an
    exact BIGINT per day, so the changepoint day is an integer-exact
    decision in both engines (ties break to the earliest day); only the
    reported deviation magnitude converts to dollars at the end. One
    corpus aggregate to the ≤ ~366-row day grid; the cumulative window
    runs on the grid (the bounded-window class)."""
    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev).withColumnRenamed("cents", "y")
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "d",
        F.sum("y").over(wcum).alias("cum"),
        F.row_number().over(Window.orderBy("d")).alias("t"),
    )
    tot = daily.groupBy().agg(
        F.sum("y").alias("total"), F.count(F.lit(1)).alias("n")
    )
    dev = cum.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        (F.col("n") * F.col("cum") - F.col("t") * F.col("total")).alias("dd"),
    )
    top = dev.orderBy(F.abs(F.col("dd")).desc(), F.col("d").asc()).limit(1)
    return top.select(
        F.col("d").alias("cp_day"),
        pround(
            F.expr("abs(CAST(dd AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0"), 4
        ).alias("max_dev_usd_r"),
    )


_CUSUM_SQL = f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY 1
), cum AS (
    SELECT d,
           sum(y) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           row_number() OVER (ORDER BY d) AS t
    FROM daily
), tot AS (
    SELECT CAST(sum(y) AS BIGINT) AS total, count(*) AS n FROM daily
), dev AS (
    SELECT d, n, CAST(n * cum - t * total AS BIGINT) AS dd
    FROM cum, tot
)
SELECT d AS cp_day,
       {pround_sql('abs(CAST(dd AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0', 4)}
           AS max_dev_usd_r
FROM dev
ORDER BY abs(dd) DESC, d ASC
LIMIT 1
"""


# --------------------------------------------------------------------------
# Two-segment regression elbow (breakpoint search over prefix moments)
# --------------------------------------------------------------------------


def _sse(m: str, cx: str, cy: str, cx2: str, cy2: str, cxy: str) -> str:
    """OLS residual SSE of a segment from its raw moments — one shared
    double tree: SSE = Syy − Sxy²/Sxx with centered moments formed from
    the raw prefix sums."""
    syy = (
        f"(CAST({cy2} AS DOUBLE)"
        f" - CAST({cy} AS DOUBLE) * CAST({cy} AS DOUBLE) / CAST({m} AS DOUBLE))"
    )
    sxy = (
        f"(CAST({cxy} AS DOUBLE)"
        f" - CAST({cx} AS DOUBLE) * CAST({cy} AS DOUBLE) / CAST({m} AS DOUBLE))"
    )
    sxx = (
        f"(CAST({cx2} AS DOUBLE)"
        f" - CAST({cx} AS DOUBLE) * CAST({cx} AS DOUBLE) / CAST({m} AS DOUBLE))"
    )
    return f"({syy} - {sxy} * {sxy} / {sxx})"


_SSE2 = (
    _sse("t", "cx", "cy", "cx2", "cy2", "cxy")
    + " + "
    + _sse(
        "(n - t)",
        "(tx - cx)",
        "(ty - cy)",
        "(tx2 - cx2)",
        "(ty2 - cy2)",
        "(txy - cxy)",
    )
)
_SSE1 = _sse("n", "tx", "ty", "tx2", "ty2", "txy")


def q_segmented_regression_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-segment least-squares breakpoint ("elbow") on the daily-revenue
    series: fit separate OLS lines to days 1..k and k+1..n for every
    candidate k and keep the k minimizing total SSE — the standard
    piecewise-linear structural-break screen (the discrete form of
    segmented regression / Chow-test scanning). Scale shape: ONE corpus
    aggregate to the day grid; prefix moments (Σt, Σt², Σy, Σy², Σty) come
    from cumulative windows OVER THE GRID (the bounded-window class) and
    stay exact BIGINTs; every candidate's two SSEs form in one shared
    double tree from prefix/suffix moment differences, and the argmin is a
    bounded TakeOrdered (ties → earliest k). Both segments need ≥ 2 points
    (2 ≤ k ≤ n−2). Identical doubles on both engines → identical argmin."""
    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev).withColumnRenamed("cents", "y")
    wd = Window.orderBy("d")
    wcum = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    idx = daily.select("d", "y", F.row_number().over(wd).alias("t"))
    cum = idx.select(
        "d",
        "t",
        F.sum("t").over(wcum).alias("cx"),
        F.sum(F.col("t") * F.col("t")).over(wcum).alias("cx2"),
        F.sum("y").over(wcum).alias("cy"),
        F.sum(F.col("y") * F.col("y")).over(wcum).alias("cy2"),
        F.sum(F.col("t") * F.col("y")).over(wcum).alias("cxy"),
    )
    tot = idx.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("tx"),
        F.sum(F.col("t") * F.col("t")).alias("tx2"),
        F.sum("y").alias("ty"),
        F.sum(F.col("y") * F.col("y")).alias("ty2"),
        F.sum(F.col("t") * F.col("y")).alias("txy"),
    )
    cand = cum.crossJoin(F.broadcast(tot)).filter(
        (F.col("t") >= 2) & (F.col("t") <= F.col("n") - 2)
    )
    scored = cand.select(
        "d", "t", "n", F.expr(_SSE2).alias("sse2"), F.expr(_SSE1).alias("sse1")
    )
    top = scored.orderBy(F.col("sse2").asc(), F.col("t").asc()).limit(1)
    return top.select(
        F.col("d").alias("split_day"),
        F.col("n").alias("n_days"),
        pround(F.expr("sse2 / sse1"), 6).alias("sse_ratio_r"),
    )


def _elbow_sql() -> str:
    return f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY 1
), idx AS (
    SELECT d, y, row_number() OVER (ORDER BY d) AS t FROM daily
), cum AS (
    SELECT d, t,
           CAST(sum(t) OVER w AS BIGINT) AS cx,
           CAST(sum(t * t) OVER w AS BIGINT) AS cx2,
           CAST(sum(y) OVER w AS BIGINT) AS cy,
           CAST(sum(y * y) OVER w AS BIGINT) AS cy2,
           CAST(sum(t * y) OVER w AS BIGINT) AS cxy
    FROM idx
    WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
    SELECT count(*) AS n, CAST(sum(t) AS BIGINT) AS tx,
           CAST(sum(t * t) AS BIGINT) AS tx2, CAST(sum(y) AS BIGINT) AS ty,
           CAST(sum(y * y) AS BIGINT) AS ty2, CAST(sum(t * y) AS BIGINT) AS txy
    FROM idx
), scored AS (
    SELECT d, t, n, {_SSE2} AS sse2, {_SSE1} AS sse1
    FROM cum, tot
    WHERE t >= 2 AND t <= n - 2
)
SELECT d AS split_day, n AS n_days,
       {pround_sql('sse2 / sse1', 6)} AS sse_ratio_r
FROM scored
ORDER BY sse2 ASC, t ASC
LIMIT 1
"""




SPECS.extend(
    [
        QuerySpec(
            "mann_kendall_z",
            q_mann_kendall_z,
            _mann_kendall_z_sql(),
            ("stats", "timeseries"),
            doc="Tie-corrected Mann-Kendall variance + continuity-corrected z "
            "and p - the normalization the Theil-Sen kernel left open",
        ),
        QuerySpec(
            "changepoint_cusum_mean",
            q_changepoint_cusum_mean,
            _CUSUM_SQL,
            ("stats", "timeseries"),
            doc="CUSUM mean-shift changepoint on the day grid; integer-exact "
            "n*cum - t*total deviation argmax",
        ),
        QuerySpec(
            "segmented_regression_elbow",
            q_segmented_regression_elbow,
            _elbow_sql(),
            ("stats", "timeseries"),
            doc="Two-segment OLS breakpoint by total-SSE argmin over day-grid "
            "prefix moments; bounded windows, shared-tree SSEs",
        ),
    ]
)


# --------------------------------------------------------------------------
# PACF via Durbin-Levinson (bounded day grid, order-pinned folds)
# --------------------------------------------------------------------------

_PACF_LAGS = 4


def _dl_pacf_exprs() -> dict[int, str]:
    """Durbin-Levinson recursion unrolled to ``_PACF_LAGS`` as SQL text
    over columns r1..r4 — the SAME strings run on Spark and DuckDB, so
    the doubles agree bit for bit (shared-tree discipline)."""
    phi: dict[tuple[int, int], str] = {(1, 1): "r1"}
    for k in range(2, _PACF_LAGS + 1):
        num = f"(r{k} - (" + " + ".join(
            f"({phi[(k - 1, j)]}) * r{k - j}" for j in range(1, k)
        ) + "))"
        den = "(1.0 - (" + " + ".join(
            f"({phi[(k - 1, j)]}) * r{j}" for j in range(1, k)
        ) + "))"
        phi[(k, k)] = f"({num} / {den})"
        for j in range(1, k):
            phi[(k, j)] = f"(({phi[(k - 1, j)]}) - ({phi[(k, k)]}) * ({phi[(k - 1, k - j)]}))"
    return {k: phi[(k, k)] for k in range(1, _PACF_LAGS + 1)}


def q_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily revenue series to lag 4 via
    the Durbin-Levinson recursion — the AR-order diagnostic next to the
    plain ACF (``acf_by_user``): pacf_k is the lag-k correlation AFTER
    removing the shorter-lag structure, the standard Box-Jenkins model-ID
    readout. The series is the calendar-bounded day grid (≤ ~366 rows;
    lags are positional on the day-ordered series); the ACF estimator
    r_k = Σ(x_t−x̄)(x_{t−k}−x̄)/Σ(x_t−x̄)² runs as ORDER-PINNED folds over
    the sorted array (the fourier discipline) and the recursion itself is
    pure scalar arithmetic on the 1-row frame, generated ONCE as SQL text
    shared verbatim by both engines. One data-sized day aggregate."""
    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev).select("d", F.col("cents").cast("double").alias("y"))
    rows = daily.agg(
        F.expr("transform(array_sort(collect_list(struct(d, y))), r -> r.y)").alias(
            "ys"
        )
    )
    mean = (
        "(aggregate(ys, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        " / CAST(size(ys) AS DOUBLE))"
    )
    scalars = rows.select("ys", F.expr(mean).alias("m")).select(
        F.expr("size(ys)").cast("int").alias("n_days"),
        F.expr(
            "aggregate(ys, CAST(0.0 AS DOUBLE),"
            " (acc, v) -> acc + (v - m) * (v - m))"
        ).alias("d0"),
        *[
            F.expr(
                f"aggregate(sequence({k} + 1, size(ys)), CAST(0.0 AS DOUBLE),"
                f" (acc, i) -> acc + (element_at(ys, i) - m)"
                f" * (element_at(ys, i - {k}) - m))"
            ).alias(f"c{k}")
            for k in range(1, _PACF_LAGS + 1)
        ],
    )
    acf = scalars.select(
        "n_days",
        *[(F.col(f"c{k}") / F.col("d0")).alias(f"r{k}") for k in range(1, _PACF_LAGS + 1)],
    )
    dl = _dl_pacf_exprs()
    return acf.select(
        "n_days",
        *[pround(F.expr(dl[k]), 6).alias(f"pacf{k}_r") for k in range(1, _PACF_LAGS + 1)],
    )


def _pacf_sql() -> str:
    dl = _dl_pacf_exprs()
    prods = ",\n           ".join(
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range({k} + 1, n + 1),"
        f" i -> (ys[i] - m) * (ys[i - {k}] - m))), (acc, v) -> acc + v) AS c{k}"
        for k in range(1, _PACF_LAGS + 1)
    )
    pacs = ",\n       ".join(
        f"{pround_sql(dl[k], 6)} AS pacf{k}_r" for k in range(1, _PACF_LAGS + 1)
    )
    rs = ", ".join(f"c{k} / d0 AS r{k}" for k in range(1, _PACF_LAGS + 1))
    return f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS y
    FROM events GROUP BY 1
), arrs AS (
    SELECT CAST(count(*) AS INT) AS n, list(y ORDER BY d) AS ys FROM daily
), withm AS (
    SELECT n, ys,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys), (acc, v) -> acc + v)
               / CAST(n AS DOUBLE) AS m
    FROM arrs
), scalars AS (
    SELECT n AS n_days,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(ys, v -> (v - m) * (v - m))), (acc, v) -> acc + v) AS d0,
           {prods}
    FROM withm
), acf AS (
    SELECT n_days, {rs} FROM scalars
)
SELECT n_days,
       {pacs}
FROM acf
"""




SPECS.append(
    QuerySpec(
        "pacf_durbin_levinson",
        q_pacf_durbin_levinson,
        _pacf_sql(),
        ("stats", "timeseries"),
        doc="PACF to lag 4 via Durbin-Levinson on the calendar-bounded day "
        "grid; order-pinned ACF folds, shared-tree recursion",
    )
)


# --------------------------------------------------------------------------
# Page–Hinkley drift detector (micro-quantized deviations on the day grid)
# --------------------------------------------------------------------------

#: Alarm threshold: $500 of accumulated positive deviation, in cent-micros.
_PH_LAMBDA = 500 * 100 * 1_000_000


def q_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley mean-INCREASE drift detector on the daily-revenue
    series (delta=0): m_t = sum_{i<=t}(x_i - mean_i) with mean_i the
    running prefix mean, PH_t = m_t - min_{i<=t} m_i, alarm when PH > the
    $500 threshold — the online companion to the offline
    ``changepoint_cusum_mean``. Each deviation is quantized to integer
    cent-micros BEFORE accumulation (the chisq micro-unit discipline), so
    every m_t, the prefix min and the argmax day are integer-exact; only
    the reported magnitude converts to dollars."""
    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev).withColumnRenamed("cents", "x")
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = daily.select(
        "d",
        "x",
        F.sum("x").over(wcum).alias("s"),
        F.row_number().over(Window.orderBy("d")).alias("t"),
    )
    dev = pre.withColumn(
        "dev",
        F.expr(
            "CAST(floor((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(t AS DOUBLE))"
            " * 1000000.0 + 0.5) AS BIGINT)"
        ),
    )
    ph = dev.select(
        "d",
        (
            F.sum("dev").over(wcum) - F.min(F.sum("dev").over(wcum)).over(wcum)
        ).alias("ph"),
    )
    peak = ph.orderBy(F.col("ph").desc(), F.col("d").asc()).limit(1)
    alarms = ph.groupBy().agg(
        F.min(F.when(F.col("ph") > F.lit(_PH_LAMBDA), F.col("d"))).alias(
            "first_alarm_day"
        ),
        F.sum((F.col("ph") > F.lit(_PH_LAMBDA)).cast("long")).alias("n_alarm_days"),
    )
    return peak.crossJoin(F.broadcast(alarms)).select(
        F.col("d").alias("peak_day"),
        pround(F.expr("CAST(ph AS DOUBLE) / 1000000.0 / 100.0"), 4).alias(
            "ph_max_usd_r"
        ),
        "first_alarm_day",
        "n_alarm_days",
    )


def _ph_sql() -> str:
    return f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
    FROM events GROUP BY 1
), pre AS (
    SELECT d, x,
           CAST(sum(x) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
           row_number() OVER (ORDER BY d) AS t
    FROM daily
), dev AS (
    SELECT d, CAST(floor((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(t AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS dev
    FROM pre
), m AS (
    SELECT d, CAST(sum(dev) OVER (ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m
    FROM dev
), ph AS (
    SELECT d, m - min(m) OVER (ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
    FROM m
), peak AS (
    SELECT d AS peak_day, ph FROM ph ORDER BY ph DESC, d ASC LIMIT 1
), alarms AS (
    SELECT min(CASE WHEN ph > {_PH_LAMBDA} THEN d END) AS first_alarm_day,
           CAST(sum(CASE WHEN ph > {_PH_LAMBDA} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarm_days
    FROM ph
)
SELECT peak_day,
       {pround_sql('CAST(ph AS DOUBLE) / 1000000.0 / 100.0', 4)} AS ph_max_usd_r,
       first_alarm_day, n_alarm_days
FROM peak, alarms
"""


# --------------------------------------------------------------------------
# Matrix profile on the daily series (bounded calendar-squared pair set)
# --------------------------------------------------------------------------
#
# STOMP-style matrix profile with window m=7 over the daily-revenue series:
# the top motif (closest non-overlapping window pair) and top discord
# (window farthest from its nearest neighbor). The pair set is
# calendar-BOUNDED (<= 366^2 window pairs x 7 lags), never corpus-sized:
# one corpus aggregate makes the day grid, a 7-row lag frame expands each
# window, and all distances come from exact BIGINT moments
# (D = m*Q - S^2, m*dot - S1*S2) with the z-normalized distance
# 2m(1 - r) micro-quantized before every argmin/argmax, so motif and
# discord are integer-exact decisions in both engines.

_MP_M = 7
_MP_DIST_MICRO = (
    f"CAST(floor(2.0 * {_MP_M}.0 * (1.0 - "
    "(CAST({m} * dot - s1 * s2 AS DOUBLE)"
    " / sqrt(CAST(d1v AS DOUBLE) * CAST(d2v AS DOUBLE))))"
    " * 1000000.0 + 0.5) AS BIGINT)".replace("{m}", str(_MP_M))
)


def q_matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-profile motif + discord over daily revenue (module comment).
    Windows are indexed by row_number on the day grid (the series is
    daily-dense in this corpus); the exclusion zone |t1-t2| >= m keeps
    trivial matches out. Zero-variance windows are excluded (undefined
    z-normalized distance)."""
    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev).select("d", F.expr("cents DIV 100").alias("x"))
    grid = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("ts_i"), "x"
    )
    lags = spark.range(_MP_M).select(F.col("id").cast("int").alias("k"))
    el = (
        grid.crossJoin(F.broadcast(lags))
        .select((F.col("ts_i") - F.col("k")).alias("t"), "k", "x")
        .filter(F.col("t") >= 1)
    )
    nwin = grid.groupBy().agg((F.max("ts_i") - F.lit(_MP_M - 1)).alias("nw"))
    el = el.crossJoin(F.broadcast(nwin)).filter(F.col("t") <= F.col("nw")).drop("nw")
    mom = el.groupBy("t").agg(
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    ).withColumn("dv", F.expr(f"{_MP_M} * q - s * s"))
    e1 = el.select(F.col("t").alias("t1"), "k", F.col("x").alias("x1"))
    e2 = el.select(F.col("t").alias("t2"), "k", F.col("x").alias("x2"))
    dots = (
        e1.join(e2, "k")
        .filter(F.abs(F.col("t1") - F.col("t2")) >= _MP_M)
        .groupBy("t1", "t2")
        .agg(F.sum(F.col("x1") * F.col("x2")).alias("dot"))
    )
    m1 = mom.select(
        F.col("t").alias("t1"), F.col("s").alias("s1"), F.col("dv").alias("d1v")
    )
    m2 = mom.select(
        F.col("t").alias("t2"), F.col("s").alias("s2"), F.col("dv").alias("d2v")
    )
    pairs = (
        dots.join(F.broadcast(m1), "t1")
        .join(F.broadcast(m2), "t2")
        .filter((F.col("d1v") > 0) & (F.col("d2v") > 0))
        .withColumn("dmicro", F.expr(_MP_DIST_MICRO))
    )
    motif = pairs.filter(F.col("t1") < F.col("t2")).orderBy(
        "dmicro", "t1", "t2"
    ).limit(1)
    prof = pairs.groupBy("t1").agg(F.min("dmicro").alias("nn"))
    discord = prof.orderBy(F.col("nn").desc(), F.col("t1").asc()).limit(1)
    return (
        motif.select(
            F.col("t1").alias("motif_t1"),
            F.col("t2").alias("motif_t2"),
            pround(F.expr("CAST(dmicro AS DOUBLE) / 1000000.0"), 4).alias(
                "motif_dist_r"
            ),
        )
        .crossJoin(
            discord.select(
                F.col("t1").alias("discord_t"),
                pround(F.expr("CAST(nn AS DOUBLE) / 1000000.0"), 4).alias(
                    "discord_dist_r"
                ),
            )
        )
    )


def _mp_sql() -> str:
    return f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               // 100 AS x
    FROM events GROUP BY 1
), grid AS (
    SELECT row_number() OVER (ORDER BY d) AS ts_i, x FROM daily
), nwin AS (
    SELECT max(ts_i) - {_MP_M - 1} AS nw FROM grid
), el AS (
    SELECT ts_i - k AS t, k, x
    FROM grid, unnest(generate_series(0, {_MP_M - 1})) AS g(k), nwin
    WHERE ts_i - k >= 1 AND ts_i - k <= nw
), mom AS (
    SELECT t, CAST(sum(x) AS BIGINT) AS s,
           CAST(sum(x * x) AS BIGINT) AS q,
           CAST({_MP_M} * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS dv
    FROM el GROUP BY t
), dots AS (
    SELECT a.t AS t1, b.t AS t2, CAST(sum(a.x * b.x) AS BIGINT) AS dot
    FROM el a JOIN el b ON a.k = b.k AND abs(a.t - b.t) >= {_MP_M}
    GROUP BY a.t, b.t
), pairs AS (
    SELECT t1, t2,
           {_MP_DIST_MICRO} AS dmicro
    FROM dots
    JOIN (SELECT t AS t1, s AS s1, dv AS d1v FROM mom) USING (t1)
    JOIN (SELECT t AS t2, s AS s2, dv AS d2v FROM mom) USING (t2)
    WHERE d1v > 0 AND d2v > 0
), motif AS (
    SELECT t1 AS motif_t1, t2 AS motif_t2, dmicro
    FROM pairs WHERE t1 < t2 ORDER BY dmicro, t1, t2 LIMIT 1
), prof AS (
    SELECT t1, min(dmicro) AS nn FROM pairs GROUP BY t1
), discord AS (
    SELECT t1 AS discord_t, nn FROM prof ORDER BY nn DESC, t1 ASC LIMIT 1
)
SELECT motif_t1, motif_t2,
       {pround_sql('CAST(dmicro AS DOUBLE) / 1000000.0', 4)} AS motif_dist_r,
       discord_t,
       {pround_sql('CAST(nn AS DOUBLE) / 1000000.0', 4)} AS discord_dist_r
FROM motif, discord
"""


# --------------------------------------------------------------------------
# Day-grid diagnostics: runs test, Durbin–Watson, Ljung–Box
# --------------------------------------------------------------------------
#
# Three classical serial-structure diagnostics, all on the calendar-bounded
# daily-revenue grid (one corpus aggregate each): randomness of the
# above/below-median sign sequence (Wald–Wolfowitz runs), first-order
# residual autocorrelation of the linear trend fit (Durbin–Watson), and
# joint autocorrelation at lags 1..7 (Ljung–Box). Exactness: signs compare
# 2x against the exact doubled median; DW residual terms are micro-
# quantized from exact OLS moment formulas; Ljung–Box autocorrelations are
# EXACT integer ratios via the scaled deviations d_t = n*x_t - S (the n
# factors cancel in r_k = sum d_t d_{t+k} / sum d_t^2), accumulated
# 128-bit.

_RUNS_MU = "(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0)"
_RUNS_VAR = (
    "(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    " - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))"
    " / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
    " * (CAST(n1 + n2 AS DOUBLE) - 1.0)))"
)
_RUNS_Z = f"((CAST(r AS DOUBLE) - {_RUNS_MU}) / sqrt({_RUNS_VAR}))"


def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test of randomness on the daily-revenue sign
    sequence (above/below the exact median; ties at the median dropped,
    the standard convention). Doubled-median comparison keeps the sign an
    integer decision; runs counted by one lag on the day grid."""
    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev).withColumnRenamed("cents", "x")
    byval = daily.select("d", "x", F.row_number().over(Window.orderBy("x", "d")).alias("rk"))
    nn = daily.groupBy().agg(F.count(F.lit(1)).alias("n"))
    med = (
        byval.crossJoin(F.broadcast(nn))
        .groupBy()
        .agg(
            (
                F.min(F.when(F.col("rk") == F.expr("(n + 1) DIV 2"), F.col("x")))
                + F.min(F.when(F.col("rk") == F.expr("n DIV 2 + 1"), F.col("x")))
            ).alias("m2")
        )
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(2 * F.col("x") != F.col("m2"))
        .select("d", (2 * F.col("x") > F.col("m2")).cast("int").alias("s"))
    )
    lagged = signed.select(
        "s", F.lag("s").over(Window.orderBy("d")).alias("prev")
    )
    agg = lagged.groupBy().agg(
        F.sum(F.col("s")).alias("n1"),
        F.sum(1 - F.col("s")).alias("n2"),
        (
            1
            + F.sum(
                (F.col("prev").isNotNull() & (F.col("s") != F.col("prev"))).cast(
                    "long"
                )
            )
        ).alias("r"),
    )
    return agg.select(
        "n1",
        "n2",
        "r",
        pround(F.expr(_RUNS_Z), 6).alias("z_r"),
        pround(F.expr(two_sided_p_sql(_RUNS_Z)), 8).alias("p_r"),
    )


_RUNS_SQL = f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
    FROM events GROUP BY 1
), byval AS (
    SELECT d, x, row_number() OVER (ORDER BY x, d) AS rk FROM daily
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily), med AS (
    SELECT min(CASE WHEN rk = (n + 1) // 2 THEN x END)
           + min(CASE WHEN rk = n // 2 + 1 THEN x END) AS m2
    FROM byval, nn
), signed AS (
    SELECT d, CASE WHEN 2 * x > m2 THEN 1 ELSE 0 END AS s
    FROM daily, med WHERE 2 * x != m2
), lagged AS (
    SELECT s, lag(s) OVER (ORDER BY d) AS prev FROM signed
), agg AS (
    SELECT CAST(sum(s) AS BIGINT) AS n1,
           CAST(sum(1 - s) AS BIGINT) AS n2,
           CAST(1 + sum(CASE WHEN prev IS NOT NULL AND s != prev
                             THEN 1 ELSE 0 END) AS BIGINT) AS r
    FROM lagged
)
SELECT n1, n2, r, {pround_sql(_RUNS_Z, 6)} AS z_r,
       {pround_sql(two_sided_p_sql(_RUNS_Z), 8)} AS p_r
FROM agg
"""


_DW_B = (
    "((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)"
    " - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)"
    " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))"
)
_DW_A = f"((CAST(sy AS DOUBLE) - {_DW_B} * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE))"
_DW_RESID = f"(CAST(x AS DOUBLE) - {_DW_A} - {_DW_B} * CAST(t AS DOUBLE))"


def q_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson first-order autocorrelation diagnostic on the
    residuals of the daily-revenue linear trend: OLS (a, b) from exact
    BIGINT moments in one shared double tree, residuals and their lagged
    differences on the day grid, numerator/denominator terms micro-
    quantized before the grid sums. DW ~ 2(1 - rho1)."""
    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev).select("d", F.expr("cents DIV 100").alias("x"))
    seq = daily.select(
        "x", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    mom = seq.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum("x").alias("sy"),
        F.sum(F.col("t") * F.col("x")).alias("sty"),
    )
    res = seq.crossJoin(F.broadcast(mom)).select(
        "t", F.expr(_DW_RESID).alias("e")
    )
    lagged = res.select(
        "e", F.lag("e").over(Window.orderBy("t")).alias("ep")
    )
    # cast-quantizer, not floor(): Spark floor(DOUBLE) saturates at 2^63
    # and the e^2 micro terms reach ~1e22 at sf100 (the ansari_bradley
    # lesson); both engines' double->wide cast rounds half-away for
    # positive x, exact to 10^38.
    agg = lagged.groupBy().agg(
        F.sum(F.expr("CAST(e * e * 1000000.0 AS DECIMAL(38,0))")).alias(
            "den_micro"
        ),
        F.sum(
            F.expr(
                "CASE WHEN ep IS NULL THEN CAST(0 AS DECIMAL(38,0)) ELSE"
                " CAST((e - ep) * (e - ep) * 1000000.0 AS DECIMAL(38,0)) END"
            )
        ).alias("num_micro"),
    )
    return agg.select(
        pround(
            F.expr("CAST(num_micro AS DOUBLE) / CAST(den_micro AS DOUBLE)"), 6
        ).alias("dw_r")
    )


_DW_SQL = f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               // 100 AS x
    FROM events GROUP BY 1
), seq AS (
    SELECT x, row_number() OVER (ORDER BY d) AS t FROM daily
), mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS st,
           CAST(sum(t * t) AS BIGINT) AS stt, CAST(sum(x) AS BIGINT) AS sy,
           CAST(sum(t * x) AS BIGINT) AS sty
    FROM seq
), res AS (
    SELECT t, {_DW_RESID} AS e FROM seq, mom
), lagged AS (
    SELECT e, lag(e) OVER (ORDER BY t) AS ep FROM res
), agg AS (
    SELECT CAST(sum(CAST(e * e * 1000000.0 AS HUGEINT)) AS HUGEINT)
               AS den_micro,
           CAST(sum(CASE WHEN ep IS NULL THEN CAST(0 AS HUGEINT)
                    ELSE CAST((e - ep) * (e - ep) * 1000000.0 AS HUGEINT)
                    END) AS HUGEINT) AS num_micro
    FROM lagged
)
SELECT {pround_sql('CAST(num_micro AS DOUBLE) / CAST(den_micro AS DOUBLE)', 6)}
           AS dw_r
FROM agg
"""

_LB_LAGS = 7


def q_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau Q over lags 1..7 of the daily-revenue series.
    Autocorrelations are EXACT integer ratios: with d_t = n*x_t - S (the
    scaled deviation), r_k = sum d_t*d_{t+k} / sum d_t^2 — the n factors
    cancel — accumulated DECIMAL(38,0)/HUGEINT; each r_k^2/(n-k) term is
    micro-quantized before the 7-term fold. Q ~ chi2(7) under the null."""
    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev).select("d", F.expr("cents DIV 100").alias("x"))
    seq = daily.select("x", F.row_number().over(Window.orderBy("d")).alias("t"))
    mom = seq.groupBy().agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    dev = seq.crossJoin(F.broadcast(mom)).select(
        "t", "n", (F.col("n") * F.col("x") - F.col("s")).alias("dv")
    )
    den = dev.groupBy("n").agg(
        F.sum(
            F.expr("CAST(dv AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0))")
        ).cast("decimal(38,0)").alias("den")
    )
    lags = spark.range(1, _LB_LAGS + 1).select(F.col("id").cast("int").alias("k"))
    a = dev.select(F.col("t").alias("t1"), F.col("dv").alias("d1"))
    b = dev.select(F.col("t").alias("t2"), F.col("dv").alias("d2"))
    nums = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("t2") == F.col("t1") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(
                F.expr("CAST(d1 AS DECIMAL(19,0)) * CAST(d2 AS DECIMAL(19,0))")
            ).cast("decimal(38,0)").alias("num")
        )
    )
    term = _q6(
        "(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
        " * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
        " / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))"
    )
    qsum = (
        nums.crossJoin(F.broadcast(den))
        .groupBy("n")
        .agg(F.sum(F.expr(term)).alias("q_micro"))
    )
    return qsum.select(
        "n",
        F.lit(_LB_LAGS).cast("int").alias("df"),
        pround(
            F.expr(
                "CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)"
                " * CAST(q_micro AS DOUBLE) / 1000000.0"
            ),
            4,
        ).alias("q_r"),
    )


def _lb_sql() -> str:
    term = _q6(
        "(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
        " * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
        " / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))"
    )
    return f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               // 100 AS x
    FROM events GROUP BY 1
), seq AS (
    SELECT x, row_number() OVER (ORDER BY d) AS t FROM daily
), mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM seq
), dev AS (
    SELECT t, n, CAST(n * x - s AS BIGINT) AS dv FROM seq, mom
), den AS (
    SELECT n, CAST(sum(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT)) AS HUGEINT)
               AS den
    FROM dev GROUP BY n
), nums AS (
    SELECT k, CAST(sum(CAST(a.dv AS HUGEINT) * CAST(b.dv AS HUGEINT))
               AS HUGEINT) AS num
    FROM dev a
    JOIN unnest(generate_series(1, {_LB_LAGS})) AS g(k) ON true
    JOIN dev b ON b.t = a.t + k
    GROUP BY k
), qsum AS (
    SELECT n, CAST(sum({term}) AS BIGINT) AS q_micro
    FROM nums, den GROUP BY n
)
SELECT n, CAST({_LB_LAGS} AS INT) AS df,
       {pround_sql(
           'CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)'
           ' * CAST(q_micro AS DOUBLE) / 1000000.0', 4)} AS q_r
FROM qsum
"""




SPECS.extend(
    [
        QuerySpec(
            "page_hinkley_drift",
            q_page_hinkley_drift,
            _ph_sql(),
            ("stats", "timeseries"),
            doc="Page-Hinkley mean-increase detector on daily revenue; "
            "micro-quantized deviations, integer-exact PH and alarms",
        ),
        QuerySpec(
            "matrix_profile_daily",
            q_matrix_profile_daily,
            _mp_sql(),
            ("timeseries", "bench"),
            doc="Matrix-profile motif + discord (m=7) on daily revenue; "
            "exact BIGINT window moments, micro-quantized z-distances",
        ),
        QuerySpec(
            "runs_test_daily",
            q_runs_test_daily,
            _RUNS_SQL,
            ("stats", "timeseries"),
            doc="Wald-Wolfowitz runs test on the above/below-median daily "
            "sign sequence; doubled-median integer signs",
        ),
        QuerySpec(
            "durbin_watson_daily",
            q_durbin_watson_daily,
            _DW_SQL,
            ("stats", "timeseries"),
            doc="Durbin-Watson on daily linear-trend residuals; exact OLS "
            "moments, micro-quantized residual terms",
        ),
        QuerySpec(
            "ljung_box_q",
            q_ljung_box_q,
            _lb_sql(),
            ("stats", "timeseries"),
            doc="Ljung-Box Q over lags 1..7; exact integer autocorrelation "
            "ratios via scaled deviations n*x - S",
        ),
    ]
)


# --------------------------------------------------------------------------
# Holt linear-trend forecast per event type (IEEE-replay oracle)
# --------------------------------------------------------------------------

_HOLT_ALPHA = 0.5  # exactly representable in binary — both engines agree
_HOLT_BETA = 0.25


def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing over each event
    type's DAILY value series, forecast horizon 7 days. Inherently a
    sequential recurrence, so it runs as ``applyInPandas`` per type — but
    over the calendar-bounded daily aggregate (≤ ~3.7 k rows/decade per
    type), so the grouped-map stage is constant-size at any corpus scale;
    the one data-sized operation is the map-side-combinable daily sum. The
    DuckDB oracle replays the IDENTICAL IEEE op sequence (α = 0.5 and
    β = 0.25 are exact binary fractions) in a recursive CTE carrying
    (level, trend) state — bit-exact match, no rounding fudge (the
    ``ewma_by_user`` house discipline)."""
    import pandas as pd

    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev, "event_type").select(
        "event_type", "d", F.col("cents").cast("double").alias("y")
    )

    schema = (
        "event_type string, n_days long, level_cents double,"
        " trend_cents double, forecast7_cents double"
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        if len(y) < 2:  # mirror the oracle: <2 observations → no model row
            return pd.DataFrame(
                columns=[
                    "event_type",
                    "n_days",
                    "level_cents",
                    "trend_cents",
                    "forecast7_cents",
                ]
            )
        lvl = float(y[0])
        trd = float(y[1]) - float(y[0])
        for t in range(1, len(y)):
            prev = lvl
            lvl = _HOLT_ALPHA * float(y[t]) + (1.0 - _HOLT_ALPHA) * (lvl + trd)
            trd = _HOLT_BETA * (lvl - prev) + (1.0 - _HOLT_BETA) * trd
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(y)],
                "level_cents": [lvl],
                "trend_cents": [trd],
                "forecast7_cents": [lvl + 7.0 * trd],
            }
        )

    return daily.groupBy("event_type").applyInPandas(holt, schema)


_HOLT_SQL = f"""
WITH RECURSIVE daily AS (
    SELECT event_type,
           datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS y
    FROM events GROUP BY 1, 2
), ord AS (
    SELECT event_type, y,
           row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n_days
    FROM daily
), rec AS (
    SELECT o1.event_type, o1.rn, o1.n_days,
           o1.y AS lvl,
           o2.y - o1.y AS trd
    FROM ord o1 JOIN ord o2 ON o2.event_type = o1.event_type AND o2.rn = 2
    WHERE o1.rn = 1
    UNION ALL
    SELECT o.event_type, o.rn, o.n_days,
           CAST({_HOLT_ALPHA} AS DOUBLE) * o.y
               + (CAST(1.0 AS DOUBLE) - CAST({_HOLT_ALPHA} AS DOUBLE))
                 * (r.lvl + r.trd) AS lvl,
           CAST({_HOLT_BETA} AS DOUBLE)
               * ((CAST({_HOLT_ALPHA} AS DOUBLE) * o.y
                   + (CAST(1.0 AS DOUBLE) - CAST({_HOLT_ALPHA} AS DOUBLE))
                     * (r.lvl + r.trd)) - r.lvl)
               + (CAST(1.0 AS DOUBLE) - CAST({_HOLT_BETA} AS DOUBLE)) * r.trd
               AS trd
    FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.rn + 1
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       lvl AS level_cents, trd AS trend_cents,
       lvl + CAST(7.0 AS DOUBLE) * trd AS forecast7_cents
FROM rec WHERE rn = n_days
"""



# --------------------------------------------------------------------------
# Harmonic (Fourier) weekly-seasonality fit
# --------------------------------------------------------------------------


def q_fourier_weekly_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality as a 1-harmonic Fourier fit of the daily value
    series: y(t) ≈ a₀ + a₁·cos(2πt/7) + b₁·sin(2πt/7). Because the day
    grid is (near-)complete, the regressors are orthogonal on whole weeks
    and the coefficients are plain projections: a₁ = 2·Σy·cos/n etc. —
    computed over the calendar-bounded daily aggregate with an ORDER-PINNED
    float fold (array_sort by day, then an explicit sequential aggregate)
    so both engines run the identical IEEE sum order, left to right. The
    amplitude √(a₁²+b₁²) and acrophase are derived in the shared double
    expression tree. One data-sized day aggregate; everything else is the
    ≤|days| frame."""
    ev = read_table(spark, sf_dir, "events")
    daily = daily_cents(ev).select("d", F.col("cents").cast("double").alias("y"))
    # Order-pinned folds: sort the (d, y) pairs, then fold left to right.
    rows = daily.agg(
        F.expr("array_sort(collect_list(struct(d, y)))").alias("arr")
    )
    two_pi_over_7 = "6.283185307179586 / 7.0"
    def fold(expr: str) -> str:
        return (
            f"aggregate(arr, CAST(0.0 AS DOUBLE), (acc, r) -> acc + ({expr}))"
        )
    yc = fold(f"r.y * cos(CAST(r.d AS DOUBLE) * ({two_pi_over_7}))")
    ys = fold(f"r.y * sin(CAST(r.d AS DOUBLE) * ({two_pi_over_7}))")
    ysum = fold("r.y")
    out = rows.select(
        F.expr("size(arr)").alias("n_days"),
        pround(F.expr(f"({ysum}) / size(arr)"), 2).alias("a0_r"),
        pround(F.expr(f"2.0 * ({yc}) / size(arr)"), 2).alias("a1_r"),
        pround(F.expr(f"2.0 * ({ys}) / size(arr)"), 2).alias("b1_r"),
        pround(
            F.expr(
                f"sqrt((2.0 * ({yc}) / size(arr)) * (2.0 * ({yc}) / size(arr))"
                f" + (2.0 * ({ys}) / size(arr)) * (2.0 * ({ys}) / size(arr)))"
            ),
            2,
        ).alias("amplitude_r"),
    )
    return out


_FOURIER_FOLD = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {COL}), (acc, v) -> acc + v)"

_FOURIER_SQL = f"""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS y
    FROM events GROUP BY 1
), arrs AS (
    SELECT count(*) AS n,
           list(y * cos(CAST(d AS DOUBLE) * (6.283185307179586 / 7.0)) ORDER BY d) AS lc,
           list(y * sin(CAST(d AS DOUBLE) * (6.283185307179586 / 7.0)) ORDER BY d) AS ls,
           list(y ORDER BY d) AS ly
    FROM daily
), folds AS (
    SELECT n,
           {_FOURIER_FOLD.replace('{COL}', 'lc')} AS yc,
           {_FOURIER_FOLD.replace('{COL}', 'ls')} AS ys,
           {_FOURIER_FOLD.replace('{COL}', 'ly')} AS ysum
    FROM arrs
)
SELECT CAST(n AS INT) AS n_days,
       {pround_sql('ysum / n', 2)} AS a0_r,
       {pround_sql('2.0 * yc / n', 2)} AS a1_r,
       {pround_sql('2.0 * ys / n', 2)} AS b1_r,
       {pround_sql('sqrt((2.0 * yc / n) * (2.0 * yc / n) + (2.0 * ys / n) * (2.0 * ys / n))', 2)}
           AS amplitude_r
FROM folds
"""

# --------------------------------------------------------------------------
# Mann-Kendall trend test + Theil-Sen slope (robust trend on the daily frame)
# --------------------------------------------------------------------------


def q_mann_kendall_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall S statistic and the Theil-Sen slope of the daily
    total-value series — the standard nonparametric trend pair (monotone
    trend without normality assumptions; TS slope is the median of all
    pairwise slopes, 29% breakdown point). Both are pairwise over the
    DAILY aggregate, so the self-join is calendar-bounded (≤ ~3.7 k rows a
    decade → ≤ 7 M pairs at any corpus size — constant, not data-scaled;
    the one data-sized operation is the day aggregate). Integer-exact: S
    is a sign sum; the slope median is an exact rational pinned as
    slope_micro = (Δcents·10⁶) DIV Δday per pair, median by exact rank
    with (numerator) tie-break. The variance/Z normalization is left to
    the caller (ties correction documented) — S and the slope are the
    portable kernel."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        daily_cents(ev).withColumnRenamed("cents", "y")
        .localCheckpoint()  # tiny calendar frame, self-joined twice below
    )
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    pairs = daily.join(b, F.col("d2") > F.col("d")).select(
        F.signum(F.col("y2") - F.col("y")).cast("long").alias("sgn"),
        F.expr("((y2 - y) * 1000000) DIV (d2 - d)").alias("slope_micro"),
    )
    stats = pairs.agg(
        F.sum("sgn").alias("mk_s"), F.count(F.lit(1)).alias("n_pairs")
    )
    wr = Window.orderBy("slope_micro")
    ranked = pairs.select("slope_micro").withColumn(
        "rnk", F.row_number().over(wr)
    )
    med = ranked.crossJoin(F.broadcast(stats.select("n_pairs"))).filter(
        F.col("rnk") * 2 >= F.col("n_pairs")
    ).agg(F.min("slope_micro").alias("theil_sen_micro"))
    return stats.crossJoin(F.broadcast(med))


_MK_SQL = """
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
    FROM events GROUP BY 1
), pairs AS (
    SELECT CAST(sign(b.y - a.y) AS BIGINT) AS sgn,
           ((b.y - a.y) * 1000000) // (b.d - a.d) AS slope_micro
    FROM daily a JOIN daily b ON b.d > a.d
), stats AS (
    SELECT sum(sgn) AS mk_s, count(*) AS n_pairs FROM pairs
), ranked AS (
    SELECT slope_micro, row_number() OVER (ORDER BY slope_micro) AS rnk
    FROM pairs
)
SELECT CAST(s.mk_s AS BIGINT) AS mk_s, s.n_pairs,
       CAST((SELECT min(slope_micro) FROM ranked, stats
        WHERE rnk * 2 >= n_pairs) AS BIGINT) AS theil_sen_micro
FROM stats s
"""



SPECS.extend(
    [
    QuerySpec(
            "holt_linear_forecast",
            q_holt_linear_forecast,
            _HOLT_SQL,
            ("timeseries", "pandas_udf"),
            doc="Holt double exponential smoothing per event type over the "
            "calendar-bounded daily series (applyInPandas); DuckDB recursive-CTE "
            "IEEE replay — bit-exact, no rounding fudge",
        ),
    QuerySpec(
            "fourier_weekly_fit",
            q_fourier_weekly_fit,
            _FOURIER_SQL,
            ("timeseries", "stats"),
            doc="1-harmonic Fourier fit of weekly seasonality over the "
            "calendar-bounded daily series; ORDER-PINNED float folds keep the "
            "projections bit-identical cross-engine",
        ),
    QuerySpec(
            "mann_kendall_theilsen",
            q_mann_kendall_theilsen,
            _MK_SQL,
            ("timeseries", "stats"),
            doc="Mann-Kendall S + exact Theil-Sen median slope over the "
            "calendar-bounded daily frame (pairwise stays constant-size at any "
            "corpus scale); integer sign sums and rational slopes",
        ),
    ]
)
