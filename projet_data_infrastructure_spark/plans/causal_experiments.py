"""Causal-inference and experiment-analysis operators: variance-reduced
lifts, matching estimators, distributional treatment effects, and channel
attribution — the measurement layer next to ``stats_inference``'s tests.

Consolidated from the round-7 build module (round 11, VERDICT r10 item 6)
— specs, oracles, and hashes unchanged; each spec keeps its original
design docstring. Scale shape: each estimator is one or two corpus
aggregates to a bounded (arm x stratum / decile / channel-set) grid with
exact integer moments; matching runs on bucketed score grids, never
subject-pair joins.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.functions.hashing import hash64, hash64_sql
from projet_data_infrastructure_spark.plans._portable import (
    fdiv as _fdiv,
    pround,
    pround_sql,
    value_cents,
)
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.sources.readers import read_table

SPECS: list[QuerySpec] = []



# --------------------------------------------------------------------------
# CUPED-adjusted A/B lift (variance-reduced experiment readout)
# --------------------------------------------------------------------------


def q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013, the industry-standard A/B variance
    reduction): treatment = deterministic hash coin on user_id; outcome Y =
    the user's total event value in the SECOND half of the observation
    window; pre-period covariate X = the same total in the FIRST half
    (unaffected by treatment by construction). θ = cov(X,Y)/var(X) from
    exact DECIMAL moment sums over ALL users (the pooled estimator), then
    the adjusted outcome Ycv = Y − θ·(X − X̄) is averaged per arm — all in
    the shared-text IEEE double tree, so both engines agree bit-for-bit.
    Shape: two map-side-combinable aggregates (per-user, then global
    moments) + one bounded per-arm aggregate. Output: per-arm n, raw mean,
    CUPED mean (micro-cents)."""
    from projet_data_infrastructure_spark.functions.hashing import hash64

    ev = read_table(spark, sf_dir, "events")
    mid = F.expr("DATE '2024-01-16'")
    per_user = (
        ev.select(
            "user_id",
            value_cents().alias("cents"),
            (F.to_date("ts") < mid).cast("int").alias("pre"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * F.col("pre")).alias("x"),
            F.sum(F.col("cents") * (1 - F.col("pre"))).alias("y"),
        )
        .withColumn("arm", F.pmod(hash64(F.col("user_id")), F.lit(2)).cast("int"))
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    # theta and xbar in the shared double tree (exact integer inputs)
    theta = "CAST((n * sxy - sx * sy) AS DOUBLE) / CAST((n * sxx - sx * sx) AS DOUBLE)"
    xbar = "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"
    adj = (
        per_user.crossJoin(F.broadcast(mom))
        .withColumn(
            "ycv",
            F.expr(
                f"CAST(y AS DOUBLE) - ({theta}) * (CAST(x AS DOUBLE) - ({xbar}))"
            ),
        )
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.expr("(sum(y) * 1000000) DIV count(1)").alias("raw_mean_micro"),
            pround(
                F.expr(
                    "aggregate(array_sort(collect_list(ycv)), CAST(0.0 AS DOUBLE),"
                    " (acc, v) -> acc + v) / count(1)"
                ),
                2,
            ).alias("cuped_mean_r"),
        )
    )
    return adj


_CUPED_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
               * CAST(CAST(ts AS DATE) < DATE '2024-01-16' AS INT)) AS x,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
               * CAST(CAST(ts AS DATE) >= DATE '2024-01-16' AS INT)) AS y,
           CAST({hash64_sql('user_id')} % 2 AS INT) AS arm
    FROM events GROUP BY user_id
), mom AS (
    SELECT count(*) AS n,
           sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
           sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy
    FROM per_user
), adj AS (
    SELECT arm, y,
           CAST(y AS DOUBLE)
             - (CAST((n * sxy - sx * sy) AS DOUBLE) / CAST((n * sxx - sx * sx) AS DOUBLE))
               * (CAST(x AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS ycv
    FROM per_user CROSS JOIN mom
)
SELECT arm, count(*) AS n_users,
       CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS raw_mean_micro,
       {pround_sql("list_reduce(list_sort(list(ycv)), (acc, v) -> acc + v) / count(*)", 2)}
           AS cuped_mean_r
FROM adj GROUP BY arm
"""

# --------------------------------------------------------------------------
# Exact Shapley channel attribution (game-theoretic MTA)
# --------------------------------------------------------------------------

_SHAP_CHANNELS = ("click", "error", "signup", "view")  # bit order (sorted)


def q_shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value multi-touch attribution (the game-theoretic MTA
    marketers approximate by sampling — with 4 channels the coalition space
    is 2⁴ = 16, so the exact solve is a bounded-frame computation): the
    coalition value v(S) = total purchases by users whose EXPOSURE SET is
    exactly S, and channel i's Shapley value is Σ_{S∌i} |S|!·(3−|S|)!·
    [v(S∪{i}) − v(S)] / 4!. Reported ×24 (= 4!) so every weight
    |S|!(3−|S|)! is an exact integer — no rational rounding anywhere.
    Shape: ONE per-user aggregate (exposure bitmask + purchase count via
    bitwise-OR of per-type bits), one 16-row mask aggregate densified by a
    literal grid, then the Shapley sum over a 4×16 literal cross join —
    everything after the two keyed aggregates is constant-size. Efficiency
    property of Shapley (Σ_i φ_i = v(full) − v(∅)) is fixture-tested."""
    ev = read_table(spark, sf_dir, "events")
    bit = F.lit(0)
    for i, ch in enumerate(_SHAP_CHANNELS):
        bit = bit + F.when(F.col("event_type") == ch, F.lit(1 << i)).otherwise(0)
    pre = ev.select(
        "user_id",
        bit.alias("chbit"),
        (F.col("event_type") == "purchase").cast("long").alias("is_conv"),
    )
    per_user = pre.groupBy("user_id").agg(
        F.expr("aggregate(collect_list(chbit), 0, (acc, b) -> CAST(acc | b AS INT))").alias(
            "mask"
        ),
        F.sum("is_conv").alias("conv"),
    )
    vmask = per_user.groupBy("mask").agg(F.sum("conv").alias("v"))
    grid = spark.range(16).select(F.col("id").cast("int").alias("mask"))
    dense = grid.join(vmask, "mask", "left").fillna({"v": 0})
    # Shapley over the dense 16-row frame: for each channel bit i and each
    # coalition S without i, weight = |S|!·(3-|S|)! ; φ_i·24 = Σ w·(v(S∪i)-v(S))
    fact = {0: 6, 1: 2, 2: 2, 3: 6}  # |S|!·(3-|S|)! for |S| = 0..3
    w_expr = (
        "CASE bit_count(mask & ~(1 << i))"
        + "".join(f" WHEN {k} THEN {v}" for k, v in fact.items())
        + " END"
    )
    chan = spark.range(4).select(F.col("id").cast("int").alias("i"))
    pairs = (
        chan.crossJoin(dense)
        .filter(F.expr("(mask & (1 << i)) = 0"))
        .select("i", "mask", "v", F.expr(w_expr).alias("w"))
    )
    vplus = dense.select(
        F.col("mask").alias("mask_plus"), F.col("v").alias("v_plus")
    )
    shap = (
        pairs.join(vplus, F.expr("mask_plus = (mask | (1 << i))"))
        .groupBy("i")
        .agg(F.sum(F.col("w") * (F.col("v_plus") - F.col("v"))).alias("shap_x24"))
    )
    names = ", ".join(f"'{c}'" for c in _SHAP_CHANNELS)
    return shap.select(
        F.expr(f"element_at(array({names}), i + 1)").alias("channel"),
        "shap_x24",
    )


_SHAP_CHAN_CASE = " ".join(
    f"WHEN {i} THEN '{c}'" for i, c in enumerate(_SHAP_CHANNELS)
)

_SHAP_SQL = f"""
WITH pre AS (
    SELECT user_id,
           CASE event_type
                WHEN 'click' THEN 1 WHEN 'error' THEN 2
                WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END AS chbit,
           CAST(event_type = 'purchase' AS BIGINT) AS is_conv
    FROM events
), per_user AS (
    SELECT user_id, bit_or(chbit) AS mask, sum(is_conv) AS conv
    FROM pre GROUP BY user_id
), vmask AS (
    SELECT g.mask, coalesce(sum(p.conv), 0) AS v
    FROM (SELECT unnest(range(0, 16)) AS mask) g
    LEFT JOIN per_user p USING (mask)
    GROUP BY g.mask
), pairs AS (
    SELECT c.i, d.mask, d.v,
           CASE bit_count(d.mask)
                WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6 END AS w
    FROM (SELECT unnest(range(0, 4)) AS i) c
    CROSS JOIN vmask d
    WHERE (d.mask & (1 << c.i)) = 0
)
SELECT CASE p.i {_SHAP_CHAN_CASE} END AS channel,
       CAST(sum(p.w * (vp.v - p.v)) AS BIGINT) AS shap_x24
FROM pairs p JOIN vmask vp ON vp.mask = (p.mask | (1 << p.i))
GROUP BY 1
"""

# --------------------------------------------------------------------------
# Quantile treatment effects by decile (distributional A/B readout)
# --------------------------------------------------------------------------


def q_qte_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effect: the per-decile difference between the
    treatment and control distributions of per-user event-value totals
    (same hash-coin arms as ``cuped_adjusted_lift``) — the distributional
    readout that catches effects a mean hides (winners-only lift, tail
    harm). Exact nearest-rank deciles per arm (rank window over the
    per-user aggregate; at warehouse scale the exact rank swaps for
    grouped_rank / approx_percentile), then a 9-row arm pivot. Integer
    cents end to end."""
    from projet_data_infrastructure_spark.functions.hashing import hash64

    ev = read_table(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            value_cents().alias("cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("cents").alias("total"))
        .withColumn("arm", F.pmod(hash64(F.col("user_id")), F.lit(2)).cast("int"))
    )
    wrnk = Window.partitionBy("arm").orderBy("total", "user_id")
    wtot = Window.partitionBy("arm")
    ranked = per_user.withColumn("rnk", F.row_number().over(wrnk)).withColumn(
        "n", F.count(F.lit(1)).over(wtot)
    )
    # decile d (1..9): smallest total with rnk*10 >= d*n  (nearest-rank)
    decs = (
        ranked.select(
            "arm",
            "total",
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("d"),
            "rnk",
            "n",
        )
        .filter(F.col("rnk") * 10 >= F.col("d") * F.col("n"))
        .groupBy("arm", "d")
        .agg(F.min("total").alias("q"))
    )
    t = decs.filter(F.col("arm") == 1).select("d", F.col("q").alias("q_treat"))
    c = decs.filter(F.col("arm") == 0).select("d", F.col("q").alias("q_ctrl"))
    return t.join(c, "d").select(
        "d", "q_treat", "q_ctrl", (F.col("q_treat") - F.col("q_ctrl")).alias("qte_cents")
    )


_QTE_SQL = f"""
WITH per_user AS (
    SELECT user_id, sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS total,
           CAST({hash64_sql('user_id')} % 2 AS INT) AS arm
    FROM events GROUP BY user_id
), ranked AS (
    SELECT arm, total, user_id,
           row_number() OVER (PARTITION BY arm ORDER BY total, user_id) AS rnk,
           count(*) OVER (PARTITION BY arm) AS n
    FROM per_user
), decs AS (
    SELECT arm, d, min(total) AS q
    FROM ranked, unnest(range(1, 10)) AS u(d)
    WHERE rnk * 10 >= d * n
    GROUP BY arm, d
)
SELECT t.d, CAST(t.q AS BIGINT) AS q_treat, CAST(c.q AS BIGINT) AS q_ctrl,
       CAST(t.q - c.q AS BIGINT) AS qte_cents
FROM (SELECT d, q FROM decs WHERE arm = 1) t
JOIN (SELECT d, q FROM decs WHERE arm = 0) c USING (d)
"""

# --------------------------------------------------------------------------
# Difference-in-differences (two-arm pre/post causal readout)
# --------------------------------------------------------------------------


def q_diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical 2×2 difference-in-differences: hash-coin arms (the same
    assignment as ``cuped_adjusted_lift``), pre/post windows split at the
    month midpoint, cell means in exact micro-cents, and DiD = (T_post −
    T_pre) − (C_post − C_pre). ONE conditional aggregate over the events
    scan — four cells, no joins; the parallel-trends diagnostic (pre-period
    arm gap) is reported alongside."""
    from projet_data_infrastructure_spark.functions.hashing import hash64

    ev = read_table(spark, sf_dir, "events")
    mid = F.expr("DATE '2024-01-16'")
    cells = (
        ev.select(
            F.pmod(hash64(F.col("user_id")), F.lit(2)).cast("int").alias("arm"),
            (F.to_date("ts") >= mid).cast("int").alias("post"),
            value_cents().alias("cents"),
        )
        .groupBy("arm", "post")
        .agg(
            F.expr("(sum(cents) * 1000000) DIV count(1)").alias("mean_micro"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    pivot = cells.groupBy().agg(
        F.min(F.expr("CASE WHEN arm = 1 AND post = 1 THEN mean_micro END")).alias("t_post"),
        F.min(F.expr("CASE WHEN arm = 1 AND post = 0 THEN mean_micro END")).alias("t_pre"),
        F.min(F.expr("CASE WHEN arm = 0 AND post = 1 THEN mean_micro END")).alias("c_post"),
        F.min(F.expr("CASE WHEN arm = 0 AND post = 0 THEN mean_micro END")).alias("c_pre"),
        F.sum("n").alias("n_events"),
    )
    return pivot.select(
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        ((F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre"))).alias(
            "did_micro"
        ),
        (F.col("t_pre") - F.col("c_pre")).alias("pre_gap_micro"),
        "n_events",
    )


_DID_SQL = f"""
WITH cells AS (
    SELECT CAST({hash64_sql('user_id')} % 2 AS INT) AS arm,
           CAST(CAST(ts AS DATE) >= DATE '2024-01-16' AS INT) AS post,
           (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 1000000) // count(*)
               AS mean_micro,
           count(*) AS n
    FROM events GROUP BY 1, 2
), pv AS (
    SELECT min(CASE WHEN arm = 1 AND post = 1 THEN mean_micro END) AS t_post,
           min(CASE WHEN arm = 1 AND post = 0 THEN mean_micro END) AS t_pre,
           min(CASE WHEN arm = 0 AND post = 1 THEN mean_micro END) AS c_post,
           min(CASE WHEN arm = 0 AND post = 0 THEN mean_micro END) AS c_pre,
           sum(n) AS n_events
    FROM cells
)
SELECT CAST(t_pre AS BIGINT) AS t_pre, CAST(t_post AS BIGINT) AS t_post,
       CAST(c_pre AS BIGINT) AS c_pre, CAST(c_post AS BIGINT) AS c_post,
       CAST((t_post - t_pre) - (c_post - c_pre) AS BIGINT) AS did_micro,
       CAST(t_pre - c_pre AS BIGINT) AS pre_gap_micro,
       CAST(n_events AS BIGINT) AS n_events
FROM pv
"""

# --------------------------------------------------------------------------
# Caliper nearest-neighbor matching (observational ATT)
# --------------------------------------------------------------------------

_CALIPER_CENTS = 50000  # max |balance gap| for a valid match (500.00)


def q_caliper_matched_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D nearest-neighbor caliper matching on the customer balance:
    treated = hash-coin customers, each matched (with replacement) to the
    CONTROL customer with the closest account balance within a ±500.00
    caliper; the matched outcome difference (order spend) estimates the
    ATT. The nearest 1-D neighbor is found WITHOUT a pair join: union both
    arms into one balance-ordered stream and take the nearest preceding /
    following control via last()/first() over the per-arm-interleaved sort
    (two window passes on one Exchange+Sort — the asof/PIT house shape;
    ties broken toward the lower custkey via the sort key). Outcomes join
    back by custkey. Output: matched-pair count, mean treated / matched-
    control spend, ATT (micro-cents).

    Scale note: the interleaved sort is GLOBAL (nearest neighbor is a
    global property), which Spark executes as one window task — acceptable
    because matching runs on the customer DIMENSION, not a fact table (the
    compaction_bin_packing defense); at warehouse dim sizes swap to
    range-bucketed matching with one-row boundary overlap per bucket (same
    algebra per bucket, documented here rather than speculatively built)."""
    from projet_data_infrastructure_spark.functions.hashing import hash64

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal"),
        F.pmod(hash64(F.col("c_custkey")), F.lit(2)).cast("int").alias("arm"),
    )
    orders = read_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("spend")
    )
    base = cust.join(
        spend, cust["c_custkey"] == spend["o_custkey"], "left"
    ).select("c_custkey", "bal", "arm", F.coalesce("spend", F.lit(0)).alias("spend"))
    # nearest control by balance via one interleaved sort (no pair join)
    ctrl_key = F.when(F.col("arm") == 0, F.struct("bal", "c_custkey", "spend"))
    w = Window.orderBy("bal", "arm", "c_custkey")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    # next_c = "first control strictly after me" — expressed as last() over
    # the REVERSED total order with an unboundedPreceding..-1 frame, not
    # first() over 1..unboundedFollowing: Spark recomputes unbounded-
    # FOLLOWING frames from scratch per row (O(n²) in the window task —
    # measured 10.6 s on the 15 k-customer dim at sf0.1, 1.9 s after; the
    # same pathology operators/asof.py:carry_forward documents), while
    # unbounded-PRECEDING frames maintain incremental state. Exact because
    # (bal, arm, c_custkey) is a total order. The oracle keeps the
    # straightforward FOLLOWING frame — DuckDB's window engine is O(n)
    # either way, and differently-shaped oracle SQL is the point.
    wnext = (
        Window.orderBy(
            F.col("bal").desc(), F.col("arm").desc(), F.col("c_custkey").desc()
        ).rowsBetween(Window.unboundedPreceding, -1)
    )
    enriched = (
        base.withColumn("prev_c", F.last(ctrl_key, ignorenulls=True).over(wprev))
        .withColumn("next_c", F.last(ctrl_key, ignorenulls=True).over(wnext))
    )
    treated = enriched.filter(F.col("arm") == 1).select(
        "c_custkey",
        "bal",
        "spend",
        F.expr(
            "CASE"
            " WHEN prev_c IS NULL AND next_c IS NULL THEN NULL"
            " WHEN prev_c IS NULL THEN next_c"
            " WHEN next_c IS NULL THEN prev_c"
            " WHEN (bal - prev_c.bal) <= (next_c.bal - bal) THEN prev_c"
            " ELSE next_c END"
        ).alias("m"),
    )
    matched = treated.filter(
        F.col("m").isNotNull()
        & (F.abs(F.col("bal") - F.col("m.bal")) <= _CALIPER_CENTS)
    )
    return matched.agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.expr("(sum(spend) * 1000000) DIV count(1)").alias("treated_mean_micro"),
        F.expr("(sum(m.spend) * 1000000) DIV count(1)").alias("control_mean_micro"),
        F.expr(
            "(sum(spend) * 1000000) DIV count(1)"
            " - (sum(m.spend) * 1000000) DIV count(1)"
        ).alias("att_micro"),
    )


_CALIPER_SQL = f"""
WITH base AS (
    SELECT c.c_custkey,
           CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
           CAST({hash64_sql('c.c_custkey')} % 2 AS INT) AS arm,
           coalesce(s.spend, 0) AS spend
    FROM customer c
    LEFT JOIN (SELECT o_custkey,
                      CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS spend
               FROM orders GROUP BY 1) s
      ON c.c_custkey = s.o_custkey
), enriched AS (
    SELECT *,
           last_value(CASE WHEN arm = 0
                           THEN struct_pack(bal := bal, c_custkey := c_custkey,
                                            spend := spend) END IGNORE NULLS)
               OVER (ORDER BY bal, arm, c_custkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_c,
           first_value(CASE WHEN arm = 0
                            THEN struct_pack(bal := bal, c_custkey := c_custkey,
                                             spend := spend) END IGNORE NULLS)
               OVER (ORDER BY bal, arm, c_custkey
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_c
    FROM base
), matched AS (
    SELECT bal, spend,
           CASE WHEN prev_c IS NULL AND next_c IS NULL THEN NULL
                WHEN prev_c IS NULL THEN next_c
                WHEN next_c IS NULL THEN prev_c
                WHEN (bal - prev_c.bal) <= (next_c.bal - bal) THEN prev_c
                ELSE next_c END AS m
    FROM enriched WHERE arm = 1
)
SELECT count(*) AS n_matched,
       CAST((sum(spend) * 1000000) // count(*) AS BIGINT) AS treated_mean_micro,
       CAST((sum(m.spend) * 1000000) // count(*) AS BIGINT) AS control_mean_micro,
       CAST((sum(spend) * 1000000) // count(*)
           - (sum(m.spend) * 1000000) // count(*) AS BIGINT) AS att_micro
FROM matched
WHERE m IS NOT NULL AND abs(bal - m.bal) <= {_CALIPER_CENTS}
"""





SPECS.extend(
    [
    QuerySpec(
            "cuped_adjusted_lift",
            q_cuped_adjusted_lift,
            _CUPED_SQL,
            ("ml", "stats"),
            doc="CUPED variance-reduced A/B readout: hash coin arms, pooled "
            "theta from exact DECIMAL moments, order-pinned float fold for the "
            "adjusted mean; raw vs CUPED means per arm",
        ),
    QuerySpec(
            "shapley_channel_attribution",
            q_shapley_channel_attribution,
            _SHAP_SQL,
            ("ml", "attribution"),
            doc="EXACT Shapley multi-touch attribution over the 16-coalition "
            "grid (4 channels): two keyed aggregates, then constant-size "
            "integer Shapley sums reported x24 — no sampling, no rationals",
        ),
    QuerySpec(
            "qte_by_decile",
            q_qte_by_decile,
            _QTE_SQL,
            ("ml", "stats"),
            doc="Quantile treatment effects: exact nearest-rank deciles per "
            "hash-coin arm of per-user totals, 9-row treat-vs-control pivot",
        ),
    QuerySpec(
            "diff_in_differences",
            q_diff_in_differences,
            _DID_SQL,
            ("ml", "stats"),
            doc="2x2 difference-in-differences with hash-coin arms and a "
            "pre/post split: one conditional aggregate, DiD + parallel-trends "
            "gap in exact micro-cents",
        ),
    QuerySpec(
            "caliper_matched_att",
            q_caliper_matched_att,
            _CALIPER_SQL,
            ("ml", "join"),
            doc="1-D caliper nearest-neighbor matching via one interleaved "
            "balance sort (no pair join): prev/next control carry-forward "
            "windows, ATT in exact micro-cents",
        ),
    ]
)
