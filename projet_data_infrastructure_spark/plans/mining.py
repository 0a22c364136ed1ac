"""Pattern-mining, statistics, and Spark-4 Arrow-API specs.

Engine-charter additions beyond the reference's grouped rollups
(`/root/reference/airflow/config/read_delta.py:114-127`) — the analytics a
training-data platform layers on the same tables once link, drift, and
similarity questions appear. Design notes per spec:

* ``bfs_khop_reachability`` — frontier BFS (3 hops) from a seed customer set
  over the customer↔supplier trade graph. Each round is ONE equi-join of the
  checkpointed edge list against the (tiny) frontier plus an anti-join
  against the visited set — the textbook distributed BFS; no quadratic
  closure, no driver-side traversal. Integer node ids and per-hop
  count/checksum outputs make an iterative graph algorithm hash-exact.
* ``cusum_drift_flags`` — CUSUM change-point detection on per-user daily
  event counts. The positive-part recurrence S_i = max(0, S_{i-1} + d_i) is
  NOT a prefix sum, but it has a closed windowed form:

      S_i = P_i - min(0, min_{j<=i} P_j),   P_i = Σ_{j<=i} d_j

  so the whole detector is two window passes (cumsum, then running min) —
  fully declarative, integer-exact, one shuffle on user_id. This is the
  standard drift monitor a streaming ingest pipeline runs over arrival
  counts.
* ``chi2_nation_priority`` — Pearson chi-squared independence test between
  customer nation and order priority. Observed counts and marginals are
  integer aggregates; the full r×c grid is rebuilt from the two broadcast
  marginal frames so zero-observation cells still contribute their expected
  mass. The only doubles are the final (obs-exp)²/exp terms (shared
  expression strings evaluated by both engines → identical trees).
* ``ols_two_feature_nation`` — per-nation multiple linear regression
  (price_cents ~ quantity + discount_pct, with intercept) solved in closed
  form from sufficient statistics: ONE aggregate pass collects the 9
  moment sums as DECIMAL(25,0) (so the sums can never overflow int64 even
  at 100 TB row counts), then the 2×2 normal equations are solved by
  Cramer's rule in doubles. The distributed pattern is the point: model
  fitting as map-side-combinable sums + an O(groups) closed-form solve —
  no MLlib iteration, no driver data movement.
* ``prefix_filter_jaccard`` — set-similarity self-join with PREFIX
  FILTERING (SSJoin/PPJoin family: Chaudhuri et al. ICDE'06, Xiao et al.
  WWW'08): tokens are ordered by ascending document frequency; a pair with
  Jaccard ≥ t must share a token within each side's first
  |s| - ceil(t·|s|) + 1 tokens under that order, so candidates come from an
  equi-join on RARE tokens only. The Zipf head that makes naive token
  blocking explode is exactly what the ascending-df order pushes OUT of the
  prefixes. Verification is exact set intersection on candidates only, with
  the threshold tested in integers (3·inter ≥ |a|+|b| ⟺ J ≥ 0.5). The
  oracle states the quadratic semantics; two plans, one answer.
* ``attribution_last_touch`` — marketing-style last-touch revenue
  attribution: each purchase credits the most recent view (≤ 2 h earlier)
  by the same user, grouped by the view's campaign. Reuses the scalable
  union+window as-of join (operators/asof.py) — never a range cross-join.
  Views are deduplicated per (user, ts) first so the as-of tie is
  deterministic in both engines.
* ``mapinarrow_vector_norm`` / ``applyinarrow_label_stats`` — the Spark 4
  Arrow-native UDF surface (SPARK-40307 ``DataFrame.mapInArrow``,
  SPARK-44731 ``GroupedData.applyInArrow``): RecordBatch-in/RecordBatch-out
  with no pandas materialization — the lowest-overhead Python boundary for
  byte-oriented work. Kept off hot paths (the declarative specs do the real
  aggregation); these pin the API contract: schema negotiation, batch
  iteration, grouped single-batch delivery.
* ``bellman_ford_distances`` — the weighted complement of the BFS spec:
  3-round min-plus fixed point with integer edge weights; same broadcast-
  frame-vs-checkpointed-edges plan skeleton as PageRank.
* ``rrf_fusion`` — reciprocal-rank fusion (Cormack et al., SIGIR'09) of two
  retrieval rankings; TakeOrderedAndProject top-100 cuts, rank windows only
  over bounded 100-row frames.
* ``gini_revenue_concentration`` — the rank-sum Gini identity over the
  scale-safe ``global_rank`` operator; DECIMAL rank·cents products so
  nothing overflows int64.
* ``dow_seasonality_lift`` — brand-lift integer algebra applied to time;
  ISO weekday pinned cross-engine (Spark ``weekday()+1`` == DuckDB
  ``isodow()`` — bare ``dayofweek()`` numbering disagrees between engines).
* ``ks_drift_statistic`` — binned two-sample Kolmogorov–Smirnov: per-bin
  counts are one aggregate, the sup-distance compares exact DECIMAL
  cross-products (cumA·nB vs cumB·nA) and divides once, on the maximum.
* ``kmeans_fixed_point`` — 2-round Lloyd's k-means in integer micro-units:
  map-side assignment against collected centroid literals, exact floor-mean
  updates via remainder-corrected division (Spark ``DIV`` truncates, DuckDB
  ``//`` floors — they only agree after subtracting the canonical
  non-negative remainder). Iterative ML, hash-exact.
* ``sql_udf_rollup`` — Spark 4 SQL-defined function + lateral column
  aliases + GROUP/ORDER BY ALL; Catalyst inlines the SQL UDF so there is no
  Python boundary at all (plan-gated).
* ``stream_cusum_telemetry`` — the CUSUM detector LIVE: the closed form
  means per-user state is just (running P, running minP) + counters, so a
  drift monitor no windowed aggregation can express runs with bounded
  state under ``applyInPandasWithState``.
* ``hard_negative_mining`` — contrastive-training curation: same-IVF-bucket
  different-label pairs with cosine ≥ 0.25, reusing the √N-centroid
  bucketed join (≈N^1.5 work, never all-pairs).
* ``span_corruption_prep`` — T5/UL2 denoising pairs with hash-deterministic
  masking: one per-doc window pass for span detection, order-pinned string
  rebuild; the usually-random objective made hash-checkable.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from projet_data_infrastructure_spark.operators.asof import asof_join
from projet_data_infrastructure_spark.operators.joins import vertex_side
from projet_data_infrastructure_spark.operators.ranks import bounded_order
from projet_data_infrastructure_spark.operators.similarity import (
    int_centroid_argmin_col,
    int_lloyd_centroids,
)
from projet_data_infrastructure_spark.plans._portable import fdiv, pround, pround_sql
from projet_data_infrastructure_spark.plans.graph_geo import (
    _node_label,
    _trade_edges,
    _trade_vertex_bound,
)
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.sources.readers import read_table

# --------------------------------------------------------------------------
# Frontier BFS: k-hop reachability on the trade graph
# --------------------------------------------------------------------------

_BFS_HOPS = 3
_BFS_SEED_MAX = 10  # seed set: customers with c_custkey < 10


def q_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hop node count + id checksum for a 3-hop BFS from 10 seed
    customers.

    Round r: frontier (hop r-1 nodes, ≤|V|) broadcasts into one equi-join
    against the checkpointed edge list; newly reached nodes are the
    anti-join against the visited set. Only the edge list (the only
    O(|E|) object) is ever shuffled. Both joins pick their build side via
    ``operators.joins.vertex_side`` sized by
    ``graph_geo._trade_vertex_bound`` (customers + suppliers): broadcast
    below the switch, keyed SHUFFLE_HASH above it — identical rows,
    web-scale-safe (equivalence-tested). Output is 1 row per hop level:
    integer count + sum of packed node ids, so an iterative traversal is
    order-insensitively hash-exact.

    r14: the |V|-bounded visited frame is ``localCheckpoint``ed per hop
    (the ``duplicate_clusters`` discipline). The lazy form embedded each
    hop's lineage into every later hop — frontier_i, the anti-join and
    the union each re-reference the visited_{i-1} tree, so the final plan
    repeated the hop-1 subtree ~7× (a 3k-line physical plan whose shared
    broadcasts only partially reuse): measured 3.0-3.5 s lazy vs
    2.2-2.5 s checkpointed per-hop at sf0.1, position-matched.
    """
    edges = _trade_edges(spark, sf_dir)  # pair table checkpointed inside
    n_vertex_bound = _trade_vertex_bound(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer")
    visited = (
        cust.filter(F.col("c_custkey") < _BFS_SEED_MAX)
        .select((F.col("c_custkey") * 2).cast("long").alias("node"))
        .withColumn("hop", F.lit(0))
    ).localCheckpoint(eager=True)
    for i in range(1, _BFS_HOPS + 1):
        frontier = visited.filter(F.col("hop") == i - 1).select("node")
        nbrs = (
            edges.join(vertex_side(frontier, n_vertex_bound), edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nbrs.join(
            vertex_side(visited.select("node"), n_vertex_bound), "node", "left_anti"
        ).withColumn("hop", F.lit(i))
        # Superseded checkpoints are freed by the ContextCleaner once the
        # old frame is unreachable; Dataset.unpersist cannot release
        # localCheckpoint blocks (they are not CacheManager entries — ADVICE r14).
        visited = visited.unionByName(new).localCheckpoint(eager=True)
    # _BFS_HOPS + 1 rows, one per hop.
    return bounded_order(
        visited.groupBy("hop").agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("node").alias("node_checksum"),
        ),
        "hop",
    )


def _bfs_oracle() -> str:
    head = f"""
WITH e0 AS (
    SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
    SELECT CAST(ck * 2 AS BIGINT) AS src, CAST(sk * 2 + 1 AS BIGINT) AS dst FROM e0
    UNION ALL
    SELECT CAST(sk * 2 + 1 AS BIGINT) AS src, CAST(ck * 2 AS BIGINT) AS dst FROM e0
),
h0 AS (
    SELECT CAST(c_custkey * 2 AS BIGINT) AS node FROM customer
    WHERE c_custkey < {_BFS_SEED_MAX}
)"""
    seen = ["h0"]
    steps = []
    for i in range(1, _BFS_HOPS + 1):
        prior = " UNION ALL ".join(f"SELECT node FROM {s}" for s in seen)
        steps.append(
            f""",
h{i} AS (
    SELECT DISTINCT e.dst AS node
    FROM edges e JOIN h{i - 1} f ON e.src = f.node
    WHERE e.dst NOT IN ({prior})
)"""
        )
        seen.append(f"h{i}")
    levels = " UNION ALL ".join(
        f"SELECT node, {i} AS hop FROM h{i}" for i in range(_BFS_HOPS + 1)
    )
    return (
        head
        + "".join(steps)
        + f""",
lv AS ({levels})
SELECT hop, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS node_checksum
FROM lv GROUP BY hop ORDER BY hop"""
    )


_BFS_SQL = _bfs_oracle()


# --------------------------------------------------------------------------
# CUSUM drift detection (two window passes — the closed form of max(0, ·))
# --------------------------------------------------------------------------

_CUSUM_K = 3  # per-day drift allowance subtracted from each count
_CUSUM_H = 8  # alarm threshold
_CUSUM_USERS = 40


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM statistic + alarm flag per (user, observed day).

    ``S_i = max(0, S_{i-1} + (cnt_i - k))`` rewritten as
    ``P_i - min(0, cummin(P_i))`` — two stacked windows on the SAME
    (user_id × day-order) partitioning: one shuffle total, no recurrence,
    no Python. Days with zero events are simply absent (the detector runs
    on observed arrivals); both engines group identically so the frame is
    the same. All arithmetic is int64.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < _CUSUM_USERS)
    # ONE hash exchange total: partitioning on user_id (a subset of the
    # grouping key) satisfies the (user_id, day) aggregate's clustering
    # requirement AND both downstream user_id windows, so Catalyst inserts
    # no further shuffle (gated in tests/test_plans_quality.py).
    daily = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .repartition("user_id")
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    cum = daily.withColumn(
        "p", F.sum(F.col("cnt") - F.lit(_CUSUM_K)).over(w)
    )
    wmin = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cum.withColumn(
            "cusum", F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(wmin))
        )
        .select(
            "user_id",
            "day",
            "cnt",
            "cusum",
            (F.col("cusum") >= _CUSUM_H).alias("alarm"),
        )
        .orderBy("user_id", "day")
    )


_CUSUM_SQL = f"""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
    FROM events WHERE user_id < {_CUSUM_USERS}
    GROUP BY user_id, CAST(ts AS DATE)
),
cum AS (
    SELECT user_id, day, cnt,
           sum(cnt - {_CUSUM_K}) OVER (PARTITION BY user_id ORDER BY day) AS p
    FROM daily
)
SELECT user_id, day, cnt,
       CAST(p - least(CAST(0 AS BIGINT),
                 min(p) OVER (PARTITION BY user_id ORDER BY day
                              ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS cusum,
       (p - least(CAST(0 AS BIGINT),
                  min(p) OVER (PARTITION BY user_id ORDER BY day
                               ROWS UNBOUNDED PRECEDING))) >= {_CUSUM_H} AS alarm
FROM cum
ORDER BY user_id, day
"""


# --------------------------------------------------------------------------
# Chi-squared independence test (nation × order priority)
# --------------------------------------------------------------------------

#: Shared double-arithmetic strings (parsed identically by Spark SQL and
#: DuckDB → bit-identical expression trees; only the 125-term summation
#: order differs, absorbed by pround).
_CHI2_EXP = "((CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) / CAST(total AS DOUBLE))"
_CHI2_TERM = (
    f"(((CAST(obs AS DOUBLE) - {_CHI2_EXP}) * (CAST(obs AS DOUBLE) - {_CHI2_EXP}))"
    f" / {_CHI2_EXP})"
)


def q_chi2_nation_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row chi-squared test: is order priority independent of nation?

    Observed counts, row/column marginals, and N are integer aggregates of
    the orders⋈customer join (customer-keyed shuffle — correct at scale;
    nation is broadcast). The full 25×5 grid is rebuilt by cross-joining
    the two BROADCAST marginal frames (bounded by construction: |nations| ×
    |priorities|), so zero-observation cells contribute their expected
    mass. The statistic itself sums 125 shared-expression doubles.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_orderpriority")
    )
    obs = base.groupBy("n_name", "o_orderpriority").agg(F.count(F.lit(1)).alias("obs"))
    rows_m = obs.groupBy("n_name").agg(F.sum("obs").alias("rt"))
    cols_m = obs.groupBy("o_orderpriority").agg(F.sum("obs").alias("ct"))
    grid = F.broadcast(rows_m).crossJoin(F.broadcast(cols_m))
    cells = (
        grid.join(obs, ["n_name", "o_orderpriority"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0).cast("long")))
        .withColumn("total", F.sum("obs").over(Window.partitionBy()))
    )
    return cells.agg(
        F.sum("obs").alias("n_obs"),
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.countDistinct("n_name") - F.lit(1))
            * (F.countDistinct("o_orderpriority") - F.lit(1))
        ).cast("long").alias("dof"),
        # NB: the Column pround, not F.expr(pround_sql(...)) — Spark SQL
        # parses bare decimal literals (10000.0) as DECIMAL, silently
        # turning the whole expression decimal-typed.
        pround(F.expr(f"sum({_CHI2_TERM})"), 4).alias("chi2"),
    )


_CHI2_SQL = f"""
WITH base AS (
    SELECT n.n_name, o.o_orderpriority
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
),
obs AS (
    SELECT n_name, o_orderpriority, count(*) AS obs FROM base GROUP BY 1, 2
),
rm AS (SELECT n_name, sum(obs) AS rt FROM obs GROUP BY 1),
cm AS (SELECT o_orderpriority, sum(obs) AS ct FROM obs GROUP BY 1),
cells AS (
    SELECT rm.n_name, cm.o_orderpriority, rm.rt, cm.ct,
           COALESCE(o.obs, 0) AS obs,
           sum(COALESCE(o.obs, 0)) OVER () AS total
    FROM rm CROSS JOIN cm
    LEFT JOIN obs o ON o.n_name = rm.n_name AND o.o_orderpriority = cm.o_orderpriority
)
SELECT CAST(sum(obs) AS BIGINT) AS n_obs,
       count(*) AS n_cells,
       CAST((count(DISTINCT n_name) - 1) * (count(DISTINCT o_orderpriority) - 1) AS BIGINT) AS dof,
       {pround_sql(f'sum({_CHI2_TERM})', 4)} AS chi2
FROM cells
"""


# --------------------------------------------------------------------------
# Closed-form multiple regression from sufficient statistics
# --------------------------------------------------------------------------

#: The nine moment sums, written once and aggregated IDENTICALLY by both
#: engines. Per-row products always fit int64 (≤ 5·10⁸); the SUMS are
#: accumulated as DECIMAL(25,0), which holds 10²⁵ — safe past 100 TB row
#: counts where a BIGINT sum of price_cents·qty (~10¹⁹) would overflow.
_OLS_X1 = "CAST(l_quantity AS BIGINT)"
_OLS_X2 = "CAST(round(l_discount * 100) AS BIGINT)"
_OLS_Y = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_OLS_SUMS: dict[str, str] = {
    "n": "count(*)",
    "sx1": f"sum(CAST({_OLS_X1} AS DECIMAL(25,0)))",
    "sx2": f"sum(CAST({_OLS_X2} AS DECIMAL(25,0)))",
    "sy": f"sum(CAST({_OLS_Y} AS DECIMAL(25,0)))",
    "sx1x1": f"sum(CAST({_OLS_X1} * {_OLS_X1} AS DECIMAL(25,0)))",
    "sx2x2": f"sum(CAST({_OLS_X2} * {_OLS_X2} AS DECIMAL(25,0)))",
    "sx1x2": f"sum(CAST({_OLS_X1} * {_OLS_X2} AS DECIMAL(25,0)))",
    "sx1y": f"sum(CAST({_OLS_X1} * {_OLS_Y} AS DECIMAL(25,0)))",
    "sx2y": f"sum(CAST({_OLS_X2} * {_OLS_Y} AS DECIMAL(25,0)))",
    "syy": f"sum(CAST({_OLS_Y} * {_OLS_Y} AS DECIMAL(25,0)))",
}


def _ols_solve_exprs() -> dict[str, str]:
    """Cramer's-rule solve of the centered 2×2 normal equations, as shared
    SQL strings — both engines parse the same text, so given identical
    (exact) sums every double op is bit-identical."""
    d = {k: f"CAST({k} AS DOUBLE)" for k in _OLS_SUMS}
    n = d["n"]
    m11 = f"({d['sx1x1']} - ({d['sx1']} * {d['sx1']}) / {n})"
    m22 = f"({d['sx2x2']} - ({d['sx2']} * {d['sx2']}) / {n})"
    m12 = f"({d['sx1x2']} - ({d['sx1']} * {d['sx2']}) / {n})"
    m1y = f"({d['sx1y']} - ({d['sx1']} * {d['sy']}) / {n})"
    m2y = f"({d['sx2y']} - ({d['sx2']} * {d['sy']}) / {n})"
    myy = f"({d['syy']} - ({d['sy']} * {d['sy']}) / {n})"
    det = f"(({m11} * {m22}) - ({m12} * {m12}))"
    # Degenerate-group guard (shared text ⇒ symmetric in both engines): a
    # group with a constant regressor (or < 3 rows) has det = 0 and a
    # constant response has myy = 0 — emit NULL coefficients instead of
    # silently propagating Inf/NaN to consumers. alpha inherits NULL from
    # b1/b2 through ordinary NULL arithmetic.
    b1 = f"(CASE WHEN {det} = 0 THEN NULL ELSE (({m1y} * {m22}) - ({m2y} * {m12})) / {det} END)"
    b2 = f"(CASE WHEN {det} = 0 THEN NULL ELSE (({m2y} * {m11}) - ({m1y} * {m12})) / {det} END)"
    alpha = f"(({d['sy']} / {n}) - ({b1} * ({d['sx1']} / {n})) - ({b2} * ({d['sx2']} / {n})))"
    r2 = f"(CASE WHEN {myy} = 0 THEN NULL ELSE (({b1} * {m1y}) + ({b2} * {m2y})) / {myy} END)"
    # (expr, rounding dp) — the CALLER applies pround: the Column form on
    # the Spark side (a bare pround_sql literal like 10000.0 would parse as
    # DECIMAL in Spark SQL), pround_sql on the DuckDB side.
    return {
        "beta_qty": (b1, 4),
        "beta_disc": (b2, 4),
        "intercept": (alpha, 2),
        "r2": (r2, 6),
    }


def q_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS fit price_cents ~ qty + disc_pct, closed form.

    ONE map-side-combinable aggregate pass collects the sufficient
    statistics (the only shuffle: lineitem⋈supplier on s_suppkey, then a
    25-key aggregate); the solve is an O(1) expression per nation. The
    pattern — exact decimal moment sums + shared-text double solve — is
    how distributed model fitting stays both scalable AND cross-engine
    hash-checkable.
    """
    line = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_quantity", "l_discount", "l_extendedprice"
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        line.join(F.broadcast(supp), line.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    sums = base.groupBy("n_name").agg(
        *[F.expr(expr).alias(name) for name, expr in _OLS_SUMS.items()]
    )
    solved = sums.select(
        "n_name",
        F.col("n").cast("long").alias("n_rows"),
        *[
            pround(F.expr(expr), dp).alias(name)
            for name, (expr, dp) in _ols_solve_exprs().items()
        ],
    )
    return bounded_order(solved, "n_name")


_OLS_SQL = f"""
WITH base AS (
    SELECT n.n_name, l.l_quantity, l.l_discount, l.l_extendedprice
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
),
sums AS (
    SELECT n_name,
           {', '.join(f'{expr} AS {name}' for name, expr in _OLS_SUMS.items())}
    FROM base GROUP BY n_name
)
SELECT n_name, CAST(n AS BIGINT) AS n_rows,
       {', '.join(f'{pround_sql(expr, dp)} AS {name}' for name, (expr, dp) in _ols_solve_exprs().items())}
FROM sums
ORDER BY n_name
"""


# --------------------------------------------------------------------------
# Prefix-filtered set-similarity self-join (SSJoin / PPJoin family)
# --------------------------------------------------------------------------

_PF_MAX_ID = 120
_PF_T_NUM, _PF_T_DEN = 1, 2  # Jaccard threshold t = 1/2, tested in integers


def q_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with unigram Jaccard ≥ 0.5 via prefix filtering.

    Tokens are globally ordered by (document frequency ASC, token ASC);
    each document keeps only its first ``sz - ceil(sz/2) + 1`` tokens in
    that order as its PREFIX. Completeness: for J(a,b) ≥ t, the overlap
    forces at least one shared token inside both prefixes under any common
    total order (Chaudhuri et al., ICDE'06), so the candidate equi-join on
    prefix tokens misses nothing. Scale shape: the df-ascending order puts
    Zipf-head tokens at the END of every document's ordering — prefixes
    hold only RARE tokens, so the candidate join's per-key fan-out is tiny
    exactly where naive token blocking explodes. Candidates are verified
    with an exact intersection count restricted to candidate pairs, and
    the threshold is the integer test 3·inter ≥ |a|+|b| — no float
    comparison anywhere in the decision path.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PF_MAX_ID)
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("token"),
    ).filter(F.col("token") != "")
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    df_tbl = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok.join(df_tbl, "token")
        .join(F.broadcast(sizes), "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "token")
            ),
        )
    )
    # p = sz - ceil(t*sz) + 1, in integers: ceil(sz/2) = (sz+1) DIV 2
    prefix = ordered.filter(
        F.col("rn") <= F.col("sz") - F.expr("(sz + 1) DIV 2") + F.lit(1)
    ).select("doc_id", "token")
    pa_ = prefix.select(F.col("doc_id").alias("da"), "token")
    pb_ = prefix.select(F.col("doc_id").alias("db"), "token")
    cand = (
        pa_.join(pb_, "token")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("da"), "token")
    tb = tok.select(F.col("doc_id").alias("db"), "token")
    # candidate pairs expanded by a-side tokens, then matched against the
    # b-side posting list as an equi-join on (db, token) — the verification
    # work is |cand| · |tokens per doc|, never a quadratic token join.
    inter = (
        cand.join(ta, "da")
        .join(tb, ["db", "token"])
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb"))
    return (
        inter.join(F.broadcast(sa), "da")
        .join(F.broadcast(sb), "db")
        .filter(
            F.col("inter") * (_PF_T_DEN + _PF_T_NUM)
            >= (F.col("sza") + F.col("szb")) * _PF_T_NUM
        )
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            pround(
                F.col("inter").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


_PF_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')"

_PREFIX_FILTER_SQL = f"""
WITH toks AS (
    SELECT doc_id, list_distinct({_PF_TOKS}) AS t
    FROM documents WHERE doc_id < {_PF_MAX_ID}
),
tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {pround_sql('inter / CAST(sa.sz + sb.sz - inter AS DOUBLE)', 4)} AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * {_PF_T_DEN + _PF_T_NUM} >= (sa.sz + sb.sz) * {_PF_T_NUM}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# Last-touch revenue attribution (as-of join + rollup)
# --------------------------------------------------------------------------

_ATTR_WINDOW_US = 7_200_000_000  # 2 h lookback


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue attributed to the campaign of the last view ≤ 2 h before
    each purchase, per user. One union+window as-of join (user-keyed
    shuffle, linear) + a small rollup; purchase money is integer cents.
    Views are deduplicated to one row per (user, ts) — max event_id wins —
    so the as-of tie at identical timestamps is deterministic in both
    engines (DuckDB's ASOF picks an arbitrary one among exact ties).
    """
    ev = read_table(spark, sf_dir, "events")
    vdw = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("vrn", F.row_number().over(vdw))
        .filter(F.col("vrn") == 1)
        .select(
            "user_id",
            "ts",
            F.col("ts").alias("vts"),
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("campaign"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    pairs = asof_join(
        purchases, views, key="user_id", ts="ts", right_payload=["vts", "campaign"]
    )
    attributed = pairs.filter(
        F.col("vts_asof").isNotNull()
        & (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("vts_asof").cast("timestamp"))
            <= _ATTR_WINDOW_US
        )
    )
    return bounded_order(
        attributed.groupBy(F.col("campaign_asof").alias("campaign"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("attributed_cents"),
        ),
        "campaign",
    )


_ATTRIBUTION_SQL = f"""
WITH v0 AS (
    SELECT user_id, ts,
           CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS campaign,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS vrn
    FROM events WHERE event_type = 'view'
),
v AS (SELECT user_id, ts, campaign FROM v0 WHERE vrn = 1),
p AS (
    SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
),
pairs AS (
    SELECT p.user_id, p.ts, p.cents, v.ts AS vts, v.campaign
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
)
SELECT campaign, count(*) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS attributed_cents
FROM pairs
WHERE vts IS NOT NULL AND epoch_us(ts) - epoch_us(vts) <= {_ATTR_WINDOW_US}
GROUP BY campaign
ORDER BY campaign
"""


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's cents split equally
    across ALL deduplicated views in the 2 h lookback (the as-of spec's
    definition family, equal-credit allocation rule). Integer-exact split:
    every touch gets cents DIV n, the most recent touch (the last-touch
    winner) absorbs the remainder — allocation conserves revenue
    cent-for-cent, so the rollup hash-checks with no FP division anywhere.
    Purchase values are non-negative, so Spark's DIV (truncating) and
    DuckDB's // (flooring) agree.

    Scale: a user-keyed equi-join bounded by the 2 h window (pairs per
    purchase = that user's in-window views, not their history); the
    per-purchase count/rank windows partition on the purchase event id —
    touch-count-sized partitions, never corpus-sized."""
    ev = read_table(spark, sf_dir, "events")
    vdw = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("vrn", F.row_number().over(vdw))
        .filter(F.col("vrn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("vts"),
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("campaign"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    pairs = purchases.join(views, "user_id").filter(
        (F.col("vts") <= F.col("ts"))
        & (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("vts").cast("timestamp"))
            <= _ATTR_WINDOW_US
        )
    )
    pw = Window.partitionBy("pid")
    rw = Window.partitionBy("pid").orderBy(F.desc("vts"))
    alloc = (
        pairs.withColumn("n_touch", F.count(F.lit(1)).over(pw))
        .withColumn("trn", F.row_number().over(rw))
        .withColumn(
            "share",
            F.expr("cents DIV n_touch")
            + F.when(
                F.col("trn") == 1, F.col("cents") % F.col("n_touch")
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    return bounded_order(
        alloc.groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("share").alias("attributed_cents"),
        ),
        "campaign",
    )


_ATTRIBUTION_LINEAR_SQL = f"""
WITH v0 AS (
    SELECT user_id, ts,
           CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS campaign,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS vrn
    FROM events WHERE event_type = 'view'
),
v AS (SELECT user_id, ts AS vts, campaign FROM v0 WHERE vrn = 1),
p AS (
    SELECT event_id AS pid, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
),
pairs AS (
    SELECT p.pid, p.cents, v.vts, v.campaign
    FROM p JOIN v ON p.user_id = v.user_id
    WHERE v.vts <= p.ts AND epoch_us(p.ts) - epoch_us(v.vts) <= {_ATTR_WINDOW_US}
),
alloc AS (
    SELECT campaign,
           cents // count(*) OVER (PARTITION BY pid)
           + CASE WHEN row_number() OVER (PARTITION BY pid ORDER BY vts DESC) = 1
                  THEN cents % count(*) OVER (PARTITION BY pid) ELSE 0 END AS share
    FROM pairs
)
SELECT campaign, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(share) AS BIGINT) AS attributed_cents
FROM alloc GROUP BY campaign ORDER BY campaign
"""


# --------------------------------------------------------------------------
# Spark 4 Arrow-native UDF surface
# --------------------------------------------------------------------------

_MIA_MAX_ID = 400


def q_mapinarrow_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared L2 norm per embedding via ``DataFrame.mapInArrow``.

    RecordBatch-in/RecordBatch-out — no pandas conversion on either side.
    The fold accumulates float64 left-to-right in list order, the same
    order DuckDB's ``list_sum`` folds, so the doubles agree to the last
    ulp (pround is belt-and-braces). API-surface spec: the real vector
    math elsewhere stays in JVM expressions (F.aggregate / zip_with).

    The result is ≤ _MIA_MAX_ID rows, bounded only by the filter on the
    scan, so the scan and the Arrow UDF run in parallel, one
    single-partition exchange gathers their rows and one task sorts them
    (``operators.ranks.bounded_order``). A range-partitioned ``orderBy``
    would run the ``mapInArrow`` stage twice, once for its sampling job.
    """
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _MIA_MAX_ID)
        .select("vec_id", "embedding")
    )

    def fold_norms(batches):
        for b in batches:
            vids = b.column(0).to_pylist()
            vecs = b.column(1).to_pylist()
            norms = []
            for v in vecs:
                s = 0.0
                for x in v:
                    xd = float(x)  # float32 → float64 widening is exact
                    s = s + xd * xd
                norms.append(s)
            yield pa.RecordBatch.from_arrays(
                [pa.array(vids, pa.int64()), pa.array(norms, pa.float64())],
                ["vec_id", "norm2"],
            )

    out = emb.mapInArrow(fold_norms, "vec_id long, norm2 double")
    return bounded_order(
        out.select("vec_id", pround(F.col("norm2"), 6).alias("norm2")).repartition(1),
        "vec_id",
    )


_MAPINARROW_SQL = f"""
SELECT vec_id,
       {pround_sql("list_sum(list_transform(embedding::DOUBLE[], x -> x * x))", 6)} AS norm2
FROM embeddings WHERE vec_id < {_MIA_MAX_ID}
ORDER BY vec_id
"""


def q_applyinarrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label integer stats via ``GroupedData.applyInArrow``.

    Each label's rows arrive as ONE Arrow table (group must fit executor
    memory — fine for bounded label cardinality; unbounded groups belong
    to the declarative aggregate path). Integer-only outputs: exact.
    """
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")

    def label_stats(tbl: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        v = tbl.column("vec_id")
        return pa.Table.from_arrays(
            [
                pa.array([tbl.column("label")[0].as_py()], pa.int32()),
                pa.array([tbl.num_rows], pa.int64()),
                pa.array([pc.min(v).as_py()], pa.int64()),
                pa.array([pc.max(v).as_py()], pa.int64()),
                pa.array([pc.sum(v).as_py()], pa.int64()),
            ],
            ["label", "n", "min_vec", "max_vec", "sum_vec"],
        )

    out = emb.groupBy("label").applyInArrow(
        label_stats, "label int, n long, min_vec long, max_vec long, sum_vec long"
    )
    # One row per label; the grouped Arrow UDF stays parallel above the
    # single-partition exchange.
    return bounded_order(out.repartition(1), "label")


_APPLYINARROW_SQL = """
SELECT label, count(*) AS n,
       min(vec_id) AS min_vec, max(vec_id) AS max_vec,
       CAST(sum(vec_id) AS BIGINT) AS sum_vec
FROM embeddings
GROUP BY label
ORDER BY label
"""


# --------------------------------------------------------------------------
# Bellman-Ford weighted shortest paths (min-plus fixed point)
# --------------------------------------------------------------------------

_BF_ROUNDS = 3


def q_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 nearest nodes to customer 0 after 3 Bellman-Ford relaxations.

    The weighted complement of ``bfs_khop_reachability``: edge weight =
    max(1, 6 − #orders linking the pair), so frequent trade = short
    distance; all weights integer → the min-plus fixed point is
    hash-exact. Round r: the current distance frame (≤|V| rows) BROADCASTS
    into one equi-join against the checkpointed edge list, then a min
    aggregate merges relaxed candidates with the previous distances —
    identical plan skeleton to the PageRank loop (edge list scanned, never
    shuffled). The distance-frame join picks its build side via
    ``operators.joins.vertex_side`` sized by
    ``graph_geo._trade_vertex_bound`` (customers + suppliers): broadcast
    below the switch, keyed SHUFFLE_HASH above it — identical rows
    (equivalence-tested). Unreached nodes are simply absent (no ∞ sentinel
    to overflow). Output is top-20 by (distance, label) via
    TakeOrderedAndProject — no global sort.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    line = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(line, orders.o_orderkey == line.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # Half-checkpoint discipline (see graph_geo._trade_edges): persist
        # the per-undirected-edge pair table, derive both arcs lazily.
        # Lazy checkpoint (r14): the |E| count below materializes the
        # blocks — one job instead of materialize + count.
        .localCheckpoint(eager=False)
    )
    w = F.greatest(F.lit(1).cast("long"), (F.lit(6) - F.col("cnt")).cast("long"))
    cust = (F.col("o_custkey") * 2).cast("long")
    supp = (F.col("l_suppkey") * 2 + 1).cast("long")
    edges = pairs.select(cust.alias("src"), supp.alias("dst"), w.alias("w")).unionByName(
        pairs.select(supp.alias("src"), cust.alias("dst"), w.alias("w"))
    )
    pairs.count()  # materializes the lazy checkpoint in ONE pass before the
    # doubled-arc union below consumes it twice (an unmaterialized lazy
    # checkpoint is recomputed per consumer within a job).
    n_vertex_bound = _trade_vertex_bound(spark, sf_dir)
    # r14: the distance frame is checkpointed per round. Unlike PageRank
    # (where each round references the prior frame once), Bellman-Ford
    # references dist TWICE per round (relaxation join + the min-merge
    # union), so lazy rounds double the embedded lineage every iteration
    # (2^r subtree copies); per-round materialization of the |V|-bounded
    # frame measured 2.7-3.0 s -> 2.3-2.8 s at sf0.1, position-matched.
    dist = spark.range(1).select(
        F.lit(0).cast("long").alias("node"), F.lit(0).cast("long").alias("d")
    )
    for _ in range(_BF_ROUNDS):
        relaxed = (
            edges.join(vertex_side(dist, n_vertex_bound), edges.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        )
        # ContextCleaner frees the superseded checkpoint (ADVICE r14:
        # Dataset.unpersist cannot release localCheckpoint blocks).
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
    return (
        dist.select(_node_label().alias("node"), "d")
        .orderBy(F.asc("d"), F.asc("node"))
        .limit(20)
    )


def _bf_oracle() -> str:
    head = """
WITH pairs AS (
    SELECT o.o_custkey AS ck, l.l_suppkey AS sk, count(*) AS cnt
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
),
edges AS (
    SELECT CAST(ck * 2 AS BIGINT) AS src, CAST(sk * 2 + 1 AS BIGINT) AS dst,
           CAST(greatest(1, 6 - cnt) AS BIGINT) AS w
    FROM pairs
    UNION ALL
    SELECT CAST(sk * 2 + 1 AS BIGINT), CAST(ck * 2 AS BIGINT),
           CAST(greatest(1, 6 - cnt) AS BIGINT)
    FROM pairs
),
r0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d)"""
    steps = []
    for i in range(1, _BF_ROUNDS + 1):
        steps.append(
            f""",
r{i} AS (
    SELECT node, min(d) AS d FROM (
        SELECT node, d FROM r{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.d + e.w AS d
        FROM edges e JOIN r{i - 1} p ON e.src = p.node
    ) GROUP BY node
)"""
        )
    return (
        head
        + "".join(steps)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
       d
FROM r{_BF_ROUNDS}
ORDER BY d, node LIMIT 20"""
    )


_BELLMAN_FORD_SQL = _bf_oracle()


# --------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval rankings
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPN = 100
_RRF_QUERY = ("spark", "join", "scan")


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by reciprocal-rank fusion (Cormack et al., SIGIR'09)
    of two rankings for a fixed query: raw query-term frequency vs
    length-normalized frequency.

    Scale shape: ONE tokenize pass feeds one per-doc aggregate (the BM25
    discipline); each ranking's top-100 cut is ``orderBy().limit()`` —
    planned as TakeOrderedAndProject per-partition heaps, never a global
    sort — and rank positions are assigned by a window over the ALREADY
    BOUNDED 100-row frame. The fusion itself is a full outer join of two
    100-row broadcast frames. Tie-breaks are (score DESC, doc_id ASC)
    everywhere; the normalized score is one integer division so both
    engines order identical doubles. RRF score = Σ 1/(60 + rank), two
    terms added in fixed order, prounded.
    """
    from projet_data_infrastructure_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        F.sum(F.col("term").isin(*_RRF_QUERY).cast("long")).alias("tfq"),
    )
    matched = per_doc.filter(F.col("tfq") > 0)
    norm = F.col("tfq").cast("double") / F.col("dl").cast("double")
    top_a = matched.orderBy(F.desc("tfq"), F.asc("doc_id")).limit(_RRF_TOPN)
    top_b = (
        matched.withColumn("nscore", norm)
        .orderBy(F.desc("nscore"), F.asc("doc_id"))
        .limit(_RRF_TOPN)
    )
    wa = Window.orderBy(F.desc("tfq"), F.asc("doc_id"))
    wb = Window.orderBy(F.desc("nscore"), F.asc("doc_id"))
    ra = top_a.select("doc_id", F.row_number().over(wa).alias("rank_tf"))
    rb = top_b.select("doc_id", F.row_number().over(wb).alias("rank_norm"))
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        "rank_tf",
        "rank_norm",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_tf")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_norm")), F.lit(0.0)
            )
        ).alias("rrf_raw"),
    )
    return (
        fused.select(
            "doc_id", "rank_tf", "rank_norm", pround(F.col("rrf_raw"), 6).alias("rrf")
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(20)
    )


_RRF_TERMS_IN = ", ".join(f"'{t}'" for t in _RRF_QUERY)

_RRF_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest({_PF_TOKS}) AS term FROM documents
),
per_doc AS (
    SELECT doc_id, count(*) AS dl,
           CAST(sum(CASE WHEN term IN ({_RRF_TERMS_IN}) THEN 1 ELSE 0 END) AS BIGINT) AS tfq
    FROM tok GROUP BY doc_id
),
matched AS (SELECT * FROM per_doc WHERE tfq > 0),
ra AS (
    SELECT doc_id, CAST(row_number() OVER (ORDER BY tfq DESC, doc_id) AS INTEGER) AS rank_tf
    FROM matched ORDER BY tfq DESC, doc_id LIMIT {_RRF_TOPN}
),
rb AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY CAST(tfq AS DOUBLE) / CAST(dl AS DOUBLE) DESC, doc_id) AS INTEGER) AS rank_norm
    FROM matched ORDER BY CAST(tfq AS DOUBLE) / CAST(dl AS DOUBLE) DESC, doc_id LIMIT {_RRF_TOPN}
),
fused AS (
    SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, ra.rank_tf, rb.rank_norm,
           (COALESCE(CAST(1 AS DOUBLE) / (CAST({_RRF_K} AS DOUBLE) + rank_tf), CAST(0 AS DOUBLE))
            + COALESCE(CAST(1 AS DOUBLE) / (CAST({_RRF_K} AS DOUBLE) + rank_norm), CAST(0 AS DOUBLE))) AS rrf_raw
    FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, rank_tf, rank_norm, {pround_sql('rrf_raw', 6)} AS rrf
FROM fused
ORDER BY rrf DESC, doc_id LIMIT 20
"""


# --------------------------------------------------------------------------
# Gini coefficient of revenue concentration (scale-safe exact ranks)
# --------------------------------------------------------------------------

#: Shared double solve for G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n. Parsed by
#: both engines → identical expression trees over identical exact sums.
_GINI_EXPR = (
    "(((CAST(2 AS DOUBLE) * CAST(srx AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)))"
    " - ((CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(n AS DOUBLE)))"
)


def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Gini coefficient of per-customer revenue concentration.

    The rank-sum identity G = 2·Σᵢ rankᵢ·xᵢ / (n·Σx) − (n+1)/n needs an
    exact GLOBAL ascending rank — the one thing a bare ``Window.orderBy``
    cannot do at scale. This spec routes through ``operators/ranks.py
    global_rank`` (approx-percentile range bounds → per-bucket row_number →
    broadcast prefix offsets), so every task's working set stays bounded
    while the ranks are hash-identical to SQL ``row_number()``. The
    rank·cents products are DECIMAL(14,0)×DECIMAL(18,0) → DECIMAL(33,0)
    (inside both engines' 38-digit cap) so neither the per-row product nor
    the sum can overflow int64 at 100 TB row counts. Ties in cents don't
    affect G (equal x swap ranks ⇒ same Σ rank·x), but the custkey
    tie-break keeps ranks themselves deterministic anyway.
    """
    from projet_data_infrastructure_spark.operators.ranks import global_rank

    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    ranked, _n = global_rank(per_cust, key="cents", ties=["o_custkey"])
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr("CAST(rank AS DECIMAL(14,0)) * CAST(cents AS DECIMAL(18,0))")
        ).alias("srx"),
        F.sum(F.col("cents").cast("decimal(25,0)")).alias("sx"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("long").alias("total_cents"),
        pround(F.expr(_GINI_EXPR), 6).alias("gini"),
    )


_GINI_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, cents,
           row_number() OVER (ORDER BY cents, o_custkey) AS rank
    FROM per_cust
),
sums AS (
    SELECT count(*) AS n,
           sum(CAST(rank AS DECIMAL(14,0)) * CAST(cents AS DECIMAL(18,0))) AS srx,
           sum(CAST(cents AS DECIMAL(25,0))) AS sx
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(sx AS BIGINT) AS total_cents,
       {pround_sql(_GINI_EXPR, 6)} AS gini
FROM sums
"""


# --------------------------------------------------------------------------
# Day-of-week seasonality lift (temporal mixture diagnostics)
# --------------------------------------------------------------------------


def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week lift per event type: does 'purchase' over-index on
    weekends relative to overall traffic?

    lift(et, dow) = (n_{et,dow} · N) / (n_{et} · n_{dow}) — one division
    of exact integer products (the brand-lift algebra applied to time).
    Weekday numbering is pinned to ISO (1=Mon..7=Sun) on both engines:
    Spark ``weekday()+1`` == DuckDB ``isodow()`` — ``dayofweek()`` starts
    Sunday in Spark but Monday-ish in DuckDB, a classic cross-engine trap.
    Plan: one fact aggregate over a ≤ |types|×7 key, two broadcast
    marginal joins, one scalar broadcast. Bounded output.
    """
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", (F.weekday("ts") + F.lit(1)).alias("dow")
    )
    cell = base.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("n_cell"))
    et_m = cell.groupBy("event_type").agg(F.sum("n_cell").alias("n_et"))
    dow_m = cell.groupBy("dow").agg(F.sum("n_cell").alias("n_dow"))
    total = cell.agg(F.sum("n_cell").alias("n_all"))
    lift = (
        (F.col("n_cell").cast("double") * F.col("n_all").cast("double"))
        / (F.col("n_et").cast("double") * F.col("n_dow").cast("double"))
    )
    return bounded_order(
        cell.join(F.broadcast(et_m), "event_type")
        .join(F.broadcast(dow_m), "dow")
        .join(F.broadcast(total))
        .select(
            "event_type",
            "dow",
            "n_cell",
            pround(lift, 4).alias("lift"),
        ),
        "event_type", "dow",
    )


_DOW_SQL = f"""
WITH base AS (
    SELECT event_type, CAST(isodow(ts) AS INTEGER) AS dow FROM events
),
cell AS (
    SELECT event_type, dow, count(*) AS n_cell FROM base GROUP BY 1, 2
),
et_m AS (SELECT event_type, sum(n_cell) AS n_et FROM cell GROUP BY 1),
dow_m AS (SELECT dow, sum(n_cell) AS n_dow FROM cell GROUP BY 1),
total AS (SELECT sum(n_cell) AS n_all FROM cell)
SELECT c.event_type, c.dow, c.n_cell,
       {pround_sql('(CAST(n_cell AS DOUBLE) * CAST(n_all AS DOUBLE)) / (CAST(n_et AS DOUBLE) * CAST(n_dow AS DOUBLE))', 4)} AS lift
FROM cell c
JOIN et_m USING (event_type)
JOIN dow_m USING (dow)
CROSS JOIN total
ORDER BY event_type, dow
"""


# --------------------------------------------------------------------------
# Label propagation (semi-supervised labeling over the similarity graph)
# --------------------------------------------------------------------------

_LP_SEED_MAX = 200
_LP_SIM = 0.2
_LP_ROUNDS = 2


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation: 200 seed-labeled embeddings
    spread their labels 2 hops over the IVF-bucketed similarity graph
    (cosine ≥ 0.2); unlabeled nodes adopt the neighbor-majority label,
    ties broken by the smaller label — fully deterministic, so a classic
    iterative semi-supervised algorithm is hash-exact.

    Clamped fix-once variant: once a node holds a label it never changes
    (monotone → no oscillation, bounded rounds). Per round: one equi-join
    of the edge list against the labeled frontier + a (node, label) vote
    aggregate + a deterministic argmax window per node — all keyed on the
    8-byte vec_id. The edge list comes from the same √N-centroid bucketed
    machinery as near-dup/hard-negative mining (≈N^1.5 candidate work,
    never all-pairs) and is checkpointed once before the loop. Output is
    the label distribution (count + id-checksum per final label;
    -1 = never reached).
    """
    from projet_data_infrastructure_spark.operators import similarity
    from projet_data_infrastructure_spark.sources.readers import read_table_balanced

    plain = read_table(spark, sf_dir, "embeddings")
    emb = read_table_balanced(spark, sf_dir, "embeddings")
    n_emb = plain.count()
    c = similarity.derived_n_centroids(n_emb)
    # The frontier/pick frames below are |V|-bounded (≤ one row per
    # embedding) but come out of checkpoints/aggregates with no stats, so
    # Catalyst would sort-merge and shuffle the edge list every round. Pick
    # the build side explicitly via ``vertex_side`` on the exact |V| that
    # was already counted for the centroid derivation (r15, guide §3.1:
    # 4.12 → 3.91 s median position-matched).
    pairs = similarity.neardup_pairs_bucketed(
        emb, threshold=_LP_SIM, n_centroids=c, centroid_src=plain
    ).select("vec_a", "vec_b")
    edges = (
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    # r14: the |V|-bounded label frame is checkpointed per round — it is
    # referenced TWICE per round (frontier filter + the clamp join), so
    # lazy rounds double the embedded vote/window lineage each iteration
    # (measured 5.4-7.8 s -> 4.7-5.1 s at sf0.1, position-matched).
    labels = plain.select(
        F.col("vec_id").alias("node"),
        F.when(F.col("vec_id") < _LP_SEED_MAX, F.col("label"))
        .otherwise(F.lit(None).cast("int"))
        .alias("lab"),
    ).localCheckpoint(eager=True)
    for _ in range(_LP_ROUNDS):
        frontier = labels.filter(F.col("lab").isNotNull()).select(
            F.col("node").alias("dst"), F.col("lab").alias("nlab")
        )
        votes = (
            edges.join(vertex_side(frontier, n_emb), "dst")
            .groupBy(F.col("src").alias("node"), "nlab")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        wv = Window.partitionBy("node").orderBy(F.desc("n"), F.asc("nlab"))
        pick = (
            votes.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("node", F.col("nlab").alias("plab"))
        )
        # ContextCleaner frees the superseded checkpoint (ADVICE r14:
        # Dataset.unpersist cannot release localCheckpoint blocks).
        labels = (
            labels.join(vertex_side(pick, n_emb), "node", "left")
            .select("node", F.coalesce(F.col("lab"), F.col("plab")).alias("lab"))
            .localCheckpoint(eager=True)
        )
    # ≤ _LP_SEED_MAX + 1 rows: every label comes from a seed, and -1.
    return bounded_order(
        labels.groupBy(F.coalesce(F.col("lab"), F.lit(-1)).alias("final_label"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("node").alias("id_checksum"),
        ),
        "final_label",
    )


def _lp_oracle() -> str:
    derived_c = (
        "(SELECT greatest(8, CAST(floor(sqrt(count(*)::DOUBLE)) AS INT)) FROM embeddings)"
    )
    head = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
    FROM embeddings WHERE vec_id < {derived_c}
), dists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM dists
    ) WHERE rn = 1
), bucketed AS (
    SELECT e.vec_id, a.centroid_id, e.embedding::DOUBLE[] AS v
    FROM embeddings e JOIN assign a USING (vec_id)
), pairs AS (
    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
    FROM bucketed x JOIN bucketed y
      ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
    WHERE {pround_sql('list_cosine_similarity(x.v, y.v)', 6)} >= {_LP_SIM}
), edges AS (
    SELECT vec_a AS src, vec_b AS dst FROM pairs
    UNION ALL
    SELECT vec_b AS src, vec_a AS dst FROM pairs
),
l0 AS (
    SELECT vec_id AS node,
           CASE WHEN vec_id < {_LP_SEED_MAX} THEN label ELSE NULL END AS lab
    FROM embeddings
)"""
    steps = []
    for r in range(1, _LP_ROUNDS + 1):
        steps.append(
            f""",
v{r} AS (
    SELECT e.src AS node, l.lab AS nlab, count(*) AS n
    FROM edges e JOIN l{r - 1} l ON e.dst = l.node
    WHERE l.lab IS NOT NULL
    GROUP BY e.src, l.lab
),
p{r} AS (
    SELECT node, nlab AS plab FROM (
        SELECT node, nlab, row_number() OVER (PARTITION BY node ORDER BY n DESC, nlab) AS rn
        FROM v{r}
    ) WHERE rn = 1
),
l{r} AS (
    SELECT l.node, COALESCE(l.lab, p.plab) AS lab
    FROM l{r - 1} l LEFT JOIN p{r} p ON l.node = p.node
)"""
        )
    return (
        head
        + "".join(steps)
        + f"""
SELECT COALESCE(lab, -1) AS final_label, count(*) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS id_checksum
FROM l{_LP_ROUNDS}
GROUP BY COALESCE(lab, -1)
ORDER BY final_label"""
    )


_LABEL_PROP_SQL = _lp_oracle()


# --------------------------------------------------------------------------
# T5-style span-corruption sample prep (denoising-objective training data)
# --------------------------------------------------------------------------

_SC_MAX_ID = 40
_SC_RATE_MOD, _SC_RATE_HIT = 10, 2  # mask a token iff hash % 10 < 2 (~20%)


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style denoising pairs: ~20% of tokens are masked by a
    DETERMINISTIC portable hash, consecutive masked tokens merge into
    spans, the input text replaces each span with a ``<Xk>`` sentinel and
    the target lists each sentinel with its hidden tokens.

    The pipeline is one posexplode + ONE per-doc window pass (lag for
    span starts, running sum for span ordinals) + one per-doc aggregate
    that rebuilds both strings with order-pinned array_sort(collect_list)
    — no Python anywhere, fully linear, and reproducible: the hash-based
    mask makes a normally-random objective hash-checkable cross-engine
    (the same trick the A-Res samplers and Doulion use).
    """
    from projet_data_infrastructure_spark.functions.hashing import hash64
    from projet_data_infrastructure_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _SC_MAX_ID)
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    h = hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")))
    tok = tok.withColumn("masked", (h % _SC_RATE_MOD) < _SC_RATE_HIT)
    w = Window.partitionBy("doc_id").orderBy("pos")
    tok = (
        tok.withColumn(
            "span_start",
            F.col("masked") & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
        )
        .withColumn("span_id", F.sum(F.col("span_start").cast("long")).over(w))
    )
    sentinel = F.concat(F.lit("<X"), F.col("span_id").cast("string"), F.lit(">"))
    piece_in = (
        F.when(~F.col("masked"), F.col("tok"))
        .when(F.col("span_start"), sentinel)
        .otherwise(F.lit(None).cast("string"))
    )
    piece_tg = (
        F.when(F.col("span_start"), F.concat(sentinel, F.lit(" "), F.col("tok")))
        .when(F.col("masked"), F.col("tok"))
        .otherwise(F.lit(None).cast("string"))
    )

    # build both strings in one aggregate; transform/filter applied to the
    # order-pinned struct array
    agg = tok.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos").alias("p"), piece_in.alias("x")))
        ).alias("arr_in"),
        F.array_sort(
            F.collect_list(F.struct(F.col("pos").alias("p"), piece_tg.alias("x")))
        ).alias("arr_tg"),
        F.max("span_id").alias("n_spans"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    pick = lambda c: F.array_join(
        F.filter(F.expr(f"transform({c}, s -> s.x)"), lambda x: x.isNotNull()), " "
    )
    # ≤ _SC_MAX_ID documents.
    return bounded_order(
        agg.select(
            "doc_id",
            pick("arr_in").alias("input_text"),
            pick("arr_tg").alias("target_text"),
            F.col("n_spans").cast("long").alias("n_spans"),
            "n_tokens",
        ),
        "doc_id",
    )


from projet_data_infrastructure_spark.functions.hashing import hash64_sql as _h64sql

_SC_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')"
_SC_HASH = _h64sql("(doc_id || ':' || pos)")

_SPAN_CORRUPTION_SQL = f"""
WITH tok0 AS (
    SELECT doc_id, unnest({_SC_TOKS}) AS tok,
           generate_subscripts({_SC_TOKS}, 1) - 1 AS pos
    FROM documents WHERE doc_id < {_SC_MAX_ID}
),
tok1 AS (
    SELECT doc_id, pos, tok,
           ({_SC_HASH} % {_SC_RATE_MOD}) < {_SC_RATE_HIT} AS masked
    FROM tok0
),
tok2 AS (
    SELECT *,
           masked AND NOT COALESCE(lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS span_start
    FROM tok1
),
tok3 AS (
    SELECT *,
           sum(CASE WHEN span_start THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
    FROM tok2
),
pieces AS (
    SELECT doc_id, pos, span_id,
           CASE WHEN NOT masked THEN tok
                WHEN span_start THEN '<X' || CAST(span_id AS VARCHAR) || '>'
                ELSE NULL END AS piece_in,
           CASE WHEN span_start THEN '<X' || CAST(span_id AS VARCHAR) || '> ' || tok
                WHEN masked THEN tok
                ELSE NULL END AS piece_tg
    FROM tok3
)
SELECT doc_id,
       COALESCE(string_agg(piece_in, ' ' ORDER BY pos) FILTER (WHERE piece_in IS NOT NULL), '') AS input_text,
       COALESCE(string_agg(piece_tg, ' ' ORDER BY pos) FILTER (WHERE piece_tg IS NOT NULL), '') AS target_text,
       CAST(max(span_id) AS BIGINT) AS n_spans,
       count(*) AS n_tokens
FROM pieces
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Contrastive hard-negative mining (training-pair curation over ANN buckets)
# --------------------------------------------------------------------------

_HN_THRESHOLD = 0.25
_HN_TOPK = 30


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 hard negatives for contrastive training: pairs that look
    alike (same IVF bucket, cosine ≥ 0.25) but carry DIFFERENT labels.

    Exactly the curation step an embedding-model training pipeline runs:
    easy negatives are useless, and mining hard ones naively is an
    all-pairs scan. This reuses the √N-centroid IVF bucketing (per-bucket
    pair work ≈ N^1.5 total, no nested loop — the embedding_neardup
    machinery), then joins the thin (id, label) side twice — keyed shuffle
    joins, linear — and keeps cross-label pairs only. Top-30 by similarity
    via TakeOrderedAndProject.
    """
    from projet_data_infrastructure_spark.operators import similarity
    from projet_data_infrastructure_spark.sources.readers import read_table_balanced

    plain = read_table(spark, sf_dir, "embeddings")
    emb = read_table_balanced(spark, sf_dir, "embeddings")
    c = similarity.derived_n_centroids(plain.count())
    pairs = similarity.neardup_pairs_bucketed(
        emb, threshold=_HN_THRESHOLD, n_centroids=c, centroid_src=plain
    )
    la = plain.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"))
    lb = plain.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"))
    return (
        pairs.join(la, "vec_a")
        .join(lb, "vec_b")
        .filter(F.col("label_a") != F.col("label_b"))
        .select("vec_a", "vec_b", "label_a", "label_b", "sim")
        .orderBy(F.desc("sim"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(_HN_TOPK)
    )


def q_positive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 anchor-positive pairs: same IVF bucket, SAME label, cosine
    ≥ 0.3 — the complement of ``hard_negative_mining``; together they emit
    the (anchor, positive, hard-negative) triplets a contrastive trainer
    consumes. Identical ≈N^1.5 bucketed plan; only the label predicate and
    threshold differ."""
    from projet_data_infrastructure_spark.operators import similarity
    from projet_data_infrastructure_spark.sources.readers import read_table_balanced

    plain = read_table(spark, sf_dir, "embeddings")
    emb = read_table_balanced(spark, sf_dir, "embeddings")
    c = similarity.derived_n_centroids(plain.count())
    pairs = similarity.neardup_pairs_bucketed(
        emb, threshold=0.3, n_centroids=c, centroid_src=plain
    )
    la = plain.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"))
    lb = plain.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"))
    return (
        pairs.join(la, "vec_a")
        .join(lb, "vec_b")
        .filter(F.col("label_a") == F.col("label_b"))
        .select("vec_a", "vec_b", F.col("label_a").alias("label"), "sim")
        .orderBy(F.desc("sim"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(_HN_TOPK)
    )


_HN_DERIVED_C = (
    "(SELECT greatest(8, CAST(floor(sqrt(count(*)::DOUBLE)) AS INT)) FROM embeddings)"
)

_HARD_NEGATIVE_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
    FROM embeddings WHERE vec_id < {_HN_DERIVED_C}
), dists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM dists
    ) WHERE rn = 1
), bucketed AS (
    SELECT e.vec_id, a.centroid_id, e.embedding::DOUBLE[] AS v, e.label
    FROM embeddings e JOIN assign a USING (vec_id)
)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       x.label AS label_a, y.label AS label_b,
       {pround_sql('list_cosine_similarity(x.v, y.v)', 6)} AS sim
FROM bucketed x JOIN bucketed y
  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
WHERE {pround_sql('list_cosine_similarity(x.v, y.v)', 6)} >= {_HN_THRESHOLD}
  AND x.label != y.label
ORDER BY sim DESC, vec_a, vec_b
LIMIT {_HN_TOPK}
"""

_POSITIVE_PAIR_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
    FROM embeddings WHERE vec_id < {_HN_DERIVED_C}
), dists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM dists
    ) WHERE rn = 1
), bucketed AS (
    SELECT e.vec_id, a.centroid_id, e.embedding::DOUBLE[] AS v, e.label
    FROM embeddings e JOIN assign a USING (vec_id)
)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.label AS label,
       {pround_sql('list_cosine_similarity(x.v, y.v)', 6)} AS sim
FROM bucketed x JOIN bucketed y
  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
WHERE {pround_sql('list_cosine_similarity(x.v, y.v)', 6)} >= 0.3
  AND x.label = y.label
ORDER BY sim DESC, vec_a, vec_b
LIMIT {_HN_TOPK}
"""


# --------------------------------------------------------------------------
# Streaming CUSUM (stateful per-user drift detector, LIVE)
# --------------------------------------------------------------------------


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM detector running LIVE as a stateful streaming operator:
    per-user (P, minP, counters) state carried across micro-batches via
    ``applyInPandasWithState``, emitting per-user drift telemetry
    (n_days, final/max CUSUM, alarm-day count).

    The closed-form identity S = P − min(0, cummin P) means the state is
    just TWO integers per user (running P and running minP) plus counters —
    a bounded-state streaming detector no windowed aggregation can express.
    Under availableNow the file source delivers one batch, so the emission
    equals the batch detector and the whole operator is hash-checked
    against the DuckDB oracle (the same gate the batch ``cusum_drift_flags``
    passes). Cross-batch caveat: a replay that SPLITS one calendar day
    across batches would count that day twice in n_days — production
    deployments put a day-aligned watermark upstream; the two-integer
    recurrence itself is split-safe.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from projet_data_infrastructure_spark.plans.events_queries import (
        _events_stream,
        _run_stream,
    )

    stream = (
        _events_stream(spark, sf_dir)
        .filter(F.col("user_id") < _CUSUM_USERS)
        .select("user_id", F.to_date("ts").alias("day"))
    )

    def update(key, pdfs, state: GroupState):
        p, minp, n_days, n_alarms, max_c, final_c = (
            state.get if state.exists else (0, 0, 0, 0, 0, 0)
        )
        pdf = pd.concat(list(pdfs), ignore_index=True)
        daily = pdf.groupby("day").size().sort_index()
        for cnt in daily:
            p += int(cnt) - _CUSUM_K
            minp = min(minp, p)
            s = p - min(0, minp)
            n_days += 1
            final_c = s
            if s > max_c:
                max_c = s
            if s >= _CUSUM_H:
                n_alarms += 1
        state.update((p, minp, n_days, n_alarms, max_c, final_c))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_days": [n_days],
                "final_cusum": [final_c],
                "max_cusum": [max_c],
                "n_alarms": [n_alarms],
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id BIGINT, n_days BIGINT, final_cusum BIGINT, "
            "max_cusum BIGINT, n_alarms BIGINT"
        ),
        stateStructType=(
            "p BIGINT, minp BIGINT, n_days BIGINT, n_alarms BIGINT, "
            "max_c BIGINT, final_c BIGINT"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_stream(out.writeStream.outputMode("update"), spark, "stream_cusum_sink", sf_dir)
    return res.orderBy("user_id")


_STREAM_CUSUM_SQL = f"""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
    FROM events WHERE user_id < {_CUSUM_USERS}
    GROUP BY 1, 2
),
cum AS (
    SELECT user_id, day,
           sum(cnt - {_CUSUM_K}) OVER (PARTITION BY user_id ORDER BY day) AS p
    FROM daily
),
sc AS (
    SELECT user_id, day,
           p - least(CAST(0 AS BIGINT),
                     min(p) OVER (PARTITION BY user_id ORDER BY day
                                  ROWS UNBOUNDED PRECEDING)) AS s
    FROM cum
)
SELECT user_id,
       count(*) AS n_days,
       CAST(arg_max(s, day) AS BIGINT) AS final_cusum,
       CAST(max(s) AS BIGINT) AS max_cusum,
       CAST(sum(CASE WHEN s >= {_CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
FROM sc
GROUP BY user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Binned two-sample Kolmogorov–Smirnov drift statistic
# --------------------------------------------------------------------------

_KS_BINS = 256

#: |cdfA − cdfB| compared as the INTEGER cross-product |cumA·nB − cumB·nA|
#: (DECIMAL(18,0) factors → DECIMAL(37,0) products, inside both engines'
#: cap and immune to int64 overflow at 100 TB counts); the single division
#: happens once, on the maximum.
_KS_NUM = (
    "abs(CAST(cum_a AS DECIMAL(18,0)) * CAST(n_b AS DECIMAL(18,0))"
    " - CAST(cum_b AS DECIMAL(18,0)) * CAST(n_a AS DECIMAL(18,0)))"
)


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic between the purchase and view value
    distributions, over 256 fixed dollar bins.

    Raw KS needs the merged order statistics — a global sort of the data.
    The binned form is the scale-honest estimator: per-bin counts are one
    map-side-combined aggregate, and every window after that runs on the
    ≤256-row bin frame (bounded by the estimator parameter, never the
    data — same argument as the KMV/count-min sketches). The sup-distance
    is computed on exact integer cross-products; one division at the end.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    cents = F.round(F.col("value") * 100).cast("long")
    binc = F.least(
        F.lit(_KS_BINS - 1).cast("long"),
        F.greatest(F.lit(0).cast("long"), F.expr("cents DIV 100")),
    )
    cell = (
        ev.select(F.col("event_type").alias("t"), cents.alias("cents"))
        .select("t", binc.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum((F.col("t") == "view").cast("long")).alias("a"),
            F.sum((F.col("t") == "purchase").cast("long")).alias("b"),
        )
    )
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    scored = cell.select(
        "bin",
        F.sum("a").over(wcum).alias("cum_a"),
        F.sum("b").over(wcum).alias("cum_b"),
        F.sum("a").over(wall).alias("n_a"),
        F.sum("b").over(wall).alias("n_b"),
    ).withColumn("num", F.expr(_KS_NUM))
    return scored.agg(
        F.max("n_a").cast("long").alias("n_views"),
        F.max("n_b").cast("long").alias("n_purchases"),
        pround(
            F.max("num").cast("double")
            / (F.max("n_a").cast("double") * F.max("n_b").cast("double")),
            6,
        ).alias("ks"),
    )


_KS_SQL = f"""
WITH ev AS (
    SELECT event_type AS t, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type IN ('view', 'purchase')
),
cell AS (
    SELECT least({_KS_BINS - 1}, greatest(0, cents // 100)) AS bin,
           CAST(sum(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b
    FROM ev GROUP BY 1
),
scored AS (
    SELECT bin,
           sum(a) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_a,
           sum(b) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_b,
           sum(a) OVER () AS n_a,
           sum(b) OVER () AS n_b
    FROM cell
)
SELECT CAST(max(n_a) AS BIGINT) AS n_views,
       CAST(max(n_b) AS BIGINT) AS n_purchases,
       {pround_sql('CAST(max(' + _KS_NUM + ') AS DOUBLE) / (CAST(max(n_a) AS DOUBLE) * CAST(max(n_b) AS DOUBLE))', 6)} AS ks
FROM scored
"""


# --------------------------------------------------------------------------
# Fixed-point Lloyd's k-means (oracle-exact iterative ML)
# --------------------------------------------------------------------------

_KM_K = 4
_KM_ROUNDS = 2
_KM_MAX_ID = 2000
_KM_SCALE = 1_000_000  # float coords → integer micro-units


def q_kmeans_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round Lloyd's k-means over 2 000 embeddings, bit-exact in both
    engines — iterative ML as a deterministic DataFrame program.

    The fixed-point-PageRank trick applied to clustering: coordinates are
    floored to integer micro-units once, squared-L2 distances are then
    exact BIGINT sums, argmin ties break on the smaller cluster id, and
    each round's new centroids are exact integer floor-means — so the
    classically FP-order-dependent algorithm hash-matches an unrolled
    DuckDB oracle. Quantization costs ≤ 1 micro-unit per coordinate per
    round — the same determinism trade money-in-cents makes.

    Scale shape per round: centroids are K×dim integers COLLECTED to the
    driver (model-parameter-class collect, the IVF-centroid discipline)
    and inlined as literals, so ASSIGNMENT is map-side — zero Exchange,
    no join, exactly like ``ivf_assign`` (plan-gated there). The UPDATE
    is one posexplode → (cluster, dim) aggregate: a 64·K-key map-side-
    combined shuffle, linear in rows. Empty clusters keep their previous
    centroid. The driver never sees data rows — only the K×64 centroid
    matrix per round. The loop is ``similarity.int_lloyd_centroids``, shared
    with ``ivf_trained_assign``.
    """
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _KM_MAX_ID)
        .select(
            "vec_id",
            F.expr(
                f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT))"
            ).alias("q"),
        )
    )
    emb = emb.localCheckpoint(eager=True)  # scanned K+1 times; decode once
    pick = int_centroid_argmin_col(int_lloyd_centroids(emb, _KM_K, _KM_ROUNDS))
    final = emb.withColumn("dist", pick["dist"]).withColumn("cl", pick["cl"])
    return bounded_order(
        final.groupBy("cl")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("vec_id").alias("id_checksum"),
            F.sum("dist").alias("inertia"),
        ),
        "cl",
    )


def _km_oracle() -> str:
    fd = fdiv("sum(e.qv)", "count(*)", "//")
    head = f"""
WITH pts AS (
    SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) - 1 AS dim
    FROM embeddings WHERE vec_id < {_KM_MAX_ID}
),
e AS (
    SELECT vec_id, dim, CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT) AS qv
    FROM pts
),
c0 AS (
    SELECT vec_id AS cl, dim, qv AS cv FROM e WHERE vec_id < {_KM_K}
)"""
    steps = []
    for r in range(_KM_ROUNDS):
        steps.append(
            f""",
d{r} AS (
    SELECT e.vec_id, c.cl, sum((e.qv - c.cv) * (e.qv - c.cv)) AS dist
    FROM e JOIN c{r} c ON e.dim = c.dim
    GROUP BY e.vec_id, c.cl
),
a{r} AS (
    SELECT vec_id, cl, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
    FROM d{r}
),
m{r} AS (SELECT vec_id, cl, dist FROM a{r} WHERE rn = 1),
u{r} AS (
    SELECT m.cl, e.dim, {fd} AS cv
    FROM m{r} m JOIN e ON m.vec_id = e.vec_id
    GROUP BY m.cl, e.dim
),
c{r + 1} AS (
    SELECT p.cl, p.dim, COALESCE(u.cv, p.cv) AS cv
    FROM c{r} p LEFT JOIN u{r} u ON p.cl = u.cl AND p.dim = u.dim
)"""
        )
    r = _KM_ROUNDS
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
SELECT cl, count(*) AS n_points,
       CAST(sum(vec_id) AS BIGINT) AS id_checksum,
       CAST(sum(dist) AS BIGINT) AS inertia
FROM af WHERE rn = 1
GROUP BY cl ORDER BY cl"""
    )


_KMEANS_SQL = _km_oracle()


# --------------------------------------------------------------------------
# Spark 4 SQL-function surface: SQL UDF + lateral alias + GROUP/ORDER BY ALL
# --------------------------------------------------------------------------


def q_sql_udf_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority rollup through a SQL-defined scalar function (SPARK-46246
    ``CREATE FUNCTION … RETURN``), lateral column aliases (SPARK-27561 —
    ``avg_cents`` references ``total_cents``/``n_orders`` from the same
    SELECT), and ``GROUP BY ALL`` / ``ORDER BY ALL``.

    A SQL UDF is a catalog object, not a Python boundary: Catalyst inlines
    the body, so the plan is identical to writing the expression by hand —
    whole-stage codegen, pushdown, the lot. That inlining is exactly what
    the oracle pins (same numbers as the hand-inlined DuckDB SQL). The
    UDF converts money per ROW (exact integer cents) before the sum —
    summing doubles first then rounding would be partition-order-dependent.

    Probed limitation (Spark 4.1): a lateral alias referenced from
    ``GROUP BY ALL`` raises UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_
    GROUP_BY, so the grouping key is written explicitly and the lateral
    references live in the SELECT/ORDER BY only.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION order_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(x * 100) AS BIGINT)"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               sum(order_cents(o_totalprice)) AS total_cents,
               count(*) AS n_orders,
               total_cents DIV n_orders AS avg_cents
        FROM orders_v
        GROUP BY o_orderpriority
        ORDER BY ALL
        """
    )


_SQL_UDF_SQL = """
SELECT o_orderpriority,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // count(*) AS avg_cents
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority, total_cents, n_orders, avg_cents
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "bfs_khop_reachability",
        q_bfs_khop,
        _BFS_SQL,
        ("graph", "iterative"),
        doc="Frontier BFS, 3 hops from 10 seed customers on the trade graph: "
        "per-round broadcast frontier equi-join + anti-join over the "
        "checkpointed edge list, lazy frontier rounds; per-hop "
        "count/checksum output is hash-exact",
    ),
    QuerySpec(
        "cusum_drift_flags",
        q_cusum_drift,
        _CUSUM_SQL,
        ("stats", "window", "quality"),
        doc="CUSUM change-point detector as two stacked windows "
        "(cumsum then running min) — the closed form of max(0, S+d); "
        "integer-exact, one shuffle",
    ),
    QuerySpec(
        "chi2_nation_priority",
        q_chi2_nation_priority,
        _CHI2_SQL,
        ("stats", "agg"),
        doc="Pearson chi-squared independence test nation × priority with "
        "full-grid expected mass from broadcast marginals",
    ),
    QuerySpec(
        "ols_two_feature_nation",
        q_ols_two_feature,
        _OLS_SQL,
        ("stats", "agg", "ml"),
        doc="Per-nation 2-feature OLS via decimal sufficient statistics + "
        "shared-text Cramer solve — distributed model fitting as one "
        "map-side-combinable aggregate",
    ),
    QuerySpec(
        "prefix_filter_jaccard",
        q_prefix_filter_jaccard,
        _PREFIX_FILTER_SQL,
        ("dedup", "join", "text", "bench"),
        doc="SSJoin/PPJoin prefix filtering: df-ascending token order, "
        "rare-token candidate equi-join, integer-exact threshold verify; "
        "oracle is the quadratic semantics",
    ),
    QuerySpec(
        "attribution_last_touch",
        q_attribution_last_touch,
        _ATTRIBUTION_SQL,
        ("events", "asof", "agg"),
        doc="Last-touch revenue attribution: deduped views, union+window "
        "as-of join, 2 h lookback, integer-cents rollup per campaign",
    ),
    QuerySpec(
        "attribution_linear",
        q_attribution_linear,
        _ATTRIBUTION_LINEAR_SQL,
        ("events", "agg"),
        doc="Linear multi-touch attribution: cents DIV n per in-window "
        "touch, remainder to the most recent — integer-exact, revenue-"
        "conserving equal-credit split",
    ),
    QuerySpec(
        "bellman_ford_distances",
        q_bellman_ford,
        _BELLMAN_FORD_SQL,
        ("graph", "iterative", "bench"),
        doc="3-round Bellman-Ford min-plus shortest paths on the weighted "
        "trade graph (weight = max(1, 6 - trade count)); broadcast distance "
        "frame per round, integer-exact, top-20 via TakeOrdered",
    ),
    QuerySpec(
        "rrf_fusion",
        q_rrf_fusion,
        _RRF_SQL,
        ("text", "retrieval", "window", "bench"),
        doc="Reciprocal-rank fusion of raw-tf and length-normalized rankings "
        "(k=60): one tokenize pass, TakeOrdered top-100 cuts, bounded-window "
        "rank assignment, full-outer fuse",
    ),
    QuerySpec(
        "positive_pair_mining",
        q_positive_pair_mining,
        _POSITIVE_PAIR_SQL,
        ("ann", "ml"),
        doc="Anchor-positive pairs (same bucket, same label, cosine >= 0.3) "
        "— the contrastive-triplet complement of hard_negative_mining",
    ),
    QuerySpec(
        "label_propagation",
        q_label_propagation,
        _LABEL_PROP_SQL,
        ("graph", "ml", "iterative", "ann"),
        doc="Semi-supervised label propagation: 200 seeds spread 2 hops over "
        "the IVF-bucketed similarity graph; neighbor-majority with "
        "smaller-label ties, clamped fix-once — deterministic and hash-exact",
    ),
    QuerySpec(
        "span_corruption_prep",
        q_span_corruption,
        _SPAN_CORRUPTION_SQL,
        ("text", "ml", "window"),
        doc="T5/UL2 denoising pairs: hash-deterministic ~20% token masking, "
        "lag/running-sum span detection in one per-doc window pass, "
        "sentinel input/target rebuild with order-pinned array_sort",
    ),
    QuerySpec(
        "hard_negative_mining",
        q_hard_negative_mining,
        _HARD_NEGATIVE_SQL,
        ("ann", "dedup", "ml"),
        doc="Contrastive hard negatives: same IVF bucket, different label, "
        "cosine >= 0.25 — the embedding-training curation step over the "
        "sqrt(N)-centroid bucketed join; top-30 via TakeOrdered",
    ),
    QuerySpec(
        "stream_cusum_telemetry",
        q_stream_cusum,
        _STREAM_CUSUM_SQL,
        ("stream", "stats", "stateful"),
        doc="LIVE streaming CUSUM via applyInPandasWithState: two-integer "
        "per-user state (running P, running minP) + counters; availableNow "
        "emission hash-checked against the batch-detector oracle",
    ),
    QuerySpec(
        "ks_drift_statistic",
        q_ks_drift,
        _KS_SQL,
        ("stats", "quality", "sketch"),
        doc="Binned two-sample KS between purchase and view value "
        "distributions: 256 fixed bins, windows only over the bounded bin "
        "frame, sup-distance on exact integer cross-products",
    ),
    QuerySpec(
        "kmeans_fixed_point",
        q_kmeans_fixed_point,
        _KMEANS_SQL,
        ("ml", "iterative", "ann", "bench"),
        doc="2-round Lloyd's k-means in integer micro-units: map-side "
        "assignment against collected centroid literals (IVF discipline), "
        "exact floor-mean updates, hash-exact vs the unrolled oracle — "
        "iterative ML made oracle-checkable",
    ),
    QuerySpec(
        "sql_udf_rollup",
        q_sql_udf_rollup,
        _SQL_UDF_SQL,
        ("sql", "spark4", "agg"),
        doc="SQL-defined scalar function (Catalyst-inlined, no Python "
        "boundary) + lateral column aliases + GROUP/ORDER BY ALL; per-row "
        "integer cents before the sum",
    ),
    QuerySpec(
        "gini_revenue_concentration",
        q_gini_revenue,
        _GINI_SQL,
        ("stats", "rank", "scale"),
        doc="Gini coefficient via the rank-sum identity over the scale-safe "
        "global_rank operator (no single-partition sort); decimal products "
        "immune to int64 overflow",
    ),
    QuerySpec(
        "dow_seasonality_lift",
        q_dow_seasonality,
        _DOW_SQL,
        ("stats", "time", "agg"),
        doc="Day-of-week lift per event type — brand-lift algebra on time; "
        "ISO weekday pinned cross-engine (Spark weekday()+1 == DuckDB isodow)",
    ),
    QuerySpec(
        "mapinarrow_vector_norm",
        q_mapinarrow_norm,
        _MAPINARROW_SQL,
        ("arrow", "udf", "ann"),
        doc="Spark 4 DataFrame.mapInArrow RecordBatch pipeline (squared L2 "
        "norms), list-order fold matching DuckDB's list_sum",
    ),
    QuerySpec(
        "applyinarrow_label_stats",
        q_applyinarrow_stats,
        _APPLYINARROW_SQL,
        ("arrow", "udf", "agg"),
        doc="Spark 4 GroupedData.applyInArrow grouped Arrow-table stats, "
        "integer-exact",
    ),
]
