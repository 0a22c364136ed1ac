"""Graph, geospatial, and market-basket analytics.

Engine-charter additions (none exist in the reference — its analytics stop at
grouped rollups, `/root/reference/airflow/config/read_delta.py:114-127`): a
training-data platform routinely needs link-analysis scores for source
weighting, spatial blocking for location dedup, and co-occurrence mining for
curriculum mixing. Every spec here is hash-checkable cross-engine because the
numeric cores are pure integer arithmetic:

* ``pagerank_fixed_point`` — PageRank over the customer↔supplier trade graph
  in **fixed-point integer micro-units**: ranks start at 1 000 000, each step
  is ``150000 + (85 * Σ incoming(rank DIV degree)) DIV 100``. Integer floor
  division is bit-identical in every engine, so a 3-iteration PageRank —
  normally FP-order-dependent and unverifiable — becomes oracle-EXACT. The
  quantization loss (≤ degree ulps per node per step) is the documented cost
  of determinism, the same trade money-in-cents makes.
* ``geo_cell_neighbor_pairs`` — within-radius spatial pairs via grid-cell
  blocking: points bucketed into 1°×1° cells, candidates only from the 3×3
  neighborhood (radius < cell edge ⇒ complete), distance in integer
  milli-degrees² so the band filter never touches libm. The oracle states
  the semantics as the quadratic self-join — two different plans, one answer
  (the skyline pattern).
* ``copurchase_brand_pairs`` — market-basket pair mining (the A-Priori k=2
  step): brands co-purchased within an order. Baskets are bounded (≤ distinct
  brands per order), so the per-basket self-join is linear in baskets — the
  scalable form; unbounded baskets would first take a per-basket top-cap.
* ``benford_digit_profile`` — first-significant-digit distribution of order
  totals vs Benford's law. Digit extraction is string-on-integer-cents
  (never log10), expected shares are inlined literals, so the only doubles
  are ratios of integers — deterministic.
* ``bitwise_funcs`` — the bitwise expression + aggregate surface
  (&, |, xor, ~, shifts, bit_count, bit_and/bit_or/bit_xor aggregates).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.functions.hashing import hash64, hash64_sql
from projet_data_infrastructure_spark.operators.joins import vertex_side
from projet_data_infrastructure_spark.plans._portable import pround, pround_sql
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.session import default_parallelism
from projet_data_infrastructure_spark.sources.readers import read_table

# --------------------------------------------------------------------------
# PageRank in fixed-point integer arithmetic (oracle-exact link analysis)
# --------------------------------------------------------------------------

_PR_ITERS = 3
_PR_UNIT = 1_000_000  # initial rank mass per node, in micro-units


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer↔supplier trade edges as two directed arcs.

    Node ids are packed LONGS (customer k → 2k, supplier k → 2k+1): every
    downstream shuffle, hash join and aggregate keys on 8 bytes instead of
    a varchar — the same shuffle-key discipline the dedup operators follow.
    The display label is reconstructed only for the final top-20 rows.

    Checkpoint discipline: the DISTINCT pair table is ``localCheckpoint``ed
    here (half the edge rows — one arc per undirected edge) and the two
    directed arcs are derived LAZILY from it. Iterative callers re-read the
    in-memory pair blocks and re-apply the projection map-side each round,
    which is cheaper than materializing the doubled union (measured ~8%
    off the whole Bellman-Ford query at sf0.1) — callers must NOT re-
    checkpoint the returned frame."""
    pairs = _trade_pairs(spark, sf_dir)
    cust = (F.col("o_custkey") * 2).cast("long")
    supp = (F.col("l_suppkey") * 2 + 1).cast("long")
    fwd = pairs.select(cust.alias("src"), supp.alias("dst"))
    rev = pairs.select(supp.alias("src"), cust.alias("dst"))
    return fwd.unionByName(rev)


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed DISTINCT (customer, supplier) trade pairs — the one
    O(|E|) materialization every trade-graph spec shares (see
    :func:`_trade_edges` for the half-checkpoint rationale)."""
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    line = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # EAGER checkpoint (r15, reversing the r14 lazy experiment with scale
    # evidence): every caller consumes this frame TWICE IN ITS FIRST JOB
    # (fwd ∪ rev arc projections), and an unmaterialized lazy checkpoint is
    # recomputed per consumer within that job — at sf0.1 that double
    # evaluation is a ~60 MB exchange (A/B wash, why r14 kept lazy), but at
    # the synthetic sf10 rung the pair build crosses the broadcast threshold
    # and the double evaluation shuffles 2 × 1.0 GB (byte-identical stages
    # 36/45 in the bellman stage profile; SCALING_SF10 first measured
    # shuffle α 1.77-1.90 on bfs/bellman from exactly this). Eager pays one
    # extra small job at sf0.1 and halves the pair-build shuffle at scale.
    return (
        orders.join(line, orders.o_orderkey == line.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=True)
    )


def _trade_vertex_bound(spark: SparkSession, sf_dir: str) -> int:
    """Upper bound on the trade graph's |V| for :func:`vertex_side`:
    customers + suppliers, the two tables the node ids are packed from.
    Both counts are parquet-metadata jobs — no scan of the O(|E|) edge
    list. An |E|-count bound crossed the switch at the synthetic sf10 rung
    (240 M arcs vs 1.6 M true nodes) and shuffled the edge list every round
    (SCALING_SF10 first measured shuffle α 1.77-1.90 from exactly this)."""
    return (
        read_table(spark, sf_dir, "customer").count()
        + read_table(spark, sf_dir, "supplier").count()
    )


def _node_label() -> Column:
    """Display label of a packed trade-graph ``node`` id: customer k →
    ``c<k>``, supplier k → ``s<k>`` (inverts the :func:`_trade_edges`
    packing)."""
    return F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.expr("node DIV 2").cast("string"),
    )


def _integer_pagerank(edges: DataFrame, deg: DataFrame, iters: int) -> DataFrame:
    """``iters`` rounds of fixed-point integer PageRank over ``edges``.

    ``deg`` is the lazily ``localCheckpoint``ed (src, degree, seed) vertex
    frame; ``seed`` scales each node's start mass and its 15 % teleport
    (1 everywhere for global PageRank, 0/1 for the personalized walk).
    Returns (node, degree, seed, score) in micro-units: the start score is
    seed·1 000 000 and each step is
    ``seed·150000 + (85 * Σ incoming(score DIV degree)) DIV 100``.

    Plan shape per iteration: the (score DIV degree) emission table — |V|
    rows — joins the edge list via :func:`vertex_side` (broadcast below
    the size switch, keyed SHUFFLE_HASH above, on the exact |V| from
    ``deg.count()``, the job that fills the checkpoint), and the only
    exchange is the destination aggregate, map-side-combined from |E| rows
    down to |V|. The edge list itself is never shuffled. Degree rides
    INSIDE the rank frame, so the emission needs no rank⋈degree join per
    iteration, and the rebuild joins contrib back onto the checkpointed
    ``deg`` directly.
    """
    n_vertices = deg.count()  # exact |V|; this job fills the checkpoint
    ranks = deg.select(
        F.col("src").alias("node"),
        "degree",
        "seed",
        (F.col("seed") * F.lit(_PR_UNIT)).cast("long").alias("score"),
    )
    for _ in range(iters):
        emit = ranks.select("node", F.expr("score DIV degree").alias("c"))
        contrib = (
            edges.join(vertex_side(emit, n_vertices), edges.src == emit.node)
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = deg.join(
            vertex_side(contrib, n_vertices), deg.src == contrib.dst, "left"
        ).select(
            F.col("src").alias("node"),
            "degree",
            "seed",
            (
                F.col("seed") * F.lit(150_000)
                + F.expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) DIV 100")
            )
            .cast("long")
            .alias("score"),
        )
    return ranks


def q_pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 trade-graph nodes by 3-iteration fixed-point PageRank
    (:func:`_integer_pagerank` with seed = 1 for every node).

    The right plan whenever |V| ≪ |E| and the vertex table fits executor
    memory (entity graphs: customers, suppliers, domains, repos); the
    shuffle form is row-identical to the broadcast form
    (``test_graph_shuffle_fallback_matches_broadcast``). All rank
    arithmetic is integer, so the result hash-matches the unrolled-CTE
    DuckDB oracle exactly — no FP summation-order leeway.

    The distinct PAIR table is ``localCheckpoint``ed ONCE inside
    :func:`_trade_edges` (without it every iteration's lineage re-derives
    orders ⋈ lineitem ⋈ distinct from scratch — the 3-iteration plan
    embedded the edge build ~7×); the doubled arc union stays lazy over the
    in-memory pair blocks, halving the checkpoint write volume. The block
    is freed by the ContextCleaner when the frame is collected
    (non-reliable storage: an executor loss fails the job — the same
    documented trade the CC operator makes).
    """
    edges = _trade_edges(spark, sf_dir)
    # deg (|V| rows) is read by every iteration's emission join AND the node
    # list — checkpoint the tiny aggregate once instead of re-scanning the
    # edge list per iteration.
    # Lazy: the |V| count in _integer_pagerank materializes the blocks (r14).
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    ranks = _integer_pagerank(edges, deg.withColumn("seed", F.lit(1)), _PR_ITERS)
    # tie-break on the STRING label (matches the oracle's ORDER BY node)
    return (
        ranks.select(_node_label().alias("node"), F.col("score").alias("pr_score"))
        .orderBy(F.desc("pr_score"), F.asc("node"))
        .limit(20)
    )


def _pr_oracle() -> str:
    head = """
WITH e0 AS (
    SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
    SELECT 'c' || CAST(ck AS VARCHAR) AS src, 's' || CAST(sk AS VARCHAR) AS dst FROM e0
    UNION ALL
    SELECT 's' || CAST(sk AS VARCHAR) AS src, 'c' || CAST(ck AS VARCHAR) AS dst FROM e0
),
deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr_score FROM deg)
"""
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f""",
c{i} AS (
    SELECT e.dst AS node, SUM(r.pr_score // d.degree) AS inc
    FROM edges e JOIN deg d ON e.src = d.src JOIN r{i - 1} r ON e.src = r.node
    GROUP BY e.dst
),
r{i} AS (
    SELECT n.node,
           CAST(150000 + (85 * COALESCE(c.inc, 0)) // 100 AS BIGINT) AS pr_score
    FROM (SELECT src AS node FROM deg) n LEFT JOIN c{i} c ON n.node = c.node
)"""
        )
    return (
        head
        + "".join(steps)
        + f"\nSELECT node, pr_score FROM r{_PR_ITERS} ORDER BY pr_score DESC, node LIMIT 20"
    )


_PAGERANK_SQL = _pr_oracle()


# --------------------------------------------------------------------------
# Triangle counting (degree-ordered node-iterator + Doulion sparsification)
# --------------------------------------------------------------------------

_TRI_KEEP_MOD = 10  # Doulion p = 1/10 edge sampling


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the (sparsified) supplier co-service graph.

    Graph: suppliers are linked when they serve a common customer. The raw
    co-service graph is near-complete (every big supplier meets every
    other), so the spec applies Doulion (Tsourakakis et al., KDD 2009):
    keep each edge iff a deterministic hash ∈ [0, p·M) — here p = 1/10 —
    count triangles EXACTLY on the sparsified graph, and report t/p³ as the
    unbiased estimate of the full count. The hash sparsifier makes the
    whole pipeline reproducible in DuckDB, so even the "sampled" algorithm
    is hash-checked, not tolerance-checked.

    Count plan (Spark side): degree-ordered orientation — every edge points
    from the (degree, id)-smaller endpoint to the larger, so each triangle
    is counted exactly once and per-vertex wedge work is bounded by
    O(arboricity · deg) instead of O(deg²) on hubs (the Schank/Wagner
    node-iterator refinement; what GraphFrames' triangleCount does),
    evaluated as per-edge out-neighbor-array intersections (no wedge
    materialization — see the r14 note below). The oracle counts the same
    triangles with the simpler a<b<c id-ordered triple join — two
    different orientations, one count.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    line = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    serves = orders.join(line, orders.o_orderkey == line.l_orderkey).select(
        "o_custkey", "l_suppkey"
    )
    pair_key = F.concat(
        F.col("a").cast("string"), F.lit(":"), F.col("b").cast("string")
    )
    # r14 (guide §2.4): pair enumeration via per-customer sorted supplier
    # arrays + a map-side ordered-pair explode — the `_supplier_edges`
    # shape — instead of the serves⋈serves self-join. Same (a < b) pair
    # multiset, but the enumeration costs ONE groupBy shuffle of `serves`
    # rather than a repartition + two-sided sort-merge self-join, and the
    # Σ_ck d²/2 explosion stays inside whole-stage codegen. Round-robin
    # repartition(32): the array table is tiny, so AQE would coalesce the
    # explosion onto 1-2 tasks (see _supplier_edges). The Doulion keep
    # filter still runs BEFORE the pair distinct (commutes with dedup), so
    # the only full-size shuffle sees 1/10th of the enumerated pairs.
    byck = serves.groupBy("o_custkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("sks")
    ).repartition(default_parallelism())
    raw_pairs = byck.select(
        F.explode(
            F.expr(
                "flatten(transform(sks, (x, i) ->"
                " transform(slice(sks, i + 2, size(sks)), y ->"
                " struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    edges = (
        raw_pairs
        .filter(F.pmod(hash64(pair_key, seed=77), F.lit(_TRI_KEEP_MOD)) == 0)
        .distinct()
        .localCheckpoint()
    )
    # degree-ordered orientation: lo -> hi by (degree, id)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ranked = edges.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # r14 (guide §2.4): count triangles by per-edge adjacency-array
    # intersection (the `q_clustering_coefficient` plan) instead of
    # materializing the wedge table and joining it against the closing
    # edges — on this dense graph the wedge table is ~Σ outdeg² ≈ 25× the
    # edge count and its shuffle dominated. In the (degree, id)-acyclic
    # orientation every triangle has one source lo, one middle x, one sink
    # y, so it is found exactly once at its (lo, x) edge as
    # y ∈ N⁺(lo) ∩ N⁺(x) — the same once-per-triangle invariant the wedge
    # join enforced, now evaluated inside whole-stage codegen with no wedge
    # materialization. repartition(32, "lo") before the checkpoint: the
    # frame is ~1 MB so AQE would coalesce the intersection stage onto 1-2
    # tasks; 32-way on the probe key also pre-clusters the adj group-by.
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).repartition(default_parallelism(), "lo").localCheckpoint()
    adj = oriented.groupBy("lo").agg(F.sort_array(F.collect_list("hi")).alias("nbrs"))
    tri = (
        oriented.join(
            adj.select(F.col("lo").alias("_al"), F.col("nbrs").alias("nbrs_lo")),
            F.col("lo") == F.col("_al"),
        )
        .join(
            adj.select(F.col("lo").alias("_ah"), F.col("nbrs").alias("nbrs_hi")),
            F.col("hi") == F.col("_ah"),
            "left",
        )
        .select(
            F.size(
                F.array_intersect(
                    F.col("nbrs_lo"), F.coalesce(F.col("nbrs_hi"), F.array())
                )
            ).alias("t")
        )
        .agg(F.coalesce(F.sum("t"), F.lit(0)).alias("tri"))
        .collect()[0][0]
    )
    n_edges = edges.count()
    # multiply by (1/p)^3 rather than divide by p^3: 0.1 is not a binary
    # double, and t/0.001 lands one ulp off t*1000 — the oracle multiplies
    est = float(tri) * float(_TRI_KEEP_MOD) ** 3
    return spark.createDataFrame(
        [(int(n_edges), int(tri), est)],
        "n_edges_sampled long, n_triangles long, doulion_estimate double",
    )


_TRIANGLE_SQL = f"""
WITH serves AS (
    SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
    SELECT DISTINCT a.sk AS a, b.sk AS b
    FROM serves a JOIN serves b ON a.ck = b.ck AND a.sk < b.sk
),
kept AS (
    SELECT a, b FROM edges
    WHERE ({hash64_sql("CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)", seed=77)})
          % {_TRI_KEEP_MOD} = 0
),
tri AS (
    SELECT count(*) AS t
    FROM kept e1
    JOIN kept e2 ON e1.b = e2.a
    JOIN kept e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT CAST((SELECT count(*) FROM kept) AS BIGINT) AS n_edges_sampled,
       CAST(t AS BIGINT) AS n_triangles,
       CAST(t AS DOUBLE) * {float(_TRI_KEEP_MOD) ** 3!r} AS doulion_estimate
FROM tri
"""


# --------------------------------------------------------------------------
# Grid-cell blocked spatial neighbor pairs (integer milli-degrees)
# --------------------------------------------------------------------------

_GEO_BOX_MILLI = 10_000  # synthetic coordinates span a 10°×10° box
_GEO_CELL_MILLI = 1_000  # 1° cells
_GEO_RADIUS_MILLI = 500  # pair radius — MUST stay < cell edge for 3×3 completeness


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    return cust.select(
        "c_custkey",
        F.pmod(hash64(F.col("c_custkey"), seed=101), F.lit(_GEO_BOX_MILLI)).alias("lat_m"),
        F.pmod(hash64(F.col("c_custkey"), seed=102), F.lit(_GEO_BOX_MILLI)).alias("lon_m"),
    )


def q_geo_cell_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer pairs within 0.5° (planar milli-degree metric), grid-blocked.

    Candidate generation is an EQUI-join on neighboring cell ids (left side
    exploded ×9), never an all-pairs product: at 100 TB the shuffle key is
    the cell id and each task sees one cell neighborhood. Because the radius
    is strictly less than the cell edge, the 3×3 neighborhood is provably
    complete, and each unordered pair surfaces exactly once (the matching
    offset is unique). The distance test is integer arithmetic; only the
    display column takes a sqrt (IEEE-exact, correctly rounded) — no libm
    trig anywhere, which is what makes the spec hash-checkable. Production
    haversine would swap the metric expression only; the blocking algebra —
    the part that matters at scale — is identical.
    """
    pts = _geo_points(spark, sf_dir)
    cx = F.expr(f"lat_m DIV {_GEO_CELL_MILLI}")
    cy = F.expr(f"lon_m DIV {_GEO_CELL_MILLI}")
    right = pts.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("lat_m").alias("lat_b"),
        F.col("lon_m").alias("lon_b"),
        cx.alias("cbx"),
        cy.alias("cby"),
    )
    offsets = F.expr(
        "explode(array(-1, 0, 1)) "
    )
    left = (
        pts.select(
            F.col("c_custkey").alias("cust_a"),
            F.col("lat_m").alias("lat_a"),
            F.col("lon_m").alias("lon_a"),
            cx.alias("cax"),
            cy.alias("cay"),
        )
        .withColumn("dx", offsets)
        .withColumn("dy", F.expr("explode(array(-1, 0, 1))"))
    )
    d2 = (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b")) + (
        F.col("lon_a") - F.col("lon_b")
    ) * (F.col("lon_a") - F.col("lon_b"))
    out = (
        left.join(
            right,
            (left.cax + left.dx == right.cbx) & (left.cay + left.dy == right.cby),
        )
        .filter(F.col("cust_a") < F.col("cust_b"))
        .withColumn("d2", d2)
        .filter(F.col("d2") <= F.lit(_GEO_RADIUS_MILLI * _GEO_RADIUS_MILLI))
    )
    return out.select(
        "cust_a",
        "cust_b",
        F.col("d2").cast("long").alias("d2"),
        pround(F.sqrt(F.col("d2").cast("double")), 3).alias("dist_milli"),
    )


_GEO_SQL = f"""
WITH pts AS (
    SELECT c_custkey,
           ({hash64_sql('c_custkey', seed=101)}) % {_GEO_BOX_MILLI} AS lat_m,
           ({hash64_sql('c_custkey', seed=102)}) % {_GEO_BOX_MILLI} AS lon_m
    FROM customer
)
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       CAST((a.lat_m - b.lat_m) * (a.lat_m - b.lat_m)
          + (a.lon_m - b.lon_m) * (a.lon_m - b.lon_m) AS BIGINT) AS d2,
       {pround_sql('sqrt(CAST((a.lat_m - b.lat_m) * (a.lat_m - b.lat_m) + (a.lon_m - b.lon_m) * (a.lon_m - b.lon_m) AS DOUBLE))', 3)} AS dist_milli
FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
WHERE (a.lat_m - b.lat_m) * (a.lat_m - b.lat_m)
    + (a.lon_m - b.lon_m) * (a.lon_m - b.lon_m) <= {_GEO_RADIUS_MILLI * _GEO_RADIUS_MILLI}
"""


# --------------------------------------------------------------------------
# Grid-based density clustering (the GDBSCAN / GriDBSCAN family shape)
# --------------------------------------------------------------------------

_DBSCAN_CELL_MILLI = 500  # 0.5° density cells
_DBSCAN_MIN_PTS = 4  # a cell is dense when it holds >= this many points


def q_geo_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based spatial clusters via the grid decomposition: count
    points per 0.5° cell (one hash aggregate — the only stage that touches
    point rows), keep dense cells (≥ minPts), link 8-adjacent dense cells,
    and label components with the SAME distributed CC operator the dedup
    family uses (`operators/dedup.py:duplicate_clusters` — min-label
    propagation with path halving and per-round lineage cuts). This is the
    grid variant of DBSCAN (GDBSCAN/GriDBSCAN): clusters of dense cells,
    noise = sparse cells, no per-point pair distances at all — at 100 TB
    the CC input is the DENSE-CELL graph, orders of magnitude smaller than
    the point set. Output: one row per cluster with cell and point totals.
    Isolated dense cells (no dense neighbor) never enter the edge list, so
    their labels backfill as their own cell id — same convention as the CC
    operator's singleton handling."""
    from projet_data_infrastructure_spark.operators.dedup import duplicate_clusters

    pts = _geo_points(spark, sf_dir)
    cells = (
        pts.groupBy(
            F.expr(f"lat_m DIV {_DBSCAN_CELL_MILLI}").alias("cx"),
            F.expr(f"lon_m DIV {_DBSCAN_CELL_MILLI}").alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("n_pts"))
        .filter(F.col("n_pts") >= _DBSCAN_MIN_PTS)
        .withColumn("cell_id", (F.col("cx") * 100 + F.col("cy")).cast("long"))
    )
    right = cells.select(
        F.col("cell_id").alias("cell_b"),
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
    )
    pairs = (
        cells.withColumn("dx", F.expr("explode(array(-1, 0, 1))"))
        .withColumn("dy", F.expr("explode(array(-1, 0, 1))"))
        .join(
            right,
            (F.col("cx") + F.col("dx") == F.col("bx"))
            & (F.col("cy") + F.col("dy") == F.col("by"))
            & (F.col("cell_id") < F.col("cell_b")),
        )
        .select(F.col("cell_id").alias("a"), F.col("cell_b").alias("b"))
    )
    comp = duplicate_clusters(pairs, a_col="a", b_col="b")
    labeled = cells.join(comp, cells.cell_id == comp.doc_id, "left").select(
        "cell_id",
        "n_pts",
        F.coalesce(F.col("component"), F.col("cell_id")).alias("cluster"),
    )
    return (
        labeled.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_pts").alias("n_points"),
        )
        .orderBy("cluster")
    )


_DBSCAN_SQL = f"""
WITH RECURSIVE pts AS (
    SELECT c_custkey,
           ({hash64_sql('c_custkey', seed=101)}) % {_GEO_BOX_MILLI} AS lat_m,
           ({hash64_sql('c_custkey', seed=102)}) % {_GEO_BOX_MILLI} AS lon_m
    FROM customer
),
cells AS (
    SELECT lat_m // {_DBSCAN_CELL_MILLI} AS cx, lon_m // {_DBSCAN_CELL_MILLI} AS cy,
           count(*) AS n_pts
    FROM pts GROUP BY 1, 2 HAVING count(*) >= {_DBSCAN_MIN_PTS}
),
ids AS (
    SELECT CAST(cx * 100 + cy AS BIGINT) AS cell_id, cx, cy, n_pts FROM cells
),
pairs AS (
    SELECT a.cell_id AS a, b.cell_id AS b
    FROM ids a JOIN ids b
      ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
     AND a.cell_id < b.cell_id
),
edges AS (
    SELECT a AS src, b AS dst FROM pairs
    UNION
    SELECT b AS src, a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
SELECT COALESCE(c.component, i.cell_id) AS cluster,
       count(*) AS n_cells,
       CAST(sum(i.n_pts) AS BIGINT) AS n_points
FROM ids i LEFT JOIN comp c ON i.cell_id = c.node
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------------
# Market-basket pair mining: brands co-purchased within an order
# --------------------------------------------------------------------------


def q_copurchase_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 brand pairs by co-purchase support (A-Priori candidate step).

    Baskets collapse to distinct (order, brand) first — the per-basket item
    set is bounded by the brand catalog (≤ a few dozen), so the within-basket
    self-join emits O(k²) pairs per basket = linear in baskets overall. The
    pair aggregate shuffles on the (brand_a, brand_b) key (tiny domain → the
    hash aggregate is map-side-combined to almost nothing), and the final
    top-20 is a TakeOrderedAndProject. The brand dimension reaches baskets
    via a broadcast join (part is a dimension table).
    """
    line = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # r14 (guide §2.4): per-basket sorted brand arrays + map-side ordered
    # pair explode replace the within-basket self-join — same (a < b) pair
    # multiset, one groupBy shuffle instead of two join-side shuffles, and
    # no pair row ever crosses an exchange (the (brand_a, brand_b) aggregate
    # is map-side-combined to the tiny brand-pair domain before shuffling).
    baskets = (
        line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        .repartition(default_parallelism())
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) ->"
                    " transform(slice(bs, i + 2, size(bs)), y ->"
                    " struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return pairs.orderBy(F.desc("n_orders"), "brand_a", "brand_b").limit(20)


def q_brand_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule LIFT over the co-purchase pairs: lift(A,B) =
    P(A∧B) / (P(A)·P(B)) = (n_ab · n_baskets) / (n_a · n_b) — kept as ONE
    division of exact integer products so both engines round identically.
    The A-Priori counts come from the same bounded-basket self-join as
    ``copurchase_brand_pairs``; the per-brand supports and the basket
    total broadcast back in (tiny dims). Top-15 pairs by lift with full
    deterministic tie-break. Lift > 1 = complementary brands — the signal
    a curriculum/mixture designer reads the same way a merchandiser does."""
    line = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # r14 (guide §2.4): per-basket sorted brand arrays — ONE groupBy shuffle
    # — feed the support counts (explode), the basket total (count: also the
    # action that fills the lazy checkpoint), and the map-side ordered pair
    # explode; the within-basket self-join and the separate distinct-count
    # job are gone. Same counts: the arrays ARE the distinct (order, brand)
    # rows.
    baskets = (
        line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        .repartition(default_parallelism())
        .localCheckpoint(eager=False)
    )
    n_baskets = baskets.count()
    support = (
        baskets.select(F.explode("bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) ->"
                    " transform(slice(bs, i + 2, size(bs)), y ->"
                    " struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = support.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a"))
    sb = support.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b"))
    lift = (F.col("n_ab") * F.lit(int(n_baskets))).cast("double") / (
        F.col("n_a") * F.col("n_b")
    ).cast("double")
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .select(
            "brand_a", "brand_b", "n_ab", "n_a", "n_b",
            pround(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(15)
    )


_BRAND_LIFT_SQL = f"""
WITH baskets AS (
    SELECT DISTINCT l.l_orderkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM baskets),
support AS (SELECT p_brand, count(*) AS n FROM baskets GROUP BY p_brand),
pairs AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_ab
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
)
SELECT p.brand_a, p.brand_b, p.n_ab, sa.n AS n_a, sb.n AS n_b,
       {pround_sql('CAST(p.n_ab * t.n_baskets AS DOUBLE) / CAST(sa.n * sb.n AS DOUBLE)', 6)} AS lift
FROM pairs p
JOIN support sa ON p.brand_a = sa.p_brand
JOIN support sb ON p.brand_b = sb.p_brand
CROSS JOIN tot t
ORDER BY lift DESC, brand_a, brand_b
LIMIT 15
"""


_COPURCHASE_SQL = """
WITH baskets AS (
    SELECT DISTINCT l.l_orderkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_orders
FROM baskets a JOIN baskets b
  ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
GROUP BY 1, 2
ORDER BY n_orders DESC, brand_a, brand_b
LIMIT 20
"""


# --------------------------------------------------------------------------
# Benford first-digit profile (data-quality forensics)
# --------------------------------------------------------------------------

#: Expected Benford shares log10(1 + 1/d), precomputed so neither engine
#: evaluates a logarithm at query time (libm results are not portable).
_BENFORD_EXPECTED = {d: round(math.log10(1.0 + 1.0 / d), 6) for d in range(1, 10)}


def q_benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford.

    The digit comes from the decimal string of integer cents (never a
    log10), the observed share is a ratio of two integers, and the expected
    share is an inlined literal — every number is deterministic. One hash
    aggregate over a 9-value key; the global total is a window over 9 rows.
    Flags digits whose observed share deviates from Benford by > 0.02
    absolute (order totals are sums of uniform-ish draws, so real testdata
    deviates — the flag column is the interesting output, and it is exact).
    """
    orders = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    byd = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql.window import Window

    total = F.sum("n").over(Window.partitionBy())
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _BENFORD_EXPECTED.items() for x in kv]
        ),
        F.col("digit"),
    )
    share = F.col("n").cast("double") / total.cast("double")
    return (
        byd.select(
            "digit",
            "n",
            pround(share, 6).alias("observed"),
            expected.alias("expected"),
            (F.abs(share - expected) > 0.02).alias("deviates"),
        )
        .orderBy("digit")
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN CAST({v!r} AS DOUBLE)" for d, v in _BENFORD_EXPECTED.items()
)

_BENFORD_SQL = f"""
WITH byd AS (
    SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
           count(*) AS n
    FROM orders GROUP BY 1
)
SELECT digit, n,
       {pround_sql('CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)', 6)} AS observed,
       CASE digit {_BENFORD_CASE} END AS expected,
       abs(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
           - CASE digit {_BENFORD_CASE} END) > 0.02 AS deviates
FROM byd
ORDER BY digit
"""


# --------------------------------------------------------------------------
# Bitwise expression + aggregate surface
# --------------------------------------------------------------------------


def q_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface: per-customer bit_and/bit_or/bit_xor aggregates over
    order-key low bits, plus scalar &, |, xor, ~, shifts, and popcount on the
    group key. All integer ops — exact everywhere, single hash aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    low = F.col("o_orderkey").bitwiseAND(F.lit(0xFFFF))
    agg = (
        orders.select(F.col("o_custkey").alias("custkey"), low.alias("low"))
        .groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_and(low)").alias("and_bits"),
            F.expr("bit_or(low)").alias("or_bits"),
            F.expr("bit_xor(low)").alias("xor_bits"),
        )
    )
    return agg.select(
        "custkey",
        "n",
        "and_bits",
        "or_bits",
        "xor_bits",
        F.col("custkey").bitwiseAND(F.lit(255)).alias("key_and"),
        F.col("custkey").bitwiseOR(F.lit(4096)).alias("key_or"),
        F.col("custkey").bitwiseXOR(F.lit(0x5A5A)).alias("key_xor"),
        F.bitwise_not(F.col("custkey")).alias("key_not"),
        F.shiftleft(F.col("custkey"), 3).alias("key_shl"),
        F.shiftright(F.col("custkey"), 2).alias("key_shr"),
        F.bit_count(F.col("custkey")).alias("key_popcount"),
    ).orderBy("custkey")


_BITWISE_SQL = """
WITH agg AS (
    SELECT o_custkey AS custkey, count(*) AS n,
           bit_and(o_orderkey & 65535) AS and_bits,
           bit_or(o_orderkey & 65535) AS or_bits,
           bit_xor(o_orderkey & 65535) AS xor_bits
    FROM orders GROUP BY o_custkey
)
SELECT custkey, n, and_bits, or_bits, xor_bits,
       custkey & 255 AS key_and,
       custkey | 4096 AS key_or,
       xor(custkey, 23130) AS key_xor,
       ~custkey AS key_not,
       custkey << 3 AS key_shl,
       custkey >> 2 AS key_shr,
       CAST(bit_count(custkey) AS INTEGER) AS key_popcount
FROM agg
ORDER BY custkey
"""


# --------------------------------------------------------------------------
# A-Priori frequent triples (k=3 with candidate pruning)
# --------------------------------------------------------------------------


def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand TRIPLES by A-Priori (Agrawal & Srikant 1994, public)
    — the k=3 level with the real candidate-generation prune:
    C₃ = {abc : ab, ac, bc all frequent}, built on the tiny F₂ frame, and
    basket pair-extensions are semi-joined against F₂ BEFORE the third
    item attaches and against C₃ BEFORE the support aggregate — the prune
    is what keeps level-3 linear when baskets are wide.

    minsup is data-derived (max(2, |baskets| DIV 300) — pitched at the mean
    triple support for this catalog, so the cut is SELECTIVE at every SF:
    ~half the possible triples survive, the rest are pruned) and all
    support arithmetic is integer counts.

    Scale shape: baskets are DISTINCT (order, brand) — one corpus shuffle;
    per-basket pair generation is bounded by the basket width; F₂/C₃ are
    item-vocabulary-bounded and broadcast; the only data-sized aggregates
    are map-side-combined counts."""
    line = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # r14 (guide §2.4): baskets as per-order SORTED DISTINCT brand arrays —
    # ONE groupBy shuffle — instead of the row-form basket table that the
    # old plan self-joined on oid for pair generation and joined AGAIN on
    # oid to attach the third item. Pair enumeration and the third-item
    # extension are now both map-side array operations: each generated
    # (a, b) pair CARRIES the basket's strictly-greater remainder (`rest`),
    # so after the broadcast-semi F₂ prune the surviving pairs explode
    # their own rest — identical triple multiset (rest = {c ∈ basket :
    # c > b} because the array is sorted+distinct), zero oid-keyed shuffle
    # joins. Round-robin repartition(32): the array table is tiny, so AQE
    # would coalesce the Σ d²/2 pair explosion onto 1-2 tasks. Lazy
    # checkpoint: the n_orders count materializes the blocks in-job.
    baskets = (
        line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("oid"), F.col("p_brand").alias("item"))
        .groupBy("oid")
        .agg(F.sort_array(F.collect_set("item")).alias("items"))
        .repartition(default_parallelism())
        .localCheckpoint(eager=False)
    )
    n_orders = baskets.count()  # scalar for minsup; fills the checkpoint
    minsup = max(2, n_orders // 300)
    bpairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)), (y, j) ->"
                " struct(x AS a, y AS b,"
                " slice(items, i + j + 3, size(items)) AS rest))))"
            )
        ).alias("p")
    ).select("p.a", "p.b", "p.rest")
    f2 = (
        bpairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= minsup)
        .select("a", "b")
        .localCheckpoint()  # tiny; read by C3 gen (×3) and the prune
    )
    # C3 candidate generation entirely on the vocabulary-bounded F2 frame
    c3 = (
        f2.join(f2.select(F.col("a").alias("a"), F.col("b").alias("c")), "a")
        .filter(F.col("c") > F.col("b"))
        .join(
            f2.select(F.col("a").alias("b"), F.col("b").alias("c")),
            ["b", "c"],
            "left_semi",
        )
    )
    triples = (
        bpairs.join(F.broadcast(f2), ["a", "b"], "left_semi")  # A-Priori prune
        .select("a", "b", F.explode("rest").alias("c"))
        .join(F.broadcast(c3), ["a", "b", "c"], "left_semi")
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= minsup)
    )
    return (
        triples.select(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            F.col("c").alias("brand_c"),
            "support",
        )
        .orderBy(F.desc("support"), "brand_a", "brand_b", "brand_c")
    )


_TRIPLES_SQL = """
WITH bi AS (
    SELECT DISTINCT l.l_orderkey AS oid, p.p_brand AS item
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
ms AS (SELECT greatest(2, count(DISTINCT oid) // 300) AS minsup FROM bi),
bpairs AS (
    SELECT x.oid, x.item AS a, y.item AS b
    FROM bi x JOIN bi y ON x.oid = y.oid AND x.item < y.item
),
f2 AS (
    SELECT a, b FROM bpairs, ms GROUP BY a, b, minsup HAVING count(*) >= minsup
),
c3 AS (
    SELECT p.a, p.b, q.b AS c
    FROM f2 p JOIN f2 q ON p.a = q.a AND q.b > p.b
    WHERE EXISTS (SELECT 1 FROM f2 r WHERE r.a = p.b AND r.b = q.b)
),
triples AS (
    SELECT bp.a, bp.b, z.item AS c
    FROM bpairs bp
    JOIN f2 ON bp.a = f2.a AND bp.b = f2.b
    JOIN bi z ON z.oid = bp.oid AND z.item > bp.b
    WHERE EXISTS (SELECT 1 FROM c3 WHERE c3.a = bp.a AND c3.b = bp.b AND c3.c = z.item)
)
SELECT a AS brand_a, b AS brand_b, c AS brand_c, count(*) AS support
FROM triples, ms
GROUP BY a, b, c, minsup
HAVING count(*) >= minsup
ORDER BY support DESC, brand_a, brand_b, brand_c
"""


# --------------------------------------------------------------------------
# k-core decomposition (bounded peel rounds)
# --------------------------------------------------------------------------

_KCORE_K = 40
_KCORE_ROUNDS = 3


def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round survivor telemetry of a 3-round k-core peel (k=40) on the
    trade graph — k sits inside the customer-degree range, so the peel
    genuinely CASCADES on the test corpus (at sf0.001 the graph empties:
    low-degree customers fall first, the suppliers they stranded follow)
    instead of fixing immediately — the standard coreness sieve for graph densification /
    spam-node pruning, made hash-exact by fixing the round count (the CC
    modules' bounded-round discipline; a production peel would iterate to
    the fixpoint with periodic re-checkpoints).

    Plan shape per round: one map-side-combined degree aggregate over the
    current edge set, then two semi-joins (src∈keep, dst∈keep) against the
    |V|-bounded survivor frame via :func:`vertex_side` sized by
    :func:`_trade_vertex_bound`. The edge list derives
    lazily from the checkpointed pair table and is never shuffled. Output
    is one row per round: survivor count + order-free node-id checksum.
    """
    edges = _trade_edges(spark, sf_dir)
    n_vertex_bound = _trade_vertex_bound(spark, sf_dir)
    outs = []
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= _KCORE_K).select(F.col("src").alias("node"))
        outs.append(
            keep.agg(
                F.lit(r).alias("round"),
                F.count(F.lit(1)).alias("n_nodes"),
                F.coalesce(F.sum("node"), F.lit(0).cast("long")).alias("node_checksum"),
            )
        )
        if r == _KCORE_ROUNDS:
            break  # the post-final-round edge set is never read
        ka = keep.select(F.col("node").alias("ka"))
        kb = keep.select(F.col("node").alias("kb"))
        # ``localCheckpoint`` the survivor edge set each round (VERDICT r5
        # item 3): without it every round's degree aggregate re-derives ALL
        # prior rounds' semi-joins from the pair table — O(R²) recompute,
        # visible as repeated subtrees in the kcore plan. With it each round
        # reads the previous round's materialized (and shrinking) survivor
        # blocks, the same bounded-lineage discipline PageRank/Bellman-Ford
        # apply to the edge list. Eager: the peel is inherently sequential.
        edges = (
            edges.join(vertex_side(ka, n_vertex_bound), edges.src == ka.ka, "left_semi")
            .join(vertex_side(kb, n_vertex_bound), F.col("dst") == kb.kb, "left_semi")
            .localCheckpoint(eager=True)
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("round")


def _kcore_oracle() -> str:
    head = """
WITH e0 AS (
    SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
g0 AS (
    SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM e0
    UNION ALL
    SELECT sk * 2 + 1 AS src, ck * 2 AS dst FROM e0
)"""
    steps = []
    for r in range(1, _KCORE_ROUNDS + 1):
        steps.append(
            f""",
k{r} AS (
    SELECT src AS node FROM g{r - 1} GROUP BY src HAVING count(*) >= {_KCORE_K}
),
g{r} AS (
    SELECT g.src, g.dst FROM g{r - 1} g
    JOIN k{r} a ON g.src = a.node
    JOIN k{r} b ON g.dst = b.node
)"""
        )
    rounds = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, count(*) AS n_nodes,"
        f" CAST(COALESCE(sum(node), 0) AS BIGINT) AS node_checksum FROM k{r}"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return head + "".join(steps) + f"\nSELECT * FROM ({rounds}) ORDER BY round"


# --------------------------------------------------------------------------
# HITS hubs & authorities (integer max-normalized fixed point)
# --------------------------------------------------------------------------

_HITS_ITERS = 2
_HITS_UNIT = 1_000_000


def q_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by HITS authority on the directed customer→supplier
    purchase graph (Kleinberg 1999, public), 2 mutual-reinforcement rounds.

    Determinism: the usual L2 normalization is replaced by integer MAX
    normalization (score·1e6 DIV max) — a monotone rescaling that preserves
    the HITS ranking at each round while keeping every value an exact
    BIGINT, so the iterative fixed point hash-checks against an
    unrolled-CTE oracle (the PageRank treatment, applied to the
    two-frame hub/authority recurrence).

    Plan shape per half-round: the |V|-bounded score frame joins the
    checkpointed arc list via :func:`vertex_side` sized by
    :func:`_trade_vertex_bound` and aggregates map-side-combined onto the other
    side; the max is a 1-row aggregate broadcast back. Arcs are scanned,
    never shuffled. Top-20 is TakeOrderedAndProject."""
    pairs = _trade_pairs(spark, sf_dir)
    arcs = pairs.select(
        (F.col("o_custkey") * 2).cast("long").alias("c"),
        (F.col("l_suppkey") * 2 + 1).cast("long").alias("s"),
    )
    n_vertex_bound = _trade_vertex_bound(spark, sf_dir)
    # h0 = UNIT for every customer → a1 = UNIT · indeg(s)
    auth = arcs.groupBy("s").agg((F.count(F.lit(1)) * F.lit(_HITS_UNIT)).alias("a"))
    for it in range(_HITS_ITERS):
        m_a = auth.agg(F.max("a").alias("m"))
        authn = auth.crossJoin(F.broadcast(m_a)).select(
            "s", F.expr(f"(a * {_HITS_UNIT}) DIV m").alias("an")
        )
        if it == _HITS_ITERS - 1:
            final = authn
            break
        hub = (
            arcs.join(vertex_side(authn, n_vertex_bound), "s")
            .groupBy("c")
            .agg(F.sum("an").alias("h"))
        )
        m_h = hub.agg(F.max("h").alias("m"))
        hubn = hub.crossJoin(F.broadcast(m_h)).select(
            "c", F.expr(f"(h * {_HITS_UNIT}) DIV m").alias("hn")
        )
        auth = (
            arcs.join(vertex_side(hubn, n_vertex_bound), "c")
            .groupBy("s")
            .agg(F.sum("hn").alias("a"))
        )
    label = F.concat(F.lit("s"), F.expr("s DIV 2").cast("string"))
    return (
        final.select(label.alias("node"), F.col("an").alias("authority_micro"))
        .orderBy(F.desc("authority_micro"), F.asc("node"))
        .limit(20)
    )


def _hits_oracle() -> str:
    u = _HITS_UNIT
    return f"""
WITH e0 AS (
    SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
a1 AS (SELECT sk, count(*) * {u} AS a FROM e0 GROUP BY sk),
a1n AS (SELECT sk, (a * {u}) // (SELECT max(a) FROM a1) AS an FROM a1),
h1 AS (
    SELECT e.ck, CAST(sum(a.an) AS BIGINT) AS h
    FROM e0 e JOIN a1n a ON e.sk = a.sk GROUP BY e.ck
),
h1n AS (SELECT ck, (h * {u}) // (SELECT max(h) FROM h1) AS hn FROM h1),
a2 AS (
    SELECT e.sk, CAST(sum(h.hn) AS BIGINT) AS a
    FROM e0 e JOIN h1n h ON e.ck = h.ck GROUP BY e.sk
),
a2n AS (SELECT sk, (a * {u}) // (SELECT max(a) FROM a2) AS an FROM a2)
SELECT 's' || CAST(sk AS VARCHAR) AS node, CAST(an AS BIGINT) AS authority_micro
FROM a2n
ORDER BY authority_micro DESC, node
LIMIT 20
"""


# --------------------------------------------------------------------------
# Adamic-Adar link prediction over the trade graph
# --------------------------------------------------------------------------

#: common-neighbor degree cap: customers with more than this many distinct
#: suppliers are DROPPED as common neighbors. Principled truncation, not a
#: shortcut — AA weights hubs by 1/ln(deg), so a customer connected to
#: hundreds of suppliers contributes ≈0 signal while generating O(deg²)
#: candidate pairs; capping bounds the self-join fan-out at C(25,2)=300
#: pairs per neighbor no matter how skewed the graph gets (the same
#: rare-feature blocking the prefix-filter join uses on the Zipf head).
_AA_DEG_CAP = 25
#: micro-nat half-up rounding bias — same constant/rationale as the
#: learning-module quantizer (_QBIAS there): nudges the boundary off the
#: exact .5 grid so a 1-ulp cross-engine ln() difference can't flip a value.
_AA_QBIAS = 0.50001
_AA_TOPK = 30


def q_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 predicted supplier–supplier links by Adamic-Adar score over
    shared customers (Adamic & Adar 2003): score(s1,s2) = Σ_z 1/ln(deg z)
    over common customer neighbors z — the classic link-prediction
    heuristic, run here to propose supplier substitutions.

    Determinism: 1e6/ln(d) is quantized ONCE per surviving degree value to
    integer micro-units (half-up, biased off the .5 grid), so pair scores
    are order-free integer sums and the ranking is hash-exact.

    Scale shape: one aggregate over the shared checkpointed trade-pair
    table yields each customer's sorted supplier array (degree = array
    size); candidate pairs explode map-side from the array (fan-out ≤
    C(cap, 2) per neighbor, so the work is linear in kept edges, never
    quadratic in the graph — and no pair row ever shuffles); the score
    aggregate is map-side combinable and the top-30 is a TakeOrdered cut.
    """
    pairs = _trade_pairs(spark, sf_dir)
    # r14 (guide §2.4): ONE groupBy of the (distinct) pair table yields both
    # the neighbor degree (= array size) and the sorted supplier array, so
    # the degree weight is a map-side expression and the ordered pair
    # explosion (≤ C(cap, 2) = 300 per surviving neighbor) runs inside
    # whole-stage codegen — the old deg aggregate + broadcast join +
    # customer-keyed SELF-JOIN (two more shuffles of the kept edge list)
    # collapse to this single exchange plus the final (s1, s2) aggregate.
    # Round-robin repartition(32): the array table is tiny, so AQE would
    # coalesce the explosion onto 1-2 tasks (see _supplier_edges).
    byck = (
        pairs.groupBy("o_custkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("sks"))
        .filter((F.size("sks") >= 2) & (F.size("sks") <= _AA_DEG_CAP))
        .select(
            F.floor(
                F.lit(1_000_000.0) / F.log(F.size("sks").cast("double"))
                + F.lit(_AA_QBIAS)
            )
            .cast("long")
            .alias("w"),
            "sks",
        )
        .repartition(default_parallelism())
    )
    return (
        byck.select(
            "w",
            F.explode(
                F.expr(
                    "flatten(transform(sks, (x, i) ->"
                    " transform(slice(sks, i + 2, size(sks)), y ->"
                    " struct(x AS s1, y AS s2))))"
                )
            ).alias("p"),
        )
        .select("p.s1", "p.s2", "w")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_common"), F.sum("w").alias("aa_unats"))
        .orderBy(F.desc("aa_unats"), F.asc("s1"), F.asc("s2"))
        .limit(_AA_TOPK)
    )


_ADAMIC_ADAR_SQL = f"""
WITH pairs AS (
    SELECT DISTINCT o_custkey, l_suppkey
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (SELECT o_custkey, count(*) AS d FROM pairs GROUP BY o_custkey),
degw AS (
    SELECT o_custkey,
           CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE)) + {_AA_QBIAS}) AS BIGINT) AS w
    FROM deg WHERE d BETWEEN 2 AND {_AA_DEG_CAP}
),
kept AS (
    SELECT p.o_custkey, p.l_suppkey, degw.w
    FROM pairs p JOIN degw USING (o_custkey)
)
SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(a.w) AS BIGINT) AS aa_unats
FROM kept a JOIN kept b
  ON a.o_custkey = b.o_custkey AND a.l_suppkey < b.l_suppkey
GROUP BY s1, s2
ORDER BY aa_unats DESC, s1, s2
LIMIT {_AA_TOPK}
"""


# --------------------------------------------------------------------------
# Point-in-polygon containment (integer half-plane test)
# --------------------------------------------------------------------------

#: convex service-area polygon in milli-degrees, counterclockwise — a plan
#: literal, like the kmeans centroids / SQ8 bounds / JL sign matrix
_PIP_POLY: tuple[tuple[int, int], ...] = (
    (2_000, 2_000),
    (8_000, 3_000),
    (9_000, 7_000),
    (5_000, 9_000),
    (1_500, 6_000),
)


def q_geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers inside vs outside a literal convex service-area polygon —
    the spatial-containment primitive (geofencing, service-area rollups)
    the radius/cell specs don't cover.

    The test is the classic convex half-plane check: the point is inside
    iff every edge's 2-D cross product (B−A)×(P−A) is ≥ 0 for the CCW
    vertex order (boundary counts as inside). Coordinates are integer
    milli-degrees, so all five cross products are exact BIGINTs — no
    epsilon, no libm, hash-identical cross-engine.

    Scale shape: the polygon is a plan-time literal and the test one
    map-side boolean expression (whole-stage codegen, zero Exchange before
    the final 2-row aggregate). A polygon-TABLE variant would broadcast
    the vertex list and aggregate min(cross) per (point, polygon) — same
    algebra through a join; the literal form is the hot path."""
    pts = _geo_points(spark, sf_dir)
    n = len(_PIP_POLY)
    crosses = []
    for i in range(n):
        ax, ay = _PIP_POLY[i]
        bx, by = _PIP_POLY[(i + 1) % n]
        crosses.append(
            f"(({bx - ax}) * (lon_m - {ay}) - ({by - ay}) * (lat_m - {ax})) >= 0"
        )
    inside = F.expr(" AND ".join(crosses))
    return (
        pts.select(inside.alias("inside"), "c_custkey")
        .groupBy("inside")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("c_custkey").alias("key_checksum"),
        )
        .orderBy("inside")
    )


def _pip_sql() -> str:
    n = len(_PIP_POLY)
    crosses = []
    for i in range(n):
        ax, ay = _PIP_POLY[i]
        bx, by = _PIP_POLY[(i + 1) % n]
        crosses.append(
            f"(({bx - ax}) * (lon_m - {ay}) - ({by - ay}) * (lat_m - {ax})) >= 0"
        )
    test = " AND ".join(crosses)
    return f"""
WITH pts AS (
    SELECT c_custkey,
           {hash64_sql('c_custkey', seed=101)} % {_GEO_BOX_MILLI} AS lat_m,
           {hash64_sql('c_custkey', seed=102)} % {_GEO_BOX_MILLI} AS lon_m
    FROM customer
)
SELECT ({test}) AS inside,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(c_custkey) AS BIGINT) AS key_checksum
FROM pts
GROUP BY inside
ORDER BY inside
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "pagerank_fixed_point",
        q_pagerank_fixed_point,
        _PAGERANK_SQL,
        ("graph", "iterative", "bench"),
        doc="3-iteration PageRank on the trade graph in integer micro-units — "
        "floor-division fixed point makes an iterative FP algorithm oracle-exact",
    ),
    QuerySpec(
        "triangle_count_suppliers",
        q_triangle_count,
        _TRIANGLE_SQL,
        ("graph",),
        doc="Doulion-sparsified triangle count on the supplier co-service "
        "graph: deterministic hash edge sampling (p=1/10), degree-ordered "
        "node-iterator exact count, t/p^3 unbiased estimate — all hash-checked",
    ),
    QuerySpec(
        "geo_cell_neighbor_pairs",
        q_geo_cell_neighbor_pairs,
        _GEO_SQL,
        ("geo", "join", "dedup", "bench"),
        doc="Grid-cell blocked within-radius spatial pairs; oracle is the "
        "quadratic self-join semantics",
    ),
    QuerySpec(
        "geo_grid_dbscan",
        q_geo_grid_dbscan,
        _DBSCAN_SQL,
        ("geo", "graph", "clustering"),
        doc="Grid-based density clustering (GDBSCAN shape): dense 0.5-degree "
        "cells linked by 8-adjacency, labeled by the shared distributed CC "
        "operator; recursive-CTE oracle",
    ),
    QuerySpec(
        "copurchase_brand_pairs",
        q_copurchase_brand_pairs,
        _COPURCHASE_SQL,
        ("basket", "join", "agg"),
        doc="A-Priori pair support over per-order brand baskets, top-20",
    ),
    QuerySpec(
        "brand_affinity_lift",
        q_brand_affinity_lift,
        _BRAND_LIFT_SQL,
        ("basket", "stats"),
        doc="Association-rule lift over co-purchase pairs: one division of "
        "exact integer products, top-15 with deterministic tie-break",
    ),
    QuerySpec(
        "benford_digit_profile",
        q_benford_digit_profile,
        _BENFORD_SQL,
        ("quality", "stats"),
        doc="Benford first-digit forensics over integer cents, literal expectations",
    ),
    QuerySpec(
        "bitwise_funcs",
        q_bitwise_funcs,
        _BITWISE_SQL,
        ("scalar", "agg"),
        doc="Bitwise expression and aggregate surface, integer-exact",
    ),
    QuerySpec(
        "frequent_triples_apriori",
        q_frequent_triples,
        _TRIPLES_SQL,
        ("basket", "join"),
        doc="A-Priori level-3: C3 candidate generation on the F2 frame, "
        "double semi-join prune before the support aggregate, data-derived "
        "minsup — integer-exact",
    ),
    QuerySpec(
        "kcore_decomposition",
        q_kcore_decomposition,
        _kcore_oracle(),
        ("graph", "iterative", "bench"),
        doc="3-round k-core peel (k=3): per-round degree aggregate + two "
        "semi-joins vs the survivor frame; per-round count + checksum "
        "telemetry, hash-exact vs unrolled CTEs",
    ),
    QuerySpec(
        "hits_authorities",
        q_hits_authorities,
        _hits_oracle(),
        ("graph", "iterative"),
        doc="HITS (Kleinberg) authorities, 2 rounds, integer MAX "
        "normalization — rank-preserving, hash-exact iterative link analysis",
    ),
    QuerySpec(
        "geo_point_in_polygon",
        q_geo_point_in_polygon,
        _pip_sql(),
        ("geo",),
        doc="Convex point-in-polygon containment: literal polygon, exact "
        "BIGINT cross products, map-side test with zero pre-agg Exchange",
    ),
    QuerySpec(
        "adamic_adar_links",
        q_adamic_adar_links,
        _ADAMIC_ADAR_SQL,
        ("graph", "join", "bench"),
        doc="Adamic-Adar supplier link prediction via shared low-degree "
        "customers: micro-nat 1/ln(deg) weights, degree-capped equi self-join "
        "(fan-out bounded), top-30",
    ),
]


# --------------------------------------------------------------------------
# Supplier co-service graph statistics (consolidated from the round-6
# build module, round 11: clustering coefficient + degree assortativity)
# --------------------------------------------------------------------------

_G6_KEEP_MOD = 10
#: Doulion keep predicate (p = 1/10): MINSTD-style integer pair mix, written
#: once and formatted into BOTH engines' expressions (identical arithmetic,
#: no string/md5 cost on the 12.5 M raw pairs at sf0.1).
_G6_M = 2147483647
_G6_KEEP_PRED = f"((a % {_G6_M}) * 48271 + b) % {_G6_M} % {_G6_KEEP_MOD} = 0"


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    line = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    serves = orders.join(line, orders.o_orderkey == line.l_orderkey).select(
        "o_custkey", "l_suppkey"
    )
    # Per-customer supplier array -> map-side ordered pair generation ->
    # Doulion filter BEFORE the pair distinct. Same edge set as the naive
    # serves⋈serves self-join + post-distinct filter, but the co-service
    # pair explosion (Σ_ck d²/2 rows) is cut 10× by the keep filter while
    # still map-side, so the only full-size shuffle is the per-ck group
    # (collect_set dedups within the basket, so the old pre-distinct on
    # (ck, sk) was a redundant second exchange — removed r14) — the
    # distinct on pairs sees 1/10th the volume (was the dominant cost at
    # sf0.1: the filter ran after it).
    # Explicit ROUND-ROBIN repartition: the per-customer array table is
    # ~15 k rows of a few MB, so AQE coalesces the group-by output to 1-2
    # partitions — and the Σ_ck d²/2 pair explosion below (12.5 M rows at
    # sf0.1) then runs on those tasks (stage-metrics sweep: 4.8-6.6 s of a
    # 6 s query). Repartitioning BY THE SAME KEY is elided as redundant
    # (the agg already hash-partitions on o_custkey), so it must be
    # round-robin: a genuine AQE-exempt exchange of the tiny array table
    # that buys 32-way execution of the explosion.
    byck = serves.groupBy("o_custkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("sks")
    ).repartition(default_parallelism())
    pairs = byck.select(
        F.explode(
            F.expr(
                "flatten(transform(sks, (x, i) ->"
                " transform(slice(sks, i + 2, size(sks)), y ->"
                " struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    # Doulion keep-decision via a multiplicative congruential pair mix
    # instead of md5: the filter runs on EVERY raw co-service pair (12.5 M
    # at sf0.1) and the md5 string hash alone cost ~6 s there — the integer
    # mix is pure codegen arithmetic, identical in DuckDB, and overflow-free
    # ((a mod M)·48271 + b < 2^48 « 2^63 in both engines' int64).
    return (
        pairs.filter(F.expr(_G6_KEEP_PRED))
        .distinct()
        .localCheckpoint()
    )


_G6_EDGES_SQL = f"""
serves AS (
    SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
    SELECT DISTINCT a, b FROM (
        SELECT a.sk AS a, b.sk AS b
        FROM serves a JOIN serves b ON a.ck = b.ck AND a.sk < b.sk
    )
    WHERE {_G6_KEEP_PRED}
),
deg AS (
    SELECT v, count(*) AS dv FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
    ) GROUP BY v
)
"""


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _supplier_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("dv"))
    )
    # degree-ordered orientation (hub-safe wedge enumeration)
    da = deg.select(F.col("v").alias("a"), F.col("dv").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("dv").alias("db"))
    ranked = edges.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # repartition BEFORE the checkpoint: the broadcast-join output is ~1 MB
    # so AQE coalesces it to 2 partitions, and the per-edge adjacency
    # INTERSECTION below (the O(Σ outdeg²) codegen stage — 6.6 s of the
    # whole query at sf0.1) then runs on 2 tasks; 32-way on the probe key
    # also pre-clusters the adj group-by.
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).repartition(default_parallelism(), "lo").localCheckpoint()  # read 3x (probe + adjacency)
    # Triangle enumeration by per-edge adjacency intersection instead of a
    # materialized wedge join: on this DENSE graph (avg degree ~100 after
    # sparsification) the wedge table is ~Σ outdeg² ≈ 25× the edge count and
    # its shuffle dominated the runtime (11.5 s at sf0.1). Intersecting the
    # two endpoints' out-neighbor ARRAYS per edge does the same O(Σ outdeg²)
    # comparisons inside whole-stage codegen on 50 k rows — no wedge
    # materialization, no second shuffle. Each triangle lo<x<y (degree
    # order) is found exactly once at its (lo, x) edge: y ∈ N⁺(lo) ∩ N⁺(x).
    # The adjacency table is |V| rows (bounded supplier set here); the join
    # is keyed, so at larger |V| it stays a plain sort-merge — AQE
    # broadcasts it while it is small.
    adj = oriented.groupBy("lo").agg(F.sort_array(F.collect_list("hi")).alias("nbrs"))
    probed = (
        oriented.join(
            adj.select(F.col("lo").alias("_al"), F.col("nbrs").alias("nbrs_lo")),
            F.col("lo") == F.col("_al"),
        )
        .join(
            adj.select(F.col("lo").alias("_ah"), F.col("nbrs").alias("nbrs_hi")),
            F.col("hi") == F.col("_ah"),
            "left",
        )
        .select(
            "lo",
            F.col("hi").alias("x"),
            F.array_intersect(
                F.col("nbrs_lo"), F.coalesce(F.col("nbrs_hi"), F.array())
            ).alias("ys"),
        )
    )
    tri = probed.filter(F.size("ys") > 0).select(
        "lo", "x", F.explode("ys").alias("y")
    )
    tri_nodes = (
        tri.select(F.explode(F.array("lo", "x", "y")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(tri_nodes, "v", "left")
        .select(
            "v",
            "dv",
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("dv") >= 2,
                (F.coalesce(F.col("t"), F.lit(0)) * F.lit(2000000))
                .cast("long")
                / (F.col("dv") * (F.col("dv") - 1)),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("coeff_micro"),
        )
        .orderBy(F.desc("coeff_micro"), F.asc("v"))
        .limit(20)
    )


_CLUSTERING_COEFF_SQL = f"""
WITH {_G6_EDGES_SQL},
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM edges e1
    JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
    JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
), tn AS (
    SELECT v, count(*) AS t FROM (
        SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
        UNION ALL SELECT z AS v FROM tri
    ) GROUP BY v
)
SELECT deg.v, deg.dv,
       CAST(coalesce(tn.t, 0) AS BIGINT) AS triangles,
       CAST(CASE WHEN deg.dv >= 2
                 THEN (coalesce(tn.t, 0) * 2000000) // (deg.dv * (deg.dv - 1))
                 ELSE 0 END AS BIGINT) AS coeff_micro
FROM deg LEFT JOIN tn ON tn.v = deg.v
ORDER BY coeff_micro DESC, deg.v ASC
LIMIT 20
"""


def _assort_solve(dbl: dict[str, str]) -> str:
    n, sx, sy, sxy, sxx, syy = (dbl[k] for k in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    num = f"({n} * {sxy} - {sx} * {sy})"
    den = f"sqrt(greatest(({n} * {sxx} - {sx} * {sx}) * ({n} * {syy} - {sy} * {sy}), 1e-300))"
    return f"({num} / {den})"


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _supplier_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("dv"))
    )
    directed = edges.select(F.col("a").alias("u"), F.col("b").alias("w")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("w"))
    )
    du = deg.select(F.col("v").alias("u"), F.col("dv").alias("dx"))
    dw = deg.select(F.col("v").alias("w"), F.col("dv").alias("dy"))
    joined = directed.join(F.broadcast(du), "u").join(F.broadcast(dw), "w")
    sums = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("dx").cast("decimal(25,0)")).alias("sx"),
        F.sum(F.col("dy").cast("decimal(25,0)")).alias("sy"),
        F.sum((F.col("dx") * F.col("dy")).cast("decimal(25,0)")).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast("decimal(25,0)")).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast("decimal(25,0)")).alias("syy"),
    )
    dbl = {k: f"CAST({k} AS DOUBLE)" for k in ("n", "sx", "sy", "sxy", "sxx", "syy")}
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return sums.crossJoin(F.broadcast(n_nodes)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n").cast("long").alias("n_edges_directed"),
        pround(F.expr(_assort_solve(dbl)), 6).alias("assortativity"),
    )


_ASSORT_SQL = f"""
WITH {_G6_EDGES_SQL},
directed AS (
    SELECT a AS u, b AS w FROM edges UNION ALL SELECT b AS u, a AS w FROM edges
), j AS (
    SELECT du.dv AS dx, dw.dv AS dy
    FROM directed JOIN deg du ON du.v = directed.u JOIN deg dw ON dw.v = directed.w
), sums AS (
    SELECT count(*) AS n,
           sum(CAST(dx AS DECIMAL(25,0))) AS sx,
           sum(CAST(dy AS DECIMAL(25,0))) AS sy,
           sum(CAST(dx * dy AS DECIMAL(25,0))) AS sxy,
           sum(CAST(dx * dx AS DECIMAL(25,0))) AS sxx,
           sum(CAST(dy * dy AS DECIMAL(25,0))) AS syy
    FROM j
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       CAST(n AS BIGINT) AS n_edges_directed,
       {pround_sql(_assort_solve({k: f'CAST({k} AS DOUBLE)' for k in ('n', 'sx', 'sy', 'sxy', 'sxx', 'syy')}), 6)}
           AS assortativity
FROM sums
"""




SPECS.extend(
    [
        QuerySpec(
            "clustering_coefficient",
            q_clustering_coefficient,
            _CLUSTERING_COEFF_SQL,
            ("graph", "bench"),
            doc="Per-vertex local clustering coefficient on the Doulion-sparsified "
            "supplier graph: degree-ordered triangle enumeration (hub-safe), "
            "explode-attribution to corners, integer-exact 2T/d(d-1) in micro units",
        ),
        QuerySpec(
            "degree_assortativity",
            q_degree_assortativity,
            _ASSORT_SQL,
            ("graph", "stats"),
            doc="Newman degree-assortativity r: ONE exact-DECIMAL moment aggregate "
            "over edges⋈degrees, shared-text double solve (OLS house pattern)",
        ),
    ]
)


# --------------------------------------------------------------------------
# Personalized PageRank (seed-restricted teleport, integer fixed point)
# --------------------------------------------------------------------------

_PPR_ITERS = 3


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the customer–supplier trade graph with the
    teleport restricted to a seed set (nation-0 customers) — the
    recommendation / related-entity query that global `pagerank_fixed_point`
    cannot answer. Same loop (:func:`_integer_pagerank`, so the same plan
    shape and all-integer rank arithmetic), so the result hash-matches the
    unrolled-CTE oracle exactly. Seeds get the start mass and the 15%
    teleport; non-seeds accumulate only propagated rank, so scores measure
    proximity to the seed cohort."""
    edges = _trade_edges(spark, sf_dir)
    seeds = read_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") == 0
    ).select((F.col("c_custkey") * 2).cast("long").alias("node"))
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .join(seeds, F.col("src") == F.col("node"), "left")
        .select(
            "src", "degree", F.col("node").isNotNull().cast("int").alias("seed")
        )
        # Lazy: the |V| count in _integer_pagerank materializes the blocks (r14).
        .localCheckpoint(eager=False)
    )
    ranks = _integer_pagerank(edges, deg, _PPR_ITERS)
    return (
        ranks.select(_node_label().alias("node"), "seed", F.col("score").alias("ppr"))
        .orderBy(F.desc("ppr"), F.asc("node"))
        .limit(20)
    )


def _ppr_oracle() -> str:
    head = """
WITH e0 AS (
    SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
    SELECT CAST(ck * 2 AS BIGINT) AS src, CAST(sk * 2 + 1 AS BIGINT) AS dst FROM e0
    UNION ALL
    SELECT CAST(sk * 2 + 1 AS BIGINT) AS src, CAST(ck * 2 AS BIGINT) AS dst FROM e0
),
seedset AS (
    SELECT CAST(c_custkey * 2 AS BIGINT) AS node FROM customer
    WHERE c_nationkey = 0
),
deg AS (
    SELECT src, CAST(count(*) AS BIGINT) AS degree,
           CASE WHEN src IN (SELECT node FROM seedset) THEN 1 ELSE 0 END AS seed
    FROM edges GROUP BY src
),
r0 AS (
    SELECT src AS node, degree, seed,
           CAST(seed * 1000000 AS BIGINT) AS ppr
    FROM deg
)
"""
    steps = []
    for i in range(1, _PPR_ITERS + 1):
        steps.append(
            f""",
c{i} AS (
    SELECT e.dst AS node, CAST(SUM(r.ppr // r.degree) AS BIGINT) AS inc
    FROM edges e JOIN r{i - 1} r ON e.src = r.node
    GROUP BY e.dst
),
r{i} AS (
    SELECT d.src AS node, d.degree, d.seed,
           CAST(d.seed * 150000 + (85 * COALESCE(c.inc, 0)) // 100 AS BIGINT)
               AS ppr
    FROM deg d LEFT JOIN c{i} c ON d.src = c.node
)"""
        )
    tail = f"""
SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
       seed, ppr
FROM r{_PPR_ITERS}
ORDER BY ppr DESC,
         CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
              ELSE 's' || CAST(node // 2 AS VARCHAR) END ASC
LIMIT 20
"""
    return head + "".join(steps) + tail


SPECS.append(
    QuerySpec(
        "personalized_pagerank",
        q_personalized_pagerank,
        _ppr_oracle(),
        ("graph",),
        doc="Personalized PageRank with teleport restricted to nation-0 "
        "customers; same broadcast-emission integer fixed point as the "
        "global spec, unrolled-CTE oracle",
    )
)


