"""Similarity search over embedding columns (``array<float>``).

Scale design:

* **Brute-force top-k** (baseline): broadcast the query vector, compute
  cosine via JVM higher-order functions (``zip_with`` + ``aggregate`` — no
  Python, no UDF), then ``orderBy().limit(k)`` which Catalyst plans as
  TakeOrderedAndProject (per-partition heap of k, no global sort). Linear
  scan, embarrassingly parallel — the right baseline even at 100 TB.
* **IVF-bucketed** (scale path): assign every vector to its nearest of C
  centroids (map-side argmin over an inlined centroid literal — no join, no
  shuffle), partition by bucket; a query probes only its bucket(s) — C× less
  work per query. Centroid assignment here is
  deterministic (seed vectors as centroids) so it is oracle-checkable;
  production would plug k-means centroids into the same algebra.
* **Near-dup pairs**: embedding-cosine dedup — all-pairs within a bucket (or
  LSH band), never global all-pairs.

All arithmetic is double-precision and sequential over the array, so results
are bit-stable and cross-engine comparable after a 1e-6 round.
"""

from __future__ import annotations

import math
from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.plans._portable import _EPS, fdiv, pround


def derived_n_centroids(n_rows: int, floor: int = 8) -> int:
    """Scale-derived IVF centroid count: ``max(floor, ⌊√N⌋)``.

    Per-bucket near-dup work is Σ|bucket|² ≈ N²/C, so C must grow with N for
    the bucketed path to stay sub-quadratic; C ≈ √N keeps expected total pair
    comparisons ≈ N^1.5. Computed via double sqrt (not ``math.isqrt``) so it
    is bit-identical to the oracle's ``floor(sqrt(count(*)::DOUBLE))``."""
    return max(floor, int(math.floor(math.sqrt(float(n_rows)))))


def dot(a: str | Column, b: str | Column) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_sq(a: str | Column, b: str | Column) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    diff = F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** F.lit(2))
    return F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)


def _portable_l2(a: list[float], b: list[float]) -> float:
    """Driver-side replica of ``pround(l2_sq(a, b), 6)``: the same sequential
    Σ(x−y)² left fold, then the same portable half-up round, so a value the
    driver computes from model parameters (ADC tables, probed buckets) is
    bit-identical to the one the executors compute."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) ** 2
    return math.floor(acc * 1e6 + (0.5 + _EPS)) / 1e6


def _arr_lit(vals: list[float]) -> Column:
    """A literal array<double> column (plan-inlined, no join), built from ONE
    parsed SQL string: a ``F.lit`` per element would issue one py4j call
    each. ``repr(float)`` is shortest-roundtrip, so the parsed doubles are
    bit-identical to the driver-side values."""
    return F.expr("array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")")


def seed_vectors(
    emb: DataFrame, n: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """The rows with ``id_col < n`` as ``[(id, [float, …])]`` in id order —
    the deterministic model parameters (IVF centroids, PQ codebook seeds,
    Lloyd's round-0 centroids) every quantizer here starts from.

    Bounded at n rows, so the id sort runs on the driver: one scan job,
    where a distributed ``orderBy`` adds a range-sampling job and a
    shuffle job for the same ≤ n rows."""
    rows = emb.filter(F.col(id_col) < n).select(id_col, vec_col).collect()
    return sorted(
        ((int(r[id_col]), [float(x) for x in r[vec_col]]) for r in rows),
        key=lambda c: c[0],
    )


def _query_vector(
    emb: DataFrame, query_id: int, id_col: str, vec_col: str
) -> list[float]:
    """The query's vector, collected to enter a plan as a literal."""
    rows = emb.filter(F.col(id_col) == query_id).select(vec_col).collect()
    if not rows:
        raise ValueError(f"query id {query_id} not found")
    return [float(x) for x in rows[0][vec_col]]


def _exact_rerank(
    cands: DataFrame, emb: DataFrame, query_id: int, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact cosine top-k of ``cands`` against the query row of ``emb``."""
    qvec = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qvec"))
    return brute_force_topk(cands, qvec, k, id_col, vec_col)


def brute_force_topk(
    emb: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_col: str = "qvec",
    round_dp: int = 6,
) -> DataFrame:
    """Cosine top-k against a broadcast 1-row query-vector DataFrame.

    Rounds the similarity BEFORE ranking so ties break on ``id_col``
    deterministically (float noise below 1e-6 cannot reorder the cut)."""
    sim = pround(cosine(vec_col, query_col), round_dp)
    return (
        emb.join(F.broadcast(query_vec))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) above a threshold.

    All-pairs form — at scale, feed it per-bucket partitions (IVF/LSH), not
    the whole table."""
    a = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    sim = pround(cosine("va", "vb"), round_dp)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def neardup_pairs_bucketed(
    emb: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    centroid_src: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via IVF buckets — the 100 TB shape.

    Candidate pairs come from an EQUI-join on the IVF bucket id (hash/
    sort-merge, never a nested loop): only vectors assigned to the same
    centroid are compared, so work is sum over buckets of |bucket|², not
    |table|². Pairs that straddle buckets are sacrificed for scale —
    :func:`neardup_pairs` (bounded all-pairs) is the recall oracle in tests.

    ``centroid_src`` (defaults to ``emb``): where the ≤C seed rows are
    collected from. Pass the un-rebalanced scan when ``emb`` carries a
    repartition — the id filter then pushes down to parquet instead of
    paying the balance shuffle just to read C rows.
    """
    src = centroid_src if centroid_src is not None else emb
    assign = centroid_argmin_col(seed_vectors(src, n_centroids, id_col, vec_col), vec_col)
    # The bucket id is a map-side EXPRESSION on emb (no join back to the
    # assignment — that re-shuffled the table on vec_id). Norms likewise
    # precomputed ONCE per row before the pair join (linear work); inside
    # the join only the dot product remains — 3x fewer array folds per
    # pair, numerically identical to cosine() (same sequential aggregate
    # producing the same norm doubles, just hoisted).
    bucketed = emb.withColumn("centroid_id", assign["cid"]).withColumn(
        "_norm", norm(vec_col)
    )
    # Materialize the assignment ONCE (lazy — the pair join's first action
    # fills the blocks): the self-join's two branches alias their columns
    # differently, so exchange reuse never fires and the C·dim argmin fold
    # (plus its Janino compile) ran twice per row (r15, guide §1.2/§5).
    # The blocks are the same size class as the join's own two bucket
    # exchanges, so the footprint stays O(table) while the compute passes
    # halve — measured 2.14 → 1.36 s median on the sf0.1 pair build.
    bucketed = bucketed.localCheckpoint(eager=False)
    a = bucketed.select(
        F.col("centroid_id").alias("bkt_a"),
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
    )
    b = bucketed.select(
        F.col("centroid_id").alias("bkt_b"),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("vb"),
        F.col("_norm").alias("nb"),
    )
    sim = pround(dot("va", "vb") / (F.col("na") * F.col("nb")), round_dp)
    return (
        a.join(b, (F.col("bkt_a") == F.col("bkt_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def semdedup_prune(
    emb: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    centroid_src: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup pruning (Abbas et al. 2023, public).

    The paper's recipe: cluster embeddings, call same-cluster pairs with
    cosine ≥ τ *semantic duplicates*, and within each duplicate group keep
    only the example FARTHEST from its cluster centroid (lowest
    prototypicality — the one most likely to add information). The paper's
    greedy sweep is iteration-order-dependent; this implementation uses the
    deterministic set semantics *keep x iff no near-duplicate neighbor y in
    x's cluster lies strictly farther from the shared centroid (ties on the
    rounded distance broken by lower ``vec_id`` wins)* — order-free, hence
    oracle-checkable in SQL.

    Returns one row per vector with ≥1 semantic duplicate:
    ``(vec_id, centroid_id, n_dups, keep)``. Vectors with no near-dup
    neighbor are implicitly kept and omitted (bounded output).

    Scale shape (100 TB): identical to :func:`neardup_pairs_bucketed` —
    centroid assignment is a map-side argmin over an inlined literal (no
    Exchange), candidate pairs come from an EQUI-join on the cluster id
    (Σ|bucket|² ≈ N^1.5 with C ≈ √N centroids), and the keep decision is a
    per-vector aggregate over its neighbor list (map-side combinable). The
    centroid distance is computed ONCE per row before the pair join, so the
    join adds only the dot product per candidate pair.
    """
    src = centroid_src if centroid_src is not None else emb
    best = centroid_argmin_col(seed_vectors(src, n_centroids, id_col, vec_col), vec_col)
    bucketed = emb.select(
        F.col(id_col),
        best["cid"].alias("centroid_id"),
        best["dist"].alias("cdist"),
        F.col(vec_col).alias("v"),
        norm(vec_col).alias("_norm"),
    )
    # Same single-materialization trade as neardup_pairs_bucketed above:
    # without it both join branches recompute the argmin + distance fold.
    bucketed = bucketed.localCheckpoint(eager=False)
    a = bucketed.select(
        F.col("centroid_id").alias("bkt_a"),
        F.col(id_col).alias("vec_a"),
        F.col("cdist").alias("da"),
        F.col("v").alias("va"),
        F.col("_norm").alias("na"),
    )
    b = bucketed.select(
        F.col("centroid_id").alias("bkt_b"),
        F.col(id_col).alias("vec_b"),
        F.col("cdist").alias("db"),
        F.col("v").alias("vb"),
        F.col("_norm").alias("nb"),
    )
    sim = pround(dot("va", "vb") / (F.col("na") * F.col("nb")), round_dp)
    pairs = (
        a.join(b, (F.col("bkt_a") == F.col("bkt_b")) & (F.col("vec_a") != F.col("vec_b")))
        .select(
            "vec_a",
            F.col("bkt_a").alias("centroid_id"),
            "da",
            "vec_b",
            "db",
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    dominated = F.max(
        F.when(
            (F.col("db") > F.col("da"))
            | ((F.col("db") == F.col("da")) & (F.col("vec_b") < F.col("vec_a"))),
            1,
        ).otherwise(0)
    )
    return pairs.groupBy(F.col("vec_a").alias(id_col), "centroid_id").agg(
        F.count(F.lit(1)).alias("n_dups"),
        (F.lit(1) - dominated).cast("int").alias("keep"),
    )


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment: nearest (L2) of the first ``n_centroids`` vectors.

    Deterministic centroid choice (vec_id 0..C-1) keeps this oracle-checkable;
    swap in trained centroids for production — the plan shape (inlined
    centroid literal → per-row map-side argmin) is unchanged and genuinely
    shuffle-free (no Exchange in the executed plan)."""
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
    )
    return ivf_assign_to(emb, cents, id_col, vec_col)


def ivf_train_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """TRAINED IVF centroids via MLlib k-means (kmeans|| init, seeded).

    :func:`ivf_assign` uses deterministic seed vectors so it stays
    oracle-checkable; this is the production path it promises — the learned
    centroids drop into the SAME broadcast+argmin algebra (see
    :func:`ivf_assign_to`), nothing else changes. Engine-specific (no DuckDB
    k-means), so its registry exposure is rows-only; quality is pinned by a
    recall-floor test against brute force."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=20).fit(feats)
    cents = model.clusterCenters()
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid_id int, cvec array<double>",
    )


def int_centroid_argmin_col(centroids: list[list[int]]) -> Column:
    """Nearest of K integer centroids for the ``array<bigint>`` column ``q``:
    ``struct(dist, cl)`` with dist the exact BIGINT squared L2 and ``cl``
    the centroid's position; struct order breaks dist ties on the lower
    ``cl``. One parsed SQL string instead of K×dim py4j ``F.lit`` calls
    (literal building, not the data, dominated the wall clock)."""
    structs = ",".join(
        "struct(aggregate(zip_with(q, array("
        + ",".join(f"CAST({int(v)} AS BIGINT)" for v in c)
        + "), (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), "
        f"(acc, x) -> acc + x) AS dist, {i} AS cl)"
        for i, c in enumerate(centroids)
    )
    return F.expr(f"array_min(array({structs}))")


def int_lloyd_centroids(q: DataFrame, k: int, rounds: int) -> list[list[int]]:
    """Integer fixed-point Lloyd's k-means over ``(vec_id, q array<bigint>)``.

    Round-0 centroids are the rows vec_id 0..k-1 (cluster id = position).
    Each round assigns every row map-side (:func:`int_centroid_argmin_col`
    over the inlined centroids, no join) and updates with one posexplode →
    (cluster, dim) sum/count aggregate, whose exact floor-mean (``fdiv``)
    is the new coordinate; a cluster that gets no rows keeps its previous
    centroid. Integer arithmetic makes every round bit-exact in Spark and
    in an unrolled SQL oracle. The driver sees only the K×dim centroid
    matrix per round, never data rows."""
    seeds = seed_vectors(q, k, "vec_id", "q")
    if [i for i, _ in seeds] != list(range(k)):
        raise ValueError(
            f"Lloyd's seeds: expected vec_ids 0..{k - 1}, got {[i for i, _ in seeds]}"
        )
    centroids = [[int(v) for v in c] for _, c in seeds]
    dim = len(centroids[0])
    for _ in range(rounds):
        sums = (
            q.withColumn("cl", int_centroid_argmin_col(centroids)["cl"])
            .select("cl", F.posexplode("q").alias("dim", "qv"))
            .groupBy("cl", "dim")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("c", F.expr(fdiv("s", "n", "DIV")))
            .collect()
        )
        bydim: dict[int, dict[int, int]] = {}
        for r in sums:
            bydim.setdefault(r["cl"], {})[r["dim"]] = r["c"]
        centroids = [
            [bydim.get(i, {}).get(d, centroids[i][d]) for d in range(dim)]
            for i in range(k)
        ]
    return centroids


# Above this centroid count the literal-inlined argmin plan is replaced by
# the broadcast-join form: C = √N is data-sized, so at N = 10¹¹ vectors the
# literal path would inline ~3×10⁵ vectors into the plan (plan-size/Janino
# blowup); the broadcast form keeps the centroid matrix a runtime value.
# 256 centroids × 32 dims ≈ 8 k plan nodes — comfortably below codegen pain.
LITERAL_CENTROID_MAX = 256


def ivf_assign_to(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to the nearest of an ARBITRARY centroid table — the
    shared algebra behind seed-vector and k-means-trained IVF.

    Size-switched physical form (both produce identical rows — pinned by
    ``test_ivf_assign_broadcast_form_matches_literal``):

    * **C ≤ LITERAL_CENTROID_MAX** (the common case — C is a model
      parameter): the centroid rows are materialized driver-side and inlined
      as a literal array-of-structs column; each row's argmin is a single
      ``transform`` + ``array_min`` over that array, entirely map-side. The
      executed plan contains NO Exchange (asserted in
      ``tests/test_plans_quality.py``) — the earlier broadcast-join + Window
      formulation shuffled ~N rows of (id, centroid, dist) to rank per id.
    * **C > LITERAL_CENTROID_MAX** (C = √N IVF at huge N): the centroid
      table stays distributed — it is pre-aggregated to ONE row holding the
      sorted centroid array, attached to every embedding row as a one-row
      broadcast, and the SAME ``array_min`` argmin runs over the joined
      runtime array. No centroid bytes on the driver, no plan-size growth,
      still zero shuffle of the embedding side (plan-gated
      ``test_ivf_assign_large_c_uses_broadcast_join``).

    ``array_min`` over ``struct(dist, cid)`` uses struct ordering, which is
    exactly the (min rounded dist, lowest centroid_id) tie-break the oracle's
    ``row_number() OVER (ORDER BY dist, centroid_id)`` applies — identical in
    both physical forms, so the switch can never change an answer.
    """
    # TakeOrdered of LITERAL_CENTROID_MAX+1 rows: if the table fits, these
    # ARE the sorted centroids (no second job); if not, we learned C is over
    # the limit for the price of limit+1 rows on the driver rather than all C.
    head = (
        centroids.select("centroid_id", "cvec")
        .orderBy("centroid_id")
        .take(LITERAL_CENTROID_MAX + 1)
    )
    if len(head) <= LITERAL_CENTROID_MAX:
        best = centroid_argmin_col(
            [(int(r["centroid_id"]), [float(x) for x in r["cvec"]]) for r in head],
            vec_col,
        )
        return emb.select(
            F.col(id_col),
            best["cid"].alias("centroid_id"),
            best["dist"].alias("dist"),
        )
    return _ivf_assign_broadcast(emb, centroids, id_col, vec_col)


def _ivf_assign_broadcast(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Large-C IVF assignment: broadcast the centroid table, never inline it.

    The C centroid rows are collapsed into a single (sorted) array-of-structs
    row — one tiny shuffle of C rows — then joined onto the embedding scan as
    a ONE-ROW broadcast (BroadcastNestedLoopJoin BuildRight: with a 1-row
    build side that is a pure per-row array attach, not a quadratic loop; a
    BroadcastHashJoin cannot arise here because nearest-centroid has no
    equi-key until AFTER the argmin). Per-row argmin is the same sequential
    ``transform`` + ``array_min`` fold as the literal form, over a runtime
    array instead of a plan literal: bit-identical doubles, identical
    (rounded dist, cid) struct tie-break.

    Why not the emb×centroids row-expansion + ``min_by`` aggregate: that
    form materializes N·C scored rows and re-shuffles N rows for the
    per-vector group-by; this form keeps the embedding side entirely
    map-side — ZERO hash-partitioned Exchange in the executed plan
    (plan-gated ``test_ivf_assign_large_c_uses_broadcast_join``). Broadcast
    cost is the centroid matrix once per executor — exactly what a 100 TB
    IVF build wants (C·dim·8 B ≈ 300 MB at C = 3×10⁵, dim = 128: a normal
    broadcast, an impossible plan literal)."""
    packed = centroids.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("centroid_id").cast("int").alias("cid"),
                    F.col("cvec").cast("array<double>").alias("cvec"),
                )
            )
        ).alias("_cents"),
    )
    vec = F.col(vec_col)
    best = F.array_min(
        F.transform(F.col("_cents"), lambda c: _centroid_score(vec, c["cvec"], c["cid"]))
    )
    return emb.crossJoin(F.broadcast(packed)).select(
        F.col(id_col),
        best["cid"].alias("centroid_id"),
        best["dist"].alias("dist"),
    )


def _centroid_score(vec: Column, cvec: Column, cid: Column) -> Column:
    """One nearest-centroid score ``struct(dist, cid)``: the rounded squared
    L2, then the centroid id. Struct ordering is exactly the (min rounded
    dist, lowest centroid_id) tie-break the oracles' ``row_number() OVER
    (ORDER BY dist, centroid_id)`` applies."""
    return F.struct(pround(l2_sq(vec, cvec), 6).alias("dist"), cid.alias("cid"))


def _centroid_matrix_lit(cents: list[tuple[int, list[float]]]) -> Column:
    """The array<array<double>> centroid literal, one :func:`_arr_lit` row
    per centroid; residual computation indexes the SAME matrix by id."""
    return F.array(*[_arr_lit(v) for _, v in cents])


def _centroid_scores(
    cents: list[tuple[int, list[float]]], vec_col: str | Column
) -> Column:
    """Per-row array of :func:`_centroid_score` over driver-side centroids.

    The centroid matrix enters the plan as TWO array literals (an
    array<array<double>> and an array<int>) instead of a C·dim-node
    expression tree: the per-element ``F.array(F.lit(...))`` form made
    Janino compile multi-second generated methods, paid again for every
    fresh plan."""
    if not cents:
        raise ValueError("centroid list is empty")
    cvecs = _centroid_matrix_lit(cents)
    cids = F.expr("array(" + ",".join(str(c) for c, _ in cents) + ")")
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda i: _centroid_score(vec, cvecs[i], cids[i]),
    )


def centroid_argmin_col(
    cents: list[tuple[int, list[float]]], vec_col: str | Column
) -> Column:
    """Map-side nearest-centroid ``struct(dist, cid)`` column over
    driver-side centroids: ``array_min`` of :func:`_centroid_scores`."""
    return F.array_min(_centroid_scores(cents, vec_col))


def centroid_topn_col(
    cents: list[tuple[int, list[float]]], vec_col: str, nprobe: int
) -> Column:
    """Array of the ``nprobe`` nearest centroid ids for each row — the
    multi-probe generalization of :func:`centroid_argmin_col` (the same
    scores sorted by the same (dist, cid) order), still entirely map-side."""
    topn = F.slice(F.array_sort(_centroid_scores(cents, vec_col)), 1, nprobe)
    return F.transform(topn, lambda s: s["cid"])


def _probe_candidates(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    query_id: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Rows of ``emb`` (minus the query) in the query's ``nprobe`` nearest
    IVF buckets: a map-side bucket expression matched against the query's
    bucket array, which is a one-row broadcast — no assignment table, no
    join back to ``emb``."""
    qbuckets = emb.filter(F.col(id_col) == query_id).select(
        centroid_topn_col(cents, vec_col, nprobe).alias("qbuckets")
    )
    return (
        emb.withColumn("_bkt", centroid_argmin_col(cents, vec_col)["cid"])
        .join(F.broadcast(qbuckets), F.expr("array_contains(qbuckets, _bkt)"))
        .filter(F.col(id_col) != query_id)
    )


def ivf_topk_batch(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Batched multi-query ANN: a whole QUERIES TABLE probed through the IVF
    buckets in one plan (verdict r4 item 6) — the realistic retrieval shape
    (every single-``query_id`` top-k spec is the degenerate |Q| = 1 case).

    Plan shape, end to end:

    * corpus side: bucket id and norm are map-side EXPRESSIONS on the scan
      (inlined-centroid argmin — no assignment join, no shuffle);
    * query side: each query row computes its ``nprobe`` nearest buckets
      map-side (same centroid literals), explodes to (query, bucket) probe
      rows — ≤ |Q|·nprobe rows, BROADCAST;
    * candidates: ONE equi-join corpus ⋈ probes on the bucket id
      (BroadcastHashJoin — queries ≪ corpus always); each candidate scores
      the hoisted-norm cosine;
    * per-query top-k: rank window over ``query_id`` — Spark plans the
      rank-≤-k filter as Partial+Final **WindowGroupLimit**, so every task
      keeps only k rows per query before the one bounded exchange
      (O(k·|Q|·tasks) rows), never the candidate set.

    Since assignment gives each corpus vector exactly one bucket, a
    candidate reaches a query at most once — no dedup needed even when the
    query probes several buckets. Plan-gated: no cartesian product,
    WindowGroupLimit present (``test_ivf_topk_batch_plan``)."""
    cents = seed_vectors(emb, n_centroids, id_col, vec_col)
    best = centroid_argmin_col(cents, vec_col)
    corpus = emb.select(
        F.col(id_col),
        F.col(vec_col),
        best["cid"].alias("centroid_id"),
        norm(vec_col).alias("_n"),
    )
    topn = centroid_topn_col(cents, vec_col, nprobe)
    probes = (
        emb.filter(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            norm(vec_col).alias("_qn"),
            topn.alias("_qbuckets"),
        )
        .select("query_id", "qvec", "_qn", F.explode("_qbuckets").alias("centroid_id"))
    )
    sim = pround(dot(vec_col, "qvec") / (F.col("_n") * F.col("_qn")), round_dp)
    cand = (
        corpus.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col), sim.alias("sim"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col(id_col), "sim")
        .orderBy("query_id", "rank")
    )


def cosine_topk_pandas(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Arrow-batched numpy variant of brute-force top-k.

    The JVM higher-order-function path (:func:`brute_force_topk`) is the
    default; this exists for workloads where the scoring genuinely needs
    Python (learned rerankers, custom metrics). Per guidance: when Python is
    unavoidable, it is a vectorized pandas UDF over Arrow batches — numpy
    matrix-vector products per batch, never per-row Python. Produces results
    identical to the JVM path (tested)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q)

    def score(series):
        m = np.stack(series.map(lambda v: np.asarray(v, dtype=np.float64)))
        sims = (m @ q) / (np.linalg.norm(m, axis=1) * qn)
        # Same portable-round constant as plans._portable.pround so this
        # path cannot diverge from the JVM/oracle rounding on .5 boundaries.
        return pd.Series(np.floor(sims * 10**round_dp + (0.5 + _EPS)) / 10**round_dp)

    sim_udf = pandas_udf(score, "double")
    return (
        emb.select(F.col(id_col), sim_udf(F.col(vec_col)).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN search: probe the query's ``nprobe`` nearest IVF buckets, then
    cosine top-k.

    nprobe is the recall lever real IVF deployments turn: nprobe=1 probes
    the query's own bucket (the top-1 of the (dist, cid) sort is the
    argmin), nprobe=C degenerates to exact brute force (both pinned by
    ``test_multiprobe_full_probe_equals_bruteforce``). Work scales with
    nprobe/C of the corpus; candidates come from :func:`_probe_candidates`
    (map-side bucket expression + one-row broadcast)."""
    cents = seed_vectors(emb, n_centroids, id_col, vec_col)
    cands = _probe_candidates(emb, cents, query_id, nprobe, id_col, vec_col)
    return _exact_rerank(cands, emb, query_id, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Random-hyperplane SimHash (cosine LSH) — the signature analog of the IVF
# bucketing above: H seeded ±1 hyperplanes project every embedding to an
# H-bit signature whose hamming distance estimates angular distance. Banding
# the signature turns near-dup search into an equi-join, same as the token
# SimHash in operators/dedup.py but for the embedding modality.
# ---------------------------------------------------------------------------


def hyperplanes(n_planes: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix, seeded from md5 — no RNG state,
    so the plan (and the DuckDB oracle built from the same literals) is
    reproducible across engines, sessions, and cluster sizes."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"hp:{j}:{d}".encode()).hexdigest()[:8], 16) & 1 else -1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def _dot_expr_spark(plane: list[float], vec_col: str) -> str:
    """Left-associated explicit sum — NOT aggregate()/zip_with — so the
    float→double accumulation order is pinned and bit-identical to the
    oracle's identically-shaped expression (a sign flip near 0 would
    otherwise move a vector across a hyperplane in one engine only)."""
    return " + ".join(
        f"CAST({vec_col}[{d}] AS DOUBLE) * {w}" for d, w in enumerate(plane)
    )


def hyperplane_signature(
    vec_col: str = "embedding", n_planes: int = 16, dim: int = 64
) -> Column:
    """H-bit SimHash signature column (bit j = sign of projection j).

    Assembled as ONE parsed SQL string: building it from per-term Column
    ops issued n_planes·dim py4j calls (~3 s of pure driver time per fresh
    plan at 16×64); a single ``F.expr`` parse is milliseconds, and the text
    mirrors the DuckDB oracle exactly."""
    bits = " + ".join(
        f"CAST(CASE WHEN {_dot_expr_spark(plane, vec_col)} >= 0 "
        f"THEN {1 << j} ELSE 0 END AS BIGINT)"
        for j, plane in enumerate(hyperplanes(n_planes, dim))
    )
    return F.expr(f"({bits})")


def hyperplane_simhash_pairs(
    emb: DataFrame,
    n_planes: int = 16,
    n_bands: int = 4,
    max_hamming: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup candidates via banded hyperplane SimHash.

    Signatures are linear in N (one pass, no shuffle); banding the H bits
    into ``n_bands`` equi-join keys finds every pair at hamming ≤
    H/n_bands·(n_bands−1) collisions away without all-pairs (pigeonhole: a
    pair within ``max_hamming ≤ n_bands−1`` bit flips must agree on ≥1
    band). The final hamming filter runs only on candidates. At 100 TB:
    grow H and n_bands together; the join stays an equi-join.
    """
    bits_per_band = n_planes // n_bands
    assert n_planes % n_bands == 0
    assert max_hamming <= n_bands - 1, "pigeonhole recall guarantee would break"
    # Signatures are computed ONCE and pinned: the band self-join would
    # otherwise re-project every vector on both sides (2× the n_planes·dim
    # arithmetic). At 100 TB the signature table (id + one long) is the
    # thing you materialize to storage; localCheckpoint is the in-session
    # analog and keeps the spec free of persist handles a caller would have
    # to release.
    sig = emb.select(
        F.col(id_col), hyperplane_signature(vec_col, n_planes, dim).alias("sig")
    ).localCheckpoint(eager=False)
    mask = (1 << bits_per_band) - 1
    bands = sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("sig", bits_per_band * b)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "sig", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.filter(hamming <= max_hamming)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale path for 100 TB ANN. A 64-dim
# float vector is 256 B; its PQ code (8 subspaces x 1 byte) is 8 B — a 32x
# compression that lets a 1000-executor cluster hold the whole corpus's codes
# in memory and scan them at cache speed, refining only a candidate set with
# full vectors. Codebooks are seeded from the first `n_codes` vectors (the
# same deterministic seed discipline as `ivf_centroids`, so every stage is
# oracle-checkable); production swaps in k-means sub-codebooks through the
# identical algebra. Everything is map-side: the codebooks enter the plan as
# literals, encode is a per-row argmin per subspace (no join, no shuffle),
# and ADC search is a literal-lookup sum — the only shuffle in the top-k is
# TakeOrderedAndProject's per-partition heap merge.
# ---------------------------------------------------------------------------


def pq_codebooks(
    emb: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks seeded from the first ``n_codes`` vectors.

    Returns ``books[m] = [(code_id, subvector), ...]`` — bounded at
    ``n_codes`` rows collected driver-side (same boundedness argument as the
    IVF centroid collect)."""
    seeds = seed_vectors(emb, n_codes, id_col, vec_col)
    if not seeds:
        raise ValueError("pq_codebooks: no seed rows (need ids < n_codes)")
    # ADC lookup tables index literal arrays BY CODE ID (F.get(table, code)),
    # so seed ids must be exactly 0..n_codes-1 — a gap would silently
    # misalign code ids with array positions downstream. Fail loudly instead.
    got = [i for i, _ in seeds]
    if got != list(range(n_codes)):
        raise ValueError(
            f"pq_codebooks: seed ids must be contiguous 0..{n_codes - 1}, got {got}"
        )
    dim = len(seeds[0][1])
    if dim % n_sub:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by n_sub {n_sub}")
    d = dim // n_sub
    return [[(i, v[m * d : (m + 1) * d]) for i, v in seeds] for m in range(n_sub)]


def _pq_code_cols(
    books: list[list[tuple[int, list[float]]]], vec_col: str
) -> list[Column]:
    """One argmin code column per subspace, all map-side (reuses the IVF
    centroid-literal argmin on a sliced view of the vector)."""
    d = len(books[0][0][1])
    return [
        centroid_argmin_col(book, F.slice(F.col(vec_col), m * d + 1, d))["cid"]
        for m, book in enumerate(books)
    ]


def pq_train_codebooks(
    emb: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    id_col: str = "vec_id",
    n_train: int = 2048,
) -> list[list[tuple[int, list[float]]]]:
    """TRAINED per-subspace codebooks: Lloyd's k-means over ONE bounded
    training sample.

    Production PQ practice (FAISS et al.) trains codebooks on a bounded
    sample (10⁵-10⁶ vectors), never the full corpus — so the distributed
    part is exactly one ``TakeOrdered``-bounded sample collect, and the
    n_sub × k-means fits run driver-side on that cached array. This
    replaced n_sub SEQUENTIAL MLlib fits (8 full job pipelines against a
    sub-sliced DataFrame each — measured 17.3 s at sf0.01 for what is
    microseconds of arithmetic); same contract, same determinism (seeded
    init, hash-free fixed sample order by ``id_col``), and the learned
    books drop into the identical literal-inline encode/ADC algebra
    (mirrors ``ivf_train_centroids`` vs seed centroids). Engine-specific
    training → rows-only registry exposure; quality pinned by the
    trained-vs-seed quantization-error test (the objective k-means
    minimizes; per-query recall is too noisy to compare codebooks on a
    single probe)."""
    import numpy as np

    rows = (
        emb.select(id_col, vec_col).orderBy(id_col).limit(n_train).collect()
    )
    if not rows:
        raise ValueError("pq_train_codebooks: empty input")
    X = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % n_sub:
        raise ValueError(f"pq_train_codebooks: dim {dim} not divisible by {n_sub}")
    d = dim // n_sub
    books: list[list[tuple[int, list[float]]]] = []
    for m in range(n_sub):
        sub = X[:, m * d : (m + 1) * d]
        rng = np.random.RandomState(seed + m)
        init_idx = rng.permutation(len(sub))[: min(n_codes, len(sub))]
        cents = sub[init_idx].copy()
        if len(cents) < n_codes:  # degenerate tiny input: pad by repetition
            cents = np.vstack([cents] * ((n_codes // len(cents)) + 1))[:n_codes]
        for _ in range(max_iter):
            dists = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = dists.argmin(1)
            new_cents = cents.copy()
            for j in range(n_codes):
                pts = sub[assign == j]
                if len(pts):
                    new_cents[j] = pts.mean(0)
                else:  # re-seed an empty cluster at the worst-served point
                    new_cents[j] = sub[dists.min(1).argmax()]
            if np.array_equal(new_cents, cents):
                break
            cents = new_cents
        books.append([(i, [float(x) for x in cents[i]]) for i in range(n_codes)])
    return books


def pq_encode(
    emb: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """PQ-encode every vector: ``(id, pq_code)`` with the code emitted as a
    comma-joined string (portable across the driver's pandas canonicalizer,
    which cannot hash array-typed cells — the `array_agg_sorted` lesson)."""
    if books is None:
        books = pq_codebooks(emb, n_sub, n_codes, id_col, vec_col)
    n_sub = len(books)
    codes = _pq_code_cols(books, vec_col)
    return emb.select(
        F.col(id_col),
        F.concat_ws(",", *[c.cast("string") for c in codes]).alias("pq_code"),
    )


def _adc_table(qsub: list[float], book: list[tuple[int, list[float]]]) -> Column:
    """One subspace's ADC lookup table: the exact portable distance from the
    query's subvector to every codeword, as a literal array indexed by code
    id (seed ids are 0..n_codes-1 by construction, so index == code)."""
    return _arr_lit([_portable_l2(qsub, cw) for _, cw in book])


def _adc_dist(
    q: list[float], books: list[list[tuple[int, list[float]]]], codes: list[Column]
) -> Column:
    """Σ_m table_m[code_m], summed left-associated over the subspaces."""
    d = len(books[0][0][1])
    terms = [
        F.get(_adc_table(q[m * d : (m + 1) * d], book), codes[m])
        for m, book in enumerate(books)
    ]
    return reduce(add, terms)


def pq_adc_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes.

    The query stays un-quantized; each corpus vector's approximate L2
    distance is the sum over subspaces of the *exact* distance from the
    query's subvector to that subspace's assigned codeword. Both the
    codebooks and the query enter the plan as literals, so scoring a row is
    a pure projection over its (tiny) code — at scale this scans the 8-byte
    codes, not the 256-byte vectors. Distances are portable-rounded per
    subspace and summed left-associated, mirroring the oracle exactly."""
    if books is None:
        books = pq_codebooks(emb, n_sub, n_codes, id_col, vec_col)
    codes = _pq_code_cols(books, vec_col)
    adc = _adc_dist(_query_vector(emb, query_id, id_col, vec_col), books, codes)
    return (
        emb.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), pround(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    shortlist: int = 40,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """IVF+PQ search (the FAISS IVFADC architecture, Spark-first).

    Three refinement stages, each cutting the candidate set before the next
    touches anything bigger: (1) probe the query's ``nprobe`` nearest IVF
    buckets — map-side bucket expression + a one-row broadcast
    (:func:`_probe_candidates`, the same candidate form as :func:`ivf_topk`),
    so the scan reads ~nprobe/C of the corpus; (2) rank survivors by ADC over their PQ
    codes (literal-lookup sum — 8-byte codes, not 256-byte vectors) and keep
    a ``shortlist``; (3) exact-cosine rerank of the shortlist against the
    full vectors, TakeOrderedAndProject top-k. Degenerate settings recover
    exact brute force (nprobe=C, shortlist≥N — pinned in tests), which is
    the knob story real deployments tune. Every stage is deterministic
    (rounded dists, id tie-breaks) so the whole composition is
    oracle-checkable in DuckDB."""
    if books is None:
        books = pq_codebooks(emb, n_sub, n_codes, id_col, vec_col)
    cents = seed_vectors(emb, n_centroids, id_col, vec_col)
    candidates = _probe_candidates(emb, cents, query_id, nprobe, id_col, vec_col)
    adc = _adc_dist(
        _query_vector(emb, query_id, id_col, vec_col), books, _pq_code_cols(books, vec_col)
    )
    short = (
        candidates.select(F.col(id_col), F.col(vec_col), pround(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(shortlist)
    )
    return _exact_rerank(short, emb, query_id, k, id_col, vec_col)


def ivfpq_residual_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    shortlist: int = 40,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the full FAISS IVFPQ architecture.

    :func:`ivfpq_topk` PQ-encodes raw vectors; production IVFADC encodes
    the residual ``v − centroid(v)`` so the 2^bits codebook describes the
    within-cell distribution instead of re-spending codes on the coarse
    grid — materially better recall at the same 8-byte code size. The
    Spark shape is unchanged (map-side bucket + code expressions over
    inlined literals, equi-join candidate pruning, TakeOrdered top-k);
    the new pieces are the residual column (``zip_with`` against the
    assigned centroid, selected by ``F.get`` on the literal centroid
    matrix — still map-side, no join) and per-probed-bucket ADC tables:
    the query residual differs per coarse cell, so the lookup is a
    when-chain over the ``nprobe`` cells. Every stage uses the same
    rounded-distance/tie-break discipline as the PQ family, so the whole
    composition stays hash-checkable in DuckDB. Reference parity: the
    reference has no ANN surface; this extends the engine charter."""
    cents = seed_vectors(emb, n_centroids, id_col, vec_col)
    if [c[0] for c in cents] != list(range(n_centroids)):
        raise ValueError(
            "ivfpq_residual_topk: seed centroid ids must be contiguous 0..C-1"
        )
    cmat = dict(cents)

    # Driver-side replica of the plan's rounded argmin (_portable_l2) —
    # applied only to the bounded model parameters: 16 seed vectors and 1
    # query vector.
    def _bucket_of(v: list[float]) -> int:
        return min((_portable_l2(v, c), cid) for cid, c in cents)[1]

    def _residual(v: list[float]) -> list[float]:
        c = cmat[_bucket_of(v)]
        return [x - y for x, y in zip(v, c)]

    seeds = seed_vectors(emb, n_codes, id_col, vec_col)
    if [s[0] for s in seeds] != list(range(n_codes)):
        raise ValueError("ivfpq_residual_topk: seed code ids must be 0..n_codes-1")
    dim = len(seeds[0][1])
    if dim % n_sub:
        raise ValueError(f"ivfpq_residual_topk: dim {dim} not divisible by {n_sub}")
    d = dim // n_sub
    seed_res = [(sid, _residual(v)) for sid, v in seeds]
    books = [
        [(sid, rv[m * d : (m + 1) * d]) for sid, rv in seed_res]
        for m in range(n_sub)
    ]

    # Map-side per-row bucket + residual (no join: the centroid matrix is a
    # literal, F.get selects the assigned row).
    bkt = centroid_argmin_col(cents, vec_col)["cid"]
    # The residual and the 8 code columns are MATERIALIZED as projections
    # (withColumn), not shared expressions: a shared res_col referenced from
    # inside each subspace's argmin lambda is re-evaluated per codeword per
    # probe (8 subspaces × 16 codewords × nprobe ≈ 256 recomputes of the
    # 64-wide zip_with per row). CollapseProject keeps a non-cheap alias
    # referenced more than once materialized, so each row computes its
    # residual exactly once. (Same O(dim²) hazard fixed in sq8_adc_topk.)
    work = emb.withColumn("_bkt", bkt).withColumn(
        "_res",
        F.zip_with(
            F.col(vec_col),
            F.get(_centroid_matrix_lit(cents), F.col("_bkt")),
            lambda x, y: x.cast("double") - y.cast("double"),
        ),
    )
    for m, book in enumerate(books):
        work = work.withColumn(
            f"_c{m}",
            centroid_argmin_col(book, F.slice(F.col("_res"), m * d + 1, d))["cid"],
        )
    codes = [F.col(f"_c{m}") for m in range(n_sub)]

    q = _query_vector(emb, query_id, id_col, vec_col)
    probed = [cid for _, cid in sorted((_portable_l2(q, c), cid) for cid, c in cents)[:nprobe]]
    qres = {b: [x - y for x, y in zip(q, cmat[b])] for b in probed}

    # Per-(bucket, subspace) ADC tables: query-residual-to-code distances as
    # literal arrays, selected by the row's coarse cell.
    adc: Column | None = None
    for m, book in enumerate(books):
        term: Column | None = None
        for b in probed:
            picked = F.get(_adc_table(qres[b][m * d : (m + 1) * d], book), codes[m])
            term = (
                picked
                if term is None
                else F.when(F.col("_bkt") == b, picked).otherwise(term)
            )
        adc = term if adc is None else adc + term
    candidates = work.filter(
        F.col("_bkt").isin(probed) & (F.col(id_col) != query_id)
    )
    short = (
        candidates.select(
            F.col(id_col), F.col(vec_col), pround(adc, 6).alias("adc_dist")
        )
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(shortlist)
    )
    return _exact_rerank(short, emb, query_id, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the simplest vector-compression path. Each
# dimension is affinely mapped to an 8-bit code against per-dimension
# [min, max] corpus bounds: a 64-dim float vector (256 B) becomes 64 B with
# no codebook training at all. FAISS ships this as IndexScalarQuantizer
# (QT_8bit); it complements PQ: SQ8 is 4x compression with near-exact
# recall, PQ is 32x with coarser distances. Bounds come from ONE aggregate
# pass (2*dim scalar min/max — map-side partial, no explode, no shuffle
# beyond the single reduce) and enter the plan as literals, so encode and
# asymmetric-distance scoring are pure per-row projections: the only
# shuffle in the top-k is TakeOrderedAndProject's heap merge.
# ---------------------------------------------------------------------------


def sq8_bounds(
    emb: DataFrame, dim: int = 64, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, spans) over the corpus in one aggregation pass.

    2*dim scalar aggregates instead of posexplode+groupBy: the same answer
    with zero shuffle rows (partial min/max combine map-side; the driver
    collects exactly one row of 2*dim doubles — bounded by construction)."""
    aggs = []
    for i in range(dim):
        e = F.element_at(F.col(vec_col), i + 1).cast("double")
        aggs.append(F.min(e).alias(f"mn{i}"))
        aggs.append(F.max(e).alias(f"mx{i}"))
    row = emb.agg(*aggs).first()
    mins = [float(row[f"mn{i}"]) for i in range(dim)]
    spans = [float(row[f"mx{i}"]) - mins[i] for i in range(dim)]
    return mins, spans


def sq8_code_col(
    vec_col: str, mins: list[float], spans: list[float]
) -> Column:
    """``array<int>`` of 8-bit codes: ``floor((x-mn)/span*255 + 0.5)``.

    Plain 0.5 (no epsilon): Spark and the oracle compute bit-identical
    doubles in the same order, so the floor can never disagree; corpus
    values are inside [mn, mx] by construction, so codes land in [0, 255]
    without clamping (x == mx maps to exactly 255.0)."""
    mins_l, spans_l = _arr_lit(mins), _arr_lit(spans)
    dim = len(mins)

    def code(i: Column) -> Column:
        x = F.element_at(F.col(vec_col), i).cast("double")
        mn, sp = F.get(mins_l, i - 1), F.get(spans_l, i - 1)
        return (
            F.when(sp == 0.0, F.lit(0))
            .otherwise(F.floor((x - mn) / sp * F.lit(255.0) + F.lit(0.5)))
            .cast("int")
        )

    return F.transform(F.sequence(F.lit(1), F.lit(dim)), code)


def sq8_encode(
    emb: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """SQ8-encode every vector: ``(id, sq8_code)``, code emitted as a
    comma-joined string (the driver's pandas canonicalizer cannot hash
    array cells — same portability rule as ``pq_encode``)."""
    mins, spans = bounds if bounds is not None else sq8_bounds(emb, dim, vec_col)
    codes = sq8_code_col(vec_col, mins, spans)
    return emb.select(
        F.col(id_col), F.array_join(codes.cast("array<string>"), ",").alias("sq8_code")
    )


def sq8_adc_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over SQ8 codes.

    The query stays un-quantized; each corpus vector is scored against its
    decoded form ``mn_i + code_i*span_i/255`` — a left-folded sum of squared
    per-dimension differences, mirroring the oracle's ``list_sum`` order
    exactly. Bounds and the query enter the plan as literals: scoring is a
    pure projection (no join, no Exchange before the top-k heap)."""
    mins, spans = bounds if bounds is not None else sq8_bounds(emb, dim, vec_col)
    q = _query_vector(emb, query_id, id_col, vec_col)
    mins_l, spans_l, q_l = _arr_lit(mins), _arr_lit(spans), _arr_lit(q)

    def sq_diff(i: Column) -> Column:
        # The per-dim code is computed INLINE (not via sq8_code_col's array):
        # referencing an array-building expression from inside another
        # lambda makes Catalyst inline the whole 64-element construction at
        # every element_at site — an O(dim²) expression blowup measured at
        # 3.2 s vs 0.2 s on sf0.1. Each dimension's code is used exactly
        # once, so fusing encode+decode+diff keeps it O(dim).
        x = F.element_at(F.col(vec_col), i).cast("double")
        mn, sp = F.get(mins_l, i - 1), F.get(spans_l, i - 1)
        c = (
            F.when(sp == 0.0, F.lit(0))
            .otherwise(F.floor((x - mn) / sp * F.lit(255.0) + F.lit(0.5)))
            .cast("int")
        )
        recon = mn + c.cast("double") * sp / F.lit(255.0)
        return (F.get(q_l, i - 1) - recon) ** F.lit(2)

    diffs = F.transform(F.sequence(F.lit(1), F.lit(dim)), sq_diff)
    dist = F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)
    return (
        emb.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), pround(dist, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )
