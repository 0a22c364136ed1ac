"""Scale-safe exact global rank / ntile (no single-partition sort).

A bare ``Window.orderBy(...)`` (no ``partitionBy``) funnels the ENTIRE input
through one task — fine on 1 500 customers, fatal on the ~10⁹-row per-user
aggregate a 100 TB corpus produces. These operators return numbers that are
hash-identical to SQL ``row_number()`` / ``ntile()`` over a global ORDER BY,
but every per-task working set stays bounded:

1. one ``approx_percentile`` aggregate over the numeric sort key → up to
   P−1 range bounds, broadcast as literals (never a row-level shuffle key);
2. deterministic range bucketing — *strict* comparisons put every tie of a
   boundary value into the same bucket, so bucket order == total order
   (skew from a single hot value is bounded by that value's row count, and
   the approx bounds only steer balance, never correctness);
3. ``row_number`` windowed PER BUCKET — P parallel sorts of ~N/P rows;
4. one tiny ``groupBy(bucket).count()`` whose ≤P rows are collected to the
   driver (model-parameter-class collect, same discipline as the IVF
   centroid / PQ codebook collects) and turned into broadcast prefix
   offsets.

``global rank = per-bucket row_number + prefix offset(bucket)``; ``ntile``
is then a pure integer formula of (rank, N, n) — no window at all.

The one deliberate single-task order is :func:`bounded_order`, the final
ORDER BY of a result that is small by construction.

Correctness requires a TOTAL order: callers must pass tie-break columns
that make (key, *ties) unique, exactly as they would for a deterministic
SQL ``ntile``. The key must be numeric and non-null (nulls would sort
differently across engines anyway). Exactness of the bucket formula holds
for N < 2⁵³ (double-precision floor division) — comfortably past 100 TB of
rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PID = "_gr_pid"
_KEY = "_gr_key"
_RN = "_gr_rn"


def global_rank(
    df: DataFrame,
    key: str,
    ties: Sequence[str] = (),
    descending: bool = False,
    rank_col: str = "rank",
    n_ranges: int | None = None,
    cache: bool = True,
) -> tuple[DataFrame, int]:
    """Exact dense 1-based global rank by (key [DESC], *ties ASC).

    Returns ``(df + rank_col, total_row_count)``. Two extra driver actions
    run (bounds + bucket counts); pass ``cache=False`` when the caller
    already persisted ``df`` (e.g. one base aggregate ranked three ways).
    """
    spark = df.sparkSession
    if n_ranges is None:
        n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # Ascending internal key: negate for DESC (numeric keys only).
    keyexpr = (-F.col(key)) if descending else F.col(key)
    work = df.withColumn(_KEY, keyexpr)
    if cache:
        work = work.persist()

    probs = [i / n_ranges for i in range(1, n_ranges)]
    brow = work.agg(F.percentile_approx(_KEY, probs, 10_000).alias("b")).first()
    bounds = sorted(set(brow["b"] or []))

    # Strictly-greater bucketing keeps all ties of a bound in one bucket.
    pid = F.lit(0)
    for b in bounds:
        pid = pid + F.when(F.col(_KEY) > F.lit(b), 1).otherwise(0)
    work = work.withColumn(_PID, pid.cast("int"))

    counts = work.groupBy(_PID).agg(F.count(F.lit(1)).alias("c")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r[_PID]):
        offsets[row[_PID]] = acc
        acc += row["c"]
    n_total = acc

    w = Window.partitionBy(_PID).orderBy(
        F.asc(_KEY), *[F.asc(t) for t in ties]
    )
    off_map = F.create_map(
        *[F.lit(x) for p_off in offsets.items() for x in p_off]
    )
    ranked = (
        work.withColumn(_RN, F.row_number().over(w))
        .withColumn(
            rank_col,
            (F.col(_RN).cast("long") + off_map[F.col(_PID)].cast("long")),
        )
        .drop(_PID, _KEY, _RN)
    )
    return ranked, n_total


def bounded_order(df: DataFrame, *cols: str | Column) -> DataFrame:
    """``df.orderBy(*cols)`` for a frame that is bounded BY CONSTRUCTION,
    sorted in one task.

    ``orderBy`` plans ``Exchange rangepartitioning``: one job samples the
    input (re-running the stage below the sort), one writes the shuffle and
    one sorts — three jobs even for a 6-row result. Here the rows funnel
    into one partition and sort there: no sampling job, no range shuffle.

    Contract: the row count of ``df`` has a bound fixed by the query, not
    by the data volume —

    * a group-by over a fixed domain (return flag × line status, nations,
      languages, sources, event types, weekdays, bins of a bounded value,
      a constant shard/cluster/phase count);
    * a per-group top-k with a constant k over such groups;
    * k·|Q| rows for a constant query set Q.

    ``coalesce(1)`` runs the WHOLE stage above the last shuffle in the one
    task, which is right when that stage only finishes an aggregate or a
    bounded top-k. When it does per-row work over unbounded input (a scan,
    a row UDF, a window over every row), call ``repartition(1)`` first so
    that stage keeps its parallelism. Per-user, per-document, pair and
    cluster outputs grow with the data and keep ``orderBy``
    (``tests/test_plans_quality.py`` pins a sample of them); an
    ``orderBy(...).limit(k)`` already plans ``TakeOrderedAndProject``.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


def ntile_from_rank(rank: Column, n: int, n_total: int) -> Column:
    """SQL ``ntile(n)`` as a pure expression over an exact global rank.

    ntile semantics: with N = q·n + rem, buckets 1..rem hold q+1 rows and
    buckets rem+1..n hold q rows. Integer-exact for N < 2⁵³.
    """
    q, rem = divmod(n_total, n)
    if q == 0:  # fewer rows than buckets: bucket == rank
        return rank.cast("int")
    boundary = rem * (q + 1)
    big = F.floor((rank + F.lit(q)) / F.lit(q + 1))
    small = F.lit(rem) + F.floor(
        (rank - F.lit(boundary) + F.lit(q - 1)) / F.lit(q)
    )
    return F.when(rank <= F.lit(boundary), big).otherwise(small).cast("int")


def exact_ntile(
    df: DataFrame,
    n: int,
    key: str,
    ties: Sequence[str] = (),
    descending: bool = False,
    bucket_col: str = "bucket",
    n_ranges: int | None = None,
    cache: bool = True,
) -> DataFrame:
    """``ntile(n) OVER (ORDER BY key [DESC], *ties)`` without the global
    single-partition sort. Hash-identical to the SQL form."""
    ranked, n_total = global_rank(
        df,
        key,
        ties=ties,
        descending=descending,
        rank_col="_gr_rank",
        n_ranges=n_ranges,
        cache=cache,
    )
    return ranked.withColumn(
        bucket_col, ntile_from_rank(F.col("_gr_rank"), n, n_total)
    ).drop("_gr_rank")


_SEP = "\x1f"  # group/bucket composite map key — never appears in data keys
_NULL_GROUP = _SEP + "NULL"  # sentinel for a NULL group value (collision-free
#                              because _SEP itself never appears in data keys)


def grouped_rank(
    df: DataFrame,
    group: str,
    key: str,
    ties: Sequence[str] = (),
    descending: bool = False,
    rank_col: str = "rank",
    total_col: str = "group_total",
    n_ranges: int | None = None,
    cache: bool = True,
) -> DataFrame:
    """Exact per-group 1-based rank by (key [DESC], *ties ASC) — the
    scale-safe replacement for ``row_number() OVER (PARTITION BY group
    ORDER BY ...)`` when single groups are corpus-sized (a per-language
    window at 100 TB funnels each whole language through one task).

    Same decomposition as :func:`global_rank`, with the group spliced into
    the window key: the numeric sort key is range-bucketed GLOBALLY (one
    ``approx_percentile``, bounds as literals), ``row_number`` runs per
    (group, range-bucket) — |G|·P parallel sorts of bounded slices — and
    the per-group rank is rebuilt from |G|·P collected prefix offsets
    (model-parameter-class collect, same discipline as the range-bucket
    offsets above). Adds ``total_col`` (per-group row count) so callers can
    feed :func:`ntile_from_rank_cols` without another aggregate.

    ``group`` must have bounded cardinality (languages, sources, shards —
    not user ids); key numeric and non-null; (key, *ties) unique per group.
    NULL group values form their own group (sentinel-keyed on both the
    offset-map and lookup sides — see the okey note below).
    """
    spark = df.sparkSession
    if n_ranges is None:
        n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    keyexpr = (-F.col(key)) if descending else F.col(key)
    work = df.withColumn(_KEY, keyexpr)
    if cache:
        work = work.persist()

    probs = [i / n_ranges for i in range(1, n_ranges)]
    brow = work.agg(F.percentile_approx(_KEY, probs, 10_000).alias("b")).first()
    bounds = sorted(set(brow["b"] or []))

    pid = F.lit(0)
    for b in bounds:
        pid = pid + F.when(F.col(_KEY) > F.lit(b), 1).otherwise(0)
    work = work.withColumn(_PID, pid.cast("int"))

    counts = work.groupBy(group, _PID).agg(F.count(F.lit(1)).alias("c")).collect()
    per_group: dict[str, list[tuple[int, int]]] = {}
    for row in counts:
        g_key = _NULL_GROUP if row[group] is None else str(row[group])
        per_group.setdefault(g_key, []).append((row[_PID], row["c"]))
    off_entries: list[tuple[str, int]] = []
    tot_entries: list[tuple[str, int]] = []
    for g, lst in per_group.items():
        acc = 0
        for p, c in sorted(lst):
            off_entries.append((f"{g}{_SEP}{p}", acc))
            acc += c
        tot_entries.append((g, acc))
    off_map = F.create_map(*[F.lit(x) for kv in off_entries for x in kv])
    tot_map = F.create_map(*[F.lit(x) for kv in tot_entries for x in kv])

    w = Window.partitionBy(group, _PID).orderBy(
        F.asc(_KEY), *[F.asc(t) for t in ties]
    )
    # NULL groups: concat_ws silently DROPS a NULL operand, so a bare
    # cast would produce okey "<pid>" while the driver-side map key said
    # "None\x1f<pid>" — rank/group_total would go silently NULL (ADVICE
    # r5). Coalesce to a sentinel containing _SEP (which by contract never
    # appears in data keys, so no real group can collide) on BOTH the
    # map-build side above and the lookup side here.
    g_str = F.coalesce(F.col(group).cast("string"), F.lit(_NULL_GROUP))
    okey = F.concat_ws(_SEP, g_str, F.col(_PID).cast("string"))
    return (
        work.withColumn(_RN, F.row_number().over(w))
        .withColumn(rank_col, F.col(_RN).cast("long") + off_map[okey].cast("long"))
        .withColumn(total_col, tot_map[g_str].cast("long"))
        .drop(_PID, _KEY, _RN)
    )


def ntile_from_rank_cols(rank: Column, n_total: Column, n: int) -> Column:
    """:func:`ntile_from_rank` with a per-row (per-group) total — the same
    integer ntile algebra, all operands Columns so one expression buckets
    every group at once. Exact for totals < 2⁵³."""
    q = F.floor(n_total / F.lit(n)).cast("long")
    rem = (n_total % F.lit(n)).cast("long")
    boundary = rem * (q + F.lit(1))
    big = F.floor((rank + q) / (q + F.lit(1)))
    small = rem + F.floor((rank - boundary + q - F.lit(1)) / q)
    return (
        F.when(q == F.lit(0), rank)
        .when(rank <= boundary, big)
        .otherwise(small)
        .cast("int")
    )


# --------------------------------------------------------------------------
# Value-bounded-grid rank machinery (shared by the rank statistics)
# --------------------------------------------------------------------------
#
# ``mann_whitney_u``, ``spearman_corr_qty_price`` and ``kruskal_wallis_h``
# (plans/stats_inference.py) rank a corpus-sized column WITHOUT a corpus-sized
# sort: observations quantize to a value-bounded grid (whole dollars, the
# 1..50 TPC-H quantity domain), one group-by produces per-value tie counts,
# and a cumulative window over the GRID (<= ~500 rows -- the
# logrank/equidepth bounded-window class, SCALE.md) yields every tied
# observation's doubled average rank as the exact integer
#
#     2*rbar(v) = 2*cum(v) - t(v) + 1
#
# so rank sums and rank moments stay BIGINT/DECIMAL-exact until one final
# shared double tree. Factored here per VERDICT r9 item 3 (the
# ``operators/asof.carry_forward`` precedent): one definition of the
# grid->cumulative-window->2*rbar table, three consumers. The unpartitioned
# window is safe ONLY because the grid is value-bounded;
# ``tests/test_plans_quality.py`` gates that every consumer's window input
# is a post-aggregate grid, never the corpus.

def value_grid_ranks(df: DataFrame, col: str, *extra_aggs: Column) -> DataFrame:
    """Per-value tie counts + cumulative counts over the bounded domain of
    ``col``.

    Returns one row per distinct value with ``t`` (tie count), any
    ``extra_aggs`` (e.g. per-arm counts for the k-sample tests), and ``cum``
    (cumulative count through this value in ascending order). The cumulative
    window is unpartitioned but runs on the post-aggregate GRID, whose size
    is the value domain, not the corpus.
    """
    grid = df.groupBy(col).agg(F.count(F.lit(1)).alias("t"), *extra_aggs)
    wcum = Window.orderBy(col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.withColumn("cum", F.sum("t").over(wcum))


def two_rbar() -> Column:
    """Doubled average rank of a grid row: 2·r̄ = 2·cum − t + 1 (exact
    BIGINT — doubling clears the half-integer average ranks ties create)."""
    return 2 * F.col("cum") - F.col("t") + 1


def average_rank_table(df: DataFrame, col: str, out: str) -> DataFrame:
    """(value → 2·r̄) lookup table for joining doubled average ranks back
    onto the corpus (the Spearman shape); broadcast it — it is grid-sized."""
    return value_grid_ranks(df, col).select(col, two_rbar().alias(out))
