"""Join operators (SURVEY.md §2.4).

The reference's join surface (J1 inner, J2 left-outer, J3 CTE self-join,
J5 FK validation) plus the semi/anti joins the engine needs for validation
and dedup. Scale stance:

* Dimension sides get an explicit ``broadcast()`` hint — at 100 TB the fact
  side never moves for a dim join (verify: ``BroadcastHashJoin`` in explain).
* Fact-fact joins shuffle on the key; callers co-partition via
  ``repartition(key)`` / bucketed tables when a key is reused across stages.
* AQE (on in session.py) converts to broadcast at runtime when a filtered
  side turns out small, and splits skewed partitions.
* Iterative graph loops (PageRank, BFS, Bellman-Ford, k-core, HITS,
  TextRank, label propagation, connected components) join a |V|-bounded
  vertex frame every round; :func:`vertex_side` is their one
  broadcast-vs-shuffle switch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.operators.transforms import align_key_type


# |V|-row frames (rank emissions, frontiers, distance maps, CC labels)
# broadcast while the vertex set is executor-memory bounded — entity graphs
# (customers, suppliers, domains) stay far below this even at 100 TB edge
# scale. Above it (web graphs, |V| ≥ 10⁹) the SAME joins run as keyed
# SHUFFLE_HASH joins: identical algebra, no broadcast of an unbounded frame.
# Tests force the shuffle form by monkeypatching this to 0 and pin
# row-identical results (``test_graph_shuffle_fallback_matches_broadcast``).
BROADCAST_VERTEX_ROWS = 50_000_000


def vertex_side(df: DataFrame, n_rows: int) -> DataFrame:
    """Build-side wrapper for a |V|-bounded frame in an iterative graph
    join: explicit broadcast below ``BROADCAST_VERTEX_ROWS``, explicit
    ``SHUFFLE_HASH`` hint above it (the frames come from aggregates or
    checkpoints, whose size estimates are unreliable — left to itself
    Catalyst would pick sort-merge and sort the edge list every round).
    ``n_rows`` is an upper bound on the frame's rows: an exact count, or
    the node-table sizes the vertex ids are packed from."""
    if n_rows > BROADCAST_VERTEX_ROWS:
        return df.hint("shuffle_hash")
    return F.broadcast(df)


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """J1/J2: key-deduped equi-join with type alignment.

    Re-expresses ``/root/reference/airflow/config/read_delta.py:280-285``
    (employees ⋈ validations ⟕ activity agg) as one reusable operator.
    USING-style join (single key column in the output, like the reference's
    ``df.join(df2, "id_employee")``).
    """
    dim = align_key_type(dim, key, fact)
    right = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(right, key, how)


def semi_join(df: DataFrame, other: DataFrame, key: str, broadcast_other: bool = False) -> DataFrame:
    """Rows of ``df`` with a match in ``other`` (no columns pulled across).

    ``other`` may be a fact table (e.g. "customers with recent orders"), so no
    broadcast hint by default — AQE converts to broadcast when the filtered
    side turns out small at runtime.
    """
    right = other.select(key)
    if broadcast_other:
        right = F.broadcast(right)
    return df.join(right, key, "left_semi")


def anti_join(df: DataFrame, other: DataFrame, key: str, broadcast_other: bool = False) -> DataFrame:
    """J5: FK violation finder — rows of ``df`` with NO match in ``other``.

    The reference relies on Postgres FK constraints
    (``init-scripts/init-db.sql:34,48``); in a lakehouse the same contract is
    a left-anti-join check (empty result ⇒ constraint holds).
    """
    right = other.select(key)
    if broadcast_other:
        right = F.broadcast(right)
    return df.join(right, key, "left_anti")


def fk_violation_count(fact: DataFrame, dim: DataFrame, key: str) -> int:
    """Referential-integrity validation: number of orphaned fact rows."""
    return anti_join(fact, dim, key).count()
