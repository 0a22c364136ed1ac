"""TPC-H partsupp-family analogs (Q2 / Q9 / Q11 / Q16 / Q20).

The driver testdata ships no ``partsupp`` table, which until round 6 left
these five classic relational analytics shapes uncovered (VERDICT r5 item 4).
``synth_partsupp`` derives one DETERMINISTICALLY from lineitem's distinct
(partkey, suppkey) pairs — exactly the pairs TPC-H's partsupp would make
visible through lineitem — with availability and cost drawn from the
engine-portable seeded ``hash64`` (``functions/hashing.py``), so the DuckDB
oracle reconstructs the identical table from the identical SQL expression and
every query below stays hash-checkable end to end.

Column discipline: ``ps_availqty`` and ``ps_supplycost_cents`` are BIGINTs
(cost in integer cents), so Q2's per-part minimum, Q11's inventory value,
Q16's supplier counts and Q20's stock-vs-shipped comparison are all EXACT
integer arithmetic — no float min/sum ambiguity anywhere; only Q9 touches
doubles (the lineitem revenue term, same ``pround`` discipline as the other
TPC-H analogs in ``plans/advanced.py``).

Scale shape: partsupp is |distinct(pk, sk)| ≈ |lineitem| in the worst case.
Every query keys its joins on (ps_partkey, ps_suppkey) or a broadcast dim;
the one large-large join (Q9: lineitem ⋈ partsupp) is a co-partitioned
shuffle join on the composite key — at 100 TB both sides would be bucketed
on (partkey, suppkey) and the exchange disappears.

Reference scope: the reference app has no TPC-H workload; these are part of
the §2-beyond relational-analytics surface mirrored from the public TPC-H
spec (transcribed from the public query definitions, adapted to the driver
star schema's column subset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.functions.hashing import hash64, hash64_sql
from projet_data_infrastructure_spark.operators.ranks import bounded_order
from projet_data_infrastructure_spark.plans._portable import pround, pround_sql
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.sources.readers import read_table

_AV_SEED = 11  # ps_availqty hash seed
_SC_SEED = 13  # ps_supplycost hash seed


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic partsupp synthesis (see module docstring).

    ``ps_availqty`` ∈ [1, 9999] and ``ps_supplycost_cents`` ∈ [100, 100000]
    (1.00–1000.00 in cents) — the TPC-H value domains — from the seeded
    portable hash of "partkey:suppkey", so both engines rebuild the exact
    same rows with zero stored state.
    """
    pairs = (
        read_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    key = F.concat_ws(
        ":", F.col("ps_partkey").cast("string"), F.col("ps_suppkey").cast("string")
    )
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        (F.lit(1) + hash64(key, _AV_SEED) % 9999).cast("long").alias("ps_availqty"),
        (F.lit(100) + hash64(key, _SC_SEED) % 99901)
        .cast("long")
        .alias("ps_supplycost_cents"),
    )


_PS_KEY_SQL = "CAST(ps_partkey AS VARCHAR) || ':' || CAST(ps_suppkey AS VARCHAR)"

#: DuckDB rendering of :func:`synth_partsupp` — prepend inside a WITH block.
PARTSUPP_CTE = f"""
partsupp AS (
    SELECT ps_partkey, ps_suppkey,
           CAST(1 + {hash64_sql(_PS_KEY_SQL, _AV_SEED)} % 9999 AS BIGINT)
               AS ps_availqty,
           CAST(100 + {hash64_sql(_PS_KEY_SQL, _SC_SEED)} % 99901 AS BIGINT)
               AS ps_supplycost_cents
    FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          FROM lineitem)
)"""


def q_partsupp_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized table itself, driver-checkable row for row."""
    return synth_partsupp(spark, sf_dir)


_PARTSUPP_SQL = f"WITH {PARTSUPP_CTE.strip()}\nSELECT * FROM partsupp"


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier per part within a region
# --------------------------------------------------------------------------

_Q2_REGION = "EUROPE"
_Q2_TYPE = "STANDARD"
_Q2_MAX_SIZE = 15


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 analog: for STANDARD parts of size ≤ 15, the EUROPE supplier(s)
    offering the regional minimum supply cost, ranked by account balance.

    Plan shape: part/supplier/nation/region are broadcast dims; partsupp
    (the only O(|E|) frame) is scanned once, filtered by the broadcast
    semi-joins, and the per-part regional minimum is ONE map-side-combined
    aggregate joined back by partkey — no window, no self-shuffle of
    partsupp beyond the single groupBy exchange. Cost is exact integer
    cents, so the min-equality join has no float-tie leeway.
    """
    ps = synth_partsupp(spark, sf_dir)
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == _Q2_TYPE) & (F.col("p_size") <= _Q2_MAX_SIZE)
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == _Q2_REGION)
    region_supp = (
        supp.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.select(F.col("r_regionkey").alias("n_regionkey"))),
                    "n_regionkey",
                ).select(F.col("n_nationkey").alias("s_nationkey"), "n_name")
            ),
            "s_nationkey",
        )
    )
    eligible = (
        ps.join(F.broadcast(part.select(F.col("p_partkey").alias("ps_partkey"))), "ps_partkey")
        .join(
            F.broadcast(
                region_supp.select(
                    F.col("s_suppkey").alias("ps_suppkey"), "s_name", "s_acctbal", "n_name"
                )
            ),
            "ps_suppkey",
        )
    )
    min_cost = eligible.groupBy(F.col("ps_partkey").alias("mc_partkey")).agg(
        F.min("ps_supplycost_cents").alias("min_cost_cents")
    )
    return (
        eligible.join(
            F.broadcast(min_cost),
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost_cents") == F.col("min_cost_cents")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            F.col("ps_supplycost_cents").alias("supplycost_cents"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
    )


_TPCH_Q2_SQL = f"""
WITH {PARTSUPP_CTE.strip()},
eligible AS (
    SELECT ps.ps_partkey, ps.ps_supplycost_cents,
           s.s_name, s.s_acctbal, n.n_name
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_type = '{_Q2_TYPE}' AND p.p_size <= {_Q2_MAX_SIZE}
      AND r.r_name = '{_Q2_REGION}'
),
mc AS (
    SELECT ps_partkey, min(ps_supplycost_cents) AS min_cost_cents
    FROM eligible GROUP BY ps_partkey
)
SELECT e.s_acctbal, e.s_name, e.n_name, e.ps_partkey AS p_partkey,
       e.ps_supplycost_cents AS supplycost_cents
FROM eligible e JOIN mc ON e.ps_partkey = mc.ps_partkey
             AND e.ps_supplycost_cents = mc.min_cost_cents
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p_partkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# Q9 — product-type profit by nation and year
# --------------------------------------------------------------------------

_Q9_NAME_PAT = "%bolt%"


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 analog: profit on parts named like '%bolt%', per supplier nation
    and order year — profit = revenue − supply cost × quantity.

    Plan shape: the ONE large-large join (lineitem ⋈ partsupp) shuffles
    both sides on the composite (partkey, suppkey) key — at 100 TB both
    would be bucketed on it and the exchange vanishes; part filters
    broadcast-semi into lineitem BEFORE that shuffle (the name predicate
    prunes ~1/8 of rows map-side), orders/supplier/nation broadcast.
    Quantity is integral and cost exact cents, so the only double is the
    revenue term (``pround`` discipline, as every TPC-H analog here).
    """
    li = read_table(spark, sf_dir, "lineitem")
    ps = synth_partsupp(spark, sf_dir)
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like(_Q9_NAME_PAT))
    orders = read_table(spark, sf_dir, "orders")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    j = (
        li.join(
            F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"))), "l_partkey"
        )
        .join(
            ps.withColumnRenamed("ps_partkey", "l_partkey").withColumnRenamed(
                "ps_suppkey", "l_suppkey"
            ),
            ["l_partkey", "l_suppkey"],
        )
        # orders is a FACT table — no broadcast hint; AQE broadcasts it at
        # demo SFs and falls back to a keyed shuffle join at cluster scale.
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"),
            "l_orderkey",
        )
        .join(
            F.broadcast(supp.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")),
            "l_suppkey",
        )
        .join(
            F.broadcast(
                nation.select(F.col("n_nationkey").alias("s_nationkey"), "n_name")
            ),
            "s_nationkey",
        )
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        F.col("ps_supplycost_cents") * F.col("l_quantity")
    ) / F.lit(100.0)
    return bounded_order(
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(pround(F.sum("amount"), 2).alias("sum_profit")),
        F.asc("nation"),
        F.desc("o_year"),
    )


_TPCH_Q9_SQL = f"""
WITH {PARTSUPP_CTE.strip()}
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       {pround_sql(
           "sum(l_extendedprice * (1 - l_discount)"
           " - (ps_supplycost_cents * l_quantity) / 100.0)", 2)} AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '{_Q9_NAME_PAT}'
GROUP BY n_name, o_year
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# Q11 — most important stock per part within one nation
# --------------------------------------------------------------------------

_Q11_REGION = "EUROPE"
_Q11_FRACTION_DEN = 10_000  # TPC-H's 0.0001 as an exact integer ratio


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 analog: parts whose inventory value at EUROPE suppliers exceeds
    1/10000 of that region's total inventory value (region rather than the
    spec's single nation: the sf0.001 corpus has only 10 suppliers over 25
    nations, so any one nation is empty there and the spec would pin a
    degenerate 0-row result; the query shape is identical).

    Exactness: value = Σ cost_cents · availqty stays BIGINT; the
    threshold test multiplies the part value by 10000 in DECIMAL(38,0)
    instead of dividing the total (no truncation boundary, no overflow at
    any SF). One aggregate over the nation-filtered partsupp plus a
    broadcast 1-row total — the TPC-H correlated HAVING without a second
    partsupp scan (the grouped frame re-aggregates, |parts|-sized).
    """
    ps = synth_partsupp(spark, sf_dir)
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == _Q11_REGION)
    nat_ps = ps.join(
        F.broadcast(
            supp.join(
                F.broadcast(
                    nation.join(
                        F.broadcast(
                            region.select(F.col("r_regionkey").alias("n_regionkey"))
                        ),
                        "n_regionkey",
                    ).select(F.col("n_nationkey").alias("s_nationkey"))
                ),
                "s_nationkey",
            ).select(F.col("s_suppkey").alias("ps_suppkey"))
        ),
        "ps_suppkey",
    )
    per_part = nat_ps.groupBy("ps_partkey").agg(
        F.sum(F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("value_cents")
    )
    total = per_part.agg(
        F.sum("value_cents").cast("decimal(38,0)").alias("total_cents")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_cents").cast("decimal(38,0)") * _Q11_FRACTION_DEN
            > F.col("total_cents")
        )
        .select("ps_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), F.asc("ps_partkey"))
    )


_TPCH_Q11_SQL = f"""
WITH {PARTSUPP_CTE.strip()},
nat_ps AS (
    SELECT ps.ps_partkey, ps.ps_supplycost_cents, ps.ps_availqty
    FROM partsupp ps
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = '{_Q11_REGION}'
),
per_part AS (
    SELECT ps_partkey,
           CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cents
    FROM nat_ps GROUP BY ps_partkey
)
SELECT ps_partkey, value_cents
FROM per_part
WHERE CAST(value_cents AS HUGEINT) * {_Q11_FRACTION_DEN}
      > (SELECT CAST(sum(value_cents) AS HUGEINT) FROM per_part)
ORDER BY value_cents DESC, ps_partkey
"""


# --------------------------------------------------------------------------
# Q16 — supplier count by part brand/type/size
# --------------------------------------------------------------------------

_Q16_EXCL_BRAND = "Brand#9"
_Q16_EXCL_TYPE = "PROMO"
_Q16_SIZES = (1, 3, 9, 14, 19, 23, 36, 45)


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 analog: distinct supplier count per (brand, type, size) over
    eight sizes, excluding one brand, one type, and suppliers in deficit
    (s_acctbal < 0 — the schema has no comment column for the spec's
    'Customer Complaints' filter, so deficit stands in as the equivalent
    bounded exclusion list).

    Plan shape: part filters broadcast into partsupp; the deficit
    exclusion is a broadcast LEFT ANTI (NOT IN with guaranteed-non-null
    keys); one count-distinct aggregate keyed by the three part attributes.
    """
    ps = synth_partsupp(spark, sf_dir)
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != _Q16_EXCL_BRAND)
        & (F.col("p_type") != _Q16_EXCL_TYPE)
        & (F.col("p_size").isin(*_Q16_SIZES))
    )
    bad_supp = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("ps_suppkey"))
    )
    return bounded_order(
        ps.join(
            F.broadcast(
                part.select(
                    F.col("p_partkey").alias("ps_partkey"), "p_brand", "p_type", "p_size"
                )
            ),
            "ps_partkey",
        )
        .join(F.broadcast(bad_supp), "ps_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt")),
        F.desc("supplier_cnt"),
        F.asc("p_brand"),
        F.asc("p_type"),
        F.asc("p_size"),
    )


_TPCH_Q16_SQL = f"""
WITH {PARTSUPP_CTE.strip()}
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> '{_Q16_EXCL_BRAND}'
  AND p_type <> '{_Q16_EXCL_TYPE}'
  AND p_size IN ({", ".join(str(s) for s in _Q16_SIZES)})
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# Q20 — suppliers with excess stock of promoted parts
# --------------------------------------------------------------------------

_Q20_NAME_PAT = "red%"
_Q20_NATION = "NATION_3"
_Q20_YEAR_LO = "1997-01-01"
_Q20_YEAR_HI = "1998-01-01"


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 analog: NATION_3 suppliers holding more than half a year's
    shipments of any 'red%' part — candidates to run a promotion through.

    Exactness: quantities are integral in the corpus, so the half-of-
    shipped comparison runs as 2·availqty > Σqty in BIGINT (no 0.5·sum
    float). Plan shape: lineitem pre-aggregates to (pk, sk, year-qty) —
    the only O(|E|) exchange; part and the nation's suppliers broadcast;
    the EXISTS collapses to a distinct-suppkey semi-join.
    """
    ps = synth_partsupp(spark, sf_dir)
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like(_Q20_NAME_PAT))
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q20_YEAR_LO).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(_Q20_YEAR_HI).cast("timestamp_ntz"))
    )
    shipped = (
        li.join(F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"))), "l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty_shipped"))
    )
    excess = (
        ps.join(
            shipped.withColumnRenamed("l_partkey", "ps_partkey").withColumnRenamed(
                "l_suppkey", "ps_suppkey"
            ),
            ["ps_partkey", "ps_suppkey"],
        )
        .filter(F.col("ps_availqty") * 2 > F.col("qty_shipped"))
        .select("ps_suppkey")
        .distinct()
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == _Q20_NATION)
    return (
        supp.join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("s_nationkey"))),
            "s_nationkey",
        )
        .join(excess.withColumnRenamed("ps_suppkey", "s_suppkey"), "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


_TPCH_Q20_SQL = f"""
WITH {PARTSUPP_CTE.strip()},
shipped AS (
    SELECT l_partkey, l_suppkey,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_shipped
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE '{_Q20_NAME_PAT}'
      AND l_shipdate >= TIMESTAMP '{_Q20_YEAR_LO}'
      AND l_shipdate < TIMESTAMP '{_Q20_YEAR_HI}'
    GROUP BY l_partkey, l_suppkey
),
excess AS (
    SELECT DISTINCT ps_suppkey
    FROM partsupp
    JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    WHERE ps_availqty * 2 > qty_shipped
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = '{_Q20_NATION}'
  AND s_suppkey IN (SELECT ps_suppkey FROM excess)
ORDER BY s_name
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "partsupp_synth",
        q_partsupp_synth,
        _PARTSUPP_SQL,
        ("tpch", "source"),
        doc="Deterministic partsupp synthesis from lineitem pairs — seeded "
        "portable-hash availqty/cost, rebuilt identically by both engines",
    ),
    QuerySpec(
        "tpch_q2_min_cost_supplier",
        q_tpch_q2,
        _TPCH_Q2_SQL,
        ("tpch",),
        doc="Q2 analog: regional minimum-cost supplier per part, exact "
        "integer-cents min",
    ),
    QuerySpec(
        "tpch_q9_product_profit",
        q_tpch_q9,
        _TPCH_Q9_SQL,
        ("tpch", "bench"),
        doc="Q9 analog: product-type profit by nation and year; lineitem ⋈ "
        "partsupp on the composite key is the one large-large shuffle",
    ),
    QuerySpec(
        "tpch_q11_important_stock",
        q_tpch_q11,
        _TPCH_Q11_SQL,
        ("tpch",),
        doc="Q11 analog: parts above 1/10000 of regional inventory value, "
        "BIGINT cents with a DECIMAL threshold test",
    ),
    QuerySpec(
        "tpch_q16_supplier_cnt",
        q_tpch_q16,
        _TPCH_Q16_SQL,
        ("tpch",),
        doc="Q16 analog: distinct supplier count per brand/type/size with "
        "anti-joined exclusion list",
    ),
    QuerySpec(
        "tpch_q20_excess_stock",
        q_tpch_q20,
        _TPCH_Q20_SQL,
        ("tpch",),
        doc="Q20 analog: suppliers holding >half a year's shipments of a "
        "part family, all-integer comparison",
    ),
]
