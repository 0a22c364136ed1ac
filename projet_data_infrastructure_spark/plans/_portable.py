"""Cross-engine deterministic helpers shared by every QuerySpec.

Spark's ``round()`` (BigDecimal HALF_UP on the double's shortest decimal
rendering) and DuckDB's ``round()`` (binary-double rounding) disagree on
half-way values (measured: 2/1500 mismatches on ``round(c_acctbal*0.05, 2)``),
so every rounded output uses the portable formulation

    pround(x, n) = floor(x * 10^n + 0.5) / 10^n

which is pure IEEE-double arithmetic and bit-identical in both engines.

Aggregates over doubles are order-sensitive in the last ulps, so every
floating aggregate output is rounded: 2 dp for avg-scale values, 0 dp for
large sums (absolute noise ~1e-4 at sf0.01 ≪ the 0.5 boundary).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: Boundary-bias epsilon. Averages of cent-grid sums (sum_cents/n) can land
#: EXACTLY on a rounding boundary (e.g. 220721.135), where the two engines'
#: different summation orders leave them on opposite sides by one ulp
#: (observed on salted vs plain aggregation). The epsilon shifts the
#: boundary off every short terminating-decimal point so exact-boundary
#: values round up deterministically in both engines; it is ~1000x larger
#: than cross-engine float noise at our magnitudes and ~1000x smaller than
#: the rounding grid, so no legitimately distinct value is misrounded.
_EPS = 1e-5


def pround(col: Column, n: int = 2) -> Column:
    """Portable round-half-up, identical in Spark and DuckDB (see module doc)."""
    scale = float(10**n)
    return (F.floor(col * F.lit(scale) + F.lit(0.5 + _EPS)) / F.lit(scale)).alias("pround")


def value_cents() -> Column:
    """The ``events`` value in integer cents, rounded half-up:
    ``floor(value * 100 + 0.5)`` as BIGINT (the oracles' ``CAST(floor(value
    * 100 + 0.5) AS BIGINT)``). Exact integers from here on, so every sum
    over them is order-insensitive in both engines."""
    return F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")


def epoch_day() -> Column:
    """The ``events`` row's day index: whole days from 1970-01-01 to the
    date of ``ts`` (the oracles' ``datediff('day', DATE '1970-01-01',
    CAST(ts AS DATE))``)."""
    return F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))


def daily_cents(ev: DataFrame, *keys: str) -> DataFrame:
    """``(*keys, d, cents)``: the events frame ``ev`` summed to one row per
    key and :func:`epoch_day`, ``cents`` the BIGINT sum of
    :func:`value_cents`. Callers rename, cast or checkpoint on top; those
    projections collapse into this aggregate."""
    return (
        ev.select(*keys, epoch_day().alias("d"), value_cents().alias("cents"))
        .groupBy(*keys, "d")
        .agg(F.sum("cents").alias("cents"))
    )


def pround_sql(expr: str, n: int = 2) -> str:
    scale = float(10**n)
    return f"(floor(({expr}) * {scale} + {0.5 + _EPS!r}) / {scale})"


def fdiv(s: str, n: str, op: str) -> str:
    """Exact floor division for possibly-negative numerators via remainder
    correction (Spark ``DIV`` / DuckDB ``//`` both truncate toward zero;
    the corrected form floors in both engines). ``op`` is the engine's
    integer-divide operator token (``DIV`` or ``//``)."""
    rem = f"((({s}) % ({n}) + ({n})) % ({n}))"
    return f"((({s}) - {rem}) {op} ({n}))"
