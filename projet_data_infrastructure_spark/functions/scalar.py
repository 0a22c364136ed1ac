"""Scalar function surface (SURVEY.md §2.7, F1-F14).

Every scalar computation the reference performs, as Column expressions that
stay inside whole-stage codegen (no Python UDFs here — that is the point).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bonus_amount(is_valid: Column, salary: Column, rate: float = 0.05) -> Column:
    """P10/F4/F5: ``CASE WHEN is_valid THEN ROUND(salary*rate,2) ELSE 0 END``.

    Mirrors the flagship Superset query (``/root/reference/README.md:144-147``).
    NULL ``is_valid`` (employee without a validation row) falls through to the
    ELSE branch — Spark and ANSI SQL agree on this 3-valued logic.
    """
    return F.when(is_valid, F.round(salary * F.lit(rate), 2)).otherwise(F.lit(0.0))


def decode_epoch_micros(col: Column) -> Column:
    """F3: µs-epoch → timestamp (``/root/reference/spark/SaveDelta.scala:143``).

    The reference used ``from_unixtime(cast(x as long)/1000000)`` which drops
    sub-second precision; ``timestamp_micros`` keeps it.
    """
    return F.timestamp_micros(col.cast("long"))


def full_name(first: Column, last: Column) -> Column:
    """F10: name concatenation (``slack_notification.py:64``)."""
    return F.concat_ws(" ", first, last)


def is_weekend(ts: Column) -> Column:
    """F13: weekend test (``sport_generation.py:178`` uses weekday() in (5,6)).

    Spark ``dayofweek`` is 1=Sunday..7=Saturday, so weekend = {1, 7}.
    """
    return F.dayofweek(ts).isin(1, 7)
