"""Projection / filter / cast / masking operators (SURVEY.md §2.3, §2.12).

These are thin, composable wrappers over DataFrame expressions — the value is
the declared semantics (and the scale notes), not cleverness: Catalyst pushes
every one of these into the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, cols: Sequence[str]) -> Column | DataFrame:
    """P4: column pruning (``/root/reference/airflow/config/read_delta.py:261``).

    Catalyst prunes through joins/aggs anyway; keeping the explicit select
    also narrows JDBC reads at the source.
    """
    return df.select(*cols)


def align_key_type(df: DataFrame, key: str, ref_df: DataFrame) -> DataFrame:
    """P5: runtime join-key type alignment (``read_delta.py:130-161``).

    The reference compared dtypes by hand and cast before joining; we do the
    same declaratively (the analyzer would insert implicit casts, but an
    explicit cast keeps the join key's type stable for bucketing).
    """
    ref_type = dict(ref_df.dtypes)[key]
    if dict(df.dtypes)[key] != ref_type:
        df = df.withColumn(key, F.col(key).cast(ref_type))
    return df


def mask_columns(
    df: DataFrame, masked_cols: Sequence[str], role: str, masked_roles: Sequence[str] = ("bi",)
) -> DataFrame:
    """P9/§2.12: masked view (``init-scripts/init-db.sql:74-89``).

    The reference masks per-connection with ``current_user``; a standalone
    Spark app has no per-reader dispatch, so the role is a view-creation
    parameter (documented divergence, SURVEY.md §7.3). Masked columns become
    NULL (same as the reference view) when the role is restricted.
    """
    if role not in masked_roles:
        return df
    out = df
    for c in masked_cols:
        out = out.withColumn(c, F.lit(None).cast(dict(df.dtypes)[c]))
    return out
