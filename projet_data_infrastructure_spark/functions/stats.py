"""Portable statistical special functions (shared double trees).

Neither Spark SQL nor DuckDB ships ``erf``/``Phi``, so p-value-producing
specs use the Zelen & Severo (1964) polynomial approximation of the
standard normal survival function (Abramowitz & Stegun 26.2.17, |error| <
7.5e-8) — expressed as the IDENTICAL arithmetic formula on both engines
(exp + polynomial in t = 1/(1+0.2316419·x)), so results are bit-identical
doubles and hash-check without tolerance fudges.
"""

from __future__ import annotations

#: Zelen & Severo coefficients (A&S 26.2.17).
_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_P = 0.2316419
#: 1/sqrt(2*pi) spelled as a literal so both engines parse the same double.
_INV_SQRT_2PI = "0.3989422804014327"


def _sf_formula(x: str) -> str:
    """Normal survival function P(Z > x) for NON-NEGATIVE x, as SQL text
    shared verbatim by Spark and DuckDB (both parse the same literals and
    evaluate the same IEEE tree)."""
    t = f"(1.0 / (1.0 + {_P} * ({x})))"
    poly = (
        f"({_B[0]} * {t} + {_B[1]} * {t} * {t} + {_B[2]} * {t} * {t} * {t}"
        f" + {_B[3]} * {t} * {t} * {t} * {t}"
        f" + {_B[4]} * {t} * {t} * {t} * {t} * {t})"
    )
    return f"({_INV_SQRT_2PI} * exp(-(({x}) * ({x})) / 2.0) * {poly})"


def two_sided_p_sql(z_expr: str) -> str:
    """2·P(Z > |z|) — the two-sided normal p-value, engine-shared text.

    ``z_expr`` must be SQL text valid on BOTH engines (typically a column
    name); Spark callers wrap the result in ``F.expr`` so the two engines
    evaluate the verbatim-identical expression tree.
    """
    return f"(2.0 * {_sf_formula(f'abs({z_expr})')})"
