"""Fixed-point quantizer: the micro-unit rounding rule and its DuckDB twin.

Operators whose results are checked hash-exactly against DuckDB do not
sum or present raw doubles. Each double is first rounded half away
from zero to ``1/scale`` and carried as a BIGINT count of those units
(``scale=1e6``: micro-units); sums over the counts are then
order-free and exact in both engines. The Column builders and the SQL
twins below emit the identical IEEE sequence
``sign(x) · floor(|x|·scale + 0.5)``, so both engines land on the
same integer for every input inside the envelope below,
``x.xxxxxx5`` ties included.

``fixed_abs``/``fixed_abs_sql`` omit the sign for inputs that cannot
be negative (shares, entropy terms). NULL stays NULL. Envelope:
``floor(|x|·scale + 0.5)`` must stay below 2⁶³, so NaN and ±inf are
outside it. Both engines fail loudly outside: DuckDB's BIGINT cast
raises, and the Spark builders ``raise_error`` instead of letting
Spark's cast saturate to ±(2⁶³−1) or map NaN to 0.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fixed_abs(c: Column, scale: float = 1e6) -> Column:
    """``floor(|c|·scale + 0.5)`` as a long; raises outside the
    envelope (NaN compares above every double in Spark)."""
    m = F.abs(c) * F.lit(float(scale)) + F.lit(0.5)
    err = f"fixed-point overflow: NaN, inf or |x|*{scale:g} >= 2^63"
    return F.when(m < F.lit(2.0**63), F.floor(m).cast("long")).when(
        c.isNotNull(), F.raise_error(F.lit(err))
    )


def fixed(c: Column, scale: float = 1e6) -> Column:
    """``c`` rounded half away from zero to ``1/scale``, as a signed
    long count of ``1/scale`` units."""
    m = fixed_abs(c, scale)
    return F.when(c < 0, -m).otherwise(m)


def fixed_abs_sql(expr: str, scale: float = 1e6) -> str:
    """DuckDB twin of :func:`fixed_abs`."""
    return f"CAST(floor(abs({expr}) * {float(scale)!r} + 0.5) AS BIGINT)"


def fixed_sql(expr: str, scale: float = 1e6) -> str:
    """DuckDB twin of :func:`fixed`."""
    m = fixed_abs_sql(expr, scale)
    return f"(CASE WHEN ({expr}) < 0 THEN -{m} ELSE {m} END)"
