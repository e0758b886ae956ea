"""Exact (decimal-backed) aggregate helpers for oracle-grade
reproducibility.

Problem: the fact tables carry fixed-precision values (prices in cents)
stored as doubles.  Sums/means of such values in floating point depend
on summation order, and their true values sit EXACTLY on decimal
round-half boundaries (a mean over 32 cent-valued prices ends in
...625), so "round to k decimals on both engines" still flips between
engines on the ulp.  Casting to DECIMAL before aggregating makes the
sum exact and identical in Spark and DuckDB; casting back to double is
deterministic.  Every scalar op after that (+ - * / sqrt) is
IEEE-deterministic, so derived means/variances/correlations/t-statistics
are bitwise-identical across engines with NO rounding at all.

Only transcendental functions (ln/exp/log2/pow) may differ between
libms — outputs containing those still get a final round(6).

Each helper has a Spark Column form and a SQL-text twin used verbatim in
the DuckDB oracles, keeping the arithmetic shape identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# decimal(18, s) holds |x| < 10^(18-s): ample for the test data and wide
# enough that SUM (38 digits in both engines) cannot overflow at 100 TB
# row counts either (10^20 headroom).
_PREC = 18


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dec(col: Column | str, scale: int = 2) -> Column:
    """``col`` as ``decimal(18, scale)``."""
    return _col(col).cast(f"decimal({_PREC},{scale})")


def dec_sql(expr: str, scale: int = 2) -> str:
    return f"CAST({expr} AS DECIMAL({_PREC},{scale}))"


def dprod(
    a: Column | str, b: Column | str, scale_a: int = 2, scale_b: int = 2
) -> Column:
    """Exact product of two ``decimal(18, s)`` values, typed
    ``decimal(38, scale_a + scale_b)`` so no digit is dropped."""
    return (dec(a, scale_a) * dec(b, scale_b)).cast(f"decimal(38,{scale_a + scale_b})")


def dprod_sql(a: str, b: str, scale_a: int = 2, scale_b: int = 2) -> str:
    prod = f"{dec_sql(a, scale_a)} * {dec_sql(b, scale_b)}"
    return f"CAST({prod} AS DECIMAL(38,{scale_a + scale_b}))"


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact SUM via decimal, returned as double."""
    return F.sum(dec(col, scale)).cast("double")


def dsum_sql(col: str, scale: int = 2) -> str:
    return f"CAST(SUM({dec_sql(col, scale)}) AS DOUBLE)"


def dsumprod(
    a: Column | str, b: Column | str, scale_a: int = 2, scale_b: int = 2
) -> Column:
    """Exact SUM of products via decimal, as double."""
    return F.sum(dprod(a, b, scale_a, scale_b)).cast("double")


def dsumprod_sql(a: str, b: str, scale_a: int = 2, scale_b: int = 2) -> str:
    return f"CAST(SUM({dprod_sql(a, b, scale_a, scale_b)}) AS DOUBLE)"


def dsum2(col: Column | str, scale: int = 2) -> Column:
    """Exact SUM of squares via decimal product, as double."""
    return dsumprod(col, col, scale, scale)


def dsum2_sql(col: str, scale: int = 2) -> str:
    return dsumprod_sql(col, col, scale, scale)


def quantize(col: Column, scale: int) -> Column:
    """Tie-free quantization to ``scale`` decimals: ``floor(x*q + 0.5)/q``.

    A double -> DECIMAL cast of a computed value can hit a dyadic
    rounding TIE (x.125 at scale 2) where Spark's HALF_UP and other
    engines' tie rules diverge.  The floor form has no tie rule, so the
    quantized value, and every decimal moment taken of it, is the same
    in every engine."""
    q = float(10**scale)
    return F.floor(col * q + F.lit(0.5)) / F.lit(q)


def var_from_moments(sx: Column, sx2: Column, n: Column) -> Column:
    """Textbook sample variance from exact moments — written as
    ``(sx2 - sx * sx / n) / (n - 1)`` so the oracle SQL twin evaluates
    the identical IEEE op sequence."""
    return (sx2 - sx * sx / n) / (n - 1)


def var_from_moments_sql(sx: str, sx2: str, n: str) -> str:
    return f"(({sx2}) - ({sx}) * ({sx}) / ({n})) / (({n}) - 1)"


def corr_from_moments(
    sx: Column, sy: Column, sxy: Column, sx2: Column, sy2: Column, n: Column
) -> Column:
    """Pearson r = (n*sxy - sx*sy) / (sqrt(n*sx2 - sx*sx) * sqrt(n*sy2 - sy*sy))."""
    return (n * sxy - sx * sy) / (
        F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy)
    )


def corr_from_moments_sql(sx: str, sy: str, sxy: str, sx2: str, sy2: str, n: str) -> str:
    return (
        f"(({n}) * ({sxy}) - ({sx}) * ({sy})) / "
        f"(sqrt(({n}) * ({sx2}) - ({sx}) * ({sx})) * sqrt(({n}) * ({sy2}) - ({sy}) * ({sy})))"
    )
