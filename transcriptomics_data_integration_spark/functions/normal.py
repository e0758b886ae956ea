"""Portable SQL text for normal-distribution scalar functions.

The reference meta-analysis converts p-values to z-scores with R's
``qnorm`` (``scripts/data_integration/Meta_analysis.R:82``) and combined
z back to p with ``pnorm`` (``Meta_analysis.R:1226``).  Spark SQL has no
``qnorm``/``pnorm``/``erf`` built-ins, and a Python UDF would put a
serde barrier in the hot aggregation path, so both functions are emitted
as closed-form SQL arithmetic (only ``+ - * /``, ``ln``, ``sqrt``,
``exp`` — all whole-stage-codegen'd JVM expressions).  The same text is
embedded in the DuckDB oracle SQL, so engine and oracle evaluate the
identical formula.

- ``norm_ppf_sql``: Acklam's rational approximation to the inverse
  normal CDF (max abs error ~1.15e-9) — public-domain algorithm.
- ``norm_cdf_sql``: Abramowitz & Stegun 26.2.17 polynomial (max abs
  error ~7.5e-8).

Both are far inside the 1e-6 rounding applied before oracle hashing.
"""

from __future__ import annotations

# Acklam inverse-normal-CDF coefficients.
_A = (
    -3.969683028665376e01,
    2.209460984245205e02,
    -2.759285104469687e02,
    1.383577518672690e02,
    -3.066479806614716e01,
    2.506628277459239e00,
)
_B = (
    -5.447609879822406e01,
    1.615858368580409e02,
    -1.556989798598866e02,
    6.680131188771972e01,
    -1.328068155288572e01,
)
_C = (
    -7.784894002430293e-03,
    -3.223964580411365e-01,
    -2.400758277161838e00,
    -2.549732539343734e00,
    4.374664141464968e00,
    2.938163982698783e00,
)
_D = (
    7.784695709041462e-03,
    3.224671290700398e-01,
    2.445134137142996e00,
    3.754408661907416e00,
)

_P_LOW = 0.02425


def _lit(x: float) -> str:
    """Float literal in scientific notation so BOTH Spark SQL and DuckDB
    parse it as DOUBLE (plain decimal literals parse as DECIMAL in each,
    which poisons the arithmetic with decimal promotion rules)."""
    return f"{x:.17e}"


def _horner(coeffs: tuple[float, ...], var: str) -> str:
    """Nested-multiplication polynomial text: ((c0*v + c1)*v + c2)..."""
    expr = _lit(coeffs[0])
    for c in coeffs[1:]:
        expr = f"({expr} * {var} + {_lit(c)})"
    return expr


def norm_ppf_sql(p: str) -> str:
    """SQL text for qnorm(p) (standard normal inverse CDF).

    ``p`` is a SQL expression assumed to be strictly inside (0, 1).
    """
    tail_num = _horner(_C, "q")
    tail_den = _horner(_D, "q")
    mid_num = _horner(_A, "r")
    mid_den = _horner(_B, "r")
    # Inline the helper variables textually — scalar subqueries are not
    # portable inside expressions across both engines.
    q_low = f"sqrt(-2.0 * ln({p}))"
    q_high = f"sqrt(-2.0 * ln(1.0 - ({p})))"
    q_mid = f"(({p}) - 0.5)"
    r_mid = f"({q_mid} * {q_mid})"

    def subst(expr: str, var: str, text: str) -> str:
        return expr.replace(var, f"({text})")

    low_x = f"({subst(tail_num, 'q', q_low)}) / (({subst(tail_den, 'q', q_low)}) * ({q_low}) + 1.0)"
    high_x = f"-( ({subst(tail_num, 'q', q_high)}) / (({subst(tail_den, 'q', q_high)}) * ({q_high}) + 1.0) )"
    mid_x = (
        f"({subst(mid_num, 'r', r_mid)}) * {q_mid} / (({subst(mid_den, 'r', r_mid)}) * ({r_mid}) + 1.0)"
    )
    return (
        "(CASE "
        f"WHEN ({p}) < {_lit(_P_LOW)} THEN {low_x} "
        f"WHEN ({p}) > {_lit(1.0 - _P_LOW)} THEN {high_x} "
        f"ELSE {mid_x} END)"
    )


# A&S 26.2.17 coefficients for the upper-tail polynomial.
_CDF_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_CDF_P = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def _upper_tail(x: str) -> tuple[str, str]:
    """(pdf, poly) SQL text with ``pdf * poly`` = P(Z > |x|), A&S 26.2.17."""
    ax = f"abs({x})"
    t = f"(1.0 / (1.0 + {_lit(_CDF_P)} * {ax}))"
    poly = (
        f"((((({_lit(_CDF_B[4])} * {t} + {_lit(_CDF_B[3])}) * {t} + {_lit(_CDF_B[2])}) * {t} "
        f"+ {_lit(_CDF_B[1])}) * {t} + {_lit(_CDF_B[0])}) * {t})"
    )
    pdf = f"({_lit(_INV_SQRT_2PI)} * exp(-0.5 * {ax} * {ax}))"
    return pdf, poly


def norm_cdf_sql(x: str) -> str:
    """SQL text for pnorm(x) (standard normal CDF), A&S 26.2.17.

    Computes the upper tail for ``|x|`` then reflects, matching the
    reference's two-sided p ``2*pnorm(-|z|)`` use (`Meta_analysis.R:1226`).
    """
    pdf, poly = _upper_tail(x)
    upper = f"({pdf} * {poly})"  # P(Z > |x|)
    return f"(CASE WHEN ({x}) >= 0.0 THEN 1.0 - {upper} ELSE {upper} END)"


def two_sided_p_sql(stat: str) -> str:
    """SQL text for the two-sided normal p-value ``2 * P(Z > |stat|)``.

    Computed directly from the upper tail — NOT as ``2*(1 - cdf)`` whose
    ``1 - (1 - upper)`` cancellation snaps tiny p to exactly 0 and then
    poisons downstream ``ln``/``log2`` (qnorm of p/2, improvement
    ratios).  Floored at 1e-300 so the value stays strictly positive
    even when the Gaussian pdf underflows (|stat| > ~38).  A null
    ``stat`` gives a null p: ``greatest`` skips nulls, so the floor
    alone would turn a missing statistic into the strongest evidence.
    """
    pdf, poly = _upper_tail(stat)
    return (
        f"(CASE WHEN ({stat}) IS NOT NULL"
        f" THEN greatest(2.0 * {pdf} * {poly}, {_lit(1e-300)}) END)"
    )
