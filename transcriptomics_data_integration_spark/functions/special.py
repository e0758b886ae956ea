"""Portable SQL text for log-gamma and log-binomial-coefficient.

The reference runs Fisher exact tests per GO term
(`scripts/data_integration/Meta_analysis.R:1359-1392` — `fisher.test`
inside GOstats' hyperGTest).  Neither Spark SQL nor the engine's
no-UDF-in-hot-path policy allows `scipy.stats.hypergeom`, so the
hypergeometric tail is built from a closed-form ``lgamma``:

- Stirling–de Moivre series at ``z + 8`` (terms through 1/z^7), then
  the recurrence ``lgamma(z) = lgamma(z+8) - sum ln(z+i)`` shifts back.
  Max abs error ~1.5e-11 over z in [1, 1e6] — three orders below the
  1e-6 rounding applied before oracle hashing.

The emitted text uses only ``+ - * /``, ``ln``, ``exp``, ``CAST`` — all
whole-stage-codegen'd in Spark and parseable by DuckDB, so engine and
oracle evaluate the identical formula (same pattern as
`functions/normal.py`).
"""

from __future__ import annotations

from transcriptomics_data_integration_spark.functions.exact import (
    dsum2_sql,
    dsum_sql,
    var_from_moments_sql,
)

# 0.5 * ln(2 * pi)
_HALF_LN_2PI = "9.18938533204672742e-01"


def lgamma_sql(z: str) -> str:
    """SQL text for lgamma(z); ``z`` must be a DOUBLE expression >= 1."""
    y = f"(CAST({z} AS DOUBLE) + 8.0e0)"
    series = (
        f"(({y} - 5.0e-01) * ln({y}) - {y} + {_HALF_LN_2PI}"
        f" + 1.0e0 / (1.2e1 * {y})"
        f" - 1.0e0 / (3.6e2 * {y} * {y} * {y})"
        f" + 1.0e0 / (1.26e3 * {y} * {y} * {y} * {y} * {y})"
        f" - 1.0e0 / (1.68e3 * {y} * {y} * {y} * {y} * {y} * {y} * {y}))"
    )
    shift = " + ".join(f"ln(CAST({z} AS DOUBLE) + {i}.0e0)" for i in range(8))
    return f"({series} - ({shift}))"


def log_choose_sql(n: str, k: str) -> str:
    """SQL text for ln C(n, k); ``n``, ``k`` integer-valued, 0 <= k <= n."""
    return (
        f"({lgamma_sql(f'({n}) + 1')} - {lgamma_sql(f'({k}) + 1')}"
        f" - {lgamma_sql(f'({n}) - ({k}) + 1')})"
    )


def hypergeom_tail_sql(k_from: str, n_total: str, n_term: str, n_sig: str, *, dialect: str) -> str:
    """SQL text for the upper hypergeometric tail
    ``P(X >= k_from)`` with ``X ~ Hypergeom(N=n_total, K=n_term,
    n=n_sig)`` — the one-sided Fisher exact enrichment p-value.

    ``dialect`` is ``"spark"`` (``aggregate`` over ``sequence``) or
    ``"duckdb"`` (``list_sum`` over ``list_transform`` of
    ``generate_series``).  The per-k term text is identical in both, so
    the engines fold the same doubles in the same order.
    """
    log_pmf = (
        f"({log_choose_sql(n_term, 'k')}"
        f" + {log_choose_sql(f'({n_total}) - ({n_term})', f'({n_sig}) - k')}"
        f" - {log_choose_sql(n_total, n_sig)})"
    )
    k_to = f"least(CAST({n_sig} AS BIGINT), CAST({n_term} AS BIGINT))"
    k_lo = f"CAST({k_from} AS BIGINT)"
    if dialect == "spark":
        return (
            f"aggregate(sequence({k_lo}, {k_to}), CAST(0.0 AS DOUBLE),"
            f" (acc, k) -> acc + exp({log_pmf}))"
        )
    if dialect == "duckdb":
        return (
            f"list_sum(list_transform(generate_series({k_lo}, {k_to}),"
            f" k -> exp({log_pmf})))"
        )
    raise ValueError(f"unknown dialect: {dialect}")


# ---------------------------------------------------------------------------
# Polygamma family for limma's exact eBayes prior (fitFDist)
#
# Same construction as lgamma_sql: asymptotic (Bernoulli) series at
# z + 8 plus an 8-step recurrence shift back.  At y >= 8 the truncated
# series' error is bounded by the first dropped term: ~2.5e-10 for
# digamma (B8 term), ~2.5e-10 for trigamma, ~1e-9 for tetragamma —
# all far below the 1e-6 rounding applied before oracle hashing.
# Emitted text is portable Spark/DuckDB SQL (+ - * / ln exp CASE).
# ---------------------------------------------------------------------------


def digamma_sql(z: str) -> str:
    """SQL text for digamma(z) = d/dz ln Gamma(z); ``z`` DOUBLE > 0."""
    y = f"(CAST({z} AS DOUBLE) + 8.0e0)"
    series = (
        f"(ln({y}) - 5.0e-01 / {y}"
        f" - 1.0e0 / (1.2e1 * {y} * {y})"
        f" + 1.0e0 / (1.2e2 * {y} * {y} * {y} * {y})"
        f" - 1.0e0 / (2.52e2 * {y} * {y} * {y} * {y} * {y} * {y}))"
    )
    shift = " + ".join(f"1.0e0 / (CAST({z} AS DOUBLE) + {i}.0e0)" for i in range(8))
    return f"({series} - ({shift}))"


def trigamma_sql(z: str) -> str:
    """SQL text for trigamma(z) = d^2/dz^2 ln Gamma(z); ``z`` DOUBLE > 0."""
    y = f"(CAST({z} AS DOUBLE) + 8.0e0)"
    series = (
        f"(1.0e0 / {y} + 5.0e-01 / ({y} * {y})"
        f" + 1.0e0 / (6.0e0 * {y} * {y} * {y})"
        f" - 1.0e0 / (3.0e1 * {y} * {y} * {y} * {y} * {y})"
        f" + 1.0e0 / (4.2e1 * {y} * {y} * {y} * {y} * {y} * {y} * {y}))"
    )
    shift = " + ".join(
        f"1.0e0 / ((CAST({z} AS DOUBLE) + {i}.0e0) * (CAST({z} AS DOUBLE) + {i}.0e0))"
        for i in range(8)
    )
    return f"({series} + ({shift}))"


def tetragamma_sql(z: str) -> str:
    """SQL text for psigamma(z, deriv=2) = d^3/dz^3 ln Gamma(z)
    (the derivative of trigamma — limma's Newton denominator)."""
    y = f"(CAST({z} AS DOUBLE) + 8.0e0)"
    series = (
        f"(0.0e0 - 1.0e0 / ({y} * {y}) - 1.0e0 / ({y} * {y} * {y})"
        f" - 5.0e-01 / ({y} * {y} * {y} * {y})"
        f" + 1.0e0 / (6.0e0 * {y} * {y} * {y} * {y} * {y} * {y})"
        f" - 1.0e0 / (6.0e0 * {y} * {y} * {y} * {y} * {y} * {y} * {y} * {y}))"
    )
    shift = " + ".join(
        f"2.0e0 / ((CAST({z} AS DOUBLE) + {i}.0e0) * (CAST({z} AS DOUBLE) + {i}.0e0)"
        f" * (CAST({z} AS DOUBLE) + {i}.0e0))"
        for i in range(8)
    )
    return f"({series} - ({shift}))"


def let_sql(bound_expr: str, var: str, body: str, *, dialect: str) -> str:
    """Let-bind ``bound_expr`` as lambda variable ``var`` inside
    ``body`` — evaluates the bound expression ONCE however many times
    ``var`` occurs (the CollapseProject-inlining guard, PLANS.md r3)."""
    if dialect == "spark":
        return f"transform(array({bound_expr}), {var} -> {body})[0]"
    if dialect == "duckdb":
        return f"list_transform([{bound_expr}], {var} -> {body})[1]"
    raise ValueError(f"unknown dialect: {dialect}")


# 16 fixed Newton steps: measured convergence to <= 1e-8 relative
# round-trip error over the full admissible range [1e-6, 1e7] (12
# steps still missed the large-x tail where y0 = 0.5 + 1/x starts far
# from the root); limma's adaptive loop caps at 50
_TRIGAMMA_INV_ITERS = 16


def trigamma_inverse_sql(x: str, *, dialect: str) -> str:
    """SQL text for limma's ``trigammaInverse(x)`` — solve
    trigamma(y) = x for y > 0.

    Exact transliteration of the public algorithm (limma
    ``fitFDistUnscaled``/``trigammaInverse``): closed forms for the
    extreme ranges (x > 1e7 -> 1/sqrt(x); x < 1e-6 -> 1/x), else
    Newton on the monotone-convergent transform from start
    y = 0.5 + 1/x with step ``dif = tri(y) * (1 - tri(y)/x) /
    psigamma(y, 2)``, unrolled to a FIXED ``_TRIGAMMA_INV_ITERS``
    schedule (limma iterates to tol 1e-8; the fixed schedule is at
    tolerance over the whole admissible range — the round-trip pin
    lives in tests/test_stats_kernels.py — and keeps the expression
    deterministic and engine-identical).  Each iteration let-binds the previous ``y``
    and its trigamma, so the emitted text grows LINEARLY in the
    iteration count.

    ``x`` should be a cheap expression (a column/window attribute):
    it is referenced twice per iteration.
    """
    xe = f"CAST({x} AS DOUBLE)"
    y = f"(5.0e-01 + 1.0e0 / {xe})"
    for i in range(_TRIGAMMA_INV_ITERS):
        step = let_sql(
            trigamma_sql("yv"),
            "tv",
            f"yv + tv * (1.0e0 - tv / {xe}) / ({tetragamma_sql('yv')})",
            dialect=dialect,
        )
        y = let_sql(y, "yv", step, dialect=dialect)
    return (
        f"(CASE WHEN {xe} > 1.0e7 THEN 1.0e0 / sqrt({xe})"
        f" WHEN {xe} < 1.0e-6 THEN 1.0e0 / {xe}"
        f" ELSE {y} END)"
    )


def fitfdist_prior_ctes_sql(s2t: str = "s2t", prefix: str = "ff") -> str:
    """DuckDB CTE text replaying :func:`~transcriptomics_data_integration_spark.
    stats.ttest.squeeze_var_fitfdist`'s prior fit term-for-term.

    ``s2t`` must be a prior CTE with columns ``s2`` (residual variance)
    and ``df`` (residual df, DOUBLE).  Emits CTEs ``{prefix}_med/
    {prefix}_et/{prefix}_sums/{prefix}_mom/{prefix}_prior`` and
    ``{prefix}_prior2``;
    join the consumer against ``{prefix}_prior2`` (one row: emean,
    evar, d0, s20) and compute per-row
    ``CASE WHEN isinf(d0) THEN s20 ELSE (d0*s20 + df*s2)/(d0+df) END``.
    The prefix keeps composition oracles (which have their own ``mom``
    CTEs) collision-free.
    """
    dig = digamma_sql("(df / 2.0e0)")
    tri = trigamma_sql("(df / 2.0e0)")
    triinv = trigamma_inverse_sql("evar", dialect="duckdb")
    dig_d0 = digamma_sql("(d0 / 2.0e0)")
    # the engine's quantize(., 12): tie-free ticks, so the moments are
    # exact decimal sums
    eq, triq = "(FLOOR(e * 1.0e12 + 0.5e0) / 1.0e12)", "(FLOOR(tri * 1.0e12 + 0.5e0) / 1.0e12)"
    p = prefix
    return f"""{p}_med AS (
  SELECT median(s2) AS med FROM {s2t}
), {p}_et AS (
  SELECT s2, df,
         ln(greatest(s2, 1.0e-5 * (CASE WHEN med = 0.0e0 THEN 1.0e0 ELSE med END)))
           - {dig} + ln(df / 2.0e0) AS e,
         {tri} AS tri
  FROM {s2t} CROSS JOIN {p}_med
), {p}_sums AS (
  SELECT COUNT(e) AS n, {dsum_sql(eq, 12)} AS se, {dsum2_sql(eq, 12)} AS se2,
         {dsum_sql(triq, 12)} AS stri
  FROM {p}_et
), {p}_mom AS (
  SELECT se / n AS emean,
         CASE WHEN n >= 2 THEN {var_from_moments_sql("se", "se2", "n")} END
           - stri / n AS evar
  FROM {p}_sums
), {p}_prior AS (
  SELECT emean, evar,
         CASE WHEN evar > 0.0e0 THEN 2.0e0 * {triinv}
              ELSE CAST('Infinity' AS DOUBLE) END AS d0
  FROM {p}_mom
), {p}_prior2 AS (
  SELECT emean, evar, d0,
         CASE WHEN evar > 0.0e0 THEN exp(emean + {dig_d0} - ln(d0 / 2.0e0))
              ELSE exp(emean) END AS s20
  FROM {p}_prior
)"""
