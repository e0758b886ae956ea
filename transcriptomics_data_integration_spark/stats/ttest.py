"""Two-group differential expression: pooled-variance t (SURVEY.md M8
closed form) with normal-approximation p-values and log2 fold change.

Reference: limma ``lmFit -> contrasts.fit -> eBayes -> topTable``
(`scripts/data_integration/DiffExpression_closedPlatform.R:474-633`).
For a 2-group contrast with unit weights, the unmoderated fit is the
classical pooled t-test — closed form in SQL (SURVEY.md section 7 step
4).  Empirical-Bayes variance moderation (eBayes) is layered on top in
``moderated_t`` using the two-pass global-prior scheme.

All per-gene statistics come from one partial+final aggregation over
(gene, group); the t/p/fc arithmetic is whole-stage-codegen'd column
math, so the operator is a single shuffle at any scale.

``exact_scale``: when set (default 2), group sums/sums-of-squares are
accumulated in DECIMAL so the derived means/variances/t are
bitwise-reproducible regardless of partitioning/summation order — the
property the DuckDB correctness oracle relies on (functions/exact.py).
Set to None for plain float aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import (
    dsum,
    dsum2,
    quantize,
    var_from_moments,
)
from transcriptomics_data_integration_spark.functions.normal import two_sided_p_sql

import math


def _dlit(x: float) -> str:
    """Spark-SQL double literal for a collected Python float.

    ``repr()`` of inf/nan yields ``infd``/``nand`` which Spark cannot
    parse; degenerate inputs (e.g. all-equal variances) must propagate
    the value, not raise at plan build (r5 ADVICE)."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}d"


_MOMENT_SUMS = ("_sa", "_sb", "_sa2", "_sb2")


def group_moment_aggregates(
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    exact_scale: int | None,
) -> list[Column]:
    """The per-gene aggregate columns of the two-group moments: ``n_a``,
    ``n_b`` and the private sums :func:`group_moments_finish` reads.
    Add them to any ``groupBy`` keyed at gene level."""
    g = F.col(group_col)
    v = F.col(value_col)
    va = F.when(g == F.lit(group_a), v)
    vb = F.when(g == F.lit(group_b), v)
    if exact_scale is not None:
        s = exact_scale
        sums = [dsum(va, s), dsum(vb, s), dsum2(va, s), dsum2(vb, s)]
    else:
        sums = [F.sum(va), F.sum(vb), F.sum(va * va), F.sum(vb * vb)]
    return [
        F.count(va).alias("n_a"),
        F.count(vb).alias("n_b"),
        *(c.alias(name) for c, name in zip(sums, _MOMENT_SUMS)),
    ]


def group_moments_finish(agg: DataFrame) -> DataFrame:
    """Keep genes with >= 2 observations per group and turn the sums of
    :func:`group_moment_aggregates` into ``mean_a/b`` and ``var_a/b``;
    the relation's other columns pass through."""
    n_a, n_b = F.col("n_a"), F.col("n_b")
    sa, sb, sa2, sb2 = (F.col(c) for c in _MOMENT_SUMS)
    return (
        agg.where((n_a >= 2) & (n_b >= 2))
        .withColumn("mean_a", sa / n_a)
        .withColumn("mean_b", sb / n_b)
        .withColumn("var_a", var_from_moments(sa, sa2, n_a))
        .withColumn("var_b", var_from_moments(sb, sb2, n_b))
        .drop(*_MOMENT_SUMS)
    )


def pooled_variance() -> Column:
    """Pooled two-group variance over ``n_a, n_b, var_a, var_b``."""
    return (
        (F.col("n_a") - 1) * F.col("var_a") + (F.col("n_b") - 1) * F.col("var_b")
    ) / (F.col("n_a") + F.col("n_b") - 2)


def two_group_ttest(
    df: DataFrame,
    gene_col: str | list[str],
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    exact_scale: int | None = 2,
    log_scale_values: bool = False,
) -> DataFrame:
    """Per-gene pooled-variance t between ``group_a`` and ``group_b``.

    Output: gene, n_a, n_b, mean_a, mean_b, var_a, var_b, log2fc,
    t_statistic, p_value (two-sided, normal approximation).  Genes
    lacking >= 2 obs per group or with zero pooled variance are dropped
    (reference applies the F4 zero-variance filter upstream,
    `DiffExpression_closedPlatform.R:375-376`).

    ``log_scale_values=True`` declares ``value_col`` already log2-scale
    (log2 intensities / log2-CPM): log2fc is then the limma topTable
    convention ``mean_a - mean_b`` (`DiffExpression_closedPlatform.R:
    474-520`), not log2 of the mean ratio — the ratio of log-scale
    means is meaningless and divides by zero for floored values.

    On raw-scale input a zero group mean leaves log2fc null (``mean_a``
    = 0: log2 of 0; ``mean_b`` = 0: the ratio is null, not a
    divide-by-zero error).  The row keeps its t and p; in a Stouffer
    combine its null fold change adds nothing to z or to the weight sum.
    """
    gene_cols = [gene_col] if isinstance(gene_col, str) else list(gene_col)
    agg = (
        df.where(F.col(group_col).isin([group_a, group_b]))
        .groupBy(*gene_cols)
        .agg(*group_moment_aggregates(group_col, value_col, group_a, group_b, exact_scale))
    )
    return ttest_from_group_moments(group_moments_finish(agg), log_scale_values)


def ttest_from_group_moments(
    agg: DataFrame, log_scale_values: bool = False
) -> DataFrame:
    """Finish the pooled t from a per-gene group-moment relation
    (n_a, n_b, mean_a, mean_b, var_a, var_b) — the seam that lets a
    composition aggregate the fact relation ONCE and feed both the F5
    ranking and the DE fit from the same moments (single fact pass;
    values identical to :func:`two_group_ttest` by construction)."""
    se = F.sqrt(pooled_variance() * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    lfc = (
        F.col("mean_a") - F.col("mean_b")
        if log_scale_values
        else F.log2(F.try_divide(F.col("mean_a"), F.col("mean_b")))
    )
    out = (
        agg.withColumn("log2fc", lfc)
        .withColumn("_se", se)
        .where(F.col("_se") > 0)
        .withColumn("t_statistic", (F.col("mean_a") - F.col("mean_b")) / F.col("_se"))
        .drop("_se")
    )
    return out.withColumn("p_value", F.expr(two_sided_p_sql("t_statistic")))


def squeeze_var_fitfdist(with_s2: DataFrame) -> DataFrame:
    """limma's EXACT eBayes variance prior + shrinkage (``fitFDist`` +
    ``squeezeVar``, `DiffExpression_closedPlatform.R:546`) over a
    per-gene relation carrying ``_s2`` (residual variance) and ``_df``
    (residual df).  Appends ``_s2_post`` and ``_d0`` (the prior df
    ``df.prior``; Infinity when the log-variance spread is at or below
    its sampling noise).

    Exact transliteration of the public limma algorithm (replacing the
    r1-r3 method-of-moments simplification — r3 verdict item 4):

        e_g    = ln(max(s2_g, 1e-5 * median(s2))) - digamma(df_g/2) + ln(df_g/2)
        evar   = var(e) - mean(trigamma(df_g/2))
        d0     = 2 * trigammaInverse(evar)              (evar > 0)
        s2_0   = exp(mean(e) + digamma(d0/2) - ln(d0/2))
        s2post = (d0 * s2_0 + df_g * s2_g) / (d0 + df_g)

    evar <= 0 degenerates to d0 = Inf, s2post = exp(mean(e)) — full
    shrinkage, as in limma; so does a single gene, whose var(e) is
    null.  mean(e), var(e) and mean(trigamma) are taken from exact
    DECIMAL sums of e and trigamma quantized tie-free to 12 decimals
    (functions/exact.py), so the prior does not depend on the plan's
    row order or partitioning.  The polygamma family and the fixed-
    schedule Newton ``trigammaInverse`` are portable SQL text
    (functions/special.py), so the whole prior stays IN the lazy plan
    (no driver action) and the DuckDB oracle can replay it
    term-for-term.  Within each emitted expression the Newton chain is
    LET-BOUND (lambda variables), so CollapseProject inlining cannot
    blow it up.

    Physical shape (r4 verdict item 2): the prior moments — and the
    Newton ``trigammaInverse`` chain that turns them into (d0, s2_0) —
    are per-contrast SCALARS.  The r4 shape kept them in-plan as three
    chained unpartitioned windows feeding a ~100 KB generated-SQL
    Newton tree evaluated per GENE; measured at sf0.1 that cost the
    compositions 2-3x twice over — once in executor time (interpreted
    tree x 20k rows x consuming branch) and once at the DRIVER
    (Catalyst parses/optimizes the 47 KB ``trigammaInverse`` text
    embedded twice in every consuming plan, seconds of construction
    per query).  Here the prior is finished at plan-build time
    instead: the bounded per-gene relation is persisted (gene-count
    rows, never data-sized), the median and the moment sums are
    collected (tiny map-side-partial jobs over the cache), and the
    Newton chain runs ONCE on a 1-row relation — still through the
    Spark SQL expression engine, so the DuckDB oracle replays the
    same arithmetic.  The
    returned plan carries only the finished (d0, s2_0) LITERALS and
    two codegen-able arithmetic CASEs per row; the giant tree never
    enters a composed plan (so downstream ``optimizedPlan``-stats
    probes like the BH single-task router stay cheap too).
    """
    from transcriptomics_data_integration_spark.functions.special import (
        digamma_sql,
        tetragamma_sql,  # noqa: F401  (re-exported for oracle builders)
        trigamma_inverse_sql,
        trigamma_sql,
    )
    from transcriptomics_data_integration_spark.runtime import register_persisted

    ws2 = register_persisted(with_s2.persist())
    med_row = ws2.agg(F.expr("percentile(_s2, 0.5)").alias("_med")).collect()
    med = med_row[0][0] if med_row else None
    if med is None:
        # empty input: no rows to shrink — keep the schema contract
        return ws2.withColumn("_s2_post", F.col("_s2")).withColumn(
            "_d0", F.lit(float("inf"))
        )

    def tick_sum(agg, c: str) -> Column:
        """``agg`` (dsum or dsum2) of ``c`` quantized tie-free to 12
        decimals.  A non-finite e or trigamma (an infinite variance)
        has no decimal tick; the NaN term carries it into every moment,
        as a float sum would."""
        x = F.col(c)
        ticks = F.when(F.abs(x) < F.lit(float("inf")), quantize(x, 12))
        nonfinite = (F.sum("_e") + F.sum("_tri")) * 0.0
        return F.coalesce(agg(ticks, 12), F.lit(0.0)) + nonfinite

    mom = (
        ws2.withColumn("_tri", F.expr(trigamma_sql("(_df / 2.0e0)")))
        .withColumn("_dig", F.expr(digamma_sql("(_df / 2.0e0)")))
        .withColumn(
            "_e",
            F.expr(
                "ln(greatest(_s2, 1.0e-5 * (CASE WHEN "
                f"{_dlit(med)} = 0.0e0 THEN 1.0e0 "
                f"ELSE {_dlit(med)} END))) - _dig + ln(_df / 2.0e0)"
            ),
        )
        .agg(
            F.count("_e").alias("_n"),
            tick_sum(dsum, "_e").alias("_se"),
            tick_sum(dsum2, "_e").alias("_se2"),
            tick_sum(dsum, "_tri").alias("_stri"),
        )
        .select(
            (F.col("_se") / F.col("_n")).alias("_emean"),
            F.when(
                F.col("_n") >= 2, var_from_moments(F.col("_se"), F.col("_se2"), F.col("_n"))
            ).alias("_evsamp"),
            (F.col("_stri") / F.col("_n")).alias("_tribar"),
        )
        .collect()[0]
    )
    emean, evsamp, tribar = mom["_emean"], mom["_evsamp"], mom["_tribar"]
    if evsamp is None or tribar is None:
        # single-gene input: var(e) is NULL, so the r4 in-plan CASE
        # (NULL > 0 is false) took the degenerate full-shrinkage branch
        evar = "(CAST(NULL AS DOUBLE) - CAST(NULL AS DOUBLE))"
    else:
        evar = f"({_dlit(evsamp)} - {_dlit(tribar)})"
    d0_core = f"(2.0e0 * {trigamma_inverse_sql(evar, dialect='spark')})"
    spark = with_s2.sparkSession
    # two tiny sequential 1-row evals so the ~47 KB Newton text is
    # parsed exactly ONCE (s2_0 reuses the collected d0 as a literal —
    # the same double the r4 let-binding carried, so values are
    # bitwise unchanged)
    d0 = spark.range(1).select(
        F.expr(
            f"CASE WHEN {evar} > 0.0e0 THEN {d0_core}"
            " ELSE CAST('Infinity' AS DOUBLE) END"
        ).alias("_d0")
    ).collect()[0][0]
    if d0 == float("inf"):
        # degenerate full-shrinkage prior: s2post = exp(mean(e))
        s20_sql = f"exp({_dlit(emean)})"
    else:
        s20_sql = (
            f"exp({_dlit(emean)} + " + digamma_sql(f"({_dlit(d0)} / 2.0e0)")
            + f" - ln({_dlit(d0)} / 2.0e0))"
        )
    s20 = spark.range(1).select(F.expr(s20_sql).alias("_s20")).collect()[0][0]
    # per-row residue: plain literal arithmetic (d0 is finite-positive
    # or Infinity by construction; Inf => full shrinkage to s2_0,
    # exactly limma's squeezeVar limit case)
    if d0 == float("inf"):
        post = F.lit(float(s20))
    else:
        post = (F.lit(float(d0)) * F.lit(float(s20)) + F.col("_df") * F.col("_s2")) / (
            F.lit(float(d0)) + F.col("_df")
        )
    return ws2.withColumn("_s2_post", post).withColumn("_d0", F.lit(float(d0)))


def moderated_t(
    ttest_df: DataFrame,
    s2_col: str | None = None,
    df_col: str | None = None,
) -> DataFrame:
    """eBayes variance moderation over a two-group t table — limma's
    exact prior (:func:`squeeze_var_fitfdist`):

        t_mod = t * sqrt(s2 / s2_post)

    Output adds ``t_moderated``, ``s2_post``, and ``df_prior`` (the
    fitted d0, constant across genes).  Everything stays in the lazy
    plan, so the operator composes and the DuckDB oracle mirrors it.
    """
    if s2_col is not None:
        # weighted fit: caller provides the pooled variance / df columns
        sp2 = F.col(s2_col)
        dfree = F.col(df_col or "df_pooled")
    else:
        sp2 = pooled_variance()
        dfree = F.col("n_a") + F.col("n_b") - 2
    with_s2 = ttest_df.withColumn("_s2", sp2).withColumn(
        "_df", dfree.cast("double")
    )
    squeezed = squeeze_var_fitfdist(with_s2)
    return (
        squeezed.withColumn(
            "t_moderated",
            F.col("t_statistic") * F.sqrt(F.col("_s2") / F.col("_s2_post")),
        )
        .withColumn("s2_post", F.col("_s2_post"))
        .withColumn("df_prior", F.col("_d0"))
        .drop("_s2", "_df", "_s2_post", "_d0")
    )


def weighted_two_group_ttest(
    df: DataFrame,
    gene_col: str,
    group_col: str,
    value_col: str,
    weight_col: str,
    group_a: str,
    group_b: str,
    log_scale_values: bool = False,
) -> DataFrame:
    """M8 with observation weights (limma ``lmFit(weights=...)`` fed by
    arrayWeights M7 / voom M5, `DiffExpression_closedPlatform.R:474` with
    `:456-464`): weighted group means, unbiased weighted variances

        m_w = sum(w x)/sum(w)
        var_w = sum(w (x - m_w)^2) / (sum(w) - sum(w^2)/sum(w))
        se^2  = var_pooled_w * (1/sum(w_a) + 1/sum(w_b))

    Pure grouped SQL (one shuffle); weights are arbitrary doubles so the
    outputs are order-sensitive in the last ulp — suite queries round.
    """
    g = F.col(group_col)
    w = F.col(weight_col)
    v = F.col(value_col)
    wa = F.when(g == F.lit(group_a), w)
    wb = F.when(g == F.lit(group_b), w)
    agg = (
        df.where(g.isin([group_a, group_b]))
        .groupBy(gene_col)
        .agg(
            F.count(wa).alias("n_a"),
            F.count(wb).alias("n_b"),
            F.sum(wa).alias("swa"),
            F.sum(wb).alias("swb"),
            F.sum(wa * wa).alias("swa2"),
            F.sum(wb * wb).alias("swb2"),
            F.sum(wa * v).alias("swxa"),
            F.sum(wb * v).alias("swxb"),
            F.sum(wa * v * v).alias("swx2a"),
            F.sum(wb * v * v).alias("swx2b"),
        )
        .where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    )
    mean_a = F.col("swxa") / F.col("swa")
    mean_b = F.col("swxb") / F.col("swb")
    # sum(w (x-m)^2) = sum(w x^2) - m^2 sum(w)
    ssw_a = F.col("swx2a") - mean_a * mean_a * F.col("swa")
    ssw_b = F.col("swx2b") - mean_b * mean_b * F.col("swb")
    eff_a = F.col("swa") - F.col("swa2") / F.col("swa")
    eff_b = F.col("swb") - F.col("swb2") / F.col("swb")
    var_pooled = (ssw_a + ssw_b) / (eff_a + eff_b)
    se = F.sqrt(var_pooled * (1.0 / F.col("swa") + 1.0 / F.col("swb")))
    out = (
        agg.withColumn("mean_a", mean_a)
        .withColumn("mean_b", mean_b)
        .withColumn("_se", se)
        .where(F.col("_se") > 0)
        # limma convention for log-scale input (voom log2-CPM): logFC is
        # the mean difference, never log2 of a ratio of log-scale means
        .withColumn(
            "log2fc",
            (F.col("mean_a") - F.col("mean_b"))
            if log_scale_values
            else F.log2(F.try_divide(F.col("mean_a"), F.col("mean_b"))),
        )
        .withColumn("t_statistic", (F.col("mean_a") - F.col("mean_b")) / F.col("_se"))
        # exposed for eBayes moderation over the weighted fit
        .withColumn("s2_pooled", var_pooled)
        .withColumn("df_pooled", F.col("n_a") + F.col("n_b") - 2)
        .drop("_se", "swa2", "swb2", "swxa", "swxb", "swx2a", "swx2b")
    )
    return out.withColumn("p_value", F.expr(two_sided_p_sql("t_statistic")))
