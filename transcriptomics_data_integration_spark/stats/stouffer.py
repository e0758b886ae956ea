"""Weighted Stouffer p-value combination (SURVEY.md A15) and the
p-value improvement ratio (A16).

Reference formulas (`scripts/data_integration/Meta_analysis.R`):
- z from p and fold-change sign: ``z = qnorm(p/2) * sign(FC)`` with the
  qnorm of the *half* p giving a negative number, so sign(FC) orients it
  (`:76-88`);
- raw weight per (gene, platform): ``w_raw = |FC| + |FC| * ICC^2``,
  clamped at >= 0 (`:104-112`);
- normalized weight: ``w_p = sqrt(|FC_p|) / sqrt(sum_p w_raw)``
  (`:116-119` — note the numerator is sqrt(|FC|), not sqrt(w_raw));
- combined z: ``Z = sum_p w_p * z_p`` (`:91-102,1215-1223`);
- combined p: ``P = 2 * pnorm(-|Z|)`` (`:1226`);
- only genes present on > 1 platform are combined (`:1218`).

Pure grouped SQL: one shuffle on gene.  The combine is split in two
so a caller can fold it into a wider per-gene aggregate:
``stouffer_aggregates`` gives the aggregate columns (add more to the
same ``groupBy``) and ``stouffer_finish`` turns the grouped relation
into z_comb and p_comb.  ``stouffer_combine`` is the pair around one
``groupBy(gene)``.  The normal quantile/CDF are the shared portable SQL
formulas (functions/normal.py), so the DuckDB oracle runs the identical
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.normal import norm_ppf_sql, two_sided_p_sql


def stouffer_aggregates(p_col: str, fc_col: str, icc_col: str | None = None) -> list[Column]:
    """The per-gene aggregate columns of the combine: ``n_platforms``,
    ``avg_log2fc`` and the two private sums ``stouffer_finish`` reads.

    ``icc_col`` of None means ICC weighting off (w_raw = |FC|), matching
    the reference's fallback when integrative correlations are absent.
    """
    qn = norm_ppf_sql(f"(({p_col}) / 2.0)")
    # FC > 0 keeps qnorm(p/2) (negative); FC <= 0 (incl. 0) negates —
    # exact branch structure of convert.pvalue (`Meta_analysis.R:80-86`).
    z = F.expr(f"CASE WHEN ({fc_col}) > 0 THEN {qn} ELSE -({qn}) END")
    if icc_col:
        w_raw = f"greatest(abs({fc_col}) + abs({fc_col}) * ({icc_col}) * ({icc_col}), 0.0)"
    else:
        w_raw = f"abs({fc_col})"
    return [
        F.count(F.lit(1)).alias("n_platforms"),
        F.avg(fc_col).alias("avg_log2fc"),
        F.sum(F.expr(w_raw)).alias("_w_sum"),
        # Algebraic regroup: w_p = sqrt(|FC_p|)/sqrt(w_sum), so
        # Z = sum_p sqrt(|FC_p|) * z_p / sqrt(w_sum) — lets the whole
        # combine run as one partial+final aggregation instead of
        # materializing per-gene weight vectors.
        F.sum(F.sqrt(F.abs(F.col(fc_col))) * z).alias("_wz"),
    ]


def stouffer_finish(agg: DataFrame) -> DataFrame:
    """Keep genes on > 1 platform and append z_comb and p_comb to a
    relation grouped with :func:`stouffer_aggregates`; its other
    columns pass through.  A gene whose weights sum to 0 (every fold
    change 0) or to null (every fold change null) gets a null z_comb
    and p_comb, where R gives NaN."""
    z_comb = F.try_divide(F.col("_wz"), F.sqrt(F.col("_w_sum")))
    out = (
        agg.where(F.col("n_platforms") > 1)
        .withColumn("z_comb", z_comb)
        .drop("_wz", "_w_sum")
    )
    return out.withColumn("p_comb", F.expr(two_sided_p_sql("z_comb")))


def stouffer_combine(
    df: DataFrame,
    gene_col: str,
    platform_col: str,
    p_col: str,
    fc_col: str,
    icc_col: str | None = None,
) -> DataFrame:
    """Combine per-(gene, platform) p-values into per-gene meta results.

    ``icc_col`` as in :func:`stouffer_aggregates`.
    Output: gene, n_platforms, avg_log2fc, z_comb, p_comb.
    """
    return stouffer_finish(
        df.groupBy(gene_col).agg(*stouffer_aggregates(p_col, fc_col, icc_col))
    )


def p_improvement(joined: DataFrame, p_col: str, p_comb_col: str) -> DataFrame:
    """A16 — per (gene, platform) improvement ratio log2(p / p_comb).

    Reference: `Meta_analysis.R:1267-1284`.  Input: per-platform rows
    joined to combined results on gene.
    """
    return joined.withColumn(
        "p_improvement", F.log2(F.col(p_col) / F.col(p_comb_col))
    )
