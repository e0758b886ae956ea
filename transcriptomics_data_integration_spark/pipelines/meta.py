"""Entry-point A step 7 — cross-platform meta-analysis pipeline
(``Meta_analysis.R``, SURVEY.md section 3.1 step 7).

Per platform: two-group DE (M8).  Across platforms: integrative
correlation per gene (A12 `:312-347`), weighted Stouffer combination
(A15 `:1211-1228`, only genes on > 1 platform `:1218`), p-improvement
ratios (A16 `:1267-1284`), optional left join back to per-platform
statistics (J3, ``Bind_Meta2DElists.pl``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators.joins import label_samples
from transcriptomics_data_integration_spark.stats.icc import icc
from transcriptomics_data_integration_spark.stats.stouffer import (
    stouffer_aggregates,
    stouffer_finish,
)
from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest


def meta_analysis(
    expr: DataFrame,
    targets: DataFrame,
    group_a: str,
    group_b: str,
    gene_col: str = "gene_id",
    sample_col: str = "sample_id",
    platform_col: str = "platform",
    value_col: str = "value",
    group_col: str = "target",
    with_icc: bool = True,
    exact_scale: int | None = None,
) -> DataFrame:
    """Long multi-platform expression + sample sheet -> per-gene meta
    results (avg log2fc, combined z, combined p, icc, n_platforms),
    ordered by combined p with nulls last (as R's ``order()`` does),
    then by gene.

    The order is a sort inside ONE partition, not a global ``orderBy``:
    the table holds one row per gene (at most ~10^5), and a global sort
    would add a range-partition exchange and its sampling job, only for
    a following unpartitioned window (``stats.bh.p_adjust``) to gather
    the rows into one partition again.  Sorted in one partition, the
    BH windows reuse both the distribution and the order.  The samples
    are labelled from the collected sheet (``label_samples``), so no
    join inflates the table's size estimate.

    ``exact_scale`` flows to the per-platform DE moments and the ICC
    pair moments (functions/exact.py scheme) so the composition is
    hash-gateable end-to-end (``q_meta_pipeline``)."""
    labeled = label_samples(expr, targets, sample_col, group_col)
    de = two_group_ttest(
        labeled,
        [gene_col, platform_col],
        group_col,
        value_col,
        group_a,
        group_b,
        exact_scale=exact_scale,
    )
    if with_icc:
        platforms = [r[0] for r in expr.select(platform_col).distinct().collect()]
        cells = expr.select(
            F.col(platform_col).alias("platform"),
            F.col(gene_col).alias("gene_id"),
            F.col(sample_col).alias("sample_id"),
            F.col(value_col).alias("value"),
        )
        gene_icc = icc(cells, sorted(platforms), exact_scale=exact_scale).select(
            F.col("gene_id").alias(gene_col), "icc"
        )
        de = de.join(gene_icc, gene_col, "left").withColumn(
            "icc", F.coalesce(F.col("icc"), F.lit(0.0))
        )
    else:
        de = de.withColumn("icc", F.lit(0.0))
    # every output column is a function of one gene's DE rows, so one
    # groupBy(gene) carries the Stouffer sums, the gene's icc and its
    # p-values; the p-improvement average (A16) is then a projection
    comb = stouffer_finish(
        de.groupBy(gene_col).agg(
            *stouffer_aggregates("p_value", "log2fc", "icc"),
            F.first("icc").alias("icc"),
            F.collect_list("p_value").alias("_ps"),
        )
    )
    log2_ratio_sum = F.aggregate(
        "_ps", F.lit(0.0), lambda acc, p: acc + F.log2(p / F.col("p_comb"))
    )
    return comb.select(
        gene_col,
        "n_platforms",
        "avg_log2fc",
        "z_comb",
        "p_comb",
        "icc",
        (log2_ratio_sum / F.size("_ps")).alias("avg_p_improvement"),
    ).repartition(1).sortWithinPartitions(F.col("p_comb").asc_nulls_last(), gene_col)
