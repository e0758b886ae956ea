"""Effect-size meta-analysis: FEM / REM with DerSimonian-Laird tau^2
(SURVEY.md A13), after Choi et al. 2003 ("Combining multiple microarray
studies and modeling interstudy variation").

Reference: GeneMeta calls in `scripts/data_integration/Meta_analysis.R:756-840`
(``getdF`` -> ``dstar`` -> ``sigmad`` at `:775-787`, Cochran's Q ``f.Q``
`:798`, FEM ``mu.tau2``/``var.tau2`` `:812-814`, DL ``tau2.DL`` `:821`,
REM `:823-827`).  Formulas (public, Choi et al. 2003):

- d = (mean_1 - mean_0) / s_pooled
- d* = d - 3d / (4n - 9)                       (small-sample bias adj)
- var(d*) = 1/n_0 + 1/n_1 + d*^2 / (2(n_0+n_1))
- w = 1/var;  mu_FEM = sum(w d*)/sum(w);  var_FEM = 1/sum(w)
- Q = sum(w (d* - mu_FEM)^2)
- tau^2_DL = max(0, (Q - (k-1)) / (sum(w) - sum(w^2)/sum(w)))
- REM: recompute mu/var with w' = 1/(var + tau^2);  Z = mu/sqrt(var)

Spark shape: stage 1 aggregates raw rows by (gene, platform) — one
shuffle with map-side combine; stage 2+3 run on the tiny per-(gene,
platform) effect table (per-gene FEM aggregate, broadcast-join tau^2
back, per-gene REM aggregate).  Everything is built-in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.stats.ttest import (
    group_moment_aggregates,
    group_moments_finish,
    pooled_variance,
)


def effect_sizes(
    df: DataFrame,
    gene_col: str,
    platform_col: str,
    group_col: str,
    value_col: str,
    group0: str,
    group1: str,
    exact_scale: int | None = 2,
) -> DataFrame:
    """Per-(gene, platform) adjusted effect size d* and its variance.

    With ``exact_scale`` set, group moments accumulate in DECIMAL so the
    result is bitwise-reproducible (see functions/exact.py).
    """
    # the shared two-group kernel with group 1 as "a": n_a = n1 and
    # mean_a = m1; the pooled variance is symmetric in the two groups
    agg = group_moments_finish(
        df.where(F.col(group_col).isin([group0, group1]))
        .groupBy(gene_col, platform_col)
        .agg(*group_moment_aggregates(group_col, value_col, group1, group0, exact_scale))
    )
    ntot = F.col("n_a") + F.col("n_b")
    with_sp = agg.withColumn("_sp", F.sqrt(pooled_variance())).where(F.col("_sp") > 0)
    with_d = with_sp.withColumn(
        "_d", (F.col("mean_a") - F.col("mean_b")) / F.col("_sp")
    ).drop("_sp")
    d_adj = F.col("_d") - 3.0 * F.col("_d") / (4.0 * ntot - 9.0)
    out = with_d.withColumn("d_adj", d_adj).withColumn(
        "var_d",
        1.0 / F.col("n_b") + 1.0 / F.col("n_a") + F.col("d_adj") ** 2 / (2.0 * ntot),
    )
    return out.select(
        gene_col,
        platform_col,
        F.col("n_b").alias("n0"),
        F.col("n_a").alias("n1"),
        "d_adj",
        "var_d",
    )


def fem_rem_effects(effects: DataFrame, gene_col: str) -> DataFrame:
    """Per-gene FEM and REM combined estimates from per-(gene, platform)
    effect sizes.  Input columns: ``d_adj``, ``var_d``.

    Output: gene, n_studies, q_stat, tau2, mu_fem, z_fem, mu_rem, z_rem.
    """
    w = 1.0 / F.col("var_d")
    fem = (
        effects.groupBy(gene_col)
        .agg(
            F.count(F.lit(1)).alias("n_studies"),
            F.sum(w).alias("_sw"),
            F.sum(w * w).alias("_sw2"),
            F.sum(w * F.col("d_adj")).alias("_swd"),
            F.sum(w * F.col("d_adj") * F.col("d_adj")).alias("_swd2"),
        )
        # single-study genes are not combinable (`Meta_analysis.R:1218`)
        # and make the DL denominator sw - sw2/sw exactly 0 — filter
        # BEFORE the tau2 division (ANSI mode treats x/0 as an error).
        .where(F.col("n_studies") > 1)
    )
    mu_fem = F.col("_swd") / F.col("_sw")
    q = F.col("_swd2") - F.col("_swd") * F.col("_swd") / F.col("_sw")
    fem = (
        fem.withColumn("mu_fem", mu_fem)
        .withColumn("q_stat", q)
        .withColumn("z_fem", F.col("mu_fem") * F.sqrt(F.col("_sw")))
        .withColumn(
            "tau2",
            F.greatest(
                (F.col("q_stat") - (F.col("n_studies") - 1))
                / (F.col("_sw") - F.col("_sw2") / F.col("_sw")),
                F.lit(0.0),
            ),
        )
    )
    # REM pass: join tau2 back to the (small) effect table, re-weight.
    rem = (
        effects.join(fem.select(gene_col, "tau2"), gene_col)
        .withColumn("_wr", 1.0 / (F.col("var_d") + F.col("tau2")))
        .groupBy(gene_col)
        .agg(
            F.sum("_wr").alias("_swr"),
            F.sum(F.col("_wr") * F.col("d_adj")).alias("_swrd"),
        )
        .withColumn("mu_rem", F.col("_swrd") / F.col("_swr"))
        .withColumn("z_rem", F.col("mu_rem") * F.sqrt(F.col("_swr")))
        .select(gene_col, "mu_rem", "z_rem")
    )
    return (
        fem.join(rem, gene_col)
        .where(F.col("n_studies") > 1)
        .select(
            gene_col, "n_studies", "q_stat", "tau2", "mu_fem", "z_fem", "mu_rem", "z_rem"
        )
    )
