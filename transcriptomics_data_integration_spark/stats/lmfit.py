"""Per-gene general-design OLS — limma ``lmFit`` with a design matrix
(SURVEY.md M8 general form).

Reference: per-gene linear model on a group design plus covariates
(`DiffExpression_closedPlatform.R:474-633`; lmFit call sites `:511-546`).
The closed-platform scripts fit y ~ intercept + group + covariate
per gene; limma does it with per-gene matrix algebra.

Spark-first shape: for a k-column design the normal equations
``X'X b = X'y`` need only the k(k+3)/2 cross moments of the design
columns and the response — ONE partial+final hash aggregation per gene
(the shuffle carries a 10-double moment tuple per gene, not raw rows),
then the 3x3 solve is closed-form Cramer arithmetic on those columns.
No per-gene Python, no matrix library, whole-stage codegen end to end.
At 100 TB this is the same plan shape as the pooled t-test: aggregate,
then column math.

FP parity: moments are decimal-exact (order-independent — see
``functions/exact.py``), and every post-aggregate scalar expression is
emitted ONCE as SQL text used verbatim by both the Spark plan
(``F.expr``) and the DuckDB oracle, so the IEEE operation sequence is
identical and betas/t match bitwise with no rounding.

Design here is the 3-column [1, indicator, covariate] case the
reference scripts actually use; wider fixed designs extend the same
moment-plus-adjugate scheme.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import (
    dec_sql,
    dsum_sql,
    dsumprod_sql,
)

from transcriptomics_data_integration_spark.functions.normal import two_sided_p_sql


def lmfit_moment_sql(cond: str, x2: str, y: str, scale: int = 2) -> dict[str, str]:
    """Shared SQL for the per-gene design/response cross moments.

    ``cond`` is the indicator predicate (SQL boolean), ``x2`` the
    numeric covariate column, ``y`` the response column.  All sums ride
    decimals so they are exact and order-independent in both engines.
    """
    return {
        "n": "CAST(COUNT(*) AS DOUBLE)",
        "s1": f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS DOUBLE)",
        "s2": dsum_sql(x2, scale),
        "s12": f"CAST(SUM(CASE WHEN {cond} THEN {dec_sql(x2, scale)} END) AS DOUBLE)",
        "s22": dsumprod_sql(x2, x2, scale, scale),
        "sy": dsum_sql(y, scale),
        "s1y": f"CAST(SUM(CASE WHEN {cond} THEN {dec_sql(y, scale)} END) AS DOUBLE)",
        "s2y": dsumprod_sql(x2, y, scale, scale),
        "syy": dsumprod_sql(y, y, scale, scale),
    }


# Cramer solve for X'X = [[n, s1, s2], [s1, s1, s12], [s2, s12, s22]]
# (x1 is 0/1 so sum(x1^2) = s1).  Fixed operation order — shared text.
DET_SQL = (
    "(n * (s1 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s1 * s2))"
)
BETA0_SQL = (
    "(sy * (s1 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s1 * s2y)) / det"
)
BETA1_SQL = (
    "(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2)) / det"
)
BETA2_SQL = (
    "(n * (s1 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s1 * s2)) / det"
)
RSS_SQL = "(syy - (beta0 * sy + beta1 * s1y + beta2 * s2y))"
# var(beta1) = sigma2 * inv(X'X)[1][1]; the [1][1] cofactor of the
# design Gram matrix is det([[n, s2], [s2, s22]])
SE1_SQL = "sqrt((rss / (n - 3)) * ((n * s22 - s2 * s2) / det))"


def lmfit_design(
    df: DataFrame,
    gene_col: str,
    cond: str,
    x2: str,
    y: str,
    scale: int = 2,
) -> DataFrame:
    """Per-gene OLS of ``y`` on [1, indicator(cond), x2].

    Output: gene, n, beta0 (intercept), beta1 (group effect), beta2
    (covariate slope), t_statistic and two-sided normal-approx p for
    beta1 — the limma ``topTable`` surface for the group contrast.
    Singular designs (one-group genes, constant covariate), n <= 3 and
    zero-residual fits are dropped, mirroring limma's NA rows.
    """
    moments = lmfit_moment_sql(cond, x2, y, scale)
    agg = df.groupBy(gene_col).agg(
        *[F.expr(sql).alias(name) for name, sql in moments.items()]
    )
    solved = (
        agg.withColumn("det", F.expr(DET_SQL))
        .where(F.col("det") > 0)
        .withColumn("beta0", F.expr(BETA0_SQL))
        .withColumn("beta1", F.expr(BETA1_SQL))
        .withColumn("beta2", F.expr(BETA2_SQL))
        .withColumn("rss", F.expr(RSS_SQL))
        .where((F.col("n") > 3) & (F.col("rss") > 0) & (F.expr("n * s22 - s2 * s2") > 0))
        .withColumn("_se", F.expr(SE1_SQL))
        .where(F.col("_se") > 0)
        .withColumn("t_statistic", F.col("beta1") / F.col("_se"))
    )
    solved = solved.withColumn("p_value", F.expr(two_sided_p_sql("t_statistic")))
    return solved.select(
        gene_col,
        F.col("n").cast("bigint").alias("n_obs"),
        "beta0",
        "beta1",
        "beta2",
        "rss",
        "t_statistic",
        "p_value",
    )


def moderated_lmfit(fit_df: DataFrame) -> DataFrame:
    """eBayes variance moderation over a general-design fit (limma
    ``eBayes`` after ``lmFit``, `DiffExpression_closedPlatform.R:546`).

    Same exact fitFDist prior as the two-group ``moderated_t``
    (``stats.ttest.squeeze_var_fitfdist``): residual variance
    s2 = rss/df (df = n - 3 design columns) is shrunk toward the fitted
    scaled-F prior and the contrast t rescales by sqrt(s2/s2_post).
    The prior scalars are finished at plan build (see
    ``squeeze_var_fitfdist``); the returned plan carries only literal
    (d0, s2_0) arithmetic over the persisted per-gene fit table.
    """
    from transcriptomics_data_integration_spark.stats.ttest import (
        squeeze_var_fitfdist,
    )

    with_s2 = fit_df.withColumn(
        "_df", (F.col("n_obs") - 3).cast("double")
    ).withColumn("_s2", F.col("rss") / (F.col("n_obs") - 3))
    squeezed = squeeze_var_fitfdist(with_s2)
    return (
        squeezed.withColumn(
            "t_moderated",
            F.col("t_statistic") * F.sqrt(F.col("_s2") / F.col("_s2_post")),
        )
        .drop("_df", "_s2", "_s2_post", "_d0")
    )
