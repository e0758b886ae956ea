"""Entry-point A step 6 — differential expression pipeline
(``DiffExpression_closedPlatform.R``, SURVEY.md section 3.1).

Stage order mirrors the reference: ComBat across datasets (M6
`:372-437`), non-specific top-variance filter (F5 `:443-450` — a
SEMANTIC filter, never optimized away), per-gene two-group fit with
eBayes-style moderation (M8 `:474-546`), BH adjustment + topTable
ordering (M10/W3 `:566-600`), and the decideTests sign matrix (`:580`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import quantize
from transcriptomics_data_integration_spark.operators.filters import (
    top_variance_aggregates,
    top_variance_genes,
)
from transcriptomics_data_integration_spark.operators.joins import SampleSheet, label_samples
from transcriptomics_data_integration_spark.stats.bh import p_adjust
from transcriptomics_data_integration_spark.stats.combat import batch_mean_center, combat
from transcriptomics_data_integration_spark.stats.ttest import (
    group_moment_aggregates,
    group_moments_finish,
    moderated_t,
    ttest_from_group_moments,
    two_group_ttest,
)


def _f5_ttest_single_pass(
    labeled: DataFrame,
    gene_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    top_k_genes: int | None,
    exact_scale: int | None,
) -> DataFrame:
    """F5 top-variance filter + pooled t from ONE fact aggregation.

    The per-gene relation below carries both F5's sd aggregates (the
    ones ``nonspecific_filter_topk`` ranks on, with its tie-break) and
    the per-group moments the pooled t consumes, so the fact relation
    is aggregated exactly once; F5 then keeps the top-k ROWS of that
    bounded relation, which is row-for-row what filtering facts first
    would produce (gene-level filter feeding a gene-level
    aggregation).  Without ``top_k_genes`` this is plain
    :func:`two_group_ttest`.
    """
    if not top_k_genes:
        return two_group_ttest(
            labeled, gene_col, group_col, value_col, group_a, group_b,
            exact_scale=exact_scale, log_scale_values=True,
        )
    # the ranking reads the per-gene relation itself, so it has one
    # consumer and needs no cache (a semi-join of its top-k ids back
    # onto it would be pushed below the aggregate by Catalyst, which
    # then aggregates the facts twice)
    mom = labeled.groupBy(gene_col).agg(
        *top_variance_aggregates(value_col, exact_scale),
        *group_moment_aggregates(group_col, value_col, group_a, group_b, exact_scale),
    )
    agg = group_moments_finish(top_variance_genes(mom, gene_col, top_k_genes, exact_scale))
    # drop F5's columns (float mode has ``_sd`` alone)
    return ttest_from_group_moments(
        agg.drop("_n", "_s", "_s2", "_sd"), log_scale_values=True
    )


def _groups_per_batch(sheet: SampleSheet, batch_col: str, group_col: str) -> list[int]:
    """The number of distinct non-null groups of each batch in the
    collected sheet; its length is the number of batches."""
    groups: dict = {}
    for r in sheet.rows:
        groups.setdefault(r[batch_col], set()).update({r[group_col]} - {None})
    return [len(g) for g in groups.values()]


def _toptable(tt: DataFrame, gene_col: str, adjust: str, alpha: float) -> DataFrame:
    """limma's tail over a pooled-t table: eBayes moderation, p-value
    adjustment, the decideTests sign and the topTable order."""
    mod = moderated_t(tt)
    adj = p_adjust(mod, "p_value", "adj_p_value", method=adjust, tiebreak_col=gene_col)
    return adj.withColumn(
        "decide",
        F.when(F.col("adj_p_value") > alpha, 0).otherwise(
            F.signum(F.col("log2fc")).cast("int")
        ),
    ).orderBy("p_value", gene_col)


def differential_expression(
    expr: DataFrame,
    targets: DataFrame,
    group_a: str,
    group_b: str,
    gene_col: str = "gene_id",
    sample_col: str = "sample_id",
    value_col: str = "value",
    group_col: str = "target",
    batch_col: str = "dataset",
    top_k_genes: int | None = None,
    batch_correct: bool = True,
    batch_adjust: str = "combat",
    alpha: float = 0.05,
    exact_scale: int | None = None,
    adjust: str = "BH",
) -> DataFrame:
    """Long expression + sample sheet -> per-gene topTable
    (log2fc, t, moderated t, p, adjusted p, decide sign).  ``adjust``
    is the reference's documented sixth argument
    (`DiffExpression_closedPlatform.R:24`, 'none'/'BH'/'fdr'/'BY'/
    'holm'), dispatched through ``stats.bh.p_adjust`` with R
    ``p.adjust`` semantics.

    ``batch_adjust``: ``"combat"`` (default — the reference's EB
    solver, iterative) or ``"center"`` — the closed-form location-only
    adjustment ``x - mean(gene, batch) + mean(gene)`` (decimal-exact
    moments), which keeps the WHOLE composition SQL-expressible so the
    end-to-end chain can be hash-gated against a DuckDB oracle (the
    ``q_closed_pipeline`` twin); mirrors ComBat's location step with
    the scale step elided.  ``exact_scale`` flows to the F5 ranking
    and the pooled-t moments for cross-engine bitwise parity.
    """
    if batch_adjust not in ("combat", "center"):
        raise ValueError("batch_adjust must be 'combat' or 'center'")
    sheet = SampleSheet(targets, sample_col, group_col, batch_col)
    labeled = sheet.label(expr)
    # batch cardinality + confounding come from the SAMPLE SHEET the
    # reference itself checks (DiffExpression_closedPlatform.R:390-418):
    # the rows collected for the labels, so no job runs for them
    n_groups = _groups_per_batch(sheet, batch_col, group_col) if batch_correct else []
    if len(n_groups) > 1:
        if min(n_groups) < 2:
            raise ValueError(
                "batch is confounded with the biological group "
                "(reference guard, DiffExpression_closedPlatform.R:390-418)"
            )
        if batch_adjust == "center":
            labeled = batch_mean_center(labeled, gene_col, batch_col, value_col, exact_scale)
            if exact_scale is not None:
                # the adjusted doubles are bitwise identical across
                # engines; quantize them tie-free before the decimal
                # moments downstream
                labeled = labeled.withColumn(value_col, quantize(F.col(value_col), exact_scale))
        else:
            corrected = combat(labeled, gene_col, sample_col, batch_col, value_col)
            labeled = sheet.label(corrected, group_col)
    tt = _f5_ttest_single_pass(
        labeled, gene_col, group_col, value_col, group_a, group_b,
        top_k_genes, exact_scale,
    )
    return _toptable(tt, gene_col, adjust, alpha)


def normalized_matrix_de(
    expr: DataFrame,
    targets: DataFrame,
    group_a: str,
    group_b: str,
    gene_col: str = "gene_id",
    sample_col: str = "sample_id",
    value_col: str = "value",
    group_col: str = "target",
    restrict_genes: DataFrame | None = None,
    exclude_genes: DataFrame | None = None,
    top_k_genes: int | None = None,
    alpha: float = 0.05,
    exact_scale: int | None = None,
    adjust: str = "BH",
) -> DataFrame:
    """Entry-point C — standalone DE on an already-normalized matrix
    (`DiffExpression_normalisedData.R:96-499`, SURVEY §3.3): optional
    gene-list restriction (semi-join on ``restrict_genes``) and
    exclusion (F2 anti-join on ``exclude_genes``), per-gene MEAN
    imputation of missing cells (M16 closed form,
    `DiffExpression_normalisedData.R:160-170`; swap in
    ``impute_missing_em`` for the Amelia-style fidelity tier), then
    the shared limma chain — F5 top-variance filter, pooled t, eBayes
    moderation, BH, decideTests — with NO batch correction (one
    matrix, no registry: the reference script runs outside the
    combine/registry machinery).

    ``exact_scale`` makes every moment decimal-exact and quantizes
    imputed values tie-free (see ``differential_expression``), so the
    whole composition is SQL-expressible and hash-gateable
    (``q_normalized_de``).
    """
    from transcriptomics_data_integration_spark.stats.mlkernels import impute_missing

    df = expr
    if restrict_genes is not None:
        df = df.join(F.broadcast(restrict_genes), gene_col, "left_semi")
    if exclude_genes is not None:
        df = df.join(F.broadcast(exclude_genes), gene_col, "left_anti")
    if gene_col != "gene_id":
        df = df.withColumnRenamed(gene_col, "gene_id")
    df = impute_missing(df, value_col, strategy="mean", exact_scale=exact_scale)
    if gene_col != "gene_id":
        df = df.withColumnRenamed("gene_id", gene_col)
    if exact_scale is not None:
        # imputed fills are continuous ratios — quantize tie-free
        # before the downstream decimal moments (observed cells are
        # already exact at this scale; the floor form is a no-op on
        # them)
        df = df.withColumn(value_col, quantize(F.col(value_col), exact_scale))
    labeled = label_samples(df, targets, sample_col, group_col)
    tt = _f5_ttest_single_pass(
        labeled, gene_col, group_col, value_col, group_a, group_b,
        top_k_genes, exact_scale,
    )
    return _toptable(tt, gene_col, adjust, alpha)
