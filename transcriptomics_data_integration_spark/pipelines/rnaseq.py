"""Entry-point B — RNA-seq ("open platform") differential expression
(``DiffExpression_openPlatform.R`` + ``GenExpressionComb_RNAseq.R``,
SURVEY.md section 3.2).

Stage order mirrors the reference: counts -> log2-CPM with GC-bin CQN
offsets (M4 `GenExpressionComb_RNAseq.R:183-201`), low-value floor
(F10 `:246-249`), voom mean-variance weights (M5
`DiffExpression_openPlatform.R:427-442`), weighted per-gene two-group
fit + eBayes moderation + BH (M8/M10 `:455-515`).

Partitioning: one sample-keyed broadcast (library sizes), then every
stage groups by gene — the counts relation shuffles on gene ONCE and
all later joins attach small per-gene relations by broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators.filters import low_value_floor
from transcriptomics_data_integration_spark.operators.joins import label_samples
from transcriptomics_data_integration_spark.stats.bh import p_adjust
from transcriptomics_data_integration_spark.stats.normalize import (
    cqn_simplified,
    cqn_spline,
    voom_weights,
    voom_weights_lowess,
)
from transcriptomics_data_integration_spark.stats.ttest import moderated_t, weighted_two_group_ttest


def rnaseq_differential_expression(
    counts: DataFrame,
    targets: DataFrame,
    gene_attrs: DataFrame,
    group_a: str,
    group_b: str,
    gene_col: str = "gene_id",
    sample_col: str = "sample_id",
    count_col: str = "read_count",
    group_col: str = "target",
    gc_col: str = "gc_content",
    floor_threshold: float = 2.0,
    fidelity: str = "binned",
    adjust: str = "BH",
) -> DataFrame:
    """Long counts + sample sheet + gene attrs -> per-gene topTable
    (log2fc, weighted t, moderated t, p, BH-adjusted p).

    ``fidelity="binned"`` (default) uses the closed-form,
    oracle-checkable M4/M5 kernels (GC-bin offsets, binned-median voom
    trend); ``fidelity="lowess"`` swaps in the full-fidelity kernels —
    per-sample robust-spline CQN and the R-exact lowess voom trend of
    ``limma::voom`` (`DiffExpression_openPlatform.R:427-442`)."""
    if fidelity not in ("binned", "lowess"):
        raise ValueError("fidelity must be 'binned' or 'lowess'")
    # NOTE on the DAG fork: `counts` (the gene x sample matrix) has two
    # independent consumers (CQN offsets, voom trend), so its upstream
    # subtree executes twice.  Persisting the matrix here was measured
    # SLOWER at bench scale (columnar cache materialization ~3x the
    # re-scan, r3) and is only the right trade when the matrix is much
    # smaller than the fact relation feeding it — callers for whom that
    # holds should pass `counts.persist()` in.  Per-gene relations
    # (weights) stay cheap either way.
    if fidelity == "lowess":
        cqn = cqn_spline(counts, gene_col, sample_col, count_col, gene_attrs, gc_col)
        # voom fits the ~0+group design before taking sigma
        # (`DiffExpression_openPlatform.R:438-442`) — pass the sample
        # sheet so the trend uses the pooled within-group residual SD
        weights = voom_weights_lowess(
            counts, gene_col, sample_col, count_col,
            targets=targets, group_col=group_col,
        )
    else:
        cqn = cqn_simplified(counts, gene_col, sample_col, count_col, gene_attrs, gc_col)
        weights = voom_weights(counts, gene_col, sample_col, count_col)
    weights = weights.select(gene_col, "weight")
    floored = low_value_floor(
        cqn.select(gene_col, sample_col, F.col("lcpm_cqn").alias("value")),
        "value",
        threshold=floor_threshold,
    )
    labeled = (
        label_samples(floored, targets, sample_col, group_col)
        # gene-keyed join, NOT broadcast: the per-gene weight relation
        # is gene-dimension (unbounded); AQE still picks BHJ when small
        .join(weights, gene_col)
    )
    tt = weighted_two_group_ttest(
        labeled, gene_col, group_col, "value", "weight", group_a, group_b,
        log_scale_values=True,
    )
    mod = moderated_t(tt, s2_col="s2_pooled", df_col="df_pooled")
    return p_adjust(mod, "p_value", "adj_p_value", method=adjust, tiebreak_col=gene_col)
