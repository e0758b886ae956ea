"""Statistical kernels (SURVEY.md sections 2.4-2.5).

Closed-form kernels (BH, quantile norm, pooled t, Stouffer, FEM/REM) are
pure Spark SQL expressions/windows — codegen'd, shuffle-minimal, and
oracle-checkable.  Iterative kernels (ComBat EB shrinkage, general limma
designs) use Arrow-vectorized grouped-map pandas.
"""

from transcriptomics_data_integration_spark.stats.bh import p_adjust
from transcriptomics_data_integration_spark.stats.quantile_norm import quantile_normalize
from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest
from transcriptomics_data_integration_spark.stats.stouffer import stouffer_combine
from transcriptomics_data_integration_spark.stats.genemeta import fem_rem_effects
from transcriptomics_data_integration_spark.stats.hclust import ward_hclust, ward_hclust_genes
from transcriptomics_data_integration_spark.stats.lowess import lowess
from transcriptomics_data_integration_spark.stats.normalize import (
    cqn_spline,
    voom_weights_lowess,
)
from transcriptomics_data_integration_spark.stats.combat import combat_eb_fixed
from transcriptomics_data_integration_spark.stats.mlkernels import (
    feature_covariance,
    kmeans_lloyd_fixed,
    mds_bmatrix,
    pca_space_outliers,
)

__all__ = [
    "combat_eb_fixed",
    "feature_covariance",
    "kmeans_lloyd_fixed",
    "mds_bmatrix",
    "pca_space_outliers",
    "p_adjust",
    "cqn_spline",
    "fem_rem_effects",
    "lowess",
    "quantile_normalize",
    "stouffer_combine",
    "two_group_ttest",
    "voom_weights_lowess",
    "ward_hclust",
    "ward_hclust_genes",
]
