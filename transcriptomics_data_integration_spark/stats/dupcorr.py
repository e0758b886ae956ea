"""Duplicate (intra-replicate-block) correlation (SURVEY.md M9).

Reference: limma ``duplicateCorrelation`` feeding ``lmFit``
(`scripts/data_integration/DiffExpression_closedPlatform.R:487-508`,
block renumbering `:494-504`): technical replicates share a block; a
single consensus intra-block correlation is estimated across genes and
used to down-weight replicate pseudo-information.

Closed-form estimator used here (one-way random-effects ANOVA ICC per
gene, Fisher-z consensus — the classical moment version of limma's REML
fit):

    MSW_g  = pooled within-block variance
    MSB_g  = between-block mean square
    n0     = (N - sum n_i^2 / N) / (k - 1)        (unbalanced correction)
    icc_g  = (MSB - MSW) / (MSB + (n0 - 1) MSW)
    consensus = tanh( mean_g atanh(clamp(icc_g)) )

Two grouped aggregations (block level, gene level) + one tiny global
mean — all SQL, one shuffle on gene.

``exact_scale``: with it set, block-level sums are DECIMAL-exact and the
per-block ANOVA terms (each a deterministic scalar function of exact
inputs) are quantized to whole units before the per-gene DECIMAL
accumulation — the whole statistic is then bitwise-reproducible across
engines/partitionings (the sums of squared block totals would otherwise
lose ~4 digits to cancellation and expose summation order, and
fractional rounding itself is engine-dependent near 2^53).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import dec, dsum, dsum2

_CLAMP = 0.999999


def per_gene_block_icc(
    df: DataFrame,
    gene_col: str,
    block_col: str,
    value_col: str,
    exact_scale: int | None = None,
) -> DataFrame:
    """Per-gene intra-block ICC from one-way ANOVA moments.

    Returns (gene, k_blocks, n_obs, msw, msb, icc); genes need >= 2
    blocks and more observations than blocks.
    """
    v = F.col(value_col)
    if exact_scale is not None:
        s = exact_scale
        per_block = df.groupBy(gene_col, block_col).agg(
            F.count(v).alias("n_i"),
            F.sum(dec(v, s)).alias("s_dec"),
            dsum2(v, s).alias("s2_i"),
        )
        s_i = F.col("s_dec").cast("double")
        # per-block scalar terms: deterministic functions of exact inputs,
        # quantized to WHOLE units before the exact decimal accumulation.
        # Integer rounding (not round(x, k>0)) because engines implement
        # fractional rounding via a multiply that goes inexact near 2^53 —
        # the terms here reach ~1e14.  +-0.5 per term is 1e-14 relative.
        w_term = F.round(F.col("s2_i") - s_i * s_i / F.col("n_i"), 0).cast("decimal(28,0)")
        b_term = F.round(s_i * s_i / F.col("n_i"), 0).cast("decimal(28,0)")
        terms = per_block.withColumn("_w", w_term).withColumn("_b", b_term)
        per_gene = (
            terms.groupBy(gene_col)
            .agg(
                F.count(F.lit(1)).alias("k_blocks"),
                F.sum("n_i").alias("n_obs"),
                F.sum("_w").cast("double").alias("ssw"),
                F.sum("_b").cast("double").alias("ssb_part"),
                F.sum("s_dec").cast("double").alias("s_tot"),
                F.sum(F.col("n_i") * F.col("n_i")).alias("sn2"),
            )
            .where((F.col("k_blocks") >= 2) & (F.col("n_obs") > F.col("k_blocks")))
        )
    else:
        per_block = df.groupBy(gene_col, block_col).agg(
            F.count(v).alias("n_i"),
            F.sum(v).alias("s_i"),
            F.sum(v * v).alias("s2_i"),
        )
        per_gene = (
            per_block.groupBy(gene_col)
            .agg(
                F.count(F.lit(1)).alias("k_blocks"),
                F.sum("n_i").alias("n_obs"),
                F.sum(F.col("s2_i") - F.col("s_i") * F.col("s_i") / F.col("n_i")).alias("ssw"),
                F.sum(F.col("s_i") * F.col("s_i") / F.col("n_i")).alias("ssb_part"),
                F.sum("s_i").alias("s_tot"),
                F.sum(F.col("n_i") * F.col("n_i")).alias("sn2"),
            )
            .where((F.col("k_blocks") >= 2) & (F.col("n_obs") > F.col("k_blocks")))
        )
    msw = F.col("ssw") / (F.col("n_obs") - F.col("k_blocks"))
    msb = (
        F.col("ssb_part") - F.col("s_tot") * F.col("s_tot") / F.col("n_obs")
    ) / (F.col("k_blocks") - 1)
    n0 = (F.col("n_obs") - F.col("sn2") / F.col("n_obs")) / (F.col("k_blocks") - 1)
    out = (
        per_gene.withColumn("msw", msw)
        .withColumn("msb", msb)
        .withColumn("_n0", n0)
        .where(F.col("msw") > 0)
        .withColumn(
            "icc",
            (F.col("msb") - F.col("msw"))
            / (F.col("msb") + (F.col("_n0") - 1.0) * F.col("msw")),
        )
    )
    return out.select(gene_col, "k_blocks", "n_obs", "msw", "msb", "icc")


def consensus_correlation(icc_df: DataFrame) -> DataFrame:
    """Fisher-z consensus over genes: tanh(mean(atanh(clamped icc))).
    One-row result (the scalar limma feeds into lmFit)."""
    z = F.expr(
        f"0.5e0 * ln((1.0e0 + least(greatest(icc, -{_CLAMP}), {_CLAMP})) "
        f"/ (1.0e0 - least(greatest(icc, -{_CLAMP}), {_CLAMP})))"
    )
    agg = icc_df.agg(
        F.count(F.lit(1)).alias("n_genes"), F.avg(z).alias("_zbar")
    )
    tanh = "(exp(2.0e0 * _zbar) - 1.0e0) / (exp(2.0e0 * _zbar) + 1.0e0)"
    return agg.withColumn("consensus_corr", F.expr(tanh)).drop("_zbar")


def consensus_correlation_exact(icc_df: DataFrame) -> DataFrame:
    """Fisher-z consensus with ORDER-FREE accumulation: each gene's
    atanh(clamped icc) is quantized to 1e-12 units (a deterministic
    scalar function of the gene's exact-path icc) and summed in
    DECIMAL, so the consensus scalar is bit-identical across engines
    and partitionings — the property :func:`blocked_gls_ttest` needs,
    because the consensus feeds every downstream block weight and a
    last-ulp drift there would fan out into every per-gene statistic.
    Quantization bias is <= 1e-12 per gene on the z scale (~1e-12 on
    rho) — far below the estimator's sampling noise."""
    z = F.expr(
        f"0.5e0 * ln((1.0e0 + least(greatest(icc, -{_CLAMP}), {_CLAMP})) "
        f"/ (1.0e0 - least(greatest(icc, -{_CLAMP}), {_CLAMP})))"
    )
    agg = icc_df.select(
        F.round(z * F.lit(1e12), 0).cast("decimal(38,0)").alias("_zq")
    ).agg(
        F.count(F.lit(1)).alias("n_genes"),
        (F.sum("_zq").cast("double") / F.lit(1e12)).alias("_zsum"),
    )
    tanh = (
        "(exp(2.0e0 * _zsum / n_genes) - 1.0e0) / "
        "(exp(2.0e0 * _zsum / n_genes) + 1.0e0)"
    )
    return agg.withColumn("consensus_corr", F.expr(tanh)).drop("_zsum")


def blocked_gls_ttest(
    df: DataFrame,
    gene_col: str,
    block_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    rho: DataFrame | float | None = None,
    exact_scale: int | None = 2,
    term_scale: int = 9,
) -> DataFrame:
    """Two-group DE fit that CONSUMES duplicateCorrelation — limma's
    ``lmFit(block=..., correlation=cor$consensus.correlation)`` GLS
    downweighting (reference `scripts/data_integration/
    DiffExpression_closedPlatform.R:487-534`; block renumbering
    `:494-504`), closed-form for the 2-group design with technical-
    replicate blocks NESTED in groups (each block wholly inside one
    group — the reference's replicate structure).

    Model per gene: y = X beta + eps, Cov(eps) = sigma^2 V with V
    block-diagonal compound-symmetric (unit diagonal, ``rho``
    off-diagonal within a block).  With X the group-indicator design
    and blocks nested, GLS reduces to moments (limma's ``gls.series``
    Cholesky-transform fit evaluates to the same estimator — pytest
    golden replays the matrix algebra):

        a_i   = 1 + (n_i - 1) rho          (block design effect)
        W_g   = sum_i n_i / a_i            (group precision)
        mu_g  = sum_i (S_i / a_i) / W_g    (GLS group mean)
        Q     = sum_i (q_i - rho S_i^2 / a_i) / (1 - rho)   (y' V^-1 y)
        RSS   = Q - sum_g W_g mu_g^2,      df = N - 2
        t     = (mu_a - mu_b) / sqrt(RSS/df * (1/W_a + 1/W_b))

    A replicate-heavy block thus contributes ~n_i/a_i -> 1/rho-ish
    effective observations instead of n_i — the "replicates are not
    independent arrays" correction a user with technical replicates
    silently loses under the unblocked fit.

    ``rho``: a float, a one-row DataFrame carrying ``consensus_corr``
    (:func:`consensus_correlation_exact` output, broadcast into the
    plan — no driver collect), or None to estimate it from ``df``
    in-plan via :func:`per_gene_block_icc` + the exact consensus.

    Exactness discipline (the DuckDB-oracle property): per-(gene,
    group, block) moments accumulate in DECIMAL (``exact_scale``);
    the per-block GLS terms — deterministic scalar functions of exact
    moments and the bit-identical consensus — are quantized to
    ``1e-term_scale`` units and re-accumulated in DECIMAL, so every
    output is independent of partitioning/summation order.  The
    default ``term_scale=9`` suits log2-scale values (terms stay well
    under 2^53 after the 1e9 shift); pass a smaller scale for
    raw-intensity magnitudes.  Values are assumed log-scale
    (``log2fc = mean_a - mean_b``, the limma topTable convention).
    """
    if rho is None:
        icc = per_gene_block_icc(
            df.where(F.col(group_col).isin([group_a, group_b])),
            gene_col,
            block_col,
            value_col,
            exact_scale=exact_scale,
        )
        rho = consensus_correlation_exact(icc)
    if isinstance(rho, DataFrame):
        rho_rel = rho.select(F.col("consensus_corr").alias("_rho"))
    else:
        rho_rel = None

    v = F.col(value_col)
    if exact_scale is not None:
        s = exact_scale
        per_block = df.where(F.col(group_col).isin([group_a, group_b])).groupBy(
            gene_col, group_col, block_col
        ).agg(
            F.count(v).alias("n_i"),
            dsum(v, s).alias("s_i"),
            dsum2(v, s).alias("q_i"),
        )
    else:
        per_block = df.where(F.col(group_col).isin([group_a, group_b])).groupBy(
            gene_col, group_col, block_col
        ).agg(
            F.count(v).alias("n_i"),
            F.sum(v).alias("s_i"),
            F.sum(v * v).alias("q_i"),
        )
    if rho_rel is not None:
        per_block = per_block.crossJoin(F.broadcast(rho_rel))
        rho_c = F.col("_rho")
    else:
        rho_c = F.lit(float(rho))

    a_i = 1.0 + (F.col("n_i") - 1.0) * rho_c
    shift = float(10 ** term_scale)

    def _q(term: Column) -> Column:
        # deterministic scalar term -> integer-unit decimal; integer
        # rounding (not round(x, k)) because fractional rounding is
        # engine-dependent once term*10^k nears 2^53 (dupcorr note)
        return F.round(term * F.lit(shift), 0).cast("decimal(38,0)")

    terms = per_block.select(
        gene_col,
        group_col,
        F.col("n_i"),
        rho_c.alias("_rho_v"),
        _q(F.col("n_i") / a_i).alias("_w"),
        _q(F.col("s_i") / a_i).alias("_m"),
        _q(
            (F.col("q_i") - rho_c * F.col("s_i") * F.col("s_i") / a_i)
            / (1.0 - rho_c)
        ).alias("_qq"),
    )
    is_a = F.col(group_col) == F.lit(group_a)
    is_b = F.col(group_col) == F.lit(group_b)
    per_gene = terms.groupBy(gene_col).agg(
        F.sum(F.when(is_a, F.col("n_i"))).alias("n_a"),
        F.sum(F.when(is_b, F.col("n_i"))).alias("n_b"),
        F.count(F.when(is_a, F.lit(1))).alias("k_a"),
        F.count(F.when(is_b, F.lit(1))).alias("k_b"),
        (F.sum(F.when(is_a, F.col("_w"))).cast("double") / shift).alias("w_a"),
        (F.sum(F.when(is_b, F.col("_w"))).cast("double") / shift).alias("w_b"),
        (F.sum(F.when(is_a, F.col("_m"))).cast("double") / shift).alias("_ma"),
        (F.sum(F.when(is_b, F.col("_m"))).cast("double") / shift).alias("_mb"),
        (F.sum("_qq").cast("double") / shift).alias("_q"),
        F.min("_rho_v").alias("rho"),
    )
    out = (
        per_gene.where(
            (F.col("n_a") >= 2)
            & (F.col("n_b") >= 2)
            & (F.col("w_a") > 0)
            & (F.col("w_b") > 0)
            & (F.col("n_a") + F.col("n_b") > 2)
        )
        .withColumn("mean_a", F.col("_ma") / F.col("w_a"))
        .withColumn("mean_b", F.col("_mb") / F.col("w_b"))
        .withColumn(
            "_rss",
            F.col("_q")
            - F.col("w_a") * F.col("mean_a") * F.col("mean_a")
            - F.col("w_b") * F.col("mean_b") * F.col("mean_b"),
        )
        .withColumn("_df", F.col("n_a") + F.col("n_b") - 2)
        .withColumn("_s2", F.col("_rss") / F.col("_df"))
        .where(F.col("_s2") > 0)
        .withColumn("log2fc", F.col("mean_a") - F.col("mean_b"))
        .withColumn(
            "_se",
            F.sqrt(F.col("_s2") * (1.0 / F.col("w_a") + 1.0 / F.col("w_b"))),
        )
        .withColumn("t_statistic", F.col("log2fc") / F.col("_se"))
    )
    from transcriptomics_data_integration_spark.functions.normal import (
        two_sided_p_sql,
    )

    return out.withColumn("p_value", F.expr(two_sided_p_sql("t_statistic"))).select(
        gene_col,
        "n_a",
        "n_b",
        "k_a",
        "k_b",
        "w_a",
        "w_b",
        "rho",
        "mean_a",
        "mean_b",
        "log2fc",
        "t_statistic",
        "p_value",
    )
