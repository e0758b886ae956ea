"""Permutation-based FDR for combined z-scores (SURVEY.md A14).

Reference: GeneMeta ``zScoreFDR(nperm=50)`` at
`scripts/data_integration/Meta_analysis.R:896-956` — class labels are
permuted, the combined statistic recomputed per permutation, and the
FDR for a gene is the average count of permuted statistics at least as
extreme as the observed one.

Determinism: instead of engine-specific RNG (Spark ``rand(seed)`` and
any oracle's RNG can never agree), permutation k reorders samples by
``md5(sample || '#' || k)`` and deals the original label multiset out
in that order.  This is a uniform-ish permutation family that any
engine reproduces bit-for-bit — the property the correctness gate
needs, and seeded-reproducible in production too.

Shape: the K permutations are a (sample x K) dimension table joined
onto the fact — built from the sample sheet, which one read of the
fact's distinct (sample, label) rows collects, so the fact is read
once more, for the join; the grouped aggregation runs on (gene, k)
with map-side combine.  K multiplies the shuffle, not the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def permuted_labels(
    samples: DataFrame, sample_col: str, group_col: str, n_perm: int
) -> DataFrame:
    """(sample, k, perm_group) for k = 0..n_perm; k = 0 is the identity
    permutation (observed labels).

    Permutation k deals the label multiset, ordered by sample id, to
    the samples in ``md5(sample || '#' || k)`` order: the sample in
    hash slot s gets the s-th label.  The sample sheet — the distinct
    (sample, label) rows, one read of ``samples`` — is collected in
    sample order: it becomes the local relation the K permutations
    expand and the literal deck each row reads one element of, so
    the (sample x K) table neither rereads ``samples`` nor joins back
    to itself."""
    sheet = samples.select(sample_col, group_col).distinct()
    rows = sheet.orderBy(sample_col, group_col).collect()
    deck = F.array(*[F.lit(r[group_col]) for r in rows])
    labels = samples.sparkSession.createDataFrame(rows, sheet.schema).withColumn(
        "k", F.explode(F.sequence(F.lit(0), F.lit(n_perm)))
    )
    hashed = labels.withColumn(
        "h", F.md5(F.concat_ws("#", F.col(sample_col), F.col("k")).cast("binary"))
    )
    slot = F.row_number().over(Window.partitionBy("k").orderBy("h", sample_col))
    return hashed.select(
        sample_col,
        "k",
        F.when(F.col("k") == 0, F.col(group_col))
        .otherwise(F.element_at(deck, slot))
        .alias("perm_group"),
    )


def permutation_fdr(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_perm: int = 20,
    exact_scale: int | None = 2,
) -> DataFrame:
    """Per-gene permutation p for the two-group pooled-t statistic:
    p_perm = (1 + #{k >= 1 : |t_k| >= |t_obs|}) / (n_perm + 1).
    """
    from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest

    perms = permuted_labels(df, sample_col, group_col, n_perm)
    expanded = df.join(perms, sample_col)
    tstats = two_group_ttest(
        expanded, [gene_col, "k"], "perm_group", value_col, group_a, group_b, exact_scale
    )
    # the observed t rides along each gene's (gene x K) rows as a
    # window, so the t relation has one consumer and needs no cache
    t = F.col("t_statistic")
    t_obs = F.max(F.when(F.col("k") == 0, t)).over(Window.partitionBy(gene_col))
    return (
        tstats.withColumn("t_obs", t_obs)
        .where((F.col("k") > 0) & F.col("t_obs").isNotNull())
        .groupBy(gene_col)
        .agg(
            F.max("t_obs").alias("t_obs"),
            F.count(F.lit(1)).alias("n_perm_done"),
            F.sum(F.when(F.abs(t) >= F.abs(F.col("t_obs")), 1).otherwise(0)).alias("n_extreme"),
        )
        .withColumn("p_perm", (1 + F.col("n_extreme")) / (F.col("n_perm_done") + 1))
    )
